package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark accounting of one job: wall interval and summed task metrics. */
final class JobRec(val id: Int, val group: String, val start: Long,
                   val nStages: Int) {
  var end: Long = start
  var tasks = 0
  var runMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var outputBytes = 0L
}

/** One traced interval. `opId` -1 marks spans outside the timed ops. */
final case class Span(id: Int, parent: Int, name: String, opId: Int,
                      start: Long, end: Long)

/** The benchmark's own SparkListener. Jobs are attributed to operations
  * through the job group the benchmark sets around each phase of an
  * operation (`op-<n>:<phase>`); jobs outside any benchmark group are
  * ignored. */
final class Ledger extends SparkListener {
  private def locked(body: => Unit): Unit = synchronized(body)
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageToJob = mutable.Map[Int, Int]()
  private val stages = mutable.ArrayBuffer[(Int, Int, Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = locked {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith("op-")).foreach { g =>
      jobs(e.jobId) = new JobRec(e.jobId, g, e.time, e.stageInfos.size)
      e.stageIds.foreach(stageToJob(_) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = locked {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    locked {
      val s = e.stageInfo
      for (j <- stageToJob.get(s.stageId); t0 <- s.submissionTime;
           t1 <- s.completionTime)
        stages += ((s.stageId, j, t0, t1))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = locked {
    for (j <- stageToJob.get(e.stageId); rec <- jobs.get(j)) {
      rec.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        rec.runMs += m.executorRunTime
        rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        rec.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        rec.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        rec.inputBytes += m.inputMetrics.bytesRead
        rec.inputRows += m.inputMetrics.recordsRead
        rec.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def jobList: Seq[JobRec] = synchronized(jobs.values.toVector)
  def stageList: Seq[(Int, Int, Long, Long)] = synchronized(stages.toVector)
}

object Ledger {
  /** Number of cached relations in the session's cache manager. The
    * manager exposes no count, so the field is read reflectively. */
  def cachedRelations(spark: SparkSession): Int = {
    val cm = spark.sharedState.cacheManager
    val f = cm.getClass.getDeclaredFields
      .find(_.getName.endsWith("cachedData")).get
    f.setAccessible(true)
    f.get(cm).asInstanceOf[scala.collection.Seq[_]].size
  }

  def persistentRdds(spark: SparkSession): Int =
    spark.sparkContext.getPersistentRDDs.size

  /** (persistent RDDs, cached relations), sampled around each operation. */
  def storage(spark: SparkSession): (Int, Int) =
    (persistentRdds(spark), cachedRelations(spark))

  def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  def heapAfterGcBytes: Long = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Total length of the union of closed intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
