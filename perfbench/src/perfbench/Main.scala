package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark of the `graft.Endpoints` surface: one client
  * thread issues a workload's request stream against a long-lived
  * `local[cpus]` session and measures whole rounds of it.
  *
  * `setup_s` runs from JVM start to the first timed operation.
  * Untraced runs (`--trace 0`) register no listener and report the
  * end-to-end metrics. Traced runs (`--trace 1`) attach the benchmark's
  * listener, measure the same operations as an untraced run of the same
  * seed and then the workload's offline jobs, sample storage around each
  * operation, record one span per operation, phase, job and stage, time
  * each layer function alone and report the per-layer metrics. The
  * tracing overhead is the difference between the two runs
  * (`perfbench/overhead.py`).
  * `--record` writes the expected checksums instead of measuring.
  *
  * Usage: perfbench.Main --workload <w> --stream <file> --data <dir>
  *   --batch-data <dir> --out <dir> --expected <dir|none> --seconds <s>
  *   --trace <0|1> [--record]
  */
object Main {
  final case class Args(workload: String, stream: String, data: String,
                        batchData: String, out: String, expected: String,
                        seconds: Double, trace: Boolean, record: Boolean)

  private def parse(a: Array[String]): Args = {
    val m = a.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    Args(m("workload"), m("stream"), m("data"), m("batch-data"), m("out"),
      m("expected"),
      m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", a.contains("--record"))
  }

  private def session(out: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val s = SparkSession.builder().master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val lines = Files.readAllLines(Paths.get(a.stream), UTF_8).asScala
      .filter(_.nonEmpty).toVector
    val header = Json.parse(lines.head)
    val requests = lines.tail.map(Json.parse)
    val expected = (name: String) => new Expected(
      if (a.expected == "none") Paths.get("none")
      else Paths.get(s"${a.expected}/$name.json"), a.record)
    val w = Workloads(a.workload, a.data, a.batchData, a.out, expected)
    w.header = header
    w.expected = expected(a.workload)
    val warmups = mutable.ArrayBuffer[JsonNode]()
    header.get("warmup").elements().forEachRemaining(r => warmups += r)

    // set-up, from JVM start to the first timed operation: session start,
    // schema load, the workload's fixed inputs and a warm-up with one
    // request of every kind
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a.out)
    val tSession = System.currentTimeMillis()
    w.load(spark)
    val tLoad = System.currentTimeMillis()
    warmups.zipWithIndex.foreach { case (r, k) =>
      w.warm(r, new OpCtx(spark, -1 - k, "warmup"))
    }
    val tWarm = System.currentTimeMillis()
    val setupS = (tWarm - jvmStart) / 1000.0
    System.err.println(s"perfbench: setup: JVM and session" +
      s" ${tSession - jvmStart} ms, load ${tLoad - tSession} ms," +
      s" warm-up ${tWarm - tLoad} ms")

    if (a.record) {
      w.record(spark)
      w.expected.save()
      System.err.println(s"perfbench: recorded ${a.expected}/${a.workload}.json")
      spark.stop()
      return
    }

    // traced runs sample storage around each operation
    def runOp(wl: Workload, req: JsonNode, id: Int,
              traced: Boolean): OpRecord = {
      val kind = req.get("op").asText()
      val ctx = new OpCtx(spark, id, "op")
      val before = if (traced) Ledger.storage(spark) else (0, 0)
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val res = try Right(wl.run(req, ctx)) catch {
        case e: Exception => Left(s"$kind failed: $e")
      }
      val secs = (System.nanoTime() - n0) / 1e9
      val t1 = System.currentTimeMillis()
      val after = if (traced) Ledger.storage(spark) else (0, 0)
      val failure = res.fold(Some(_), s =>
        try s.check() catch { case e: Exception => Some(s"$kind check: $e") })
      val grown = (after._1 - before._1, after._2 - before._2)
      System.err.println(f"perfbench: op $id $kind $secs%.3f s" +
        (if (!traced) ""
         else f", storage ${grown._1}%+d RDDs ${grown._2}%+d relations") +
        failure.map(" " + _).getOrElse(""))
      OpRecord(id, kind, req, t0, t1, secs, res.fold(_ => 0, _.units),
        ctx.phases.toVector, failure, grown)
    }

    val ledger = if (a.trace) new Ledger else null
    if (a.trace) spark.sparkContext.addSparkListener(ledger)
    val gc0 = Ledger.gcMillis
    // as many whole rounds as fit `seconds` at their nominal length, at
    // least one; no operation starts after `lastStart`, so a run ends
    // within its limit
    val rounds = math.max(1, math.round(a.seconds / w.roundSeconds).toInt)
    val lastStart = jvmStart + 120000L
    val timed = mutable.ArrayBuffer[OpRecord]()
    while (timed.size < rounds * w.roundSize &&
        timed.size < requests.size && System.currentTimeMillis() < lastStart)
      timed += runOp(w, requests(timed.size), timed.size, a.trace)
    val ops = timed.toVector
    val offline = if (!a.trace) None else w.offline(spark).map {
      case (ow, reqs) => (ow, reqs.zipWithIndex.map { case (r, k) =>
        runOp(ow, r, requests.size + k, traced = true)
      })
    }
    val offlineOps = offline.toSeq.flatMap(_._2)
    val gcSeconds = (Ledger.gcMillis - gc0) / 1000.0
    if (a.trace) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    val all = ops ++ offlineOps
    val failed = all.count(_.failure.nonEmpty)
    val lat = ops.filter(_.failure.isEmpty).map(_.seconds)
    val units = ops.map(_.units).sum
    val endToEnd = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "latency_p50_s" -> (Stats.quantile(lat, 0.5), "s"),
      "latency_p90_s" -> (Stats.quantile(lat, 0.9), "s"),
      "ops_per_s" -> (units / lat.sum.max(1e-9), "1/s"),
      "peak_rss_mb" -> (Ledger.peakRssMb, "MB"))
    val extra = w.opMetrics(ops) ++
      offline.map { case (ow, os) => ow.opMetrics(os) }.getOrElse(Map.empty)
    val summary = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "ops" -> ops.size,
      "latency_samples" -> lat.size,
      "measured_s" -> ops.map(_.seconds).sum,
      "failed_ratio" -> failed.toDouble / all.size.max(1))
    endToEnd.foreach { case (k, (v, _)) => summary(k) = v }
    extra.foreach { case (k, v) => summary(k) = v }

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) endToEnd.toSeq.map { case (k, (v, u)) => (k, v, u) }
      else {
        val layer = layerMetrics(spark, w, ledger, ops ++ offlineOps,
          gcSeconds, extra, s"${a.out}/spans.json")
        Metrics.perLayer.map(k => (k, layer(k), Metrics.unitOf(k)))
      }

    spark.stop()
    System.err.println(s"perfbench: done" +
      s" ${System.currentTimeMillis() - jvmStart} ms after JVM start")
    val ok = failed == 0
    println("perfbench summary " + summary.map { case (k, v) =>
      s""""$k": ${v match { case s: String => s""""$s""""; case x => x }}"""
    }.mkString("{", ", ", "}"))
    println(s"""{"correct": $ok, "attempted": ${all.size}, """ +
      s""""failed": $failed, "metrics": """ + metrics.map {
        case (k, v, u) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}"""
      }.mkString("{", ", ", "}") + "}")
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  /** The per-layer metrics of a traced run, in `Metrics.perLayer` order;
    * layers a workload never calls read 0. */
  private def layerMetrics(spark: SparkSession, w: Workload, ledger: Ledger,
                           ops: Seq[OpRecord], gcSeconds: Double,
                           extra: Map[String, Double],
                           spansPath: String): Map[String, Double] = {
    val iso = new Isolated(spark)
    val isoExtra = w.layerMetrics(spark, iso)
    iso.close()
    val nT = ops.size.max(1).toDouble
    val jobs = ledger.jobList
    val byOp = jobs.groupBy(j => j.group.split(":")(0).stripPrefix("op-").toInt)
    def perOp(f: JobRec => Double) = jobs.map(f).sum / nT
    val m = mutable.Map[String, Double]()
    m("spark.jobs") = jobs.size / nT
    m("spark.stages") = perOp(_.nStages)
    m("spark.tasks") = perOp(_.tasks)
    m("spark.driver_gap_s") = ops.map { o =>
      val iv = byOp.getOrElse(o.id, Nil).map(j => (j.start, j.end))
      (o.end - o.start - Ledger.unionLength(iv)) / 1000.0
    }.sum / nT
    m("spark.shuffle_write_bytes") = perOp(_.shuffleWrite.toDouble)
    m("spark.shuffle_read_bytes") = perOp(_.shuffleRead.toDouble)
    m("spark.spill_bytes") = perOp(_.spill.toDouble)
    m("spark.task_run_s") = perOp(_.runMs / 1000.0)
    m("sources.input_bytes") = perOp(_.inputBytes.toDouble)
    m("sources.input_rows") = perOp(_.inputRows.toDouble)
    m("sinks.output_bytes") = perOp(_.outputBytes.toDouble)
    m("sinks.write_s") = jobs.filter(_.outputBytes > 0)
      .map(j => (j.end - j.start) / 1000.0).sum / nT
    m("storage.persistent_rdds") = ops.map(_.storageDelta._1).sum / nT
    m("storage.cached_relations") = ops.map(_.storageDelta._2).sum / nT
    m("jvm.gc_s") = gcSeconds / ops.size.max(1)
    m("jvm.heap_after_gc_mb") = Ledger.heapAfterGcBytes / 1048576.0
    Metrics.EndpointFns.foreach { fn =>
      val calls = ops.filter(_.phases.exists(_.fn == fn))
      val n = calls.size.max(1).toDouble
      def phaseS(ph: String) = calls.flatMap(_.phases)
        .filter(p => p.fn == fn && p.phase == ph)
        .map(p => (p.end - p.start) / 1000.0).sum / n
      m(s"${Metrics.fnLabel(fn)}.build_s") = phaseS("build")
      m(s"${Metrics.fnLabel(fn)}.action_s") = phaseS("action")
      m(s"${Metrics.fnLabel(fn)}.build_jobs") =
        jobs.count(_.group.endsWith(s":$fn:build")) / n
    }
    iso.costs.foreach { case (k, v) => m(s"${k}_s") = v }
    val isoTotal = iso.costs.values.sum
    m("Collab.share") = if (isoTotal > 0) iso.costs.filter(
      _._1.startsWith("Collab.")).values.sum / isoTotal else 0.0
    m ++= extra
    m ++= isoExtra
    Spans.write(spansPath, ops, jobs, ledger.stageList, iso.spans.toSeq)
    Metrics.perLayer.map(k => k -> m.getOrElse(k, 0.0)).toMap
  }
}
