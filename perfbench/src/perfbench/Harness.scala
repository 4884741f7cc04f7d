package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What an operation returns once its timed phases are over: how many
  * units it served (requests, households or jobs) and a deferred output
  * check, run outside the timed interval. */
final case class Served(units: Int, check: () => Option[String])

/** One timed phase of an operation: the public function it belongs to,
  * `build` (constructing the result frame) or `action` (computing it). */
final case class Phase(fn: String, phase: String, start: Long, end: Long)

/** Per-operation context: runs each phase under its own job group, so the
  * benchmark's listener attributes every Spark job to the operation and
  * phase that launched it. The listener records groups prefixed `op`
  * (measured operations) and skips the others (warm-up, isolated
  * operators). */
final class OpCtx(val spark: SparkSession, val opId: Int,
                  groupPrefix: String) {
  val phases = mutable.ArrayBuffer[Phase]()

  def build[T](fn: String)(body: => T): T = phase(fn, "build")(body)
  def action[T](fn: String)(body: => T): T = phase(fn, "action")(body)

  private def phase[T](fn: String, ph: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"$groupPrefix-$opId:$fn:$ph", fn)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      phases += Phase(fn, ph, t0, System.currentTimeMillis())
      sc.clearJobGroup()
    }
  }
}

/** A workload: loads its inputs once per set-up, then serves requests.
  * `roundSize` is the number of operations in one round of its stream
  * and `roundSeconds` their nominal operation time on 4 cores; a run
  * measures a fixed number of whole rounds, so every run of a workload
  * sees the same mix and the same number of samples. */
trait Workload {
  /** Set by the runner before `load`: the stream header and the expected
    * checksums (recording ones in record mode). */
  var header: JsonNode = _
  var expected: Expected = _
  def name: String
  def roundSize: Int
  def roundSeconds: Double
  def load(spark: SparkSession): Unit
  def run(req: JsonNode, ctx: OpCtx): Served
  /** Warm-up variant of `run`: same code path, no lasting state change. */
  def warm(req: JsonNode, ctx: OpCtx): Served = run(req, ctx)
  /** Computes, into `expected`, the checksums of every request key the
    * stream generator can produce. */
  def record(spark: SparkSession): Unit
  /** Traced runs only: another workload and its requests, measured once
    * each after the timed operations and counted in the layer accounting
    * (the analyst's offline jobs). */
  def offline(spark: SparkSession): Option[(Workload, Seq[JsonNode])] = None
  /** Traced runs only: isolated operator costs and other layer metrics. */
  def layerMetrics(spark: SparkSession, iso: Isolated): Map[String, Double]
  /** Workload-specific metrics over the timed operations. */
  def opMetrics(ops: Seq[OpRecord]): Map[String, Double] = Map.empty
}

final case class OpRecord(id: Int, kind: String, req: JsonNode,
                          start: Long, end: Long, seconds: Double,
                          units: Int, phases: Seq[Phase],
                          failure: Option[String],
                          storageDelta: (Int, Int))

/** Order-independent checksums of result rows, and the store of expected
  * checksums they are compared against. */
object Checksum {
  private def cell(v: Any): String = v match {
    case null => "null"
    case d: Double => f"$d%.10g"
    case f: Float => f"${f.toDouble}%.7g"
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case x => x.toString
  }

  def row(r: Row): String = r.toSeq.map(cell).mkString("\u0001")

  private def h64(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  /** `count:sum` of per-row 64-bit digests — independent of row order. */
  def rows(rs: Iterable[Row]): String = text(rs.map(row))

  def text(ss: Iterable[String]): String = {
    var n = 0L
    var sum = 0L
    ss.foreach { s => n += 1; sum += h64(s) }
    f"$n:$sum%016x"
  }

  def rows(df: DataFrame): String = rows(df.collect().toSeq)
}

/** `path` "none" switches the checksum comparison off (runs at a scale
  * whose checksums are not stored). */
final class Expected(path: Path, val recording: Boolean) {
  private val mapper = new ObjectMapper()
  private val enabled = recording || path.toString != "none"
  private val table: mutable.Map[String, String] =
    if (!enabled || recording) mutable.TreeMap.empty
    else {
      val node = mapper.readTree(path.toFile)
      val m = mutable.TreeMap.empty[String, String]
      node.fieldNames().forEachRemaining(k => m(k) = node.get(k).asText())
      m
    }

  /** None when `actual` matches the stored checksum of `key`. In record
    * mode, stores `actual` instead. */
  def check(key: String, actual: String): Option[String] =
    if (!enabled) None
    else if (recording) { table(key) = actual; None }
    else table.get(key) match {
      case Some(`actual`) => None
      case Some(e) => Some(s"$key: checksum $actual, expected $e")
      case None => Some(s"$key: no expected checksum stored")
    }

  def save(): Unit = {
    val out = mapper.createObjectNode()
    table.foreach { case (k, v) => out.put(k, v) }
    Files.createDirectories(path.getParent)
    Files.write(path, (mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(out) + "\n").getBytes(UTF_8))
  }
}

/** Isolated operator costs: each public function alone on one
  * operation's input, the input materialized beforehand and the output
  * sent to Spark's `noop` sink. */
final class Isolated(spark: SparkSession) {
  val costs = mutable.LinkedHashMap[String, Double]()
  val spans = mutable.ArrayBuffer[(String, Long, Long)]()
  private val held = mutable.ArrayBuffer[DataFrame]()

  /** Caches and computes `df` outside any timing; released by `close`. */
  def input(df: DataFrame): DataFrame = {
    spark.sparkContext.setJobGroup("iso-input", "iso-input")
    val c = df.cache()
    c.count()
    held += c
    c
  }

  def time(name: String)(out: => DataFrame): Unit = {
    spark.sparkContext.setJobGroup(s"iso-$name", name)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    out.write.format("noop").mode("overwrite").save()
    costs(name) = (System.nanoTime() - n0) / 1e9
    spans += ((name, t0, System.currentTimeMillis()))
    spark.sparkContext.clearJobGroup()
  }

  def close(): Unit = { held.foreach(_.unpersist()); held.clear() }
}

object Json {
  val mapper = new ObjectMapper()
  def parse(s: String): JsonNode = mapper.readTree(s)
  def longs(n: JsonNode): Seq[Long] = {
    val b = Seq.newBuilder[Long]
    n.elements().forEachRemaining(e => b += e.asLong())
    b.result()
  }
  def bools(n: JsonNode): Seq[Boolean] = {
    val b = Seq.newBuilder[Boolean]
    n.elements().forEachRemaining(e => b += e.asBoolean())
    b.result()
  }
  def optInt(n: JsonNode): Option[Int] =
    if (n == null || n.isNull) None else Some(n.asInt())
}

object Fs {
  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally s.close()
    }
  }
}
