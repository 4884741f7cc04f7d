package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** The traced run's span tree: operation → phase → Spark job → stage, plus
  * one root span per isolated operator run. Kept in memory during the
  * run and written once at exit, each span with its self time (its
  * length minus the union of its children). */
object Spans {
  def build(ops: Seq[OpRecord], jobs: Seq[JobRec],
            stages: Seq[(Int, Int, Long, Long)],
            iso: Seq[(String, Long, Long)]): Seq[Span] = {
    val out = mutable.ArrayBuffer[Span]()
    def add(parent: Int, name: String, op: Int, s: Long, e: Long): Int = {
      out += Span(out.size, parent, name, op, s, e)
      out.size - 1
    }
    val phaseSpan = mutable.Map[String, Int]()
    ops.foreach { o =>
      val id = add(-1, s"op:${o.kind}", o.id, o.start, o.end)
      o.phases.foreach { p =>
        phaseSpan(s"op-${o.id}:${p.fn}:${p.phase}") =
          add(id, s"${p.fn}.${p.phase}", o.id, p.start, p.end)
      }
    }
    val jobSpan = mutable.Map[Int, Int]()
    jobs.foreach { j =>
      phaseSpan.get(j.group).foreach { parent =>
        jobSpan(j.id) = add(parent, s"job ${j.id}", out(parent).opId,
          j.start, j.end)
      }
    }
    stages.foreach { case (sid, jid, s, e) =>
      jobSpan.get(jid).foreach(p =>
        add(p, s"stage $sid", out(p).opId, s, e))
    }
    iso.foreach { case (name, s, e) => add(-1, s"isolated:$name", -1, s, e) }
    out.toSeq
  }

  def write(path: String, ops: Seq[OpRecord], jobs: Seq[JobRec],
            stages: Seq[(Int, Int, Long, Long)],
            iso: Seq[(String, Long, Long)]): Unit = {
    val spans = build(ops, jobs, stages, iso)
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    val json = spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      val self = (s.end - s.start) - Ledger.unionLength(kids)
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${
        Json.mapper.writeValueAsString(s.name)}, "op": ${s.opId}, """ +
        s""""start_ms": ${s.start}, "end_ms": ${s.end}, "self_ms": $self}"""
    }.mkString("[\n", ",\n", "\n]\n")
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), json.getBytes(UTF_8))
  }
}
