package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run. A span is (name, start,
  * end, parent, run id); spans nest per thread, and self time is a span's
  * duration minus its children's. Nothing is written until [[write]], so
  * the measured code never waits on the trace file. A disabled tracer
  * runs the body and records nothing.
  */
object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, startMs: Long,
      var endNs: Long, var endMs: Long)
}

final class Tracer(val runId: String, val enabled: Boolean) {
  import Tracer.Span

  private val spans = ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val stack = open.get()
      val s = synchronized {
        val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, System.nanoTime(),
          System.currentTimeMillis(), -1L, -1L)
        spans += s
        s
      }
      open.set(s :: stack)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open.set(stack)
      }
    }

  /** Every closed span with this name. */
  def closed(name: String): Seq[Span] = synchronized(spans.filter(s => s.name == name && s.endNs > 0).toSeq)

  /** Total seconds of every closed span with this name. */
  def total(name: String): Double = closed(name).map(s => (s.endNs - s.startNs) / 1e9).sum

  /** Self seconds per span name: duration minus the durations of children. */
  def selfTimes: Map[String, Double] = synchronized {
    val closed = spans.filter(_.endNs > 0)
    val childNs = closed.groupBy(_.parent).view.mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    closed.groupBy(_.name).view.mapValues(_.map { s =>
      (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9
    }.sum).toMap
  }

  /** One JSON object per span, then one per name with its self time. */
  def write(path: Path): Unit = synchronized {
    val sb = new StringBuilder
    spans.filter(_.endNs > 0).foreach { s =>
      sb ++= Json.obj(Seq("run_id" -> Json.str(runId), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString)) += '\n'
    }
    selfTimes.toSeq.sortBy(_._1).foreach { case (n, sec) =>
      sb ++= Json.obj(Seq("run_id" -> Json.str(runId), "self" -> Json.str(n),
        "seconds" -> Json.num(sec))) += '\n'
    }
    Files.createDirectories(path.getParent)
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

/** Just enough JSON for metric lines and trace files. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c    => sb += c
    }
    (sb += '"').toString
  }

  /** Full precision, so runs can be compared digit for digit. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) throw new IllegalArgumentException(s"not a JSON number: $d")
    else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
