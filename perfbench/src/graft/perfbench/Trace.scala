package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call. `parent` is the id of the enclosing span, -1 at the
  * top; `unit` groups the spans of one unit of work. The layer is the
  * name's prefix before the first dot (`operators.day_rows` →
  * `operators`).
  */
final case class Span(id: Int, parent: Int, unit: String, name: String, startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the benchmark's own calls into each
  * layer. Spans nest by call stack on the driver thread; nothing is
  * written until [[write]] at the end of the run. A disabled tracer
  * runs the body and records nothing.
  */
final class Tracer(val enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var unit: String = ""

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        stack = stack.tail
        done += Span(id, parent, unit, name, start, end)
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Durations in seconds of every span called `name`. */
  def durations(name: String): Seq[Double] = done.iterator.filter(_.name == name).map(_.seconds).toSeq

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val body = done.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"unit":${Json.str(s.unit)},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.writeString(path, body)
  }
}

object Trace {

  /** Seconds per layer spent in spans of that layer and not covered by
    * their child spans (the span's duration minus the union of its
    * direct children's intervals).
    */
  def selfTime(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      val ns = ss.map { s =>
        val covered = Stats.unionLength(children.getOrElse(s.id, Nil).map { c =>
          (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))
        })
        (s.endNs - s.startNs) - covered
      }.sum
      layer -> ns / 1e9
    }
  }
}

/** The few JSON renderings the benchmark needs. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A finite double with all its digits; NaN and infinities are not JSON. */
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric is not a finite number: $d")
    java.math.BigDecimal.valueOf(d).toPlainString
  }
}
