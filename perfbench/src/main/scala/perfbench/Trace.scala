package perfbench

import scala.collection.mutable

/** In-memory spans for the traced run: name, start, end, parent span and a
  * trace id (the micro-batch id). Written out once at the end. A disabled
  * tracer records nothing and runs each block as is. */
final class Tracer(val enabled: Boolean = true) {
  final case class Span(id: Int, parent: Int, name: String, trace: String,
                        startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0
  private val t0 = System.nanoTime()

  def span[T](name: String, trace: String)(f: => T): T =
    if (enabled) record(name, trace)(f) else f

  private def record[T](name: String, trace: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val start = System.nanoTime()
    try f
    finally {
      stack = stack.tail
      spans += Span(id, parent, name, trace, start, System.nanoTime())
    }
  }

  /** Summed span duration per name (seconds). */
  def total(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  def roots: Seq[Span] = spans.filter(_.parent < 0).toSeq

  /** Per span name: summed duration minus the part its children cover. */
  def selfTimes: Map[String, Double] = {
    val child = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - child.getOrElse(s.id, 0.0)).sum
    }
  }

  def toJson: Seq[Map[String, Any]] = spans.sortBy(_.id).map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "trace" -> s.trace,
    "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6)).toSeq
}

object Tracer {
  def off: Tracer = new Tracer(enabled = false)
}
