package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans around the benchmark's calls into the engine. Disabled,
  * a span is just the call. Spans are recorded by the single client thread
  * and written out once, when the run ends. */
final class Spans(val enabled: Boolean, val runId: String) {
  import Spans.Span

  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  def apply[T](name: String, query: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, query, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def all: Seq[Span] = done.toSeq

  /** Seconds of each span name not covered by its child spans, summed over
    * the spans whose start lies in [fromNs, toNs). */
  def selfSeconds(fromNs: Long = Long.MinValue,
      toNs: Long = Long.MaxValue): Map[String, Double] = {
    val childTime = done.groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    done.filter(s => s.startNs >= fromNs && s.startNs < toNs)
      .groupBy(_.name)
      .map { case (name, ss) =>
        name -> ss.map(s =>
          (s.endNs - s.startNs - childTime.getOrElse(s.id, 0L)) / 1e9).sum
      }
  }

  def toJson: String = Json(Map(
    "run" -> runId,
    "spans" -> done.map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "query" -> s.query, "start_ns" -> s.startNs, "end_ns" -> s.endNs)).toSeq))
}

object Spans {
  final case class Span(id: Int, parent: Int, name: String, query: String,
      startNs: Long, endNs: Long)
}
