package perfbench

import scala.collection.mutable

/** In-memory spans for the traced run: one root span per timed
  * operation, children for its build / execute / verify steps, and named
  * counts (tracker phases, rule times, listener metrics) attached to a
  * span. Nothing is written until the run ends. */
final class Span(val id: Int, val name: String, val parent: Option[Span],
    val startNs: Long) {
  var endNs: Long = -1L
  val children = mutable.ArrayBuffer.empty[Span]
  val counts = mutable.LinkedHashMap.empty[String, Double]
  val attrs = mutable.LinkedHashMap.empty[String, String]

  def durationNs: Long = endNs - startNs

  def add(key: String, v: Double): Unit =
    counts.update(key, counts.getOrElse(key, 0.0) + v)

  /** Duration minus the part covered by child spans (overlapping
    * children are merged, and coverage is clipped to this span). */
  def selfNs: Long = Trace.selfNs(startNs, endNs,
    children.toSeq.map(c => (c.startNs, c.endNs)))
}

final class Tracer {
  private var nextId = 0
  private val stack = mutable.Stack.empty[Span]
  val roots = mutable.ArrayBuffer.empty[Span]

  def start(name: String): Span = {
    nextId += 1
    val s = new Span(nextId, name, stack.headOption, System.nanoTime())
    stack.headOption match {
      case Some(p) => p.children += s
      case None => roots += s
    }
    stack.push(s)
    s
  }

  def end(s: Span): Unit = {
    s.endNs = System.nanoTime()
    require(stack.headOption.contains(s), s"span ${s.name} ended out of order")
    stack.pop()
  }

  def span[T](name: String)(body: Span => T): T = {
    val s = start(name)
    try body(s) finally end(s)
  }
}

object Trace {
  /** A span tree as JSON-ready maps, times in ms from the span's root. */
  def json(root: Span): Map[String, Any] = {
    def go(s: Span): Map[String, Any] = Map(
      "id" -> s.id, "name" -> s.name,
      "start_ms" -> (s.startNs - root.startNs) / 1e6,
      "duration_ms" -> s.durationNs / 1e6, "self_ms" -> s.selfNs / 1e6,
      "attrs" -> s.attrs.toMap, "counts" -> s.counts.toMap,
      "children" -> s.children.map(go).toSeq)
    go(root)
  }

  /** Self time of a span [start, end) whose children cover `kids`. */
  def selfNs(start: Long, end: Long, kids: Seq[(Long, Long)]): Long = {
    val clipped = kids.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (end - start) - covered
  }
}
