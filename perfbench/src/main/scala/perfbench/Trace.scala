package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval: a call into one engine layer.
  *
  * @param layer  which layer the call enters (`cube`, `entry`, `scratch`, ...)
  * @param parent id of the enclosing span, or -1 for a root
  * @param callId the workload call the span belongs to ("" outside calls)
  */
final case class Span(
    id: Int,
    parent: Int,
    layer: String,
    name: String,
    callId: String,
    startNs: Long,
    endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans nest by call stack (one client
  * thread). When disabled, `span` runs the body and records nothing.
  */
final class Tracer(var enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, String, String, Long)] = Nil
  private var nextId = 0

  def span[T](layer: String, name: String, callId: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      stack = (id, layer, name, callId, System.nanoTime()) :: stack
      try body
      finally {
        val (_, l, n, c, t0) = stack.head
        stack = stack.tail
        val parent = stack.headOption.map(_._1).getOrElse(-1)
        done += Span(id, parent, l, n, c, t0, System.nanoTime())
      }
    }

  /** Adds a span measured elsewhere (a Spark job seen by a listener)
    * under the innermost recorded span that contains its start.
    */
  def addMeasured(layer: String, name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      val parent = done.filter(s => s.startNs <= startNs && startNs < s.endNs)
        .sortBy(s => s.durNs).headOption
      done += Span(nextId, parent.map(_.id).getOrElse(-1), layer, name,
        parent.map(_.callId).getOrElse(""), startNs, endNs)
      nextId += 1
    }

  def spans: Seq[Span] = done.toSeq
  def clear(): Unit = done.clear()
}

object Trace {

  /** Self time of each span: its duration minus the part of it that its
    * children cover. Children may overlap one another (concurrent Spark
    * jobs) or run past the parent's end; only the covered part of the
    * parent's own interval is subtracted.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
      s.id -> (s.durNs - unionLength(iv))
    }.toMap
  }

  /** Total length of a set of intervals, overlaps counted once. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a
        curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time summed per layer, in seconds. */
  def selfByLayer(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e9 }
  }
}
