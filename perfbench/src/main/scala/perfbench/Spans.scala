package perfbench

import scala.collection.mutable

/** Timed spans the harness wraps around its own calls into each layer's
  * public functions. Spans nest per thread; a span's self time is its
  * duration minus the part of it its children cover, so a layer's own
  * cost is not double-counted into its caller.
  *
  * A disabled recorder runs the body and records nothing: an untraced
  * run pays no bookkeeping.
  */
final class Spans(val enabled: Boolean) {
  import Spans._

  private val recorded = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = open.get.headOption.getOrElse(-1)
      val id = recorded.synchronized {
        recorded += Span(recorded.length, name, parent, System.nanoTime(), -1L)
        recorded.length - 1
      }
      open.set(id :: open.get)
      try body
      finally {
        val end = System.nanoTime()
        open.set(open.get.tail)
        recorded.synchronized { recorded(id) = recorded(id).copy(endNs = end) }
      }
    }

  /** Closed spans, in start order. */
  def spans: Seq[Span] = recorded.synchronized(recorded.filter(_.endNs >= 0).toSeq)

  /** Per span name: call count, total and self time in seconds. */
  def totals: Map[String, Total] = {
    val all = spans
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> Total(ss.length, ss.map(_.durationNs).sum / 1e9,
        ss.map(s => selfNs(s, children.getOrElse(s.id, Nil))).sum / 1e9)
    }
  }
}

object Spans {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
    def durationNs: Long = endNs - startNs
  }

  final case class Total(count: Int, totalS: Double, selfS: Double)

  /** Duration minus the union of the children's intervals, each clipped
    * to the parent (children on other threads may overlap each other).
    */
  def selfNs(span: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s; curEnd = e
      } else curEnd = math.max(curEnd, e)
    }
    if (curEnd > curStart) covered += curEnd - curStart
    span.durationNs - covered
  }
}
