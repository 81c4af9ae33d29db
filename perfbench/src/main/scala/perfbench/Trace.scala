package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval. `op` is the operation it belongs to; `parent` is
  * the span that caused it (0 for an operation's root). Spans recorded
  * by other threads (Spark listener, HTTP handlers) are `external`: they
  * carry `Spans.Unresolved` as parent and are hung under the deepest
  * client span of their operation that contains their start.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, endNs: Long, external: Boolean = false) {
  def durNs: Long = endNs - startNs
}

/** Per-name totals over a run: `ops` is how many operations had the span. */
final case class LayerTime(name: String, count: Int, ops: Int, totalNs: Long, selfNs: Long)

object Spans {
  val Unresolved: Long = -1L

  /** Length of the union of `intervals`, each clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE != Long.MinValue) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE != Long.MinValue) total += curE - curS
    total
  }

  /** Resolve external spans' parents: the deepest client span of the same
    * operation whose interval contains the external span's start.
    */
  def attach(spans: Seq[Span]): Seq[Span] = {
    val clientByOp = spans.filter(!_.external).groupBy(_.op)
    spans.map { s =>
      if (s.parent != Unresolved) s
      else {
        val holders = clientByOp.getOrElse(s.op, Nil)
          .filter(c => c.startNs <= s.startNs && s.startNs <= c.endNs)
        // the innermost holder started last (client spans nest)
        val parent = if (holders.isEmpty) 0L else holders.maxBy(_.startNs).id
        s.copy(parent = parent)
      }
    }
  }

  /** Self time of every span: its duration minus the part of it that its
    * children cover. Overlapping children are counted once.
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - covered(cs, s.startNs, s.endNs))
    }.toMap
  }

  def byName(spans: Seq[Span]): Seq[LayerTime] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      LayerTime(name, ss.length, ss.map(_.op).distinct.length,
        ss.map(_.durNs).sum, ss.map(s => self(s.id)).sum)
    }.sortBy(-_.selfNs)
  }
}

/** In-memory span recorder. Only the single client thread opens spans,
  * so the open-span stack is a plain field; other threads only append.
  * Nothing is recorded outside a measured operation (`op` 0 is set-up).
  */
final class Tracer(val enabled: Boolean) {
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(1)
  @volatile private var open: List[Long] = Nil
  @volatile var op: Long = 0L
  /** nanoTime minus wall-clock nanos, for spans timed in epoch millis. */
  val epochToNano: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def recording: Boolean = enabled && op > 0

  def span[A](name: String)(body: => A): A =
    if (!recording) body
    else {
      val id = nextId.getAndIncrement()
      val parent = open.headOption.getOrElse(0L)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        buf.add(Span(id, parent, op, name, t0, t1))
      }
    }

  def external(name: String, op: Long, startNs: Long, endNs: Long): Unit =
    if (enabled && op > 0) buf.add(Span(nextId.getAndIncrement(), Spans.Unresolved, op, name,
      startNs, endNs, external = true))

  def spans: Seq[Span] = Spans.attach(buf.asScala.toSeq)
}
