package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One traced call: a layer boundary crossed by the benchmark. Times are
  * `System.nanoTime` readings; `parent` is -1 for a root span; spans of one
  * request share `req` (the root span's id).
  */
final case class Span(id: Long, layer: String, name: String, start: Long,
    end: Long, parent: Long, req: Long)

/** In-memory span recorder. Disabled, `span` only runs its body, so the
  * untraced run pays nothing; enabled, it also tags the Spark jobs the body
  * submits with the request id (a thread-local Spark property the
  * [[JobListener]] reads back).
  */
final class Tracer(val enabled: Boolean, tagJobs: (Long => Unit, () => Unit)) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val (parent, req) = outer.headOption match {
        case Some((p, r)) => (p, r)
        case None         => (-1L, id)
      }
      if (outer.isEmpty) tagJobs._1(req)
      stack.set((id, req) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        if (outer.isEmpty) tagJobs._2()
        spans.add(Span(id, layer, name, t0, t1, parent, req))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

object Trace {

  /** Length of the union of `intervals` clipped to [lo, hi). */
  def coveredLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of each span: its duration minus the part of it covered by
    * its direct children (overlapping children are counted once).
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> ((s.end - s.start) - coveredLength(cs, s.start, s.end))
    }.toMap
  }

  /** Seconds of self time per layer. */
  def layerSelfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e9 }
  }
}

object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples that must lie strictly beyond a reported percentile. */
  val MinBeyond = 10

  /** Nearest-rank percentile, reported only when at least [[MinBeyond]]
    * samples lie beyond it (so p95 needs n >= 200); None otherwise.
    */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    val n = xs.size
    val rank = math.ceil(p / 100.0 * n).toInt
    if (n == 0 || rank < 1 || n - rank < MinBeyond) None
    else Some(xs.sorted.apply(rank - 1))
  }
}
