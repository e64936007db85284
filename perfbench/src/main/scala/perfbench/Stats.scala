package perfbench

/** The benchmark's own arithmetic: medians, the tail-percentile rule,
  * interval unions for the driver gap, and span self time. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The value at the highest percentile that still has at least
    * `beyond` samples above it: with `n` sorted samples that is the
    * sample at index `n - 1 - beyond`. None when there are not more
    * than `beyond` samples, so no such percentile exists. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[Double] =
    if (xs.length <= beyond) None
    else Some(xs.sorted.apply(xs.length - 1 - beyond))

  /** Total length covered by a set of possibly overlapping half-open
    * intervals `[start, end)`. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curEnd) {
          if (curEnd > curStart) total += curEnd - curStart
          curStart = s
          curEnd = e
        } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** `intervals` clipped to the window `[from, to)`. */
  def clip(intervals: Seq[(Long, Long)], from: Long, to: Long): Seq[(Long, Long)] =
    intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }

  /** Time in `[from, to)` that no interval covers: for job intervals
    * over a wall window, the driver gap. */
  def gap(intervals: Seq[(Long, Long)], from: Long, to: Long): Long =
    (to - from) - unionLength(clip(intervals, from, to))

  /** Self time of every span: its duration minus the part of it that
    * its direct children cover. Keyed by span id. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.endNs - s.startNs - unionLength(clip(kids, s.startNs, s.endNs)))
    }.toMap
  }
}
