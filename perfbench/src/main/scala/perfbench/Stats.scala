package perfbench

/** The order statistics and interval arithmetic the record is built
  * from, kept free of Spark so they can be unit-tested alone. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail latency that stays meaningful for small sample counts: the
    * value at the highest percentile that still has at least `beyond`
    * samples above it. With n sorted samples that is the sample at
    * index n - beyond - 1, i.e. percentile 100 * (n - beyond) / n.
    * Below beyond + 1 samples no percentile qualifies, and the maximum
    * (percentile 100) is returned. Returns (value, percentile). */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n > beyond) (s(n - beyond - 1), 100.0 * (n - beyond) / n)
    else (s(n - 1), 100.0)
  }

  /** Total length covered by a set of [start, end) intervals, counting
    * overlaps once. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Intervals clipped to [lo, hi); empty ones are dropped. */
  def clip(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
}
