package tapbench

/** Summary statistics for the benchmark's samples. */
object Stats {

  /** Median of the samples (mean of the middle two for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The median with the sample count behind it, as a report states it. */
  def medianOf(xs: Seq[Double]): (Double, String) = (median(xs), s"median of ${xs.size}")

  /** Total length covered by half-open intervals `[start, end)` that may
    * overlap: the time at least one of them was running.
    */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var start = 0L
    var end = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > end) {
        if (end != Long.MinValue) total += end - start
        start = s
        end = e
      } else if (e > end) end = e
    }
    if (end != Long.MinValue) total += end - start
    total
  }
}
