package perfbench

/** Percentiles over latency samples, by nearest rank. */
object Stats {

  /** The `p`-th percentile (0 < p <= 100) by nearest rank: the smallest
   *  sample with at least p% of the samples at or below it.
   */
  def percentile(samples: Seq[Double], p: Double): Double = {
    require(samples.nonEmpty, "percentile of no samples")
    val sorted = samples.sorted
    sorted(rankIndex(sorted.size, p))
  }

  def rankIndex(n: Int, p: Double): Int =
    math.min(n - 1, math.max(0, math.ceil(p / 100.0 * n - 1e-9).toInt - 1))

  def median(samples: Seq[Double]): Double = percentile(samples, 50)

  /** The highest whole percentile that still has at least `beyond`
   *  samples above it, or None when `n` samples cannot support one (the
   *  tail a run of `n` operations can report without resting on a
   *  handful of outliers).
   */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] =
    (99 to 1 by -1).find(p => n - 1 - rankIndex(n, p) >= beyond)

  def mean(samples: Seq[Double]): Double =
    if (samples.isEmpty) 0.0 else samples.sum / samples.size
}
