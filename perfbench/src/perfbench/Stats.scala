package perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The percentiles a report may quote. */
  val Percentiles: Seq[Double] = Seq(50, 90, 95, 99, 99.9)

  /** Highest quotable percentile that still has at least `beyond` samples
    * above it out of `n` (p50 needs 20 samples, p90 needs 100, p99 needs
    * 1000); None when even the median has too few. */
  def highestPercentile(n: Int, beyond: Int = 10): Option[Double] =
    Percentiles.filter(p => n * (100 - p) / 100 >= beyond - 1e-9).lastOption

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }
}
