package transitbench

/** Percentiles as the benchmark reports them. */
object Stats {
  /** Nearest-rank percentile (0 < q ≤ 1) of a non-empty sample. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail percentile is reported only when at least `beyond` samples lie
    * above it; fewer and it would describe a handful of outliers. */
  def supportsTail(n: Int, q: Double, beyond: Int = 10): Boolean =
    n - math.ceil(q * n).toInt >= beyond

  /** p90 of the sample, or None when it has fewer than ten samples beyond. */
  def tail90(xs: Seq[Double]): Option[Double] =
    if (supportsTail(xs.size, 0.9)) Some(percentile(xs, 0.9)) else None
}
