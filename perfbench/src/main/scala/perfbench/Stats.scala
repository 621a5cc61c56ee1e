package perfbench

/** Order statistics the benchmark reports. */
object Stats {

  /** Nearest-rank percentile `p` (0 < p < 100) of `xs`, or None when
    * fewer than `minBeyond` samples lie strictly above its rank — a
    * tail figure backed by fewer samples than that is noise, so the
    * run must be sized up instead of reporting it.
    */
  def percentile(xs: Seq[Double], p: Double, minBeyond: Int = 10): Option[Double] =
    if (xs.isEmpty || xs.size - rank(xs.size, p) < minBeyond) None
    else Some(nearestRank(xs, p))

  /** Nearest-rank percentile without the sample-count guard. */
  def nearestRank(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN else xs.sorted.apply(rank(xs.size, p) - 1)

  /** Samples strictly above the nearest-rank `p` percentile. */
  def beyond(n: Int, p: Double): Int = if (n == 0) 0 else n - rank(n, p)

  private def rank(n: Int, p: Double): Int = {
    require(p > 0 && p < 100, s"percentile out of range: $p")
    math.ceil(p / 100.0 * n).toInt.max(1)
  }

  /** Median (mean of the middle two for an even count); NaN if empty. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
}
