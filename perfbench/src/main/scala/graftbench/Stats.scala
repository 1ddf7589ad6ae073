package graftbench

/** Order statistics used by every metric. */
object Stats {
  /** Median; the mean of the middle two for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Geometric mean of positive values. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geometric mean of nothing")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** The highest percentile with at least `beyond` samples above it:
    * (value, percentile, sample count). Falls back to the maximum when
    * the pool is too small, which the record then shows by its count. */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.length
    val k = math.max(0, n - beyond - 1)
    (s(k), 100.0 * (k + 1) / n, n)
  }
}
