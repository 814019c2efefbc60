package perfbench

/** Order statistics used for every reported figure. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Quartiles by the same rule as Python's
    * `statistics.quantiles(xs, n=4)` (the "exclusive" method), so a run
    * record and the acceptance check read the same spread. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) return (0.0, 0.0, 0.0)
    if (n == 1) return (s.head, s.head, s.head)
    def q(i: Int): Double = {
      val m = n + 1
      val j = math.max(1, math.min(n - 1, i * m / 4))
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4
    }
    (q(1), q(2), q(3))
  }

  /** The tail percentile reported for `n` samples: the highest level
    * that leaves at least ten samples beyond it, capped at p90 (reached
    * at 100 samples) and floored at the median. */
  def tailLevel(n: Int): Double =
    if (n <= 0) 0.5 else math.max(0.5, math.min(0.9, 1.0 - 10.0 / n))

  /** Linearly interpolated quantile (numpy's default) at `level`. */
  def quantile(xs: Seq[Double], level: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * level
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def tail(xs: Seq[Double]): Double = quantile(xs, tailLevel(xs.size))
}
