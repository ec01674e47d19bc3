package perfbench

/** Order statistics over samples. */
object Stats {

  /** Nearest-rank quantile q in [0, 1] of `xs`. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** First and third quartiles, with the interpolation Python's
    * `statistics.quantiles(xs, n=4)` uses (its default 'exclusive'
    * method), so the spread printed here is the one judged elsewhere. */
  def quartiles(xs: Seq[Double]): (Double, Double) = {
    require(xs.length >= 2, "quartiles need at least 2 samples")
    val s = xs.sorted
    val ld = s.length
    def at(i: Int): Double = {
      val m = ld + 1
      val j = math.max(1, math.min(ld - 1, i * m / 4))
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4
    }
    (at(1), at(3))
  }

  /** Percentile `p` of `xs`, or None unless at least ten samples lie
    * beyond it: a tail read from fewer samples does not repeat. */
  def tail(xs: Seq[Double], p: Double): Option[Double] =
    if (xs.length * (1 - p / 100) >= 10 - 1e-9) Some(quantile(xs, p / 100)) else None
}
