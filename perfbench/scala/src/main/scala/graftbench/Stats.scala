package graftbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Linear-interpolated quantile, `q` in [0, 1]; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Percentiles a tail may be reported at, highest first. No p80: with
    * five ops taking a fifth of the samples each, p80 falls on the boundary
    * between two ops. */
  val TailLadder: Seq[Int] = Seq(99, 95, 90, 75, 60, 50)

  /** The tail rule: the highest percentile on the ladder that has at least
    * ten samples beyond it, given `n` samples. */
  def tailPercentile(n: Int): Option[Int] =
    TailLadder.find(p => n * (100 - p) >= 10 * 100)
}
