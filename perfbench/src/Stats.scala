package perfbench

/** Order statistics used for every reported timing. */
object Stats {
  /** Linear-interpolation quantile between closest ranks (the "type 7"
    * estimator: h = (n - 1) * q). `q` is in [0, 1]; the input need not
    * be sorted and must not be empty. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    val s = xs.sorted.toIndexedSeq
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
