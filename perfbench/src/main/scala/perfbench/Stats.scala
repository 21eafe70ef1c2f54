package perfbench

/** Summary statistics over latency samples. */
object Stats {

  /** Linear-interpolated quantile (numpy's default), `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A tail latency: the nearest-rank value at `percentile`, with the
    * number of samples ranked above it and the sample count. */
  final case class Tail(percentile: Double, value: Double, beyond: Int, samples: Int)

  /** The highest percentile (on a 0.1 grid) whose nearest-rank value still
    * has at least `minBeyond` samples ranked above it. None when there
    * are too few samples for any percentile to qualify. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[Tail] = {
    val n = xs.size
    if (n <= minBeyond) None
    else {
      val s = xs.sorted.toIndexedSeq
      def rank(p10: Int): Int = math.max(1, math.ceil(p10 * n / 1000.0 - 1e-9).toInt)
      val p10 = (999 to 1 by -1).find(p => n - rank(p) >= minBeyond).get
      val r = rank(p10)
      Some(Tail(p10 / 10.0, s(r - 1), n - r, n))
    }
  }
}
