package perfbench

/** Order statistics the metrics are reported with. */
object Stats {

  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as `numpy.quantile` computes it. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.toIndexedSeq.sorted
    val pos = q * (s.length - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Candidate tail percentiles, highest first. */
  private val Ladder = Seq(99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 66.0, 50.0)

  /** The highest percentile with at least ten samples beyond it, and its
    * value. With fewer than twenty samples the median is the tail. */
  def tail(xs: Iterable[Double]): (Double, Double) = {
    val n = xs.size
    val p = Ladder.find(p => n * (100 - p) >= 1000 - 1e-6).getOrElse(50.0)
    (p, quantile(xs, p / 100))
  }
}
