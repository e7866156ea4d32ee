package perfbench

/** Summary statistics the benchmark reports. */
object Stats {

  /** Quantile by linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Percentiles a tail figure may use, highest first. */
  val TailPercentiles: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /**
   * The highest percentile in [[TailPercentiles]] that has at least
   * `beyond` of `n` samples above it; the median when none has.
   */
  def tailPercentile(n: Int, beyond: Int = 10): Double =
    TailPercentiles.find(p => n * (100.0 - p) / 100.0 >= beyond).getOrElse(50.0)

  /** (percentile used, value at it). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = tailPercentile(xs.size)
    (p, quantile(xs, p / 100.0))
  }
}
