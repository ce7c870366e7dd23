package perfbench

/** Order statistics used by every report. Percentiles use the nearest-rank
  * rule on the sorted sample; the median of an even-sized sample is the mean
  * of its two middle values, so it does not jump across a gap between two
  * clusters of request latencies. */
object Stats {
  /** Minimum number of samples that must lie strictly beyond a reported
    * high percentile for it to be published. */
  val MinBeyond = 10

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The p-th percentile, or Left(reason) when fewer than [[MinBeyond]]
    * samples lie strictly above it (such a tail is not resolved). */
  def tailPercentile(xs: Seq[Double], p: Double): Either[String, Double] =
    if (xs.isEmpty) Left("no samples")
    else {
      val v = percentile(xs, p)
      val beyond = xs.count(_ > v)
      if (beyond >= MinBeyond) Right(v)
      else Left(f"p$p%.0f of ${xs.length} samples has $beyond beyond it, needs $MinBeyond")
    }
}
