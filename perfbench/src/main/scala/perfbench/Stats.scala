package perfbench

/** Order statistics used by every reported latency. */
object Stats {

  /** Linear-interpolated percentile (`p` in 0..100) of an unsorted sample
    * — the same estimator as Python's `statistics.quantiles(method=
    * "inclusive")`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Percentiles the tail rule may report, highest first. */
  val TailCandidates: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The tail-percentile rule: the highest candidate percentile that
    * still has at least `minBeyond` samples above it, so a tail figure is
    * never one or two outliers. Returns (percentile, value, samples
    * beyond). A sample too small for any candidate reports its median. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): (Double, Double, Int) = {
    val p = tailPercentile(xs.size, minBeyond)
    (p, percentile(xs, p), beyond(xs.size, p))
  }

  /** The percentile the tail rule picks for a sample of `n`. */
  def tailPercentile(n: Int, minBeyond: Int = 10): Double =
    TailCandidates.find(beyond(n, _) >= minBeyond).getOrElse(50.0)

  /** Samples of `n` ranked strictly above the `p`-th percentile's
    * interpolation point. */
  def beyond(n: Int, p: Double): Int =
    (n - 1) - math.floor((n - 1) * p / 100.0 + 1e-9).toInt
}
