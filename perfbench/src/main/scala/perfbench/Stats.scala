package perfbench

/** Order statistics shared by every workload. */
object Stats {

  /** Linear-interpolated percentile (the numpy default) of `xs`; NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val rank = p / 100.0 * (s.size - 1)
      val lo = math.floor(rank).toInt
      val hi = math.ceil(rank).toInt
      s(lo) + (s(hi) - s(lo)) * (rank - lo)
    }

  /** The percentiles a tail metric may read, highest first. */
  val ladder: Seq[Double] = Seq(99, 95, 90, 75, 50)

  /** The tail percentile a sample of `n` supports: the highest rung of
    * [[ladder]] at or below `target` that still leaves at least ten samples
    * beyond it, so the tail is never one or two stragglers. Falls back to
    * the median when even that leaves fewer than ten. */
  def tailPercentile(n: Int, target: Double): Double =
    ladder.filter(_ <= target)
      .find(p => n * (1 - p / 100.0) >= 10 - 1e-9)
      .getOrElse(50.0)

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
