package graftbench

/** Order statistics behind every reported metric. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least a share
    * `p` of all samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  /** Samples ranked above the nearest-rank `p` percentile. */
  def beyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p * n).toInt)

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** The warm-up rule: unit times (passes or micro-batches) have stopped
    * falling once the median of the newest `window` units is no more than
    * `tol` below the median of the `window` units before them.
    */
  def stoppedFalling(units: Seq[Double], tol: Double, window: Int = 1): Boolean =
    units.size >= 2 * window &&
      median(units.takeRight(window)) >= median(units.takeRight(2 * window).take(window)) * (1 - tol)
}
