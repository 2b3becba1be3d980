package perfbench

/** Order statistics for latency samples. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p`% of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val sorted = xs.sorted
    sorted(rank(xs.size, p) - 1)
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Samples that lie strictly beyond the nearest-rank `p` percentile. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** A tail percentile is reported only when at least this many samples lie
    * beyond it; fewer would make it the reading of a handful of ops. */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def sum(xs: Seq[Double]): Double = xs.foldLeft(0.0)(_ + _)
}
