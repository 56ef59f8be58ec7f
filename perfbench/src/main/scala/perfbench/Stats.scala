package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile (`p` in (0, 100]). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1))
  }

  /** Samples strictly beyond the nearest-rank `p`-th percentile. */
  def beyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p / 100 * n).toInt)

  val tailCandidates: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0)

  /** The highest candidate percentile with at least `minBeyond` samples
    * beyond it, with its value; None when even the median has fewer. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[(Double, Double)] =
    tailCandidates.find(p => beyond(xs.size, p) >= minBeyond).map(p => (p, percentile(xs, p)))
}
