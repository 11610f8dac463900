package perfbench

/** Order statistics for the timed samples. */
object Stats {

  /** Percentiles the tail may be reported at, lowest first. */
  val Ladder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** Samples a reported tail percentile must have beyond it. */
  val TailBeyond = 10

  /** The highest percentile of [[Ladder]] with at least [[TailBeyond]]
    * samples above it among `n`, or None when even the median has fewer. */
  def tailPercentile(n: Int): Option[Double] =
    Ladder.filter(p => n * (100.0 - p) / 100.0 >= TailBeyond - 1e-9).lastOption

  /** Linear-interpolated percentile `p` (0-100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = p / 100.0 * (s.size - 1)
    val lo = math.floor(rank).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)
}
