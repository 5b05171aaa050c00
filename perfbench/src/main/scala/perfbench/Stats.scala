package perfbench

/** Order statistics for the samples one run collects. */
object Stats {

  /** Linear-interpolated quantile (the "R-7" rule numpy and Spark's exact
    * percentile use) of an unsorted sample; `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Percentiles a tail may be reported at, in per-mille. */
  val TailLadder: Seq[Int] = Seq(500, 750, 900, 950, 990, 999)

  /** Samples a reported tail percentile must leave above it. */
  val MinBeyond = 10

  /** The highest ladder percentile (per-mille) that leaves at least
    * [[MinBeyond]] of `n` samples above it, or None when even the median
    * does not: a p90 of 30 samples rests on three values and is not reported. */
  def tailPermille(n: Int): Option[Int] =
    TailLadder.filter(p => n.toLong * (1000 - p) >= MinBeyond.toLong * 1000).lastOption

  /** (percentile per-mille, value) of the tail [[tailPermille]] allows. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    tailPermille(xs.size).map(p => p -> quantile(xs, p / 1000.0))
}
