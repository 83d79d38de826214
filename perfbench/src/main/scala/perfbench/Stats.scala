package perfbench

/** Order statistics for the latency metrics. */
object Stats {

  /** Percentiles a latency may be reported at, lowest first. */
  val Ladder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** The highest percentile of [[Ladder]] that has at least ten samples
    * beyond it, or None when even the median has fewer (n < 20). A tail
    * percentile read from fewer samples is one or two observations, not
    * a distribution: p90 needs n >= 100, p99 needs n >= 1000. */
  def highestPercentile(n: Int): Option[Double] =
    Ladder.filter(p => n * (100.0 - p) / 100.0 >= 10.0 - 1e-9).lastOption

  /** Percentile by linear interpolation between the two closest ranks
    * (the default of numpy and of R's type 7). With a small sample drawn
    * from a few distinct queries, a nearest-rank pick jumps between
    * queries from run to run; the interpolation moves smoothly instead. */
  def percentile(samples: Seq[Double], p: Double): Double = {
    require(samples.nonEmpty, "percentile of no samples")
    val sorted = samples.sorted.toIndexedSeq
    val h = (sorted.size - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, sorted.size - 1)
    sorted(lo) + (h - lo) * (sorted(hi) - sorted(lo))
  }

  def median(samples: Seq[Double]): Double = percentile(samples, 50.0)
}
