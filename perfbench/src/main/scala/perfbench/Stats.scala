package perfbench

/** Summary statistics the benchmark reports. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. Every reported value is a measured
    * sample, never an interpolation between two.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val sorted = xs.sorted
    val rank = math.ceil(p / 100.0 * sorted.size).toInt
    sorted(math.max(rank, 1) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Share of the exact top-k ids that the approximate result found. */
  def recall(found: Seq[Long], exact: Seq[Long]): Double = {
    require(exact.nonEmpty, "recall against an empty exact result")
    exact.toSet.intersect(found.toSet).size.toDouble / exact.size
  }
}
