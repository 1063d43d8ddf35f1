package gridperf

/** Order statistics used for every reported latency. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it (so p50 of an even count is the lower
    * middle sample, and p100 is the maximum). */
  def percentile(samples: Seq[Double], p: Double): Double = {
    require(samples.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val sorted = samples.sorted
    val rank = math.ceil(p / 100.0 * sorted.size).toInt
    sorted(math.max(rank, 1) - 1)
  }

  /** How many samples lie strictly above the `p`-th percentile — the
    * support behind a tail figure (ten or more makes it trustworthy). */
  def beyond(samples: Seq[Double], p: Double): Int = {
    val v = percentile(samples, p)
    samples.count(_ > v)
  }

  def median(samples: Seq[Double]): Double = percentile(samples, 50)
}
