package graftbench

/** Order statistics over latency samples (nearest-rank percentiles). */
object Stats {

  /** Nearest-rank `p`-th percentile, p in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(rank(s.length, p) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** 1-based nearest rank of the p-th percentile among n samples. */
  def rank(n: Int, p: Double): Int = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Samples strictly above the p-th percentile's rank. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The highest percentile among `candidates` that leaves at least
    * `min` samples beyond it: the tail a run of `n` samples can report. */
  def tailPercentile(n: Int, candidates: Seq[Double] = Seq(50, 75, 80, 90, 95, 99, 99.9),
                     min: Int = 10): Option[Double] =
    candidates.sorted.reverse.find(p => beyond(n, p) >= min)
}
