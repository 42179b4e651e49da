package olapbench

import org.apache.commons.math3.distribution.BetaDistribution

/** Order statistics the benchmark reports. */
object Stats {

  /** Harrell-Davis estimate of the `p` quantile: a Beta-weighted mean of
    * all order statistics. With the few dozen samples a run holds, a plain
    * order statistic jumps between the clusters that cheap and costly
    * requests form; this estimate moves smoothly, and it never decreases
    * as `p` grows. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val n = s.size
    if (n == 1) s.head
    else {
      val beta = new BetaDistribution(null, p * (n + 1), (1 - p) * (n + 1))
      s.indices.map(i => (beta.cumulativeProbability((i + 1.0) / n) -
        beta.cumulativeProbability(i.toDouble / n)) * s(i)).sum
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail reported as `*_p95_*`: the 0.95 quantile, its percentile
    * lowered until at least `beyond` samples lie above that rank, so the
    * tail is never one or two outliers, but never below the median (with
    * `2 * beyond` samples or fewer the tail is the median). Returns
    * (percentile, value). */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) = {
    val p = math.max(0.5,
      math.min(math.ceil(0.95 * xs.size).toInt, xs.size - beyond).toDouble / xs.size)
    (p, quantile(xs, p))
  }
}
