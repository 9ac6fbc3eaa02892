package perfbench

import org.apache.commons.math3.distribution.BetaDistribution

/** Percentiles with the tail rule: a tail percentile is reported only when at
  * least [[Stats.MinBeyond]] samples lie beyond its nearest rank; otherwise
  * the run fails loudly instead of printing a tail made of a handful of
  * samples.
  */
object Stats {
  val MinBeyond = 10

  private def rank(n: Int, p: Double): Int = math.max(0, math.ceil(p * n).toInt - 1)

  /** Samples strictly beyond the nearest-rank p-th percentile of n. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p) - 1

  /** Harrell–Davis estimate of the p-th quantile: a mean of every order
    * statistic, weighted by a Beta(p(n+1), (1-p)(n+1)) distribution. Over a
    * few dozen samples of several request classes it moves less from run to
    * run than the one or two order statistics a nearest-rank percentile
    * reads.
    */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val n = s.size
    if (n == 1) s.head
    else {
      val w = new BetaDistribution(p * (n + 1), (1 - p) * (n + 1))
      s.indices.map(i =>
        (w.cumulativeProbability((i + 1.0) / n) - w.cumulativeProbability(i.toDouble / n)) * s(i)).sum
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The p-th quantile, refusing a tail with too few samples beyond it. */
  def tail(name: String, xs: Seq[Double], p: Double): Double = {
    val b = beyond(xs.size, p)
    if (b < MinBeyond) throw new IllegalStateException(
      s"$name: only $b of ${xs.size} samples lie beyond p${(p * 100).round}; " +
        s"the benchmark needs at least $MinBeyond — run more operations")
    quantile(xs, p)
  }
}
