package graft.perfbench

/** Percentiles that never claim more than the samples support. */
object Stats {

  /** Percentile ladder, highest first. */
  val Ladder: Seq[Double] = Seq(99.0, 95.0, 90.0, 75.0, 50.0)

  /** Nearest-rank percentile of `xs` (need not be sorted). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** The highest ladder percentile that has at least 10 samples beyond
    * it, or None when even the median has fewer. */
  def tailPercentile(n: Int): Option[Double] =
    Ladder.find(p => n * (1.0 - p / 100.0) >= 10.0 - 1e-9)

  /** Metric-name fragment for a percentile: 95.0 → "p95". */
  def label(p: Double): String = s"p${p.toInt}"
}
