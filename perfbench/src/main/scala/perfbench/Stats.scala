package perfbench

/** Summary statistics for latency samples. */
object Stats {
  /** Percentiles a tail may be reported at, highest first. */
  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0)

  /** Nearest-rank percentile `p` (0–100) of `xs`; 0 for no samples (a
    * run with no successful operation is reported as incorrect anyway). */
  def percentile(xs: Seq[Double], p: Double): Double = if (xs.isEmpty) 0.0 else {
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(s.size, math.max(1, rank)) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest percentile on the ladder that has at least ten samples
    * beyond it, so a reported tail rests on more than one or two
    * outliers. Falls back to the median for samples under twenty. */
  def tailPercentile(n: Int): Double =
    Ladder.find(p => n * (100.0 - p) / 100.0 >= 10.0 - 1e-9).getOrElse(50.0)

  /** (percentile, value) at the supported tail of `xs`. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = tailPercentile(xs.size)
    (p, percentile(xs, p))
  }
}
