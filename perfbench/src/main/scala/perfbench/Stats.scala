package perfbench

/** Latency summaries. Percentiles are nearest-rank on the sorted
  * sample; every reported percentile carries the sample count it was
  * taken from.
  */
object Stats {

  /** One reported percentile: which percentile, its value, and the
    * number of samples it was taken from.
    */
  final case class Pct(p: Int, value: Double, n: Int)

  /** Nearest-rank percentile `p` (0 < p ≤ 100) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(s.length, math.max(1, rank)) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** The tail percentile a sample can support: the highest percentile
    * at or below `want` that has at least `beyond` samples above its
    * rank, never lower than the median. A 95th percentile needs 200
    * samples; with 25 samples this reports the 60th.
    */
  def tailPercentile(n: Int, want: Int = 95, beyond: Int = 10): Int =
    if (n <= 0) 50
    else {
      // rank(p) = ceil(p·n/100); samples beyond it = n − rank(p) ≥ beyond
      var p = want
      while (p > 50 && n - math.ceil(p / 100.0 * n).toInt < beyond) p -= 1
      p
    }

  def tail(xs: Seq[Double], want: Int = 95, beyond: Int = 10): Pct = {
    val p = tailPercentile(xs.length, want, beyond)
    Pct(p, percentile(xs, p), xs.length)
  }

  def p50(xs: Seq[Double]): Pct = Pct(50, median(xs), xs.length)
}
