package perfbench

/** Order statistics for the benchmark's reported timings. */
object Stats {

  /** Samples a reported percentile must leave beyond it. */
  val MinBeyond = 10

  /** Nearest-rank percentile `p` (0 < p < 100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val sorted = xs.sorted
    val rank = math.ceil(p / 100.0 * sorted.size).toInt
    sorted(math.min(sorted.size, math.max(1, rank)) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Whether `n` samples leave at least [[MinBeyond]] beyond percentile `p`. */
  def supports(n: Int, p: Double): Boolean =
    n - math.ceil(p / 100.0 * n) >= MinBeyond

  /** The highest of `candidates` that `n` samples support, if any. */
  def highestSupported(n: Int, candidates: Seq[Double] = Seq(50, 65, 75, 90, 95, 99)): Option[Double] =
    candidates.filter(supports(n, _)).sorted.lastOption
}
