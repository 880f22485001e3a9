package perfbench

/** Summary statistics for timing samples. A percentile is only reported
  * when at least [[MinBeyond]] samples lie above it, so a p50 needs 20
  * samples and a p90 needs 100; below that the caller reports the mean
  * with its sample count instead. */
object Stats {

  final case class Pct(value: Double, n: Int)

  val MinBeyond = 10

  /** Nearest-rank percentile `p` (0 < p < 100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Option[Pct] = {
    require(p > 0 && p < 100, s"percentile must be in (0, 100), got $p")
    val n = xs.size
    if (n == 0) None
    else {
      val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
      if (n - rank < MinBeyond) None
      else Some(Pct(xs.sorted.apply(rank - 1), n))
    }
  }

  /** Plain median (mean of the two middle values for even counts). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    xs.sum / xs.size
  }
}
