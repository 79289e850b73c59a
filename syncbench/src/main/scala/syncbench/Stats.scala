package syncbench

object Stats {
  /** Samples a reported percentile needs beyond it. */
  val MinBeyond = 10

  /** Nearest-rank `q`-quantile of `xs`, or None when fewer than
    * [[MinBeyond]] samples lie above it — a tail percentile is only
    * reported where the run has the samples to support it. */
  def percentile(xs: Seq[Double], q: Double): Option[Double] = {
    require(q > 0 && q < 1, s"quantile $q")
    val n = xs.size
    val rank = math.max(1, math.ceil(q * n).toInt)
    if (n == 0 || n - rank < MinBeyond) None else Some(xs.sorted.apply(rank - 1))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
