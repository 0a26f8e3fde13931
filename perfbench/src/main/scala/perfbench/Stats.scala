package perfbench

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Tail latency: the highest percentile that still has at least ten
    * samples beyond it, but never below the 90th (nearest rank). With fewer
    * than 100 samples that is the 90th percentile, and with ten or fewer
    * the maximum. Returns (value, percentile, samples beyond it). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) (0.0, 0.0, 0)
    else {
      val i = math.max(n - 11, math.ceil(0.9 * n).toInt - 1)
      (s(i), 100.0 * (i + 1) / n, n - 1 - i)
    }
  }
}
