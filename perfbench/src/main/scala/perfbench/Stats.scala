package perfbench

/** Order statistics for one timed series. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail: the highest whole percentile that still has at least ten
    * samples above it (nearest-rank), with that percentile. Below 20
    * samples that percentile would fall under the median, so the maximum
    * is returned instead, as percentile 100. */
  def tail(xs: Seq[Double]): (Double, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n < 20) (s.last, 100)
    else {
      val pct = math.floor(100.0 * (n - 10) / n).toInt
      (s((pct * n + 99) / 100 - 1), pct)
    }
  }
}
