package perfbench

/** Order statistics the report uses. Pure, so the tests pin them. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Tail latency: the sample at the highest percentile that still has
    * at least `beyond` samples above it. With n samples that is the
    * (beyond + 1)-th largest, at percentile (n - beyond) / n. Below
    * beyond + 1 samples no percentile qualifies, so the largest sample
    * is reported at percentile 100 and the caller prints `op_n` beside
    * it so the reader sees how thin the tail is.
    * Returns (value, percentile in [0, 100], n). */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n <= beyond) (s.last, 100.0, n)
    else {
      val i = n - beyond - 1
      (s(i), 100.0 * (i + 1) / n, n)
    }
  }
}
