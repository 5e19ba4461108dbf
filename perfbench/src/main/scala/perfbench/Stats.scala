package perfbench

/** Order statistics over raw samples. Nothing here takes a minimum or a
  * best-of-N: every sample stays in the record. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Quartiles as Python's `statistics.quantiles(xs, n=4)` (exclusive
    * method) gives them; a single sample is its own quartiles. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    val s = xs.sorted
    val n = s.length
    if (n == 1) (s(0), s(0), s(0))
    else {
      val m = n + 1
      def q(i: Int): Double = {
        val j = math.min(math.max(i * m / 4, 1), n - 1)
        val delta = i * m - j * 4
        (s(j - 1) * (4 - delta) + s(j) * delta) / 4.0
      }
      (q(1), q(2), q(3))
    }
  }

  /** The highest percentile with at least ten samples beyond it: the
    * (n-10)-th order statistic, at percentile 100(n-10)/n. With 20 samples
    * or fewer that statistic is not above the median, and the median stands
    * in. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.length
    if (n <= 20) (median(xs), 50.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }
}

object Json {
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  }
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
