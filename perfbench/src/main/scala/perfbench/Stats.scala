package perfbench

/** Order statistics for latency samples. */
object Stats {

  /** The median; the mean of the two middle samples when their number is
    * even. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail the benchmark reports as `p90`: nearest-rank p90 when at
    * least `beyond` samples lie above it, otherwise the highest rank that
    * still has `beyond` samples above it, but never below the median
    * (so with fewer than 2·`beyond` samples it is the median). Returns
    * (value, the percentile actually used). */
  def tail(xs: Seq[Double], p: Double = 0.9, beyond: Int = 10): (Double, Double) = {
    require(xs.nonEmpty, "tail of an empty sample")
    val s = xs.sorted
    val n = s.size
    def rank(q: Double) = math.max(0, math.ceil(q * n).toInt - 1)
    val i = math.min(rank(p), n - 1 - beyond)
    if (i <= rank(0.5)) (median(s), 0.5) else (s(i), (i + 1).toDouble / n)
  }
}
