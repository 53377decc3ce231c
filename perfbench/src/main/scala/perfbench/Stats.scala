package perfbench

/** Order statistics for the timed samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest whole percentile p whose nearest-rank value still has
    * at least `beyond` samples above it, with that value. With n sorted
    * samples the p-th percentile is the ceil(p * n / 100)-th smallest,
    * so the condition is rank <= n - beyond. None when n <= beyond: no
    * percentile has that many samples beyond it.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val n = xs.length
    if (n <= beyond) None
    else {
      val p = (100L * (n - beyond) / n).toInt
      val rank = math.max(1, math.ceil(p * n / 100.0).toInt)
      Some(p -> xs.sorted.apply(rank - 1))
    }
  }
}
