package perfbench

/** Order statistics used for every reported figure. */
object Stats {

  /** Linear interpolation between closest ranks: rank = p/100 * (n-1),
    * the "inclusive" definition (numpy's default). Empty input is an
    * error, not a silent zero. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p out of range")
    val s = xs.sorted
    val rank = p / 100.0 * (s.size - 1)
    val lo = math.floor(rank).toInt
    val hi = math.ceil(rank).toInt
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Geometric mean: the typical value of a heterogeneous set (such as
    * query walls), moved as much by a 10% change in a short item as in a
    * long one. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Number of samples strictly above the p-th percentile; a percentile
    * is reported only where at least ten samples lie beyond it. */
  def beyond(xs: Seq[Double], p: Double): Int = {
    val v = percentile(xs, p)
    xs.count(_ > v)
  }
}
