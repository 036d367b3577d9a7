package nefbench

/** Order statistics the benchmark reports. */
object Stats {

  /** Nearest-rank percentile `p` (0 < p ≤ 100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = rankOf(p, s.length)
    s(math.min(math.max(rank, 1), s.length) - 1)
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rankOf(p: Double, n: Int): Int = math.ceil(p / 100.0 * n - 1e-9).toInt

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Percentiles a tail is reported at, highest first. */
  val TailGrid: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Samples a reported percentile must have beyond it. */
  val MinBeyond = 10

  /** The highest percentile of [[TailGrid]] with at least [[MinBeyond]]
    * samples strictly above its nearest-rank position, with its value.
    * With fewer than 2 × MinBeyond samples no grid point qualifies and the
    * maximum is reported as percentile 100.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val n = xs.length
    TailGrid.find(p => n - rankOf(p, n) >= MinBeyond) match {
      case Some(p) => (p, percentile(xs, p))
      case None => (100.0, xs.max)
    }
  }

  /** Least-squares slope of `ys` against `xs`. */
  def slope(xs: Seq[Double], ys: Seq[Double]): Double = {
    require(xs.length == ys.length && xs.length >= 2, "slope needs two points")
    val mx = xs.sum / xs.length
    val my = ys.sum / ys.length
    val num = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val den = xs.map(x => (x - mx) * (x - mx)).sum
    if (den == 0) 0.0 else num / den
  }
}
