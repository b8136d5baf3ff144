package perfbench

/** Order statistics over measured samples. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: scala.collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: scala.collection.Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: scala.collection.Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.length)
  def mean(xs: scala.collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Cost of tracing from alternating untraced and traced repetitions,
    * in order: each traced wall against the mean of the untraced walls
    * on either side of it, so a warm-up trend cancels. Median over the
    * traced repetitions, as a fraction of the untraced wall. */
  def tracingOverhead(walls: Seq[(Boolean, Double)]): Option[Double] = {
    val ratios = walls.indices.collect {
      case i if walls(i)._1 && i > 0 && i + 1 < walls.length &&
          !walls(i - 1)._1 && !walls(i + 1)._1 =>
        walls(i)._2 / ((walls(i - 1)._2 + walls(i + 1)._2) / 2) - 1.0
    }
    if (ratios.isEmpty) None else Some(median(ratios))
  }
}
