package graft.perfbench

/** Order statistics for the benchmark's reports. */
object Stats {

  def median(xs: collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: collection.Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive samples: $xs")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Nearest-rank percentile, `perMille` in thousandths (900 = p90).
    * Integer arithmetic, so p90 of 100 samples is exactly rank 90.
    */
  def percentile(xs: collection.Seq[Double], perMille: Int): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(s.length, perMille) - 1)
  }

  private def rank(n: Int, perMille: Int): Int =
    math.max(1, ((perMille.toLong * n + 999) / 1000).toInt)

  /** Percentiles a tail may be reported at, highest first (per mille). */
  val Ladder: Seq[Int] = Seq(999, 990, 950, 900, 750, 500)

  /** The highest ladder percentile that still has at least `beyond`
    * samples strictly above its rank: with n = 100 that is p90 (10
    * beyond), with n = 40 p75. None when even the median lacks them.
    */
  def tailPerMille(n: Int, beyond: Int = 10): Option[Int] =
    Ladder.find(p => n - rank(n, p) >= beyond)

  /** Say on stderr when `n` samples are too few for a tail named at
    * `perMille`, so a thin tail is never read as a steady one.
    */
  def warnIfThin(name: String, n: Int, perMille: Int): Unit =
    if (!tailPerMille(n).exists(_ >= perMille))
      System.err.println(s"perfbench: $name rests on $n samples, fewer than 10 beyond it")
}
