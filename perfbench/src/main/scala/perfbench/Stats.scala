package perfbench

/** Order statistics used by every reported metric. */
object Stats {

  /** Percentiles a tail metric may report, highest first. */
  val TailCandidates: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Samples a tail percentile must have beyond its rank. */
  val MinBeyond = 10

  /** A percentile as reported: which percentile, its value, the sample
    * count and how many samples lie above its rank.
    */
  final case class Tail(pct: Double, value: Double, n: Int, beyond: Int)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Interquartile range: the distance between the first and the third
    * quartile, each interpolated between the two nearest samples.
    */
  def iqr(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "iqr of no samples")
    val s = xs.sorted
    def q(p: Double): Double = {
      val x = p * (s.length - 1)
      val i = x.toInt
      if (i + 1 < s.length) s(i) + (x - i) * (s(i + 1) - s(i)) else s(i)
    }
    q(0.75) - q(0.25)
  }

  /** Nearest-rank rank (1-based) of percentile `pct` among `n` samples. */
  def rank(pct: Double, n: Int): Int =
    math.max(1, math.ceil(pct / 100.0 * n - 1e-9).toInt)

  /** The highest candidate percentile that still has at least
    * [[MinBeyond]] samples above its rank, so a tail figure is never one
    * lone outlier. With too few samples for even the median, the
    * maximum is reported (pct 100, nothing beyond).
    */
  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    TailCandidates.collectFirst {
      case p if n - rank(p, n) >= MinBeyond =>
        Tail(p, s(rank(p, n) - 1), n, n - rank(p, n))
    }.getOrElse(Tail(100.0, s.last, n, 0))
  }
}
