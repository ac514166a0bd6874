package graftbench

/** Order statistics for benchmark samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** (Q1, Q2, Q3) by the same rule as Python's
    * `statistics.quantiles(xs, n=4)` (method "exclusive"), so a spread
    * computed here agrees with one computed from the printed samples. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two samples")
    val s = xs.sorted
    val ld = s.length
    val m = ld + 1
    def cut(i: Int): Double = {
      val j = math.max(1, math.min(ld - 1, i * m / 4))
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4.0
    }
    (cut(1), cut(2), cut(3))
  }

  /** The highest percentile that still has at least ten samples beyond it:
    * the 11th-largest sample, which sits at percentile 100·(n−10)/n.
    * Returns None below 11 samples, where no such percentile exists. */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  val MinTailSamples = 11

  def tail(xs: Seq[Double]): Option[Tail] = {
    val n = xs.length
    if (n < MinTailSamples) None
    else Some(Tail(xs.sorted.apply(n - 11), 100.0 * (n - 10) / n, n))
  }
}
