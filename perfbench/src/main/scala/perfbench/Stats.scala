package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Samples that must lie strictly beyond a reported tail percentile. */
  val TailBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail latency with the percentile it stands for and the sample count. */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  /** The highest percentile that has at least [[TailBeyond]] samples beyond
    * it: with `n` sorted samples that is the sample at index `n - 11`, which
    * sits at percentile `100 * (n - 10) / n`. With fewer than 11 samples no
    * percentile qualifies, and the result is None.
    */
  def tail(xs: Seq[Double], beyond: Int = TailBeyond): Option[Tail] = {
    val n = xs.length
    if (n < beyond + 1) None
    else {
      val s = xs.sorted
      Some(Tail(s(n - beyond - 1), 100.0 * (n - beyond) / n, n))
    }
  }
}
