package perfbench

/** Order statistics for the benchmark's timings. */
object Stats {

  /** A nearest-rank percentile with the number of samples that lie
    * above it. It is resolved only when at least `minBeyond` samples lie
    * beyond it: a p90 over 40 samples rests on 4 values and is noise.
    */
  final case class Percentile(value: Double, samples: Int, beyond: Int,
      resolved: Boolean)

  val MinBeyond = 10

  def percentile(xs: Seq[Double], p: Double,
      minBeyond: Int = MinBeyond): Percentile = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p / 100.0 * s.length).toInt)
    val beyond = s.length - rank
    Percentile(s(rank - 1), s.length, beyond, beyond >= minBeyond)
  }

  /** Median, averaging the two middle values of an even-sized sample. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
