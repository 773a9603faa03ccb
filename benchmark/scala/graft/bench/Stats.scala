package graft.bench

/** Order statistics for the benchmark's reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples that must lie beyond a percentile for it to be reported. */
  val MinBeyond = 10

  /** Nearest-rank percentile `q` (0 < q < 1), reported only when at
    * least [[MinBeyond]] samples lie strictly beyond its rank — a tail
    * read off fewer samples is noise, not a tail. */
  def tail(xs: Seq[Double], q: Double): Option[Double] = {
    val n = xs.size
    val rank = math.ceil(q * n).toInt // 1-based rank of the percentile
    if (n == 0 || n - rank < MinBeyond) None
    else Some(xs.sorted.apply(rank - 1))
  }

  /** Median of the non-empty sample, 0 for an absent layer. */
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}
