package perfbench

/** Order statistics and interval arithmetic used by the benchmark's
  * reports. Kept free of Spark so [[SelfTest]] can pin them directly. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** A tail percentile: the nearest-rank `p`-th percentile `value`, the
    * number of samples strictly beyond its rank, and the sample count. */
  final case class Tail(p: Double, value: Double, beyond: Int, n: Int)

  val TailCandidates: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest candidate percentile that still has at least `minBeyond`
    * samples beyond it (nearest rank), or None when the sample is too
    * small for even the median to qualify. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[Tail] = {
    val s = xs.sorted
    val n = s.size
    TailCandidates.iterator.map { p =>
      val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
      Tail(p, if (n == 0) Double.NaN else s(rank - 1), n - rank, n)
    }.find(t => t.n > 0 && t.beyond >= minBeyond)
  }

  /** Total length covered by a set of half-open intervals, counting time
    * covered by several overlapping intervals once. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }
}
