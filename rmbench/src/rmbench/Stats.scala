package rmbench

/** Percentiles of op latencies. One definition everywhere: linear
  * interpolation between the two nearest ranks (position (n-1)·p).
  */
object Stats {

  /** Tail levels tried, highest first. */
  val TailLevels: Seq[Int] = Seq(99, 95, 90, 50)

  /** Samples needed beyond a percentile before it is reported. */
  val TailSupport = 10

  def percentile(sorted: IndexedSeq[Double], p: Int): Double = {
    require(sorted.nonEmpty, "percentile of no samples")
    val pos = (sorted.size - 1) * p / 100.0
    val lo = pos.toInt
    val hi = math.min(lo + 1, sorted.size - 1)
    sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
  }

  /** Samples strictly above the interpolation position of `p`. */
  def beyond(n: Int, p: Int): Int = n - 1 - ((n - 1) * p / 100.0).toInt

  final case class Tail(level: Int, value: Double, n: Int,
      supported: Boolean)

  /** Latency at the highest of p99, p95, p90 and p50 with at least
    * [[TailSupport]] samples beyond it. When even p50 lacks them the
    * median is reported with `supported = false`.
    */
  def tail(samples: Seq[Double]): Tail = {
    val s = samples.sorted.toIndexedSeq
    TailLevels.find(p => beyond(s.size, p) >= TailSupport) match {
      case Some(p) => Tail(p, percentile(s, p), s.size, supported = true)
      case None => Tail(50, percentile(s, 50), s.size, supported = false)
    }
  }

  def median(samples: Seq[Double]): Double =
    percentile(samples.sorted.toIndexedSeq, 50)
}
