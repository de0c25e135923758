package perfbench

/** Summary statistics the benchmark reports. Percentiles use the
  * nearest-rank definition, so every reported value is an observed sample.
  */
object Stats {

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Nearest-rank percentile: the smallest sample with at least `q` of
    * the samples at or below it.
    */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(q > 0.0 && q <= 1.0, s"percentile level $q outside (0, 1]")
    val sorted = xs.sorted
    sorted(rank(sorted.size, q) - 1)
  }

  /** 1-based nearest rank of level `q` among `n` samples. */
  def rank(n: Int, q: Double): Int =
    math.min(n, math.max(1, math.ceil(q * n - 1e-9).toInt))

  /** Samples strictly above the nearest-rank position of level `q`; a tail
    * percentile needs ten of them to be more than one or two outliers.
    */
  def beyond(n: Int, q: Double): Int = n - rank(n, q)

  /** Percentile of values each carried by a weight (e.g. a latency shared
    * by every row a micro-batch committed).
    */
  def weightedPercentile(xs: Seq[(Double, Long)], q: Double): Double = {
    val ws = xs.filter(_._2 > 0).sortBy(_._1)
    require(ws.nonEmpty, "weighted percentile of no weight")
    val total = ws.map(_._2).sum
    val target = math.max(1L, math.ceil(q * total - 1e-9).toLong)
    var acc = 0L
    ws.find { case (_, w) => acc += w; acc >= target }.get._1
  }

  /** Operations attempted and failed; an operation that returned a wrong
    * output counts as failed exactly like one that threw.
    */
  final case class Tally(attempted: Long, failed: Long) {
    require(failed >= 0 && failed <= attempted, s"failed $failed of $attempted")
    def +(o: Tally): Tally = Tally(attempted + o.attempted, failed + o.failed)
    def ratio: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
  }
  object Tally {
    val empty: Tally = Tally(0, 0)
    def of(ok: Seq[Boolean]): Tally = Tally(ok.size, ok.count(!_))
  }

  /** Total length covered by a set of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** A span's self time: its duration minus the part of it that its child
    * spans cover (children may overlap each other or run past the parent).
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(children.map { case (s, e) =>
      (math.max(s, start), math.min(e, end)) })
}
