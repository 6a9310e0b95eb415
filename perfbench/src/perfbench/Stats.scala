package perfbench

/** Latency statistics and open-loop accounting. */
object Stats {

  /** Nearest-rank percentile `p` (0 < p < 100) of `xs`, reported only when
    * at least `minBeyond` samples lie above it: a p99 needs 1000 samples, a
    * p90 100 and a median 20. */
  def percentile(xs: Seq[Double], p: Double, minBeyond: Int = 10): Option[Double] = {
    require(p > 0 && p < 100, s"percentile out of range: $p")
    val n = xs.size
    val rank = math.ceil(p / 100.0 * n).toInt // 1-based nearest rank
    if (n == 0 || n - rank < minBeyond) None
    else Some(xs.sorted.apply(rank - 1))
  }

  /** The highest of the given percentiles that the sample supports, as
    * (percentile, value). */
  def tail(xs: Seq[Double], candidates: Seq[Double] = Seq(99.9, 99, 95, 90, 50)): Option[(Double, Double)] =
    candidates.sorted.reverse.iterator.flatMap(p => percentile(xs, p).map(p -> _)).nextOption()

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** One open-loop request: when it was due, when a worker started it and
    * when it finished, in nanoseconds on one clock. `slept` is true when the
    * worker was idle and waited for the due time; its oversleep is then the
    * generator's own lateness, not queueing. */
  final case class Timing(dueNs: Long, startNs: Long, endNs: Long, slept: Boolean) {
    /** Latency as a user sees it: from the due time, so a stall also
      * charges the requests queued behind it. */
    def latencyMs: Double = (endNs - dueNs) / 1e6
    def serviceMs: Double = (endNs - startNs) / 1e6
    def waitMs: Double = math.max(0L, startNs - dueNs) / 1e6
    def generatorLateMs: Double = if (slept) waitMs else 0.0
  }

  /** Summary of one open-loop phase at an offered rate. */
  final case class Phase(timings: Seq[Timing]) {
    def latencies: Seq[Double] = timings.map(_.latencyMs)

    /** A backlog grows when the second half of the phase waits markedly
      * longer than the first half, or work finishes well after the last
      * request was due. */
    def growingBacklog(limitMs: Double): Boolean = {
      if (timings.size < 4) return true
      val byDue = timings.sortBy(_.dueNs)
      val (a, b) = byDue.splitAt(byDue.size / 2)
      val lastDue = byDue.last.dueNs
      val drain = (byDue.map(_.endNs).max - lastDue) / 1e6
      median(b.map(_.waitMs)) > median(a.map(_.waitMs)) + limitMs / 2 || drain > 2 * limitMs
    }
  }
}
