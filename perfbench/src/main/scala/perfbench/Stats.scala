package perfbench

/** Small numeric helpers shared by the harness and its tests. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of nothing")
    xs.sum / xs.size
  }

  /** The `p`-th percentile (0 < p < 100, nearest rank), or None when
    * fewer than 10 samples lie above it: a tail figure resting on a
    * handful of samples is noise, so it is not reported at all. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 100, s"percentile $p outside (0, 100)")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt // 1-based
    if (s.isEmpty || s.size - rank < 10) None else Some(s(rank - 1))
  }

  /** The highest of `ps` that [[percentile]] supports on `xs`. */
  def highestSupported(xs: Seq[Double],
                       ps: Seq[Double] = Seq(50, 90, 99, 99.9))
      : Option[(Double, Double)] =
    ps.sorted.reverse.iterator
      .flatMap(p => percentile(xs, p).map(p -> _)).nextOption()

  /** Total length covered by a set of half-open intervals [a, b),
    * counting overlaps once. Empty or inverted intervals add nothing. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach {
      case (a, b) =>
        if (a > curEnd) {
          covered += curEnd - curStart
          curStart = a
          curEnd = b
        } else if (b > curEnd) curEnd = b
    }
    covered + (curEnd - curStart)
  }

  /** A span's driver time: its wall time minus the part of its window
    * that at least one Spark job was running in. Jobs are clipped to
    * the window [t0, t1). */
  def driverMs(t0: Long, t1: Long, jobs: Seq[(Long, Long)]): Long =
    (t1 - t0) - unionLength(jobs.map { case (a, b) =>
      (math.max(a, t0), math.min(b, t1))
    })
}
