package graftbench

/** Metric math, kept free of Spark so the self-tests pin it exactly. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p` percent
    * of the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val sorted = xs.sorted
    val rank = math.ceil(p / 100.0 * sorted.size).toInt
    sorted(math.max(rank, 1) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Number of samples strictly above the `p` percentile. A percentile
    * needs at least ten beyond it to be a tail estimate: p90 needs 100
    * samples. */
  def samplesBeyond(xs: Seq[Double], p: Double): Int = {
    val cut = percentile(xs, p)
    xs.count(_ > cut)
  }

  /** Total length covered by a set of [start, end) intervals, overlaps
    * counted once. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curEnd) {
          if (curEnd > curStart) covered += curEnd - curStart
          curStart = s
          curEnd = e
        } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** Self time of a span: its duration minus the part of [start, end) that
    * its children cover (children are clipped to the span). */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (s, e) =>
      (math.max(s, start), math.min(e, end))
    }
    (end - start) - unionLength(clipped)
  }

  /** Failed ops over attempted ops; a failure is a thrown op or a wrong
    * result, and an op that both threw and mismatched counts once. */
  def failedRatio(attempted: Int, failed: Int): Double = {
    require(attempted > 0, "no ops attempted")
    require(failed >= 0 && failed <= attempted,
      s"failed $failed outside [0, $attempted]")
    failed.toDouble / attempted
  }
}
