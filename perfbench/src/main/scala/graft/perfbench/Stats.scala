package graft.perfbench

/** Order statistics and span arithmetic used by every workload. Pure
  * functions, so the benchmark's own specs pin them without Spark. */
object Stats {

  /** Samples a tail percentile must leave above it to be reported. */
  val TailBeyond = 10

  /** Nearest-rank percentile of `xs` at `p` in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val sorted = xs.sorted
    val rank = math.ceil(p / 100.0 * sorted.size).toInt
    sorted(math.min(sorted.size, math.max(1, rank)) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The highest percentile, capped at p95, that still has at least
    * [[TailBeyond]] samples above it; None when `n` is too small for any. */
  def tailPercentile(n: Int): Option[Double] =
    if (n <= TailBeyond) None
    else Some(math.min(95.0, 100.0 * (n - TailBeyond) / n))

  /** (percentile used, value). Below the median a "tail" says nothing, so
    * with fewer than 2 x [[TailBeyond]] samples the median is reported and
    * labelled p50. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = tailPercentile(xs.size).filter(_ >= 50.0).getOrElse(50.0)
    (p, if (p == 50.0) median(xs) else percentile(xs, p))
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive values: $xs")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Total length covered by the union of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** A span's self time: its length minus the part of it that the union
    * of its children covers (children are clipped to the span). */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (s, e) =>
      (math.max(s, span._1), math.min(e, span._2))
    }
    (span._2 - span._1) - unionLength(clipped)
  }
}
