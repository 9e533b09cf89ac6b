package pipebench

/** Pure summary helpers: the median, the tail rule, span self time. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples a tail percentile must leave strictly above it. */
  val TailBeyond = 10

  /** The tail rule: the highest whole percentile whose order statistic
    * (nearest-rank, ⌈p/100·n⌉) still leaves at least [[TailBeyond]] samples
    * above it, or None when there are too few samples for any. */
  def tailPercentile(n: Int): Option[Int] =
    (99 to 1 by -1).find { p =>
      val rank = math.ceil(p / 100.0 * n).toInt
      rank >= 1 && n - rank >= TailBeyond
    }

  /** Nearest-rank percentile: the ⌈p/100·n⌉-th smallest sample. */
  def nearestRank(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toIndexedSeq
    s(math.min(s.size, math.max(1, math.ceil(p / 100.0 * s.size).toInt)) - 1)
  }

  /** Total length covered by the intervals after clipping each to
    * `[lo, hi]`; overlaps count once. */
  def coveredLength(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  /** Self time of a span: its duration minus the part of its interval
    * that its children cover. */
  def selfTime(span: Span, children: Seq[Span]): Double =
    (span.end - span.start) -
      coveredLength(children.map(c => (c.start, c.end)), span.start, span.end)
}
