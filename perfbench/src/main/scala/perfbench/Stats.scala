package perfbench

/** The benchmark's arithmetic, kept free of Spark so it can be unit-tested:
  * percentiles and the rule for when a tail percentile may be reported,
  * interval unions for driver-gap and self time. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile: the smallest sample with at least q·n
    * samples at or below it. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty && q > 0.0 && q <= 1.0)
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.size - 1e-9).toInt - 1))
  }

  /** Samples strictly beyond the nearest-rank q-percentile position. */
  def samplesBeyond(n: Int, q: Double): Int =
    n - math.ceil(q * n - 1e-9).toInt

  /** A tail percentile is reported only when at least ten samples lie
    * beyond it (so p90 needs n >= 100). */
  def tailSupported(n: Int, q: Double): Boolean = samplesBeyond(n, q) >= 10

  /** Total length of the union of `intervals` clipped to [lo, hi]. */
  def coveredLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Time inside [start, end] during which no job of the op was running:
    * planning, driver-side collection and scheduling gaps. */
  def driverGap(start: Long, end: Long, jobs: Seq[(Long, Long)]): Long =
    (end - start) - coveredLength(jobs, start, end)

  /** Self time of every span: its duration minus the part of it that its
    * direct children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> ((s.end - s.start) - coveredLength(kids, s.start, s.end))
    }.toMap
  }
}

/** One traced interval: `parent` is -1 for an op's root span; spans of
  * one op share `op`. Times are System.nanoTime values. */
final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, op: Int)
