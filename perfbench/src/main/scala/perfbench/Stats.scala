package perfbench

/** One traced interval. Times are nanoseconds on the benchmark's clock
  * ([[Clock]]); `parent` is -1 for a root span. Spans of one run share `run`.
  */
final case class Span(id: Long, name: String, start: Long, end: Long,
                      parent: Long, run: String) {
  def dur: Long = end - start
}

/** Pure statistics used by the benchmark: percentiles, the tail rule,
  * self time of a span, and attribution of engine events to the operation
  * that was running when they started.
  */
object Stats {

  /** Linear-interpolated percentile, `p` in [0, 100]; NaN for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Candidate tail percentiles, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The `_tail` rule: the highest percentile of [[TailLadder]] with at
    * least ten samples beyond it, i.e. `n * (1 - p/100) >= 10`. Below
    * twenty samples no rung qualifies and the median is reported.
    */
  def tailPercentile(n: Int): Double =
    TailLadder.find(p => n * (1.0 - p / 100.0) >= 10.0 - 1e-9).getOrElse(50.0)

  /** (percentile used, value) of the `_tail` rule. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = tailPercentile(xs.size)
    (p, percentile(xs, p))
  }

  /** Length of the union of `[start, end)` intervals, each clipped to
    * `[lo, hi)`.
    */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time: the span's duration minus the part of it that its children
    * cover (overlapping children count once).
    */
  def selfTime(span: Span, children: Seq[Span]): Long =
    span.dur - covered(children.map(c => (c.start, c.end)), span.start, span.end)

  /** Index of the window `[start, end]` holding `t`, for windows sorted by
    * start and not overlapping (one closed-loop caller runs one operation at
    * a time). An event outside every window belongs to none.
    */
  def attribute(t: Long, windows: IndexedSeq[(Long, Long)]): Option[Int] = {
    var lo = 0
    var hi = windows.size - 1
    var found = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (windows(mid)._1 <= t) { found = mid; lo = mid + 1 } else hi = mid - 1
    }
    if (found >= 0 && t <= windows(found)._2) Some(found) else None
  }
}

/** Benchmark clock: nanoseconds since first use, with a conversion for the
  * millisecond wall-clock stamps Spark listeners report.
  */
object Clock {
  private val originNanos = System.nanoTime()
  private val originMillis = System.currentTimeMillis()
  def now(): Long = System.nanoTime() - originNanos
  def fromEpochMillis(ms: Long): Long = (ms - originMillis) * 1000000L
}
