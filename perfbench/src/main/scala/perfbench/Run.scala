package perfbench

import scala.collection.mutable

/** Book-keeping of one benchmark process: every attempted operation with its
  * window and outcome, traced spans, and named metrics.
  */
final class Run(val runId: String) {
  import Run._

  val ops = mutable.ArrayBuffer.empty[Op]
  val failures = mutable.ArrayBuffer.empty[String]
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private var nextSpan = 0L

  /** Set while a traced cycle runs; ops of untraced cycles feed the
    * end-to-end metrics, ops of traced cycles the per-layer ones.
    */
  var traced = false
  var cycle = 0

  /** Time `f` as one closed-loop operation. A throw is recorded as a failed
    * operation and never as a latency sample.
    */
  def op[T](kind: String)(f: => T): Option[T] = {
    val start = Clock.now()
    try {
      val r = f
      ops += Op(kind, start, Clock.now(), ok = true, cycle, traced)
      Some(r)
    } catch {
      case e: Exception =>
        ops += Op(kind, start, Clock.now(), ok = false, cycle, traced)
        failures += s"$kind (cycle $cycle): ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  /** Record an operation that threw inside a call the benchmark does not
    * wrap itself (a streaming drain): one failed operation, no latency.
    */
  def recordFailure(kind: String, start: Long, e: Exception): Unit = {
    ops += Op(kind, start, Clock.now(), ok = false, cycle, traced)
    failures += s"$kind (cycle $cycle): ${e.getClass.getSimpleName}: ${e.getMessage}"
  }

  /** Record an operation timed elsewhere (a streaming trigger). */
  def recordOp(kind: String, start: Long, end: Long): Unit =
    ops += Op(kind, start, end, ok = true, cycle, traced)

  /** Mark the most recent operation of `kind` failed: its output was wrong. */
  def wrong(kind: String, why: String): Unit = {
    val i = ops.lastIndexWhere(o => o.kind == kind && o.ok)
    if (i >= 0) ops(i) = ops(i).copy(ok = false)
    failures += s"$kind (cycle $cycle): wrong result: $why"
  }

  def span(name: String, start: Long, end: Long, parent: Long = -1L): Long = synchronized {
    nextSpan += 1
    spanBuf += Span(nextSpan, name, start, end, parent, runId)
    nextSpan
  }

  def spans: Seq[Span] = synchronized(spanBuf.toList)

  /** Successful latency samples (seconds) of untraced cycles. */
  def latencies(kinds: String => Boolean): Seq[Double] =
    ops.filter(o => o.ok && !o.traced && o.cycle >= 0 && kinds(o.kind)).map(_.seconds).toSeq

  def attempted: Int = ops.size
  def failed: Int = ops.count(!_.ok)
}

object Run {
  final case class Op(kind: String, start: Long, end: Long, ok: Boolean,
                      cycle: Int, traced: Boolean) {
    def seconds: Double = (end - start) / 1e9
  }
}
