package org.apache.spark.perfbench

import org.apache.spark.Success
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.scalatest.funsuite.AnyFunSuite
import perfbench.{Clock, Recorder}

/** Attribution of listener events to operation windows, fed with synthetic
  * events (in the `spark` package to build task metrics).
  */
class RecorderSpec extends AnyFunSuite {

  private def stage(id: Int, tasks: Int) =
    new StageInfo(id, 0, s"s$id", tasks, Seq.empty, Seq.empty, "", null, Seq.empty, None, 0, false, 0)

  private def task(stageId: Int, runMs: Long, shuffle: Long) = {
    val m = TaskMetrics.empty
    m.setExecutorRunTime(runMs)
    m.shuffleWriteMetrics.incBytesWritten(shuffle)
    SparkListenerTaskEnd(stageId, 0, "ResultTask", Success, null, null, m)
  }

  test("jobs and their tasks land in the window holding the job's submission") {
    val base = System.currentTimeMillis()
    val rec = new Recorder(cores = 4)
    val l = rec.sparkListener
    // window 0: job 0 (stage 0, 8 tasks); window 1: job 1 (stages 1-2, one
    // single-task stage), plus job 2 that reuses stage 1 (skipped, no tasks);
    // job 3 starts between windows
    l.onJobStart(SparkListenerJobStart(0, base + 10, Seq(stage(0, 8))))
    l.onJobStart(SparkListenerJobStart(1, base + 110, Seq(stage(1, 4), stage(2, 1))))
    l.onJobStart(SparkListenerJobStart(2, base + 150, Seq(stage(1, 4), stage(3, 4))))
    l.onJobStart(SparkListenerJobStart(3, base + 300, Seq(stage(4, 4))))
    (1 to 8).foreach(_ => l.onTaskEnd(task(0, 5, 100)))
    (1 to 4).foreach(_ => l.onTaskEnd(task(1, 10, 0)))
    l.onTaskEnd(task(2, 40, 7))
    l.onTaskEnd(task(4, 1000, 0))
    l.onJobEnd(SparkListenerJobEnd(0, base + 50, JobSucceeded))

    val windows = IndexedSeq(
      (Clock.fromEpochMillis(base), Clock.fromEpochMillis(base + 100)),
      (Clock.fromEpochMillis(base + 100), Clock.fromEpochMillis(base + 200)))
    val Seq(w0, w1) = rec.attribute(windows)
    assert(w0.jobs == 1 && w0.tasks == 8)
    assert(w0.taskNs == 40L * 1000000L && w0.shuffleBytes == 800)
    assert(w0.underfilledTaskNs == 0)
    assert(w0.jobSpans.toSeq == Seq((Clock.fromEpochMillis(base + 10), Clock.fromEpochMillis(base + 50))))
    assert(w1.jobs == 2 && w1.tasks == 5)
    assert(w1.taskNs == 80L * 1000000L && w1.shuffleBytes == 7)
    // stage 2 ran one task on four cores
    assert(w1.underfilledTaskNs == 40L * 1000000L)
  }
}
