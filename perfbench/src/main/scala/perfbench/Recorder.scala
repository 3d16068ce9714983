package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-side counters of one traced run, collected through Spark's public
  * listener interfaces only:
  *  - `SparkListener`: jobs, stages and task metrics;
  *  - `StreamingQueryListener`: per-trigger progress;
  *  - `QueryExecutionListener`: file-scan metrics of each finished query,
  *    placed in time by the end of its planning phases.
  *
  * Everything is attributed afterwards to the benchmark operation whose
  * window contains the event's start ([[Stats.attribute]]). Local
  * properties such as `streaming.sql.batchId` are not trusted for that: the
  * engine runs some jobs on pooled driver threads, which keep the
  * properties of whichever batch created the thread.
  */
final class Recorder(val cores: Int) {
  import Recorder._

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageTasks = mutable.HashMap.empty[Int, Int]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val scans = mutable.ArrayBuffer.empty[Scan]
  private val progress = mutable.ArrayBuffer.empty[Progress]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      jobs += Job(e.jobId, Clock.fromEpochMillis(e.time))
      e.stageInfos.foreach { s =>
        if (!stageJob.contains(s.stageId)) stageJob(s.stageId) = e.jobId
        stageTasks(s.stageId) = s.numTasks
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = Clock.fromEpochMillis(e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += Task(e.stageId, m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory)
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      if (d.contains("addBatch")) Recorder.this.synchronized {
        val start = Clock.fromEpochMillis(java.time.Instant.parse(p.timestamp).toEpochMilli)
        progress += Progress(p.batchId, start, d.getOrElse("triggerExecution", 0L) * 1000000L,
          d("addBatch") * 1000000L, d.getOrElse("commitOffsets", 0L) * 1000000L)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val found = PlanWalk.collect(qe.executedPlan) { case s: FileSourceScanExec => s }
      def metric(s: SparkPlan, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
      val files = found.map(metric(_, "numFiles")).sum
      val rows = found.map(metric(_, "numOutputRows")).sum
      // callbacks arrive after the query ends; planning ran inside the
      // operation that issued it
      val planned = qe.tracker.phases.values.map(_.endTimeMs).maxOption
      planned.foreach(t => Recorder.this.synchronized {
        scans += Scan(Clock.fromEpochMillis(t), files, rows)
      })
    }
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(queryListener)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(queryListener)
  }

  def triggers: Seq[Progress] = synchronized(progress.toList.sortBy(_.start))

  /** Engine work attributed to each window (sorted, non-overlapping). */
  def attribute(windows: IndexedSeq[(Long, Long)]): IndexedSeq[Work] = synchronized {
    val jobWin = jobs.flatMap(j => Stats.attribute(j.submit, windows).map(j.id -> _)).toMap
    val out = IndexedSeq.fill(windows.size)(new Work)
    jobs.foreach(j => jobWin.get(j.id).foreach { w =>
      out(w).jobs += 1
      out(w).jobSpans += ((j.submit, if (j.end > 0) j.end else j.submit))
    })
    tasks.foreach { t =>
      stageJob.get(t.stageId).flatMap(jobWin.get).foreach { w =>
        val o = out(w)
        o.tasks += 1
        o.taskNs += t.runMs * 1000000L
        o.shuffleBytes += t.shuffleBytes
        o.spillBytes += t.spillBytes
        o.peakExecBytes = math.max(o.peakExecBytes, t.peakExecBytes)
        if (stageTasks.getOrElse(t.stageId, cores) < cores) o.underfilledTaskNs += t.runMs * 1000000L
      }
    }
    scans.foreach { s =>
      Stats.attribute(s.at, windows).foreach { w =>
        out(w).filesScanned += s.files
        out(w).rowsScanned += s.rows
      }
    }
    out
  }
}

object Recorder {
  final case class Job(id: Int, submit: Long, var end: Long = 0L)
  final case class Task(stageId: Int, runMs: Long, shuffleBytes: Long, spillBytes: Long,
                        peakExecBytes: Long = 0L)
  final case class Scan(at: Long, files: Long, rows: Long)
  final case class Progress(batchId: Long, start: Long, triggerNs: Long,
                            addBatchNs: Long, commitNs: Long)

  /** Engine work inside one operation window. */
  final class Work {
    var jobs = 0
    var tasks = 0
    var taskNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    /** Largest execution memory (sorts, aggregations, joins) one task held. */
    var peakExecBytes = 0L
    var underfilledTaskNs = 0L
    var filesScanned = 0L
    var rowsScanned = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper
}
