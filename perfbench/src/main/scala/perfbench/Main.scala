package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Benchmark process for one workload run:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --out <result.json>
  *
  * Set-up (timed as `setup_s`): session start, three stagings of the seeded
  * inputs (median reported), and the workload's warm-up cycles. Then cycles
  * run back to back for `--seconds`, at least [[Main.MinCycles]] (the cycle
  * in flight finishes); `cycle_s` is the median of the first
  * [[Main.MinCycles]], correctness checks left out, and
  * `heap_live_peak_mb` (a detail figure) the peak heap after any collection
  * while they run. With `--trace 1` odd cycles run traced and even ones
  * untraced, at least three cycles, so the tracing overhead is measured
  * inside one process: traced cycles against the untraced cycles that
  * follow them. The result (metrics, failures, kernel counts, spans file)
  * goes to `--out`; `run.py` adds the oracle check and prints the contract
  * line.
  */
object Main {
  val Cores = 4
  /** Measured cycles per run at least; `cycle_s` is the median of exactly
    * this many, because a later cycle runs warmer and how many more fit in
    * `--seconds` depends on the host's speed.
    */
  val MinCycles = 2

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, out: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), need("out"))
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.lake.GraftSparkExtension")
      .config("spark.sql.shuffle.partitions", (2 * Cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The end-to-end metrics every workload reports, with units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cycle_s" -> "s", "written_mb" -> "MB")

  /** Every per-layer metric with its unit; a workload that does not reach a
    * layer reports 0 for it.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "stream.trigger_s" -> "s", "stream.add_batch_s" -> "s", "stream.self_s" -> "s",
    "stream.batches" -> "count",
    "lake.merge.jobs_per_batch" -> "count", "lake.merge.tasks_per_batch" -> "count",
    "lake.merge.core_busy_per_batch" -> "ratio", "lake.merge.shuffle_mb_per_batch" -> "MB",
    "lake.merge.spill_mb_per_batch" -> "MB", "lake.merge.self_s" -> "s",
    "lake.merge.batch_share" -> "ratio",
    "lake.files_added" -> "count", "lake.files_removed" -> "count",
    "lake.bytes_written_mb" -> "MB", "lake.head_s_p50" -> "s",
    "lake.merge_deferred.s_p50" -> "s", "lake.merge_deferred.jobs" -> "count",
    "lake.merge_deferred.shuffle_mb" -> "MB", "lake.merge_deferred.self_s" -> "s",
    "lake.read_where.jobs" -> "count", "lake.read_where.files_scanned_ratio" -> "ratio",
    "lake.read_where.rows_scanned_per_row" -> "ratio",
    "lake.changes_between.jobs" -> "count", "lake.changes_between.files_scanned" -> "count",
    "lake.compact.bytes_rewritten_mb" -> "MB", "lake.expire_s" -> "s",
    "lake.delta_files_live" -> "count",
    "kernel.events_seen" -> "count", "kernel.duplicates_dropped" -> "count",
    "kernel.upserts" -> "count", "kernel.deletes" -> "count",
    "kernel.schema_changes" -> "count", "kernel.quarantined" -> "count",
    "kernel.survivor_ratio" -> "ratio"
  ) ++ CorpusDedup.Queries.flatMap(q => Seq(
    s"ops.$q.wall_s" -> "s", s"ops.$q.jobs" -> "count", s"ops.$q.core_busy" -> "ratio",
    s"ops.$q.underfilled_task_s" -> "s", s"ops.$q.shuffle_mb" -> "MB")
  ) ++ Seq(
    "spark.codegen_compile_s" -> "s", "spark.jobs" -> "count", "spark.core_busy" -> "ratio",
    "spark.task_exec_mem_peak_mb" -> "MB", "trace.overhead_ratio" -> "ratio")

  private def compileMs(): Double =
    CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.map(_.toDouble).sum

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o.work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val wl = Workload(o.workload, spark, o.work, o.seed)
    val run = new Run(s"${o.workload}-${o.seed}-${if (o.trace) "traced" else "plain"}")
    val rec = new Recorder(Cores)
    spark.streams.addListener(rec.streamListener) // per-batch latency, always on

    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val stageS = Stats.median((0 until 3).map { i =>
      val dir = s"${o.work}/input-$i"
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val t0 = Clock.now()
      wl.stage(dir)
      (Clock.now() - t0) / 1e9
    })
    (1 until 3).foreach(i => fs.delete(new org.apache.hadoop.fs.Path(s"${o.work}/input-$i"), true))
    wl.prepare(s"${o.work}/input-0") // correctness references: not set-up time
    run.cycle = -1
    val w0 = Clock.now()
    (1 to wl.warmUpCycles).foreach(_ => wl.cycle(run, rec))
    val warmS = (Clock.now() - w0 - wl.takeUntimedNs()) / 1e9

    // start, end, traced, compile ms, untimed ns
    val cycles = mutable.ArrayBuffer.empty[(Long, Long, Boolean, Double, Long)]
    val heap = new HeapWatcher
    heap.start()
    val t0 = Clock.now()
    var k = 0
    while (Clock.now() - t0 < o.seconds * 1000000000L || k < (if (o.trace) 3 else MinCycles)) {
      run.cycle = k
      run.traced = o.trace && k % 2 == 1
      if (run.traced) {
        spark.streams.removeListener(rec.streamListener)
        rec.register(spark)
      }
      val c0 = compileMs()
      val s = Clock.now()
      wl.cycle(run, rec)
      cycles += ((s, Clock.now(), run.traced, compileMs() - c0, wl.takeUntimedNs()))
      if (run.traced) {
        ListenerDrain(spark.sparkContext)
        rec.unregister(spark)
        spark.streams.addListener(rec.streamListener)
      }
      k += 1
    }
    heap.stop()
    ListenerDrain(spark.sparkContext)

    val kernelRuns = wl.kernelPerCycle.distinct
    if (kernelRuns.size > 1)
      run.failures += s"kernel counts differ between cycles of one seed: ${kernelRuns.mkString(" vs ")}"

    val plainCycles = cycles.filterNot(_._3).map(c => (c._2 - c._1 - c._5) / 1e9).toSeq
    val measured = plainCycles.take(MinCycles)
    val opLat = run.latencies(wl.isOp)
    val (tailP, tailV) = Stats.tail(opLat)
    val values = Map("setup_s" -> (sessionS + stageS + warmS),
      "cycle_s" -> Workload.med(measured),
      "written_mb" -> wl.writtenBytes(0) / (1024.0 * 1024.0))
    val endToEnd = EndToEnd.map { case (n, u) => n -> Metric(values(n), u) }.toMap
    val detail = wl.detail(run, measured) ++ Map(
      "error_rate" -> Metric(run.failed.toDouble / math.max(1, run.attempted), "ratio"),
      "session_s" -> Metric(sessionS, "s"),
      "stage_s" -> Metric(stageS, "s"),
      "warmup_s" -> Metric(warmS, "s"),
      "heap_live_peak_mb" -> Metric(heap.peakMb, "MB"),
      "op_s_p50" -> Metric(Workload.med(opLat), "s"),
      "op_s_tail" -> Metric(tailV, "s"),
      "op_tail_percentile" -> Metric(tailP, "percentile"),
      "op_samples" -> Metric(opLat.size.toDouble, "count"),
      "cycles" -> Metric(plainCycles.size.toDouble, "count"))

    val metrics =
      if (!o.trace) endToEnd
      else {
        val traced = cycles.filter(_._3).toIndexedSeq
        val work = rec.attribute(traced.map(c => (c._1, c._2)))
        def lat(p: Run.Op => Boolean) =
          run.ops.filter(op => op.ok && wl.isOp(op.kind) && p(op)).map(_.seconds).toSeq
        val common = Map(
          "spark.codegen_compile_s" -> Metric(Workload.med(traced.map(_._4 / 1000.0)), "s"),
          "spark.jobs" -> Metric(Workload.med(work.map(_.jobs.toDouble)), "count"),
          "spark.core_busy" -> Metric(Workload.med(traced.zip(work).map { case (c, w) =>
            w.taskNs.toDouble / (Cores * (c._2 - c._1)) }), "ratio"),
          "spark.task_exec_mem_peak_mb" -> Metric(
            Workload.mb(work.map(_.peakExecBytes).maxOption.getOrElse(0L).toDouble), "MB"),
          "trace.overhead_ratio" -> Metric(
            Workload.med(lat(_.traced)) / Workload.med(lat(op => !op.traced && op.cycle >= 2)), "ratio"))
        val got = wl.layers(run, rec) ++ common
        val unknown = got.keySet -- PerLayer.map(_._1)
        require(unknown.isEmpty, s"per-layer metrics missing from PerLayer: $unknown")
        PerLayer.map { case (n, u) => n -> got.getOrElse(n, Metric(0.0, u)) }.toMap
      }

    val spansFile = s"${o.work}/spans-${run.runId}.jsonl"
    if (o.trace) Files.write(Paths.get(spansFile), run.spans.map(json).mkString("\n").getBytes)
    val outputs = wl match {
      case c: CorpusDedup => c.outputs.map { case (q, cy, dir) => Seq(q, cy, dir) }.toSeq
      case _ => Nil
    }
    val oracle = wl match {
      case _: CorpusDedup => CorpusDedup.Queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap
      case _ => Map.empty[String, String]
    }
    val result = Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "attempted" -> run.attempted, "failed" -> run.failed, "failures" -> run.failures.toSeq,
      "metrics" -> metrics, "detail" -> detail, "cycle_seconds" -> plainCycles,
      "kernel" -> wl.kernelPerCycle.headOption.getOrElse(Map.empty),
      "spark_version" -> spark.version,
      "spans" -> (if (o.trace) spansFile else null),
      "outputs" -> outputs, "oracle_sql" -> oracle,
      "corpus_dir" -> s"${o.work}/input-0")
    Files.write(Paths.get(o.out), json(result).getBytes)
    spark.stop()
  }

  private def json(v: AnyRef): String = Serialization.write(v)(DefaultFormats)
}

/** Peak heap in use right after a garbage collection, over every
  * collection the JVM makes while the measured cycles run. It reads the
  * collectors' own notifications and forces no collection, so the timed
  * cycles are not disturbed. A young collection happens every few hundred
  * MB of allocation, mid-operation, so the peak includes what operations
  * hold in flight (sort and aggregation pages, driver-side collects,
  * broadcast indexes, trained models), not only what a finished cycle
  * retains.
  */
final class HeapWatcher {
  private val peak = new AtomicLong(0L)
  private val collectors =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.collect { case e: NotificationEmitter => e }
  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
      peak.accumulateAndGet(used, (a, b) => math.max(a, b))
    }

  def start(): Unit = collectors.foreach(_.addNotificationListener(listener, null, null))
  def stop(): Unit = collectors.foreach(_.removeNotificationListener(listener))
  def peakMb: Double = peak.get / (1024.0 * 1024.0)
}
