package perfbench

import scala.collection.mutable
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.events.EventLog
import graft.lake.{LakeTable, MergeStats, Snapshot}
import graft.stream.{CdcIngest, Lineage}

final case class Metric(value: Double, unit: String)

/** A benchmark workload: seeded inputs, one closed-loop cycle of operations
  * with a single caller, correctness checks outside the timed operations,
  * and the layer counters of traced cycles.
  */
abstract class Workload(val spark: SparkSession, val work: String, val seed: Long) {
  /** Generate the seeded inputs under `dir` (this is timed as set-up). */
  def stage(dir: String): Unit
  /** Adopt `dir` as the run's input and build the correctness references. */
  def prepare(dir: String): Unit
  /** Run one cycle, recording every operation in `run`. */
  def cycle(run: Run, rec: Recorder): Unit
  /** Cycles run before timing, enough for the JIT to settle. */
  def warmUpCycles: Int = 1
  /** Which operation kinds feed `op_s_p50` / `op_s_tail`. */
  def isOp(kind: String): Boolean = true
  /** Data bytes cycle `cycle` wrote: table data files, or query results. */
  def writtenBytes(cycle: Int): Long
  /** Workload-specific end-to-end figures, printed beside the contract line. */
  def detail(run: Run, cycleS: Seq[Double]): Map[String, Metric]
  /** Per-layer metrics of the traced cycles. */
  def layers(run: Run, rec: Recorder): Map[String, Metric]

  /** Kernel counters of each cycle; one seed must give identical maps. */
  val kernelPerCycle = mutable.ArrayBuffer.empty[Map[String, Long]]
  /** Kernel counters derived from the raw log in `prepare`. */
  protected var kernelFromLog = Map.empty[String, Long]

  /** Record one cycle's kernel counters and check them against the log:
    * a mismatch fails the cycle's operation `kind`.
    */
  protected def checkKernel(run: Run, kind: String, got: Map[String, Long]): Unit = {
    kernelPerCycle += got
    if (kernelFromLog.exists { case (k, v) => !got.get(k).contains(v) })
      run.wrong(kind, s"kernel counts $got differ from the log's $kernelFromLog")
  }

  private var untimedNs = 0L

  /** Book-keeping and correctness checks inside a cycle: `cycle_s` leaves
    * their time out.
    */
  protected def untimed[T](f: => T): T = {
    val t0 = Clock.now()
    try f finally untimedNs += Clock.now() - t0
  }

  /** Untimed nanoseconds since the last call. */
  def takeUntimedNs(): Long = { val n = untimedNs; untimedNs = 0L; n }

  protected val fs: FileSystem = FileSystem.get(spark.sparkContext.hadoopConfiguration)
  protected def rm(dir: String): Unit = fs.delete(new Path(dir), true)
  protected def parquetBytes(dir: String): Long = {
    var n = 0L
    val it = fs.listFiles(new Path(dir), true)
    while (it.hasNext) { val f = it.next(); if (f.getPath.getName.endsWith(".parquet")) n += f.getLen }
    n
  }
}

object Workload {
  val Names: Seq[String] = Seq("ingest_cow", "ingest_mor_read", "corpus_dedup")

  def apply(name: String, spark: SparkSession, work: String, seed: Long): Workload = name match {
    case "ingest_cow" => new IngestCow(spark, work, seed)
    case "ingest_mor_read" => new IngestMorRead(spark, work, seed)
    case "corpus_dedup" => new CorpusDedup(spark, work, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; known: ${Names.mkString(", ")}")
  }

  type Key = (String, String)

  def kernelCounts(stats: Seq[MergeStats]): Map[String, Long] = Map(
    "events_seen" -> stats.map(_.eventsSeen).sum,
    "duplicates_dropped" -> stats.map(_.duplicatesDropped).sum,
    "upserts" -> stats.map(_.upserts).sum,
    "deletes" -> stats.map(_.deletes).sum,
    "schema_changes" -> stats.map(_.schemaChanges).sum,
    "quarantined" -> stats.map(s => s.schemaQuarantined + s.constraintQuarantined).sum)

  def kernelMetrics(counts: Map[String, Long]): Map[String, Metric] =
    counts.map { case (k, v) => s"kernel.$k" -> Metric(v.toDouble, "count") } +
      ("kernel.survivor_ratio" -> Metric(
        (counts.getOrElse("upserts", 0L) + counts.getOrElse("deletes", 0L)).toDouble /
          math.max(1L, counts.getOrElse("events_seen", 0L)), "ratio"))

  /** Expected live table `(repo, path, sha256(content))` from the raw event
    * log: the last event by LSN wins per key and a delete removes the key.
    * Plain SQL over the log, independent of the engine's merge code.
    */
  def lastLsnWins(spark: SparkSession, log: DataFrame): Set[(String, String, String)] = {
    log.createOrReplaceTempView("perfbench_log")
    spark.sql(
      """SELECT repo, path, sha2(content, 256) AS h FROM (
        |  SELECT *, row_number() OVER (PARTITION BY repo, path
        |                               ORDER BY lsn DESC, event_id ASC) AS rn
        |  FROM perfbench_log WHERE op <> 'schema_change') w
        |WHERE rn = 1 AND op <> 'delete'""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
  }

  /** The kernel counters a merge must report for `log`, one merge per
    * distinct `batch` value, in plain SQL: every event counts as seen; a
    * key's last event in its batch by (lsn, event_id) survives as an upsert
    * or a delete; the key's other data events in that batch are dropped
    * duplicates.
    */
  def kernelCountsFromLog(spark: SparkSession, log: DataFrame): Map[String, Long] = {
    log.createOrReplaceTempView("perfbench_kernel_log")
    val r = spark.sql(
      """SELECT (SELECT count(*) FROM perfbench_kernel_log),
        |       count(*) - count_if(rn = 1),
        |       count_if(rn = 1 AND op <> 'delete'),
        |       count_if(rn = 1 AND op = 'delete')
        |FROM (SELECT op, row_number() OVER (PARTITION BY batch, repo, path
        |                                    ORDER BY lsn DESC, event_id DESC) AS rn
        |      FROM perfbench_kernel_log WHERE op <> 'schema_change') w""".stripMargin).head()
    Seq("events_seen", "duplicates_dropped", "upserts", "deletes").zipWithIndex
      .map { case (k, i) => k -> r.getLong(i) }.toMap
  }

  def tableState(t: LakeTable): Set[(String, String, String)] =
    t.read().select(col("repo"), col("path"), sha2(col("content"), 256)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  def compare(got: Set[(String, String, String)], want: Set[(String, String, String)]): Option[String] =
    if (got == want) None
    else Some(s"${(want -- got).size} expected rows missing, ${(got -- want).size} unexpected")

  /** Files added / removed and bytes added by each version in (from, to],
    * with the time each snapshot took to parse.
    */
  final case class VersionDiff(added: Int, removed: Int, addedBytes: Long, parseNs: Long)

  def versionDiffs(t: LakeTable, from: Long, to: Long): Seq[VersionDiff] = {
    var prev = t.log.read(from).files.map(f => f.path -> f.bytes).toMap
    (from + 1 to to).map { v =>
      val t0 = Clock.now()
      val snap = t.log.read(v)
      val parseNs = Clock.now() - t0
      val cur = snap.files.map(f => f.path -> f.bytes).toMap
      val d = VersionDiff((cur.keySet -- prev.keySet).size, (prev.keySet -- cur.keySet).size,
        (cur -- prev.keySet).values.sum, parseNs)
      prev = cur
      d
    }
  }

  def liveBytes(s: Snapshot): Long = s.files.map(_.bytes).sum

  def mb(bytes: Double): Double = bytes / (1024.0 * 1024.0)

  def med(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  /** Median of per-window figures over windows attributed by `rec`. */
  def perWindow(work: Seq[Recorder.Work])(f: Recorder.Work => Double): Double = med(work.map(f))
}

/** `ingest_cow`: the product path. A `CdcIngest` copy-on-write drain
  * (AvailableNow trigger, lineage on, one WAL segment per micro-batch) of a
  * seeded event log into an empty table. Each cycle drains the same staged
  * log into a fresh table.
  */
final class IngestCow(spark: SparkSession, work: String, seed: Long,
                      events: Long = 60000L, segments: Int = 3)
    extends Workload(spark, work, seed) {
  import Workload._

  private val cfg = EventLog.Config(numEvents = events, seed = seed)
  private var eventsDir = ""
  private var inputBytes = 0L
  private var reference = Set.empty[(String, String, String)]
  private val written = mutable.HashMap.empty[Int, (Long, Long)] // cycle -> (data, live bytes)
  private val traced = mutable.ArrayBuffer.empty[(Seq[Recorder.Progress], Seq[VersionDiff], Seq[MergeStats])]

  override def isOp(kind: String): Boolean = kind == "batch"
  // a drain is short, and the second one still ran up to a quarter faster
  // than the first
  override def warmUpCycles: Int = 2

  def stage(dir: String): Unit = EventLog.write(spark, cfg, s"$dir/log", segments)

  def prepare(dir: String): Unit = {
    eventsDir = s"$dir/log"
    inputBytes = parquetBytes(eventsDir)
    val log = spark.read.schema(EventLog.eventSchema).parquet(eventsDir)
    reference = lastLsnWins(spark, log)
    // one WAL file per trigger
    kernelFromLog = kernelCountsFromLog(spark, log.withColumn("batch", input_file_name()))
  }

  def cycle(run: Run, rec: Recorder): Unit = {
    val root = s"$work/cow-${run.cycle}"
    val from = Clock.now()
    val ingest = new CdcIngest(spark, s"$root/table", eventsDir, s"$root/ckpt",
      maxFilesPerTrigger = 1, lineage = Some(new Lineage(spark, s"$root/table")))
    val stats = try ingest.runToCompletion() catch {
      case e: Exception =>
        run.recordFailure("batch", from, e)
        Nil
    }
    untimed {
      ListenerDrain(spark.sparkContext)
      // progress stamps have millisecond resolution
      val triggers = rec.triggers.filter(_.start >= from - 2000000L)
      triggers.foreach(p => run.recordOp("batch", p.start, p.start + p.triggerNs))
      checkKernel(run, "batch", kernelCounts(stats))

      val table = new LakeTable(spark, s"$root/table")
      compare(tableState(table), reference).foreach(run.wrong("batch", _))
      written(run.cycle) = (parquetBytes(s"$root/table/data"), liveBytes(table.head()))
      if (run.traced) traced += ((triggers, versionDiffs(table, 0L, table.head().version), stats))
      rm(root)
    }
  }

  def writtenBytes(cycle: Int): Long = written(cycle)._1

  def detail(run: Run, cycleS: Seq[Double]): Map[String, Metric] = {
    val batches = run.latencies(isOp)
    Map(
      "ingest_eps" -> Metric(events / med(cycleS), "1/s"),
      "batch_s_p50" -> Metric(med(batches), "s"),
      "batch_s_tail" -> Metric(Stats.tail(batches)._2, "s"),
      "write_amp" -> Metric(written(0)._1.toDouble / inputBytes, "ratio"),
      "table_mb" -> Metric(mb(written(0)._2), "MB"))
  }

  def layers(run: Run, rec: Recorder): Map[String, Metric] = {
    val trig = traced.flatMap(_._1).toIndexedSeq
    val windows = trig.map(p => (p.start, p.start + p.triggerNs))
    val work = rec.attribute(windows)
    // per batch: the trigger span holds the foreachBatch (lake merge) span,
    // placed just before the offset commit; Spark jobs are the merge's children
    val lakeSelf = trig.zip(work).map { case (p, w) =>
      val end = p.start + p.triggerNs - p.commitNs
      val trigger = run.span("stream.trigger", p.start, p.start + p.triggerNs)
      val lakeId = run.span("lake.merge", end - p.addBatchNs, end, trigger)
      val lake = Span(lakeId, "lake.merge", end - p.addBatchNs, end, trigger, run.runId)
      val jobs = w.jobSpans.map { case (s, e) => run.span("spark.job", s, e, lakeId); Span(0, "", s, e, 0, "") }
      Stats.selfTime(lake, jobs.toSeq) / 1e9
    }
    val diffs = traced.flatMap(_._2)
    val nDrains = math.max(1, traced.size)
    Map(
      "stream.trigger_s" -> Metric(med(trig.map(_.triggerNs / 1e9)), "s"),
      "stream.add_batch_s" -> Metric(med(trig.map(_.addBatchNs / 1e9)), "s"),
      "stream.self_s" -> Metric(med(trig.map(p => (p.triggerNs - p.addBatchNs) / 1e9)), "s"),
      "stream.batches" -> Metric(trig.size.toDouble / nDrains, "count"),
      "lake.merge.jobs_per_batch" -> Metric(perWindow(work)(_.jobs), "count"),
      "lake.merge.tasks_per_batch" -> Metric(perWindow(work)(_.tasks), "count"),
      "lake.merge.core_busy_per_batch" -> Metric(med(trig.zip(work).map { case (p, w) =>
        w.taskNs.toDouble / (rec.cores * math.max(1L, p.triggerNs)) }), "ratio"),
      "lake.merge.shuffle_mb_per_batch" -> Metric(perWindow(work)(w => mb(w.shuffleBytes)), "MB"),
      "lake.merge.spill_mb_per_batch" -> Metric(perWindow(work)(w => mb(w.spillBytes)), "MB"),
      "lake.merge.self_s" -> Metric(med(lakeSelf), "s"),
      "lake.merge.batch_share" -> Metric(
        trig.map(_.addBatchNs).sum.toDouble / math.max(1L, trig.map(_.triggerNs).sum), "ratio"),
      "lake.files_added" -> Metric(diffs.map(_.added).sum.toDouble / nDrains, "count"),
      "lake.files_removed" -> Metric(diffs.map(_.removed).sum.toDouble / nDrains, "count"),
      "lake.bytes_written_mb" -> Metric(mb(diffs.map(_.addedBytes).sum.toDouble / nDrains), "MB"),
      "lake.head_s_p50" -> Metric(med(diffs.map(_.parseNs / 1e9)), "s")
    ) ++ kernelMetrics(traced.lastOption.map(t => kernelCounts(t._3)).getOrElse(Map.empty))
  }
}

/** `ingest_mor_read`: writes beside reads. The benchmark itself applies one
  * WAL segment per `LakeTable.mergeDeferred` batch of a hot-key duplicate
  * storm (Zipf 3, 20 repos x 2 paths-per-repo buckets, 30% duplicates);
  * after each batch it looks up seeded hot and cold keys with `readWhere`
  * and reads the batch's change feed; each cycle ends with `compact()` and
  * `expireSnapshots()`.
  */
final class IngestMorRead(spark: SparkSession, work: String, seed: Long,
                          events: Long = 6250L, segments: Int = 5)
    extends Workload(spark, work, seed) {
  import Workload._

  private val cfg = EventLog.Config(numEvents = events, numRepos = 20, pathsPerRepo = 2,
    zipfExponent = 3.0, duplicateRate = 0.3, seed = seed)
  private var segFiles = Map.empty[Int, Seq[String]]
  private var inputBytes = 0L
  private var reference = Set.empty[(String, String, String)]
  private var lookupKeys = Seq.empty[Key]
  // per lookup key: (segment, lsn, op, sha256(content)) of each event
  private var keyEvents = Map.empty[Key, Seq[(Int, Long, String, String)]]
  private var batchKeys = Map.empty[Int, Set[Key]]
  private val written = mutable.HashMap.empty[Int, (Long, Long)] // cycle -> (data, live bytes)
  // traced cycles only: snapshot parse times, the live file count each lookup
  // saw (by op index), version diffs up to the compaction, the compaction's
  // bytes, delta files live before it, and each cycle's merge stats
  private val headNs = mutable.ArrayBuffer.empty[Long]
  private val lookupLive = mutable.HashMap.empty[Int, Int]
  private val diffs = mutable.ArrayBuffer.empty[VersionDiff]
  private val compactBytes = mutable.ArrayBuffer.empty[Long]
  private val deltaLive = mutable.ArrayBuffer.empty[Int]
  private val tracedStats = mutable.ArrayBuffer.empty[Seq[MergeStats]]
  private var tracedLookupRows = 0L

  def stage(dir: String): Unit = EventLog.write(spark, cfg, dir, segments)

  def prepare(dir: String): Unit = {
    inputBytes = parquetBytes(dir)
    val seg = "seg-(\\d+)-\\d+\\.parquet".r
    segFiles = fs.listStatus(new Path(dir)).toSeq.map(_.getPath.toString)
      .flatMap(p => seg.findFirstMatchIn(p).map(m => m.group(1).toInt -> p))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    val all = spark.read.schema(EventLog.eventSchema).parquet(dir)
      .withColumn("seg", regexp_extract(input_file_name(), "seg-(\\d+)-", 1).cast("int"))
    kernelFromLog = kernelCountsFromLog(spark, all.withColumn("batch", col("seg")))
    val log = all.filter(col("op") =!= "schema_change")
    reference = lastLsnWins(spark, log)
    val counts = log.groupBy("repo", "path").count().collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toSeq
      .sortBy { case ((r, p), n) => (-n, r, p) }
    val rnd = new scala.util.Random(seed)
    val coldest = counts.filter(_._2 == counts.map(_._2).min).map(_._1)
    lookupKeys = counts.take(2).map(_._1) ++ rnd.shuffle(coldest).take(2)
    val keyFilter = lookupKeys.map { case (r, p) => col("repo") === r && col("path") === p }
      .reduce(_ || _)
    keyEvents = log.filter(keyFilter)
      .select(col("seg"), col("lsn"), col("op"), col("repo"), col("path"), sha2(col("content"), 256))
      .collect().toSeq
      .groupBy(r => (r.getString(3), r.getString(4)))
      .map { case (k, rs) => k -> rs.map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getString(5))) }
    batchKeys = log.select("seg", "repo", "path").distinct().collect().toSeq
      .groupBy(_.getInt(0)).map { case (s, rs) => s -> rs.map(r => (r.getString(1), r.getString(2))).toSet }
  }

  /** State of `key` after segments 0..`batch`: last LSN wins, delete = absent. */
  private def expected(key: Key, batch: Int): Option[String] =
    keyEvents.getOrElse(key, Nil).filter(_._1 <= batch).sortBy(_._2).lastOption
      .flatMap { case (_, _, op, h) => if (op == "delete") None else Some(h) }

  def cycle(run: Run, rec: Recorder): Unit = {
    val root = s"$work/mor-${run.cycle}"
    val table = new LakeTable(spark, root)
    table.create(LakeTable.baseSchema)
    val stats = mutable.ArrayBuffer.empty[MergeStats]
    for (b <- 0 until segments) {
      val batch = spark.read.schema(EventLog.eventSchema).parquet(segFiles(b): _*)
      run.op("merge_deferred")(table.mergeDeferred(batch, "run0", b)).foreach { st =>
        stats += st
        val live = if (run.traced) {
          val t0 = Clock.now()
          val h = table.head()
          headNs += Clock.now() - t0
          h.files.size
        } else 0
        lookupKeys.foreach { case key @ (r, p) =>
          if (run.traced) lookupLive(run.ops.size) = live
          run.op("lookup") {
            table.readWhere(col("repo") === r && col("path") === p)
              .select(sha2(col("content"), 256)).collect().map(_.getString(0)).toSeq
          }.foreach { got =>
            if (run.traced) tracedLookupRows += got.size
            val want = expected(key, b).toSeq
            if (got != want) run.wrong("lookup", s"$key after batch $b: got $got, want $want")
          }
        }
        run.op("feed") {
          table.changesBetween(st.version - 1, st.version).select("repo", "path").collect()
            .map(r => (r.getString(0), r.getString(1))).toSet
        }.foreach { keys =>
          if (keys.isEmpty || !keys.subsetOf(batchKeys.getOrElse(b, Set.empty)))
            run.wrong("feed", s"batch $b: ${keys.size} keys, not a non-empty subset of the batch's keys")
        }
      }
    }
    val before = table.head()
    run.op("compact")(table.compact())
    if (run.traced) {
      diffs ++= versionDiffs(table, 0L, table.head().version)
      compactBytes += diffs.last.addedBytes
      deltaLive += before.files.count(_.delta)
      tracedStats += stats.toSeq
    }
    run.op("expire")(table.expireSnapshots())
    untimed {
      checkKernel(run, "merge_deferred", kernelCounts(stats.toSeq))
      compare(tableState(table), reference).foreach(run.wrong("compact", _))
      written(run.cycle) = (parquetBytes(s"$root/data"), liveBytes(table.head()))
      rm(root)
    }
  }

  def writtenBytes(cycle: Int): Long = written(cycle)._1

  def detail(run: Run, cycleS: Seq[Double]): Map[String, Metric] = {
    def lat(k: String) = run.latencies(_ == k)
    Map(
      "batch_s_p50" -> Metric(med(lat("merge_deferred")), "s"),
      "batch_s_tail" -> Metric(Stats.tail(lat("merge_deferred"))._2, "s"),
      "lookup_s_p50" -> Metric(med(lat("lookup")), "s"),
      "lookup_s_tail" -> Metric(Stats.tail(lat("lookup"))._2, "s"),
      "feed_s_p50" -> Metric(med(lat("feed")), "s"),
      "compact_s" -> Metric(med(lat("compact")), "s"),
      "write_amp" -> Metric(written(0)._1.toDouble / inputBytes, "ratio"),
      "table_mb" -> Metric(mb(written(0)._2), "MB"))
  }

  def layers(run: Run, rec: Recorder): Map[String, Metric] = {
    val tracedOps = run.ops.zipWithIndex.filter { case (o, _) => o.traced && o.ok }.toIndexedSeq
    val work = rec.attribute(tracedOps.map { case (o, _) => (o.start, o.end) })
    val byKind = tracedOps.zip(work).groupBy(_._1._1.kind)
    def of(kind: String) = byKind.getOrElse(kind, Nil)
    def sec(kind: String) = med(of(kind).map(_._1._1.seconds))
    val merges = of("merge_deferred").map { case ((o, _), w) =>
      val id = run.span("lake.merge_deferred", o.start, o.end)
      val jobs = w.jobSpans.map { case (s, e) => run.span("spark.job", s, e, id); Span(0, "", s, e, 0, "") }
      Stats.selfTime(Span(id, "", o.start, o.end, -1, run.runId), jobs.toSeq) / 1e9
    }
    val lookups = of("lookup")
    lookups.foreach { case ((o, _), _) => run.span("lake.read_where", o.start, o.end) }
    of("feed").foreach { case ((o, _), _) => run.span("lake.changes_between", o.start, o.end) }
    Map(
      "lake.merge_deferred.s_p50" -> Metric(sec("merge_deferred"), "s"),
      "lake.merge_deferred.jobs" -> Metric(med(of("merge_deferred").map(_._2.jobs.toDouble)), "count"),
      "lake.merge_deferred.shuffle_mb" -> Metric(med(of("merge_deferred").map(x => mb(x._2.shuffleBytes))), "MB"),
      "lake.merge_deferred.self_s" -> Metric(med(merges), "s"),
      "lake.read_where.jobs" -> Metric(med(lookups.map(_._2.jobs.toDouble)), "count"),
      "lake.read_where.files_scanned_ratio" -> Metric(med(lookups.map { case ((_, i), w) =>
        w.filesScanned.toDouble / math.max(1, lookupLive.getOrElse(i, 1)) }), "ratio"),
      "lake.read_where.rows_scanned_per_row" -> Metric(
        lookups.map(_._2.rowsScanned).sum.toDouble / math.max(1L, tracedLookupRows), "ratio"),
      "lake.changes_between.jobs" -> Metric(med(of("feed").map(_._2.jobs.toDouble)), "count"),
      "lake.changes_between.files_scanned" -> Metric(med(of("feed").map(_._2.filesScanned.toDouble)), "count"),
      "lake.compact.bytes_rewritten_mb" -> Metric(mb(med(compactBytes.map(_.toDouble))), "MB"),
      "lake.expire_s" -> Metric(sec("expire"), "s"),
      "lake.delta_files_live" -> Metric(med(deltaLive.map(_.toDouble)), "count"),
      "lake.head_s_p50" -> Metric(med(headNs.map(_ / 1e9)), "s"),
      "lake.files_added" -> Metric(diffs.map(_.added).sum.toDouble / math.max(1, tracedStats.size), "count"),
      "lake.files_removed" -> Metric(diffs.map(_.removed).sum.toDouble / math.max(1, tracedStats.size), "count"),
      "lake.bytes_written_mb" -> Metric(mb(diffs.map(_.addedBytes).sum.toDouble / math.max(1, tracedStats.size)), "MB")
    ) ++ kernelMetrics(tracedStats.lastOption.map(kernelCounts).getOrElse(Map.empty))
  }
}

/** `corpus_dedup`: the fourteen `SparkEntry` queries whose work sits in
  * `ops` / `functions` (near-duplicate detection and similarity search) over
  * a seeded corpus. One cycle runs each query once and writes its result,
  * which the runner later hashes against the DuckDB oracle.
  */
final class CorpusDedup(spark: SparkSession, work: String, seed: Long,
                        docs: Int = 1000, vecs: Int = 600)
    extends Workload(spark, work, seed) {
  import Workload._

  private var corpusDir = ""
  /** (query, cycle, output directory) of every successful query. */
  val outputs = mutable.ArrayBuffer.empty[(String, Int, String)]

  def stage(dir: String): Unit = Corpus.write(spark, dir, seed, docs, vecs)
  def prepare(dir: String): Unit = corpusDir = dir

  def cycle(run: Run, rec: Recorder): Unit = {
    spark.catalog.clearCache()
    CorpusDedup.Queries.foreach { q =>
      val out = s"$work/out/c${run.cycle}/$q"
      run.op(q)(SparkEntry.queries(q)(spark, corpusDir).write.mode("overwrite").parquet(out))
        .foreach(_ => outputs += ((q, run.cycle, out)))
    }
  }

  def writtenBytes(cycle: Int): Long = parquetBytes(s"$work/out/c$cycle")

  def detail(run: Run, cycleS: Seq[Double]): Map[String, Metric] =
    CorpusDedup.Queries.map(q => s"${q}_s" -> Metric(med(run.latencies(_ == q)), "s")).toMap +
      ("query_suite_s" -> Metric(med(cycleS), "s"))

  def layers(run: Run, rec: Recorder): Map[String, Metric] = {
    val tracedOps = run.ops.filter(o => o.traced && o.ok).toIndexedSeq
    val work = rec.attribute(tracedOps.map(o => (o.start, o.end)))
    tracedOps.zip(work).foreach { case (o, w) =>
      val id = run.span(s"ops.${o.kind}", o.start, o.end)
      w.jobSpans.foreach { case (s, e) => run.span("spark.job", s, e, id) }
    }
    CorpusDedup.Queries.flatMap { q =>
      val runs = tracedOps.zip(work).filter(_._1.kind == q)
      Seq(
        s"ops.$q.wall_s" -> Metric(med(runs.map(_._1.seconds)), "s"),
        s"ops.$q.jobs" -> Metric(med(runs.map(_._2.jobs.toDouble)), "count"),
        s"ops.$q.core_busy" -> Metric(med(runs.map { case (o, w) =>
          w.taskNs.toDouble / (rec.cores * math.max(1L, o.end - o.start)) }), "ratio"),
        s"ops.$q.underfilled_task_s" -> Metric(med(runs.map(_._2.underfilledTaskNs / 1e9)), "s"),
        s"ops.$q.shuffle_mb" -> Metric(med(runs.map(r => mb(r._2.shuffleBytes))), "MB"))
    }.toMap
  }
}

object CorpusDedup {
  /** The pairwise near-duplicate queries whose verify stages run on one
    * core, and the two ANN queries that train on the driver. The other
    * seven `ops` queries share these code paths and are left out so that a
    * run fits the benchmark's time budget.
    */
  val Queries: Seq[String] = Seq(
    "q_minhash_dedup_pairs", "q_ngram_jaccard", "q_word_jaccard_pairs",
    "q_dedup_clusters", "q_embedding_near_dup", "q_ivf_topk", "q_pq_topk")
}
