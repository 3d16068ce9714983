package graft.stream

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.events.EventLog
import graft.lake.{LakeTable, MergeStats}

/** Structured-Streaming CDC ingest: tail the event-log directory as a file
  * stream and replay each micro-batch into the lake table via
  * `foreachBatch { merge }` (north rule; reimagines Borderlands'
  * cron-batch + state-readback loop, src/flows/media.py:57-83, as a stream).
  *
  * Exactly-once: the checkpoint makes batch composition deterministic
  * (same batchId ⇒ same files ⇒ same events) and [[LakeTable.merge]] is
  * idempotent per (epoch, batchId) via the snapshot ledger — a batch replayed
  * after a crash between merge-commit and checkpoint-commit is a no-op.
  * The default `Trigger.AvailableNow` drains the log and stops, which is
  * also the catch-up/resume mode; pass `Trigger.ProcessingTime(...)` for the
  * run-forever deployment mode (tail the log continuously) — pair it with a
  * `Lineage(flushEvery = N)` so metrics land on disk while the stream runs.
  *
  * `saltBuckets` is kept only for source compatibility with callers that
  * pass it by name; it must be 0. The merge window dedups every batch.
  */
final class CdcIngest(
    spark: SparkSession,
    tableRoot: String,
    eventsDir: String,
    checkpointDir: String,
    epoch: String = "run0",
    maxFilesPerTrigger: Int = 4,
    saltBuckets: Int = 0,
    lineage: Option[Lineage] = None,
    maintenance: CdcIngest.Maintenance = CdcIngest.Maintenance(),
    trigger: Trigger = Trigger.AvailableNow(),
    deferred: Boolean = false) {

  require(saltBuckets == 0,
    s"saltBuckets = $saltBuckets: only 0 is supported; the merge window dedups every batch")

  val table = new LakeTable(spark, tableRoot)

  // A drain (AvailableNow) keeps every batch's stats for its caller; a
  // run-forever ProcessingTime stream keeps only the most recent window —
  // an unbounded driver-side list would grow for weeks in exactly the mode
  // that never returns them (durable metrics go through Lineage.flushEvery).
  private val maxRetainedStats =
    if (trigger == Trigger.AvailableNow()) Int.MaxValue else 1024

  @volatile var stats: List[MergeStats] = Nil

  /** Start draining/tailing the event log; returns the running query. */
  def start(): StreamingQuery = {
    table.create(LakeTable.baseSchema)
    val stream = spark.readStream
      .schema(EventLog.eventSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("latestFirst", "false")
      .parquet(eventsDir)
    stream.writeStream
      .queryName(s"graft-cdc-$epoch")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // deferred = merge-on-read ingest (Hudi MOR-table analog): each batch
        // lands as O(batch) delta files with zero target rewrite, and the
        // in-loop Maintenance compaction materializes them — pair deferred
        // ingest with Maintenance(compactAtFiles = …) so read cost stays
        // bounded (every delta batch adds files, so the file-count trigger
        // fires naturally)
        val st =
          if (deferred) table.mergeDeferred(batch, epoch, batchId)
          else table.merge(batch, epoch, batchId)
        stats = if (maxRetainedStats == Int.MaxValue) st :: stats
                else st :: stats.take(maxRetainedStats - 1)
        lineage.foreach(_.record(st))
        maintenance.maybeRun(table, batchId)
      }
      .start()
  }

  /** Drain everything available and wait (AvailableNow-style triggers only —
    * a ProcessingTime stream never terminates on its own; use [[start]] and
    * stop it yourself).
    */
  def runToCompletion(): List[MergeStats] = {
    require(trigger == Trigger.AvailableNow(),
      "runToCompletion requires Trigger.AvailableNow; a continuous trigger never terminates")
    val q = start()
    q.awaitTermination()
    lineage.foreach(_.flush())
    stats.reverse
  }
}

object CdcIngest {
  /** In-loop table maintenance: every `expireEvery` batches, optionally
    * compact (only when copy-on-write fragmentation passed `compactAtFiles`)
    * and expire snapshots beyond `keepSnapshots`. At the 10^10 design point
    * an unmaintained ingest accumulates one snapshot + file set per batch;
    * this bounds live metadata AND storage without a second scheduler.
    * Compaction/expiry commit through the same snapshot log, so a crash
    * between maintenance and checkpoint is as replay-safe as a merge.
    *
    * `zorderBy` makes the in-loop compaction also maintain a z-ordered
    * layout ([[graft.lake.ZOrder]]) on the named columns — ingest keeps
    * writing key-clustered merge output at full speed, and the periodic
    * maintenance pass re-clusters the fragmented tail so query-dimension
    * predicates keep pruning as the table grows (the bin-pack rewrite set
    * is the same either way; only its sort changes).
    *
    * @param expireEvery    0 = maintenance off (default)
    */
  final case class Maintenance(
      expireEvery: Int = 0,
      keepSnapshots: Int = 2,
      compactAtFiles: Int = 0,
      targetRowsPerFile: Long = 1000000L,
      zorderBy: Seq[String] = Nil) {
    def maybeRun(table: LakeTable, batchId: Long): Unit =
      if (expireEvery > 0 && (batchId + 1) % expireEvery == 0) {
        if (compactAtFiles > 0 && table.head().files.size >= compactAtFiles)
          table.compact(targetRowsPerFile, zorderBy = zorderBy)
        table.expireSnapshots(keepSnapshots)
      }
  }
}
