package graft.lake

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.graftbridge.StreamingBridge
import org.apache.spark.sql.sources._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** The `format("graft")` batch surface of a lake table:
  *
  * {{{
  * spark.read.format("graft")
  *   .option("path", tableRoot)
  *   .option("versionAsOf", "7")      // optional time travel
  *   .load()
  *   .filter($"repo" === "r1")        // manifest-pruned + parquet-pushed
  *
  * df.write.format("graft").mode("append").option("path", root).save()
  * df.writeStream.format("graft")     // exactly-once upsert sink
  *   .option("path", root).option("epoch", "mystream").start()
  * }}}
  *
  * READ: the relation is a `HadoopFsRelation` over a [[GraftFileIndex]], so
  * the physical plan is Spark's NATIVE `FileSourceScan` — vectorized
  * columnar Parquet, whole-stage codegen above it, row-group filter
  * pushdown, column pruning — with manifest bounding-box file pruning
  * applied at planning time from the query's own pushed filters. No
  * `ExternalRDD` / row-conversion boundary exists anywhere in the plan
  * (the prior DSv1 `PrunedFilteredScan` paid exactly that boundary; this is
  * the same architectural seam Delta Lake's batch relation uses, chosen
  * over a hand-rolled DSv2 `PartitionReader`, which would re-introduce
  * row-at-a-time reads unless it reimplemented vectorized Parquet).
  * Correctness needs no residual trickery: tombstones live in separate
  * files the index never lists, and pruning only ever SKIPS files whose
  * stat range provably cannot match (fail-open on unknown shapes), so any
  * predicate is exact.
  *
  * WRITE: `SaveMode.Append` upserts rows by `(repo, path)` through
  * [[LakeTable.append]] (the full merge path: dedup, clustered write,
  * atomic snapshot commit); `Overwrite` replaces contents in one commit;
  * SQL `INSERT INTO` is routed by [[GraftSparkExtension]]. The streaming
  * sink applies each micro-batch via the same merge with
  * `(epoch, batchId)` ledger idempotence — a replayed batch after restart
  * is a no-op, i.e. an exactly-once upsert sink through the standard
  * `writeStream` API (the tuned engine loop remains
  * `stream.CdcIngest`'s foreachBatch, which avoids the sink's
  * plan-stabilization step).
  */
final class GraftSourceProvider extends RelationProvider
    with CreatableRelationProvider with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft requires option 'path' = lake table root"))

  override def createRelation(
      sqlContext: SQLContext, parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val table = new LakeTable(spark, rootOf(parameters))
    parameters.get("startingVersion") match {
      case Some(from) =>
        // batch change feed: net row changes in (startingVersion,
        // endingVersion] — the SQL-surface twin of LakeTable.changesBetween
        // (e.g. `CREATE TEMP VIEW d USING graft OPTIONS (path …,
        // startingVersion '3')` drives pure-SQL incremental ETL)
        require(!parameters.contains("versionAsOf"),
          "versionAsOf and startingVersion are mutually exclusive " +
            "(time travel reads a snapshot; startingVersion reads a change feed)")
        val to = parameters.get("endingVersion").map(_.toLong)
          .getOrElse(table.log.latestVersion().getOrElse(0L))
        new GraftFrameRelation(sqlContext, table.changesBetween(from.toLong, to))
      case None =>
        // snapshot resolved once per relation instance: one query plans
        // against one immutable snapshot even if writers commit concurrently.
        // The HEADER alone decides the route (two-level metadata pruning):
        // GraftFileIndex loads only the manifests a query's pushed filters
        // overlap — a fresh process's SQL point read parses O(overlapping)
        // manifests, not O(table).
        val v = parameters.get("versionAsOf").map(_.toLong).getOrElse(table.headVersion())
        val h = table.log.readHeader(v)
        if (h.manifestSummaries.exists(_.hasDeltas) || h.physicalName.nonEmpty)
          // deferred-merge deltas pending: correct results need the per-key
          // resolution window, which a bare file-scan relation cannot carry —
          // serve the RESOLVED live state through the row-based relation
          // (Hudi's read-optimized vs real-time split, with the real-time
          // view the only one we ever serve: correctness is not optional).
          // Renamed columns take the same route: files store the ORIGINAL
          // physical names, and a bare file scan reads by the CURRENT name
          // and would null the column. The native vectorized path returns as
          // soon as a compaction (or the in-loop Maintenance) materializes
          // the deltas.
          new GraftFrameRelation(sqlContext, table.readAt(table.log.read(v)))
        else HadoopFsRelation(
          location = new GraftFileIndex(spark, table, h),
          partitionSchema = StructType(Nil),
          dataSchema = h.schema,
          bucketSpec = None,
          fileFormat = new ParquetFileFormat,
          options = Map.empty)(spark)
    }
  }

  /** `df.write.format("graft")` — batch writes through the committing path. */
  override def createRelation(
      sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = rootOf(parameters)
    val table = new LakeTable(spark, root)
    val exists = table.log.latestVersion().isDefined
    val write: Option[DataFrame => Unit] = mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"graft table already exists at $root (mode ErrorIfExists)")
      case SaveMode.Ignore if exists => None
      case SaveMode.Overwrite =>
        Some(df => { ensureCreated(table, df, exists)
          // single-shot writes skip the ledger: they never replay, and one
          // never-reused epoch per save() would grow every snapshot's
          // metadata forever — the commit-retry loop alone is exactly-once
          table.overwrite(df, "adhoc", 0L, recordInLedger = false) })
      case _ => // Append, or any mode on a fresh table
        Some(df => { ensureCreated(table, df, exists)
          table.append(df, "adhoc", 0L, recordInLedger = false) })
    }
    write.foreach(_(data))
    createRelation(sqlContext, parameters)
  }

  private def ensureCreated(table: LakeTable, data: DataFrame, exists: Boolean): Unit =
    if (!exists) table.create(GraftSourceProvider.keyedSchema(data))

  /** `writeStream.format("graft")` — exactly-once upsert sink. */
  override def createSink(
      sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "graft sink does not take partitionBy (layout is key-range clustering)")
    require(outputMode != OutputMode.Complete(),
      "graft sink supports Append/Update output modes (each batch upserts); " +
        "Complete would require a full-table overwrite per batch")
    new GraftSink(sqlContext.sparkSession, rootOf(parameters),
      parameters.getOrElse("epoch", "graft-sink"))
  }
}

object GraftSourceProvider {
  /** Schema of a table created from a plain-row frame: keys first
    * (non-null), everything else in frame order, nullable.
    */
  private[lake] def keyedSchema(data: DataFrame): StructType = {
    val isKey = Set("repo", "path")
    val (keys, rest) = data.schema.fields.toSeq.partition(f => isKey(f.name))
    require(keys.length == 2,
      s"a graft table is keyed by (repo, path); got ${data.columns.mkString(", ")}")
    StructType(keys.map(_.copy(nullable = false)) ++ rest.map(_.copy(nullable = true)))
  }
}

/** A relation served from a DataFrame plan instead of a `HadoopFsRelation`,
  * for the two reads a bare file scan cannot carry:
  *  - the batch change feed (`option("startingVersion", v)` [+
  *    `endingVersion`], [[LakeTable.changesBetween]] through
  *    `spark.read.format("graft")` / SQL `USING graft OPTIONS (…)`), whose
  *    semantics need a residual `_ver` filter; its row conversion is bounded
  *    by the DELTA between the two snapshots (manifest-diff + maxVer pruning
  *    keep the underlying scan incremental), not by table size;
  *  - the live state of a snapshot with PENDING deferred-merge deltas or
  *    renamed columns: the per-key merge-on-read resolution ([[LakeTable]]'s
  *    window over base + delta files) and the physical-to-logical aliasing run
  *    inside the served plan, so any query through `format("graft")` stays
  *    exact. That row conversion is paid only until compaction materializes
  *    the deltas.
  * Column pruning is honored ([[PrunedScan]]); row filters stay Spark-side
  * (exact for any shape).
  */
final class GraftFrameRelation(override val sqlContext: SQLContext, frame: DataFrame)
  extends BaseRelation with PrunedScan {

  override val schema: StructType = frame.schema

  override def buildScan(requiredColumns: Array[String]): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
    // empty projection (e.g. COUNT(*)) still needs the row cardinality
    if (requiredColumns.isEmpty) frame.select().rdd.map(_ => org.apache.spark.sql.Row())
    else frame.select(requiredColumns.toSeq.map(frame.col): _*).rdd
}

/** Streaming sink: each micro-batch upserts through [[LakeTable.merge]]
  * (event-shaped input: columns `op`/`lsn` present) or [[LakeTable.append]]
  * (plain user rows). Exactly-once: the snapshot ledger records
  * `(epoch, batchId)`, so a batch re-delivered after a restart is a no-op.
  * Two queries writing one table must use distinct `epoch` options.
  */
final class GraftSink(spark: SparkSession, root: String, epoch: String)
  extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the frame handed to a v1 Sink is bound to this micro-batch's
    // incremental execution; re-wrap it as a plain batch frame (same trick
    // as Delta's sink) so the merge can run its several actions against it
    val batch = StreamingBridge.asBatchFrame(data)
    val table = new LakeTable(spark, root)
    val cols = batch.columns.toSet
    val eventShaped = cols.contains("op") && cols.contains("lsn")
    if (table.log.latestVersion().isEmpty) {
      // first batch bootstraps the table: event streams start from the north
      // rule's base schema, plain-row streams from the stream's own schema
      table.create(
        if (eventShaped) LakeTable.baseSchema else GraftSourceProvider.keyedSchema(batch))
    }
    if (eventShaped) table.merge(batch, epoch, batchId)
    else table.append(batch, epoch, batchId)
  }

  override def name(): String = s"GraftSink[$root]"
}
