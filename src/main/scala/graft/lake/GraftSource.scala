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
        new GraftChangesRelation(sqlContext, table, from.toLong, to)
      case None =>
        // snapshot resolved once per relation instance: one query plans
        // against one immutable snapshot even if writers commit concurrently.
        // Resolve the HEADER first (two-level metadata pruning): when the
        // snapshot carries manifest summaries and no deltas are pending, the
        // relation plans from the header and GraftFileIndex loads only the
        // manifests a query's pushed filters overlap — a fresh process's SQL
        // point read parses O(overlapping) manifests, not O(table).
        val versionOpt = parameters.get("versionAsOf").map(_.toLong)
        val headerOpt = versionOpt.orElse(table.log.latestVersion())
          .flatMap(table.log.readHeader)
          .filterNot(_.manifestSummaries.exists(_.hasDeltas))
          // renamed columns: files store the ORIGINAL physical names; a bare
          // file-scan relation reads by the CURRENT name and would null the
          // column — route through the aliased row-based fallback below
          .filterNot(_.physicalName.nonEmpty)
        headerOpt match {
          case Some(h) =>
            return HadoopFsRelation(
              location = new GraftFileIndex(spark, table, h, headerOnly = true),
              partitionSchema = StructType(Nil),
              dataSchema = h.schema,
              bucketSpec = None,
              fileFormat = new ParquetFileFormat,
              options = Map.empty)(spark)
          case None => () // pre-summary snapshot or pending deltas: full read
        }
        val snap = versionOpt.map(table.log.read).getOrElse(table.head())
        if (snap.files.exists(_.delta) || snap.physicalName.nonEmpty)
          // deferred-merge deltas pending: correct results need the per-key
          // resolution window, which a bare file-scan relation cannot carry —
          // serve the RESOLVED live state through the row-based fallback
          // (Hudi's read-optimized vs real-time split, with the real-time
          // view the only one we ever serve: correctness is not optional).
          // The native vectorized path below returns as soon as a compaction
          // (or the in-loop Maintenance) materializes the deltas.
          new GraftResolvedSnapshotRelation(sqlContext, table, snap)
        else HadoopFsRelation(
          location = new GraftFileIndex(spark, table, snap),
          partitionSchema = StructType(Nil),
          dataSchema = snap.schema,
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
    if (!exists) {
      val names = data.columns.toSet
      require(Seq("repo", "path").forall(names.contains),
        s"a graft table is keyed by (repo, path); got ${data.columns.mkString(", ")}")
      // keys first (non-null), everything else in frame order, nullable
      val keyed = data.schema.fields.filter(f => f.name == "repo" || f.name == "path")
        .map(_.copy(nullable = false))
      val rest = data.schema.fields.filterNot(f => f.name == "repo" || f.name == "path")
        .map(_.copy(nullable = true))
      table.create(StructType((keyed ++ rest).toSeq))
    }

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

/** Batch change-feed relation: `option("startingVersion", v)` [+
  * `endingVersion`] surfaces [[LakeTable.changesBetween]] through
  * `spark.read.format("graft")` / SQL `USING graft OPTIONS (…)`. The feed's
  * semantics need a residual `_ver` filter a bare file-scan relation cannot
  * carry, so this relation materializes through the DataFrame plan instead
  * of a `HadoopFsRelation`; the row-conversion it pays is bounded by the
  * DELTA between the two snapshots (manifest-diff + maxVer pruning keep the
  * underlying scan incremental), not by table size. Column pruning is
  * honored ([[PrunedScan]]); row filters stay Spark-side (exact, fail-safe).
  */
final class GraftChangesRelation(
    override val sqlContext: SQLContext, table: LakeTable,
    fromVersion: Long, toVersion: Long)
  extends BaseRelation with PrunedScan {

  private def feed: DataFrame = table.changesBetween(fromVersion, toVersion)

  override val schema: StructType = feed.schema

  override def buildScan(requiredColumns: Array[String]): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    val f = feed
    // empty projection (e.g. COUNT(*)) still needs the row cardinality
    if (requiredColumns.isEmpty) f.select().rdd.map(_ => org.apache.spark.sql.Row())
    else f.select(requiredColumns.toSeq.map(f.col): _*).rdd
  }
}

/** Live-snapshot relation for tables with PENDING deferred-merge deltas:
  * the per-key merge-on-read resolution ([[LakeTable]]'s window over base +
  * delta files) runs inside the served DataFrame plan, so any query through
  * `format("graft")` stays exact while deltas exist. Row-conversion cost is
  * the price of pending deltas, paid only until compaction materializes them
  * — the provider switches back to the native `HadoopFsRelation` scan on a
  * delta-free snapshot. Column pruning is honored after resolution
  * ([[PrunedScan]]); row filters stay Spark-side (exact for any shape).
  */
final class GraftResolvedSnapshotRelation(
    override val sqlContext: SQLContext, table: LakeTable, snap: Snapshot)
  extends BaseRelation with PrunedScan {

  override val schema: StructType = snap.schema

  override def buildScan(requiredColumns: Array[String]): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    val f = table.readAt(snap)
    if (requiredColumns.isEmpty) f.select().rdd.map(_ => org.apache.spark.sql.Row())
    else f.select(requiredColumns.toSeq.map(f.col): _*).rdd
  }
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
      if (eventShaped) table.create(LakeTable.baseSchema)
      else {
        val keyed = batch.schema.fields.filter(f => f.name == "repo" || f.name == "path")
          .map(_.copy(nullable = false))
        val rest = batch.schema.fields.filterNot(f => f.name == "repo" || f.name == "path")
          .map(_.copy(nullable = true))
        require(keyed.length == 2,
          s"a graft table is keyed by (repo, path); got ${batch.columns.mkString(", ")}")
        table.create(StructType((keyed ++ rest).toSeq))
      }
    }
    if (eventShaped) table.merge(batch, epoch, batchId)
    else table.append(batch, epoch, batchId)
  }

  override def name(): String = s"GraftSink[$root]"
}
