package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Expression, Literal}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** Snapshot-pinned [[FileIndex]] over a lake table's LIVE data files — the
  * seam that plugs the graft table format into Spark's NATIVE file scan.
  *
  * `spark.read.format("graft")` returns a `HadoopFsRelation` carrying this
  * index, so the physical plan is a plain `FileSourceScan` over Parquet:
  * vectorized columnar reading, whole-stage codegen above it, filter pushdown
  * to row groups, and column pruning — with ZERO row-conversion boundary
  * (this is the architecture Delta Lake uses for its batch relation; a
  * hand-rolled DSv2 `PartitionReader` would re-introduce row-at-a-time reads
  * unless it reimplemented the vectorized Parquet reader wholesale).
  *
  * `snapshot` is a files-UNLOADED header ([[SnapshotLog.readHeader]]) of a
  * DELTA-FREE snapshot without renamed columns (the provider routes the
  * others to the resolved relation). [[listFiles]] receives the query's
  * pushed data filters at PLANNING time and plans them through
  * [[LakeTable.planFiles]], the planner [[LakeTable.readWhere]] uses: only
  * the manifests whose summary box overlaps the pushed bounds are parsed,
  * then files are pruned by their stats and blooms — a point read through
  * the standard `spark.read` / SQL surface plans O(1) files with no special
  * API. Tombstone files are never listed: live reads read zero tombstone
  * bytes (tombstones live in separate files — see [[LakeTable]]).
  */
final class GraftFileIndex(
    spark: SparkSession, table: LakeTable, val snapshot: Snapshot)
  extends FileIndex {

  def tableRoot: String = table.root

  /** Every live file; forced only by [[inputFiles]] and the size fallback. */
  private lazy val live: Seq[DataFileEntry] =
    table.log.loadManifests(snapshot.manifestSummaries.map(_.name)).filterNot(_.tomb)

  /** Deliberately empty: Spark's analyzer turns `INSERT INTO` over a
    * `HadoopFsRelation` into a DIRECT file write at `rootPaths.head`, which
    * would drop Parquet files into the table unrecorded by any snapshot —
    * silent corruption. With no root paths that fallback fails loudly at
    * analysis; the supported INSERT path is the resolution rule installed by
    * `graft.lake.GraftSparkExtension`, which routes through the committing
    * write path ([[LakeTable.append]]).
    */
  override def rootPaths: Seq[Path] = Seq.empty

  override def partitionSchema: StructType = StructType(Nil)

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = table.planFiles(snapshot,
      dataFilters.reduceOption(And).getOrElse(Literal(true))).filterNot(_.tomb)
    if (kept.isEmpty) Seq.empty
    else Seq(PartitionDirectory(InternalRow.empty, kept.map(status).toArray))
  }

  /** Manifests record each file's length, so planning synthesizes the
    * `FileStatus` without a per-file FS round trip (at 10^5 files that is
    * the difference between an in-memory plan and 10^5 object-store HEADs).
    * A legacy entry without a recorded length falls back to a real lookup —
    * a zero-length status would make split planning emit no read task and
    * silently drop the file's rows.
    */
  private def status(e: DataFileEntry): FileStatus = {
    val p = new Path(e.path)
    if (e.bytes > 0) new FileStatus(e.bytes, false, 1, 128L * 1024 * 1024, 0L, p)
    else p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
  }

  override def inputFiles: Array[String] = live.map(_.path).toArray

  /** Snapshot-pinned: one query plans against one immutable version even if
    * writers commit concurrently, so there is nothing to refresh.
    */
  override def refresh(): Unit = ()

  /** Drives broadcast decisions. Answers from the commit's audit aggregate
    * (stored at commit time; includes tombstone bytes — an over-estimate,
    * safe) so estimation does not force the full manifest load. Trusts only
    * a POSITIVE aggregate: a pre-audit-header snapshot (-1), or legacy
    * entries with no recorded bytes summing to 0, fall back to the per-file
    * heuristic, which deliberately over-estimates unknown lengths by row
    * count (a missed broadcast is slow, a wrong broadcast of a huge table is
    * an OOM).
    */
  override lazy val sizeInBytes: Long = {
    val b = table.log.describe(snapshot.version).bytes
    if (b > 0) b else live.map(e => if (e.bytes > 0) e.bytes else e.rows * 1024L).sum
  }
}
