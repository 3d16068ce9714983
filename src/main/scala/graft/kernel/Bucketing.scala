package graft.kernel

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed (pre-shuffled) tables for co-located joins and aggregations.
  *
  * Scale rationale: a join or groupBy on a non-clustered key shuffles the
  * full fact side every time. Writing the table bucketed + sorted by its
  * join key pays that shuffle ONCE at write time; every later equi-join or
  * aggregation on the bucket key then runs with ZERO Exchange (Spark's
  * bucketing reports HashClusteredDistribution from the scan). At the 10^10
  * design point this is how repeated repo-keyed joins against the lake's
  * state stay map-side — the PlanAudit suite asserts the exchange-free plan.
  */
object Bucketing {

  /** Storage base for index/bucketed table artifacts. RAM-backed when
    * available (guide §6: the sandbox's single virtio disk serializes the
    * many small parquet + _SUCCESS + metadata writes a saveAsTable makes;
    * `/dev/shm` is the same cluster-local-SSD stand-in the bench uses for
    * `spark.local.dir`). GRAFT_INDEX_DIR overrides; None (no writable shm)
    * keeps the plain managed-warehouse location. Tables are still fully
    * registered in the session catalog — only the file location moves.
    */
  private def externalBase: Option[String] =
    sys.env.get("GRAFT_INDEX_DIR").orElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) Some("/dev/shm/graft-warehouse")
      else None
    }

  /** External location for `table`, when an external base is configured. */
  def location(table: String): Option[String] =
    externalBase.map(b => s"$b/${table.toLowerCase}")

  /** Drop `table` from the catalog AND remove an orphaned managed location a
    * previous session may have left behind: an in-memory catalog forgets its
    * tables across JVMs while the warehouse files persist, and a leftover
    * location makes the next managed-table creation fail
    * (LOCATION_ALREADY_EXISTS).
    */
  def dropManaged(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val conf = spark.sparkContext.hadoopConfiguration
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val whFs = wh.getFileSystem(conf)
    if (whFs.exists(wh)) whFs.delete(wh, true)
    location(table).foreach { loc =>
      val p = new org.apache.hadoop.fs.Path(loc)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, true)
    }
  }

  /** Apply the external location (when configured) to a writer. */
  def withLocation[T](w: org.apache.spark.sql.DataFrameWriter[T],
                      table: String): org.apache.spark.sql.DataFrameWriter[T] =
    location(table).fold(w)(loc => w.option("path", loc))

  /** Write `df` as a bucketed, per-bucket-sorted parquet table in the
    * session catalog. Both sides of a co-located join must use the same
    * bucket count and key.
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int, keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "bucket keys required")
    dropManaged(df.sparkSession, table)
    withLocation(df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet"), table)
      .saveAsTable(table)
  }
}
