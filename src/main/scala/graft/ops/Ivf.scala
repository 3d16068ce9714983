package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the coarse-quantizer
  * scale path next to sign-LSH (Similarity.lshTopK):
  *
  *  1. TRAIN: Lloyd k-means over the corpus with the trainer PQ shares
  *     ([[Lloyd]], one subspace as wide as the vector): on the driver up to
  *     `GRAFT_ANN_TRAIN_CAP` rows, one Spark job per iteration over the
  *     whole corpus past it.
  *  2. INDEX: every corpus vector is tagged with its nearest centroid's cell
  *     id — at scale this is the partition/bucket key, so a cell's vectors
  *     co-locate and a probe touches `nprobe / nlist` of the data.
  *  3. SEARCH: each query probes its `nprobe` nearest cells only; exact
  *     cosine on the probed subset, per-query top-k window.
  *
  * Everything is deterministic given the data: init picks the `nlist`
  * corpus rows with the smallest (sha256(id), id), the order
  * `OracleGen.ivfTopKSql` replays; distance ties break on the smaller cell
  * id.
  */
object Ivf {

  /** Centroids as a broadcastable two-column frame (__cell, __cv). */
  private def centroidsDf(spark: org.apache.spark.sql.SparkSession,
                          cents: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }.toDF("__cell", "__cv")
  }

  /** The (id, double-vec) projection every IVF stage consumes. */
  private def projected(df: DataFrame, vecCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("__id"), Similarity.asDoubleVec(col(vecCol)).as("__v"))

  private def train(pv: DataFrame, nlist: Int, iters: Int): Array[Array[Double]] =
    Lloyd.train(pv, None, 1, nlist, iters).head

  /** Each query with its `nprobe` nearest cells, `(query_id, __qv, __cell)`:
    * a window over the broadcast centroid join — queries are small by
    * contract, the window is per-query-local.
    */
  private def probeCells(queries: DataFrame, vecCol: String, idCol: String,
                         cents: Array[Array[Double]], nprobe: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("__d").asc, col("__cell").asc)
    queries.select(col(idCol).as("query_id"), Similarity.asDoubleVec(col(vecCol)).as("__qv"))
      .crossJoin(broadcast(centroidsDf(queries.sparkSession, cents)))
      .withColumn("__d", graft.functions.VecOps.vecSqDist(col("__qv"), col("__cv")))
      .withColumn("__pr", row_number().over(wProbe))
      .filter(col("__pr") <= nprobe)
      .select(col("query_id"), col("__qv"), col("__cell"))
  }

  /** Exact top-k over the probed cells of `(nbr_id, __cv, __cell)` corpus
    * rows. A corpus row lives in exactly one cell, so a (query, nbr) pair
    * matches at most once; no dedup needed.
    */
  private def searchCells(cells: DataFrame, probes: DataFrame, k: Int): DataFrame =
    Similarity.topKByCosine(cells.join(broadcast(probes), Seq("__cell"))
      .filter(col("query_id") =!= col("nbr_id")), k)

  /** A trained, persisted IVF index: `table` holds the assigned corpus as a
    * BUCKETED parquet table keyed by `__cell` (so probes bucket-prune), and
    * `table_centroids` the nlist × dim centroid vectors. Train once, probe
    * many — at the 100 TB design point the index build is a batch job and
    * every search pays only `nprobe / nlist` of the corpus, with the cell
    * filter pushed into the bucketed scan (no train, no full-corpus read).
    */
  final case class IvfIndex(table: String, centroids: Array[Array[Double]])

  /** Train + assign + persist. The corpus lands bucketed by cell id via
    * [[graft.kernel.Bucketing.writeBucketed]]; centroids land next to it so
    * a later session can [[loadIndex]] without retraining.
    */
  def buildIndex(
      corpus: DataFrame, vecCol: String, idCol: String, table: String,
      nlist: Int = 16, iters: Int = 3, buckets: Int = 0): IvfIndex = {
    val spark = corpus.sparkSession
    val pv = projected(corpus, vecCol, idCol)
    val cents = train(pv, nlist, iters)
    // assignment is a codegen'd per-row argmin (AnnKernels.nearestCell) —
    // no broadcast join, no min_by shuffle; the only exchange left is the
    // bucketed write's own clustering (which the index layout needs anyway)
    val assigned = pv.select(
        graft.functions.AnnKernels.nearestCellCol(col("__v"), cents).as("__cell"),
        col("__id").as("nbr_id"), col("__v").as("__cv"))
      .filter(col("__cell").isNotNull)
    val nBuckets = if (buckets > 0) buckets else math.max(1, math.min(nlist, 1024))
    graft.kernel.Bucketing.writeBucketed(assigned, table, nBuckets, Seq("__cell"))
    graft.kernel.Bucketing.dropManaged(spark, s"${table}_centroids")
    graft.kernel.Bucketing.withLocation(
      centroidsDf(spark, cents).coalesce(1).write.mode("overwrite").format("parquet"),
      s"${table}_centroids")
      .saveAsTable(s"${table}_centroids")
    IvfIndex(table, cents)
  }

  /** Reload a persisted index (no retraining, no corpus scan). */
  def loadIndex(spark: org.apache.spark.sql.SparkSession, table: String): IvfIndex = {
    val cents = spark.table(s"${table}_centroids")
      .orderBy("__cell").collect()
      .map(r => r.getSeq[Double](1).toArray)
    IvfIndex(table, cents)
  }

  /** Search a persisted index: each query probes its `nprobe` nearest cells;
    * the probed-cell IN filter reaches the bucketed corpus scan (bucket
    * pruning — asserted in the plan-audit suite), so a probe reads only the
    * probed cells' buckets. Output shape matches [[ivfTopK]], and for the
    * same (corpus, params) the results are identical — train-once/probe-many
    * changes where the work happens, not the answer.
    */
  def probeTopK(
      index: IvfIndex, queries: DataFrame, vecCol: String, idCol: String,
      k: Int = 5, nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val q = probeCells(queries, vecCol, idCol, index.centroids, nprobe)
      .persist() // feeds the distinct-cell collect AND the probe join
    // Spark's DisableUnnecessaryBucketedScan turns bucketed reads OFF when no
    // join/agg needs the distribution — it does not account for bucket
    // PRUNING, which is the whole point here (the IN filter then only prunes
    // at row-group level). Force the bucketed scan for this probe's
    // execution window; the plan then reads only the probed cells' buckets.
    val autoBucketKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prevAuto = spark.conf.getOption(autoBucketKey)
    spark.conf.set(autoBucketKey, "false")
    try {
      // queries are small by contract → the probed cell set is driver-tiny;
      // materializing it as an IN literal is what lets the scan bucket-prune
      val cells = q.select(col("__cell")).distinct().collect().map(_.getInt(0))
      val c = spark.table(index.table)
        .filter(col("__cell").isin(cells.map(x => x: Any).toSeq: _*))
      searchCells(c, q, k)
        .localCheckpoint() // executes HERE, inside the forced-bucketing window
    } finally {
      q.unpersist()
      prevAuto match {
        case Some(v) => spark.conf.set(autoBucketKey, v)
        case None => spark.conf.unset(autoBucketKey)
      }
    }
  }

  /** IVF top-k: same output shape as Similarity.bruteForceTopK/lshTopK —
    * (query_id, rank, nbr_id, cosine). Recall < 1 by construction (probed
    * cells only); measured against brute force in the test suite. One-shot
    * (train + search in one call); for repeated searches build a persistent
    * index once with [[buildIndex]] and search via [[probeTopK]].
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, vecCol: String, idCol: String,
      k: Int = 5, nlist: Int = 16, nprobe: Int = 4, iters: Int = 3): DataFrame = {
    // training is ONE bounded collect (driver Lloyd) below the cap and
    // assignment ONE codegen'd map — the corpus is scanned twice with no
    // shuffle on either pass, so a persist would only cost a materialization
    val pv = projected(corpus, vecCol, idCol)
    val cents = train(pv, nlist, iters)
    val c = pv.select(col("__id").as("nbr_id"), col("__v").as("__cv"),
      graft.functions.AnnKernels.nearestCellCol(col("__v"), cents).as("__cell"))
      .filter(col("__cell").isNotNull)
    searchCells(c, probeCells(queries, vecCol, idCol, cents, nprobe), k)
      .localCheckpoint()
  }
}
