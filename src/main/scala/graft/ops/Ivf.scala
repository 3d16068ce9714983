package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the coarse-quantizer
  * scale path next to sign-LSH (Similarity.lshTopK):
  *
  *  1. TRAIN: Lloyd k-means over the corpus. Assignment joins the corpus
  *     against a BROADCAST centroids DataFrame and takes the min-distance
  *     cell per row with map-side partial aggregation — the pairs pipeline
  *     through the hash-agg without materializing, and the plan stays
  *     O(1) in nlist (the previous literal-array argmin inlined nlist × dim
  *     doubles into the plan and paid an O(nlist) interpreted expression
  *     per row — fine at nlist=16, catastrophic at a realistic nlist ≥ 4k).
  *     Each iteration reduces to `nlist × dim` running means via posexplode
  *     + groupBy; only that tiny table returns to the driver.
  *  2. INDEX: every corpus vector is tagged with its nearest centroid's cell
  *     id — at scale this is the partition/bucket key, so a cell's vectors
  *     co-locate and a probe touches `nprobe / nlist` of the data.
  *  3. SEARCH: each query probes its `nprobe` nearest cells only; exact
  *     cosine on the probed subset, per-query top-k window.
  *
  * Everything is deterministic given (data, seed): init picks the `nlist`
  * corpus rows with the smallest xxhash64(id); distance ties break on the
  * smaller cell id.
  */
object Ivf {

  /** Squared L2 distance between two vector columns — the native codegen'd
    * [[graft.functions.SquaredDistance]] kernel (bit-identical to the
    * previous zip_with+aggregate fold: same left-to-right summation order).
    */
  private def dist2(v: Column, c: Column): Column =
    graft.functions.VecOps.vecSqDist(v, c)

  /** Centroids as a broadcastable two-column frame (__cell, __cv). */
  private def centroidsDf(spark: org.apache.spark.sql.SparkSession,
                          cents: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }.toDF("__cell", "__cv")
  }

  /** The (id, double-vec) projection every IVF stage consumes — computed and
    * PERSISTED once per call ([[trainCentroids]]/[[ivfTopK]]): each Lloyd
    * iteration plus the final index assignment otherwise re-reads and
    * re-casts the whole corpus.
    */
  private def projected(df: DataFrame, vecCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("__id"), Similarity.asDoubleVec(col(vecCol)).as("__v"))

  /** Nearest-cell assignment over a projected (__id, __v) frame:
    * broadcast-join × centroids, min_by on (dist, cell) per row —
    * deterministic tiebreak, one partial-aggregated shuffle on the row id,
    * no vectors in the plan.
    */
  private def assignProjected(pv: DataFrame, cents: Array[Array[Double]]): DataFrame =
    pv.crossJoin(broadcast(centroidsDf(pv.sparkSession, cents)))
      .withColumn("__d", dist2(col("__v"), col("__cv")))
      .groupBy(col("__id"))
      .agg(min_by(struct(col("__cell"), col("__v")),
        struct(col("__d"), col("__cell"))).as("__m"))
      .select(col("__id"), col("__m.__cell").as("__cell"), col("__m.__v").as("__v"))

  private def trainProjected(pv: DataFrame, nlist: Int,
                             iters: Int, portable: Boolean): Array[Array[Double]] = {
    val h = if (portable) sha2(col("__id").cast("string"), 256) else xxhash64(col("__id"))
    // ONE ordered top-k job serves seeding AND (when the corpus fits the
    // driver cap) the whole training set: the previous shape re-ran
    // (broadcast join + min_by shuffle + posexplode shuffle + collect) per
    // Lloyd iteration to produce nlist × dim doubles (guide §1.2: the
    // distributed algorithm first — an iteration whose working state is
    // kilobytes belongs on the driver). Same seeding order, same
    // assignment semantics (squared-L2, tie → smaller cell), same
    // empty-cell rule; only float summation order differs (hash order vs
    // partition order) — the same last-ulp tolerance the DuckDB oracle
    // twin already carries. Corpora past the cap keep the distributed
    // loop UNSAMPLED (the portable oracle replays full-corpus training,
    // and honest k-means wants the full data when it cannot fit a sample).
    val cap = math.max(nlist, Pq.trainCap)
    val ordered = pv
      .select(col("__v"), h.as("__h"), col("__id").as("__i"))
      .orderBy(col("__h"), col("__i")).limit(cap + 1)
      .collect().map(_.getSeq[Double](0).toArray)
    require(ordered.nonEmpty, "empty corpus")
    if (ordered.length <= cap) driverLloyd(ordered, nlist, iters)
    else {
      var cents = ordered.take(nlist)
      // the fallback loop re-reads the projected corpus once per iteration —
      // cache it for the loop's lifetime only (the caller's final assignment
      // reads the corpus afresh), as the pre-driver-Lloyd shape did
      pv.persist()
      try {
        for (_ <- 0 until iters) {
          val means = assignProjected(pv, cents)
            .select(col("__cell"), posexplode(col("__v")))
            .groupBy(col("__cell"), col("pos"))
            .agg(avg(col("col")).as("m"))
            .collect()
          val next = cents.map(_.clone())
          for (r <- means) next(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
          cents = next
        }
      } finally pv.unpersist()
      cents
    }
  }

  /** Lloyd iterations on the driver over an in-memory corpus: argmin cell by
    * squared L2 (left-to-right sum, tie → smaller cell — exactly
    * [[assignProjected]]'s min_by ordering), per-cell per-position means,
    * empty cells keep their previous centroid.
    */
  private def driverLloyd(sample: Array[Array[Double]], nlist: Int,
                          iters: Int): Array[Array[Double]] = {
    var cents = sample.take(nlist).map(_.clone())
    val dim = cents(0).length
    val rows = sample.filter(_.length == dim)
    for (_ <- 0 until iters) {
      val k = cents.length
      val sums = Array.ofDim[Double](k, dim)
      val counts = new Array[Long](k)
      for (v <- rows) {
        var best = 0
        var bestD = Double.PositiveInfinity
        var c = 0
        while (c < k) {
          val cw = cents(c)
          var d = 0.0
          var j = 0
          while (j < dim) { val x = v(j) - cw(j); d += x * x; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        val acc = sums(best)
        var j = 0
        while (j < dim) { acc(j) += v(j); j += 1 }
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c)))
    }
    cents
  }

  /** Lloyd iterations; empty cells keep their previous centroid. Collects
    * only `nlist × dim` aggregates per iteration (driver-tiny at any corpus
    * size). `portable = true` seeds from sha256-hex order of the id (instead
    * of xxhash64) so the whole training loop is replayable in DuckDB — the
    * same fast-path/portable twin pattern as minhash and the fingerprint;
    * both orders carry an id tiebreak so init is total regardless of hash
    * collisions.
    */
  def trainCentroids(
      df: DataFrame, vecCol: String, idCol: String,
      nlist: Int, iters: Int = 3, portable: Boolean = false): Array[Array[Double]] =
    trainProjected(projected(df, vecCol, idCol), nlist, iters, portable)

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
      nlist: Int = 16, iters: Int = 3, buckets: Int = 0,
      portable: Boolean = false): IvfIndex = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val pv = projected(corpus, vecCol, idCol)
    val cents = trainProjected(pv, nlist, iters, portable)
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
      cents.zipWithIndex.toSeq.map { case (v, i) => (i, v.toSeq) }.toDF("__cell", "__cv")
        .coalesce(1).write.mode("overwrite").format("parquet"), s"${table}_centroids")
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
    val v = Similarity.asDoubleVec(col(vecCol))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("__d").asc, col("__cell").asc)
    val q = queries.select(col(idCol).as("query_id"), v.as("__qv"))
      .crossJoin(broadcast(centroidsDf(spark, index.centroids)))
      .withColumn("__d", dist2(col("__qv"), col("__cv")))
      .withColumn("__pr", row_number().over(wProbe))
      .filter(col("__pr") <= nprobe)
      .select(col("query_id"), col("__qv"), col("__cell"))
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
      val scored = c.join(broadcast(q), Seq("__cell"))
        .filter(col("query_id") =!= col("nbr_id"))
        .withColumn("cosine", round(Similarity.cosine(col("__qv"), col("__cv")), 6))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("nbr_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("nbr_id"), col("cosine"))
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
      k: Int = 5, nlist: Int = 16, nprobe: Int = 4, iters: Int = 3,
      portable: Boolean = false): DataFrame = {
    // training is now ONE bounded collect (driver Lloyd) and assignment ONE
    // codegen'd map — the corpus is scanned exactly twice with no shuffle on
    // either pass, so the persist that amortized the old iters+1 re-reads
    // would only cost a materialization here.
    val pv = projected(corpus, vecCol, idCol)
    val cents = trainProjected(pv, nlist, iters, portable)
    val c = pv.select(col("__id").as("nbr_id"), col("__v").as("__cv"),
      graft.functions.AnnKernels.nearestCellCol(col("__v"), cents).as("__cell"))
      .filter(col("__cell").isNotNull)
    // query side: nprobe nearest cells via a window over the (tiny) broadcast
    // join — queries are small by contract, the window is per-query-local
    val v = Similarity.asDoubleVec(col(vecCol))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("__d").asc, col("__cell").asc)
    val q = queries.select(col(idCol).as("query_id"), v.as("__qv"))
      .crossJoin(broadcast(centroidsDf(queries.sparkSession, cents)))
      .withColumn("__d", dist2(col("__qv"), col("__cv")))
      .withColumn("__pr", row_number().over(wProbe))
      .filter(col("__pr") <= nprobe)
      .select(col("query_id"), col("__qv"), col("__cell"))
    // a corpus row lives in exactly one cell → (query, nbr) matches at most
    // once; no dedup needed
    // rank on the ROUNDED cosine (then id): the 6-decimal value is what any
    // two engines agree on, so near-ties cannot rank-swap vs the oracle
    val scored = c.join(broadcast(q), Seq("__cell"))
      .filter(col("query_id") =!= col("nbr_id"))
      .withColumn("cosine", round(Similarity.cosine(col("__qv"), col("__cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nbr_id"), col("cosine"))
      .localCheckpoint()
  }
}
