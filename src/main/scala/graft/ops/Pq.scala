package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VecOps.vecNormalize

/** Product quantization (PQ) approximate nearest neighbor — the
  * compressed-domain scale path next to IVF ([[Ivf]]) and sign-LSH
  * ([[Similarity.lshTopK]]), after Jégou/Douze/Schmid, "Product Quantization
  * for Nearest Neighbor Search" (TPAMI 2011): the vector splits into `m`
  * subspaces, each sub-vector quantizes to its nearest codeword in a
  * per-subspace codebook of `ksub` centroids, and the corpus is ENCODED as
  * m small integer codes per vector. Search scans the codes with a
  * per-query ADC (asymmetric distance computation) lookup table instead of
  * raw vectors, shortlists, then exactly reranks the shortlist on the
  * original vectors.
  *
  * Scale shape (why PQ exists): at 10^9 × 64-dim float32 the raw corpus is
  * 256 GB; m=16 codes are 16 GB. The ADC scan is one narrow pass over the
  * codes against a BROADCAST per-query lookup table (m × ksub doubles per
  * query), no vectors move, no shuffle before the per-query top window; only
  * shortlist × queries original vectors are read back for the rerank.
  * Training runs ALL m subspaces jointly in the quantizer trainer IVF
  * shares ([[Lloyd]]): on the driver up to `GRAFT_ANN_TRAIN_CAP` rows, one
  * Spark job per iteration over the whole corpus past it.
  *
  * Determinism: codebooks seed from the sha256 order of the row id (the
  * same seeding as IVF), assignments tiebreak on the smaller code
  * id, and the ADC sum folds the codes array LEFT-TO-RIGHT in one codegen'd
  * expression (a groupBy float sum would re-associate nondeterministically);
  * rerank uses the rounded-cosine + id ordering of
  * [[Similarity.bruteForceTopK]].
  *
  * Rank fidelity: vectors are L2-NORMALIZED before encoding — for unit
  * vectors ‖a−b‖² = 2 − 2·cos(a,b), so ADC's squared-L2 ordering targets
  * exactly the cosine ordering the brute force uses; recall is the only
  * approximation, dialed by `shortlist` (and the code budget m × log2 ksub).
  */
object Pq {

  /** Per-subspace codebooks: `books(s)(code)` is a subDim-wide centroid of
    * the unit-normalized corpus's s-th sub-vector distribution.
    */
  final case class PqModel(dim: Int, m: Int, books: Array[Array[Array[Double]]]) {
    def subDim: Int = dim / m
    def ksub: Int = books.head.length
  }

  /** (id, unit-normalized double vec) projection shared by train/encode. */
  private def projected(df: DataFrame, vecCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("__id"),
      vecNormalize(Similarity.asDoubleVec(col(vecCol))).as("__v"))

  /** Codebooks as a broadcastable (subspace, code, centroid) frame. */
  private def booksDf(spark: org.apache.spark.sql.SparkSession,
                      books: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    (for {
      (book, s) <- books.zipWithIndex
      (cv, c) <- book.zipWithIndex
    } yield (s, c, cv.toSeq)).toSeq.toDF("__s", "__code", "__bv")
  }

  /** Train all m sub-codebooks jointly with [[Lloyd.train]]: seeds are the
    * first ksub rows in (sha256(id), id) order, and a corpus past
    * `GRAFT_ANN_TRAIN_CAP` trains over every row, distributed, rather than
    * on a sample. Rows that are not exactly `dim` wide or carry a NaN (a
    * zero vector normalizes to NaN) do not train.
    */
  def train(corpus: DataFrame, vecCol: String, idCol: String, dim: Int,
            m: Int = 16, ksub: Int = 64, iters: Int = 4): PqModel = {
    require(dim % m == 0, s"dim $dim does not split into $m subspaces")
    require(ksub >= 2, "ksub must be at least 2")
    PqModel(dim, m, Lloyd.train(projected(corpus, vecCol, idCol), Some(dim), m, ksub, iters))
  }

  /** Encode the corpus: one row per vector, `codes` = the m nearest-codeword
    * ids in subspace order — the compressed representation the ADC scan
    * reads (persist it to search many times without re-encoding). ONE
    * codegen'd map over the corpus ([[graft.functions.AnnKernels.pqEncode]],
    * codebooks as a plan reference object): the previous explode → broadcast
    * join → two-shuffle groupBy shape moved m rows per vector through two
    * exchanges to compute a per-row argmin (guide §2.4 — a map-side
    * computable value needs no shuffle at all).
    */
  def encode(corpus: DataFrame, vecCol: String, idCol: String,
             model: PqModel): DataFrame = {
    val pv = projected(corpus, vecCol, idCol)
    pv.select(col("__id"),
        graft.functions.AnnKernels.pqEncodeCol(col("__v"), model.books).as("codes"))
      .filter(col("codes").isNotNull)
  }

  /** ADC search + exact rerank over [[encode]]'s output. Per query the
    * driver precomputes the m × ksub sub-distance table from the collected
    * query vectors (queries are small by contract — the same broadcast trade
    * as [[Similarity.bruteForceTopK]]); the corpus side is ONE narrow pass:
    * codes ⨯ broadcast tables, ADC as a left-to-right codegen'd fold over
    * the codes array (deterministic, no re-associated float sum, no
    * pre-window shuffle), per-query shortlist window, then the exact
    * rounded-cosine rerank on shortlist × queries original vectors. Output
    * shape and ordering match [[Similarity.bruteForceTopK]] exactly whenever
    * the shortlist recalls the true top-k.
    */
  def adcTopK(codes: DataFrame, corpus: DataFrame, queries: DataFrame,
              vecCol: String, idCol: String, model: PqModel,
              k: Int = 5, shortlist: Int = 128): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    val subDim = model.subDim
    val qvecs = projected(queries, vecCol, idCol)
      .select(col("__id").cast("long"), col("__v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val luts = qvecs.toSeq.map { case (qid, qv) =>
      val t: Seq[Seq[Double]] = (0 until model.m).map { s =>
        model.books(s).toSeq.map { cv =>
          var d = 0.0
          var i = 0
          while (i < subDim) {
            val x = qv(s * subDim + i) - cv(i); d += x * x; i += 1
          }
          d
        }
      }
      (qid, t)
    }
    val lutDf = luts.toDF("query_id", "__lut")
    // ADC as the native codegen'd kernel (AnnKernels.adc — same left-to-right
    // fold; the HOF zip_with/aggregate form paid interpreted lambdas plus an
    // intermediate array per (row, query) pair)
    val adc = codes.crossJoin(broadcast(lutDf))
      .filter(col("query_id") =!= col("__id"))
      .withColumn("__adc",
        graft.functions.AnnKernels.adcCol(col("codes"), col("__lut")))
    val wShort = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").asc, col("__id").asc)
    val short = adc.withColumn("__r", row_number().over(wShort))
      .filter(col("__r") <= shortlist)
      .select(col("query_id"), col("__id").as("nbr_id"))
    val c = corpus.select(col(idCol).as("nbr_id"),
      Similarity.asDoubleVec(col(vecCol)).as("__cv"))
    val q = queries.select(col(idCol).as("query_id"),
      Similarity.asDoubleVec(col(vecCol)).as("__qv"))
    // the shortlist (≤ shortlist × queries id pairs) BROADCASTS into the
    // corpus-vector scan — the join must never shuffle the corpus vectors by
    // nbr_id (guide §3.1/§2.3: broadcast the provably tiny side; the rerank
    // reads exactly shortlist × queries vectors either way)
    Similarity.topKByCosine(
      c.join(broadcast(short), Seq("nbr_id")).join(broadcast(q), Seq("query_id")), k)
  }

  /** One-shot train → encode → search (the index-free convenience twin;
    * persist [[encode]]'s output to search many times without re-encoding).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
             idCol: String, dim: Int, k: Int = 5, m: Int = 16, ksub: Int = 64,
             iters: Int = 4, shortlist: Int = 128): DataFrame = {
    val model = train(corpus, vecCol, idCol, dim, m, ksub, iters)
    // encode is now a shuffle-free codegen map consumed exactly once by the
    // ADC pass — caching it bought nothing and cost a materialization
    val codes = encode(corpus, vecCol, idCol, model)
    adcTopK(codes, corpus, queries, vecCol, idCol, model, k, shortlist)
      .localCheckpoint()
  }

  /** A trained, persisted PQ index: `table` holds the encoded corpus (one
    * narrow (id, codes) row per vector — the 16-bytes-per-vector artifact
    * the ADC scan reads) and `table_books` the m × ksub sub-codebooks.
    * Train once, probe many: at the 10^9-vector design point training and
    * encoding are one batch job, and every later search pays only the
    * compressed-code pass + the shortlist rerank — no Lloyd iterations, no
    * full-vector corpus scan before the rerank.
    */
  final case class PqIndex(table: String, model: PqModel)

  /** Train + encode + persist. Codes land as a managed parquet table,
    * codebooks next to it, so a later session can [[loadIndex]] and probe
    * without retraining or re-encoding.
    */
  def buildIndex(corpus: DataFrame, vecCol: String, idCol: String, dim: Int,
                 table: String, m: Int = 16, ksub: Int = 64,
                 iters: Int = 4): PqIndex = {
    val spark = corpus.sparkSession
    val model = train(corpus, vecCol, idCol, dim, m, ksub, iters)
    graft.kernel.Bucketing.dropManaged(spark, table)
    graft.kernel.Bucketing.withLocation(
      encode(corpus, vecCol, idCol, model)
        .write.mode("overwrite").format("parquet"), table)
      .saveAsTable(table)
    graft.kernel.Bucketing.dropManaged(spark, s"${table}_books")
    graft.kernel.Bucketing.withLocation(
      booksDf(spark, model.books)
        .coalesce(1).write.mode("overwrite").format("parquet"), s"${table}_books")
      .saveAsTable(s"${table}_books")
    PqIndex(table, model)
  }

  /** Reload a persisted index (no retraining, no corpus scan). Geometry
    * comes back from the books table itself: m = subspace count, subDim =
    * centroid width, dim = m × subDim.
    */
  def loadIndex(spark: org.apache.spark.sql.SparkSession, table: String): PqIndex = {
    val rows = spark.table(s"${table}_books")
      .orderBy(col("__s"), col("__code")).collect()
    require(rows.nonEmpty, s"empty PQ books table ${table}_books")
    val books = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
      rs.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray).toArray
    }.toArray
    val m = books.length
    val dim = m * books.head.head.length
    PqIndex(table, PqModel(dim, m, books))
  }

  /** Search a persisted index: the ADC pass reads the narrow codes table
    * instead of re-encoding; `corpus` supplies only the original vectors
    * for the exact shortlist rerank. Output shape matches [[pqTopK]], and
    * for the same (corpus, params) the results are identical —
    * train-once/probe-many changes where the work happens, not the answer.
    */
  def probeTopK(index: PqIndex, corpus: DataFrame, queries: DataFrame,
                vecCol: String, idCol: String, k: Int = 5,
                shortlist: Int = 128): DataFrame =
    adcTopK(corpus.sparkSession.table(index.table), corpus, queries,
      vecCol, idCol, index.model, k, shortlist)
}
