package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Scale design: brute-force top-k broadcasts the (small) query set and
  * streams the corpus — one pass, no shuffle on the corpus, a per-partition
  * top-k then a tiny global top-k (the classic map-side TopK). The LSH
  * variant buckets by random-hyperplane sign signature so each query only
  * scores its bucket — the recall/latency dial is `planes` (and probing
  * neighboring buckets, not needed at sandbox scale).
  */
object Similarity {

  /** Exact cosine similarity between two double arrays via the native
    * codegen'd [[graft.functions.DotProduct]] kernel (whole-stage codegen,
    * no per-row intermediate arrays; bit-identical to the previous
    * zip_with+aggregate fold — same left-to-right summation order).
    */
  def cosine(a: Column, b: Column): Column = {
    import graft.functions.VecOps.vecDot
    vecDot(a, b) / (sqrt(vecDot(a, a)) * sqrt(vecDot(b, b)))
  }

  /** Cast an array<float>/array<numeric> embedding to array<double>. */
  def asDoubleVec(c: Column): Column = transform(c, x => x.cast("double"))

  /** Embedding width, probed from the data (schemas carry no fixed array
    * length): the MOST COMMON vector width, ties broken by the larger width —
    * deterministic (the previous limit(1) probe depended on which partition
    * returned first, so WHICH rows [[filterDim]] silently dropped was a race),
    * null-safe (a clear error instead of an NPE on a null vector), and robust:
    * a ragged/corrupt minority loses the vote instead of defining the dim.
    * One narrow aggregate scan, driver receives a single int; at real scale
    * callers that know the declared dim should not need a probe at all.
    */
  def embeddingDim(df: DataFrame, vecCol: String): Int = {
    val rows = df.select(size(col(vecCol)).as("__d")).filter(col("__d").isNotNull)
      .groupBy(col("__d")).agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("__d").desc).limit(1).collect()
    require(rows.nonEmpty,
      s"cannot infer embedding dim of $vecCol: empty input or all-null vectors")
    rows(0).getInt(0)
  }

  private def filterDim(df: DataFrame, vecCol: String, dim: Int): DataFrame =
    df.filter(size(col(vecCol)) === dim)

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself). Query side must be small (broadcast).
    * Ranks order on the ROUNDED cosine (then id): the emitted 6-decimal value
    * is what any two engines agree on, so near-ties cannot rank-swap against
    * an oracle that sums floats in a different order.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, vecCol: String, idCol: String,
      k: Int = 5): DataFrame = {
    val c = corpus.select(col(idCol).as("nbr_id"), asDoubleVec(col(vecCol)).as("__cv"))
    val q = queries.select(col(idCol).as("query_id"), asDoubleVec(col(vecCol)).as("__qv"))
    topKByCosine(c.crossJoin(broadcast(q)).filter(col("query_id") =!= col("nbr_id")), k)
  }

  /** The top-k tail every vector search ends in: over scored candidate
    * pairs `(query_id, nbr_id, __qv, __cv)`, the `k` best per query by
    * `round(cosine, 6)` desc then `nbr_id`, as `(query_id, rank, nbr_id,
    * cosine)`. Brute force, sign-LSH, IVF and PQ all rank through it.
    */
  def topKByCosine(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    scored.withColumn("cosine", round(cosine(col("__qv"), col("__cv")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nbr_id"), col("cosine"))
  }

  /** Deterministic random hyperplanes: planes × dim, seeded. Small constant
    * literal shipped in the plan (dim ≤ a few hundred).
    */
  def hyperplanes(planes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(planes, dim)(rnd.nextGaussian())
  }

  /** Multi-table sign-LSH (OR-amplification): `tables` independent plane sets;
    * a row lands in one bucket per table (bucket id namespaced by table).
    * Recall ≈ 1-(1-p^planes)^tables for per-plane agreement p — the standard
    * dial at scale: more tables = more recall, linearly more shuffle volume.
    * Output is exploded: one (id, vec, bucket) row per table.
    */
  def signBucketsMulti(df: DataFrame, vecCol: String, idCol: String,
                       planes: Int, tables: Int, seed: Long,
                       knownDim: Option[Int] = None): DataFrame = {
    val dim = knownDim.getOrElse(embeddingDim(df, vecCol))
    // stage the cast vector as a real column FIRST: a multi-use non-cheap
    // alias survives CollapseProject, where the inline form re-evaluated the
    // array<float>→array<double> transform once per plane per table (48× at
    // the default 6×8 geometry) through interpreted-HOF re-inlining
    val staged = filterDim(df, vecCol, dim)
      .select(col(idCol).as("__id"), asDoubleVec(col(vecCol)).as("__v"))
    // ALL tables' buckets from one codegen kernel call per row
    // ([[graft.functions.AnnKernels.signBuckets]]): the previous
    // tables × planes tree of vecDot/when/bitwiseOR expressions compiled to
    // a janino-heavy generated class and paid 48+ kernel calls per row —
    // bit-identical fold order, so buckets are unchanged (guide §1.2
    // per-task work; the parity spec pins kernel == expression-tree).
    val planesAll = Array.tabulate(tables)(t => hyperplanes(planes, dim, seed + 1000L * t))
    staged.select(col("__id"), col("__v"),
      explode(graft.functions.AnnKernels.signBucketsCol(
        col("__v"), planesAll, 32)).as("__bucket"))
  }

  /** LSH-bucketed ANN top-k: score only within the query's bucket. Returns
    * the same shape as bruteForceTopK; recall < 1 by construction — measured
    * against brute force in the test suite.
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame, vecCol: String, idCol: String,
      k: Int = 5, planes: Int = 8, tables: Int = 8, seed: Long = 42L,
      knownDim: Option[Int] = None): DataFrame = {
    // probe the dim ONCE (on the corpus) and share it with the query side:
    // the probe is a full narrow aggregate scan, not something to pay twice —
    // callers that know the declared dim pass it and pay nothing
    val dim = Some(knownDim.getOrElse(embeddingDim(corpus, vecCol)))
    // candidate generation on BARE IDS: the (query, nbr) dedup is an
    // aggregate shuffle, and shipping both vectors through it multiplied its
    // bytes by ~2 × dim × 8 per candidate (guide §2.3 — decide with keys,
    // attach payloads after). Vectors re-join only for the deduped candidate
    // set: the tiny pair set broadcasts into the corpus-vector scan, and the
    // query vectors broadcast as before — no shuffle ever carries a vector.
    val c = signBucketsMulti(corpus, vecCol, idCol, planes, tables, seed, dim)
      .select(col("__bucket"), col("__id").as("nbr_id"))
    val q = signBucketsMulti(queries, vecCol, idCol, planes, tables, seed, dim)
      .select(col("__bucket"), col("__id").as("query_id"))
    // materialize the deduped candidate set ONCE (localCheckpoint — the
    // same lineage-cut the ngram/PQ paths use; blocks are reaped when the
    // frame is unreferenced)
    val cand = c.join(broadcast(q), Seq("__bucket"))
      .filter(col("query_id") =!= col("nbr_id"))
      .dropDuplicates("query_id", "nbr_id")
      .localCheckpoint()
    // The candidate set is id pairs only, but it is NOT bounded by
    // construction (degenerate embeddings can put most of the corpus in one
    // bucket, making it O(|corpus| × |queries|)) — and a broadcast relation
    // is non-spillable with a hard size cap. So COUNT the materialized set
    // (one cheap job over the checkpoint) and broadcast only under a bounded
    // budget; past it, fall back to a plain shuffled join, which spills
    // gracefully (guide §3.1: broadcasts are for sides you can PROVE small).
    val bcastMax = sys.env.getOrElse("GRAFT_ANN_BCAST_CAND_MAX", "2000000").toLong
    val candSide = if (cand.count() <= bcastMax) broadcast(cand) else cand
    val cvecs = filterDim(corpus, vecCol, dim.get)
      .select(col(idCol).as("nbr_id"), asDoubleVec(col(vecCol)).as("__cv"))
    val qvecs = filterDim(queries, vecCol, dim.get)
      .select(col(idCol).as("query_id"), asDoubleVec(col(vecCol)).as("__qv"))
    topKByCosine(cvecs.join(candSide, Seq("nbr_id")).join(broadcast(qvecs), Seq("query_id")), k)
  }
}
