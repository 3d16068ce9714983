package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora. Scale design:
  *
  *  - exact: one hash-shuffle on the content digest; map-side partial agg.
  *  - near-duplicates (MinHash-LSH, SimHash, bottom-k n-gram Jaccard,
  *    embedding sign-LSH) share one candidate-pairs core
  *    ([[candidatePairs]]): candidate generation is a shuffle on small
  *    bucket keys — never an O(n²) cross join; the quadratic step runs only
  *    inside buckets, whose size is bounded w.h.p. At 100 TB the only caveat
  *    is degenerate buckets (boilerplate shingles) → cap bucket size and
  *    route the overflow to a lineage quarantine (see `maxBucket`). Each
  *    operator has one hash space, the one the DuckDB oracle replays
  *    (sha256-hex for text, seeded hyperplanes for embeddings).
  *  - pair canonicalization keeps (a < b) once, and connected components are
  *    approximated by min-id propagation within buckets (keep the min doc as
  *    canonical), which is the standard one-pass policy.
  */
object DedupOps {

  /** NO SILENT CAPS: count the rows a `maxBucket` cap drops (and how many
    * buckets overflowed — exactly the rows ranked cap+1) into the lineage
    * sidecar. One extra tiny aggregate over the already-persisted signature
    * frame, run only when a lineage sink is supplied; `numbered` is the
    * banded frame with its `__bn` within-bucket rank. The caller flushes.
    */
  private def recordCapStats(lin: graft.stream.Lineage, op: String,
                             numbered: DataFrame, maxBucket: Int): Unit = {
    val r = numbered.agg(
      coalesce(sum(when(col("__bn") > maxBucket, 1L)), lit(0L)),
      coalesce(sum(when(col("__bn") === maxBucket + 1, 1L)), lit(0L))).collect()(0)
    lin.recordOp(op, "rows_dropped_by_bucket_cap", r.getLong(0))
    lin.recordOp(op, "buckets_capped", r.getLong(1))
  }

  /** The candidate-pairs core of every banded near-duplicate operator.
    *
    * `docs` is the per-doc frame: `__id` plus signature columns. With
    * `persist` (the default) it is cached for its three uses (banding and
    * the two payload re-joins) and released before returning, even on
    * failure — no cached blocks leak across queries in a long-lived session.
    * A frame that is only a scan plus a cast is cheaper to read twice than
    * to cache: under AQE the cache build runs as Spark jobs of its own, and
    * the embedding operator measured 10 jobs per query cached against 8
    * uncached (perfbench `corpus_dedup`, 600 vectors, local[4]).
    *
    * `bucketKeys` bands the frame into one row per (doc, bucket): `__id`
    * plus the bucket-key columns. With `cap = Some((op, maxBucket))` each
    * bucket keeps its `maxBucket` smallest ids and the dropped rows are
    * counted into `lineage` under `op`.
    *
    * Pairs are formed on bare ids by one self-join on the bucket keys with
    * id_a < id_b, then deduped; only the deduped pair set gets the `payload`
    * columns joined back, once per side with suffix `_a` / `_b` — shipping
    * signatures or vectors through the bucket self-join made degenerate
    * buckets quadratically expensive. `verify` scores and filters those
    * rows, and the small result is materialized (localCheckpoint) before any
    * cache goes.
    */
  private def candidatePairs(
      docs: DataFrame, payload: Seq[String], bucketKeys: DataFrame => DataFrame,
      cap: Option[(String, Int)] = None,
      lineage: Option[graft.stream.Lineage] = None, persist: Boolean = true)(
      verify: DataFrame => DataFrame): DataFrame = {
    val d = if (persist) docs.persist() else docs
    try {
      val banded = bucketKeys(d)
      val keys = banded.columns.toSeq.filter(_ != "__id")
      val capped = cap.fold(banded) { case (op, maxBucket) =>
        val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__id"))
        val numbered = banded.withColumn("__bn", row_number().over(w))
        lineage.foreach(recordCapStats(_, op, numbered, maxBucket))
        numbered.filter(col("__bn") <= maxBucket)
      }
      def ids(side: String): DataFrame =
        capped.select(keys.map(col) :+ col("__id").as(s"id_$side"): _*)
      val pairs = ids("a").join(ids("b"), keys).filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
      def withPayload(side: String): DataFrame =
        d.select(col("__id").as(s"id_$side") +:
          payload.map(c => col(c).as(s"${c}_$side")): _*)
      verify(pairs.join(withPayload("a"), "id_a").join(withPayload("b"), "id_b"))
        .localCheckpoint()
    } finally if (persist) d.unpersist()
  }

  /** Exact dedup (hash-groupBy on sha2 of content): returns survivors —
    * the min-id row per digest. Window over digest; salting unnecessary
    * because identical docs are rare per digest (and bounded).
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("__digest")).orderBy(col(idCol))
    df.withColumn("__digest", sha2(col(textCol), 256))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__digest")
  }

  /** MinHash signature in a hash space DuckDB can replicate bit-for-bit:
    * the per-permutation hashes are 8-hex-char WINDOWS of `sha256(s) ‖
    * sha256(s + "#") ‖ sha256(s + "##") ‖ …` — h_i(s) = combined[i*8 ..
    * i*8+8) — so ceil(numHashes/8) sha256 calls per shingle instead of
    * numHashes+1 (the previous `sha256("i:" + base)` chain cost 17 digests
    * per shingle at numHashes=16 and measured 33× slower at sf0.1). Min is
    * over 8-hex strings: same lexicographic order in both engines, and
    * sha256's bits are independent, so distinct windows behave as
    * independent hash functions.
    *
    * Evaluated by a native codegen kernel
    * ([[graft.functions.MinhashSigPortable]]) in ONE traversal of the
    * shingle array, asserted exactly equal to the interpreted HOF fold in
    * MinhashParitySpec; the fold paid per-element lambda dispatch plus an
    * intermediate window array per shingle.
    */
  def minhashSignature(text: Column, shingleK: Int, numHashes: Int): Column =
    graft.functions.MinhashSigPortable.column(TextOps.shingles(text, shingleK), numHashes)

  /** MinHash LSH candidate pairs with estimated Jaccard ≥ `threshold`.
    * bands × rowsPerBand = numHashes; a band's bucket is the first 16 hex
    * chars of sha256("band|" + its signature slice); est = fraction of
    * matching signature positions. Returns (id_a, id_b, est_jaccard) with
    * id_a < id_b. Buckets over `maxBucket` docs are capped (see
    * [[candidatePairs]]).
    */
  def minhashLshPairs(
      df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucket: Int = 1000,
      lineage: Option[graft.stream.Lineage] = None): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    def bucketOf(b: Column): Column =
      substring(sha2(concat(b.cast("string"), lit("|"),
        array_join(slice(col("__sig"), b * rows + 1, lit(rows)), ",")), 256), 1, 16)
    val est = size(filter(zip_with(col("__sig_a"), col("__sig_b"), (x, y) => x === y),
      m => m)).cast("double") / numHashes
    candidatePairs(
      df.select(col(idCol).as("__id"),
        minhashSignature(col(textCol), shingleK, numHashes).as("__sig")),
      payload = Seq("__sig"),
      bucketKeys = _.select(col("__id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)), bucketOf(_)))
          .as(Seq("__band", "__bucket"))),
      cap = Some(("minhash_lsh", maxBucket)), lineage = lineage) {
      _.withColumn("est_jaccard", round(est, 4))
        .filter(col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    }
  }

  /** SimHash near-dup pairs in a hash space DuckDB can replicate: per-token
    * bit votes come from the first 16 hex chars (64 bits) of sha256(token) —
    * each nibble contributes 4 MSB-first ±1 votes — and fingerprint bit b =
    * (vote sum > 0). The 64 bits are banded into `bands` equal-width slices;
    * by pigeonhole, any pair at Hamming distance ≤ bands-1 shares at least
    * one identical band, so the candidate stage has GUARANTEED recall for
    * `maxHamming < bands` — then exact Hamming ≤ `maxHamming` on candidates.
    * The ENTIRE pipeline (votes → bits → band buckets → pairs → Hamming
    * filter) replays in the SQL oracle.
    *
    * The recall/bucket-width dial: more bands → narrower band keys (64/bands
    * bits) → coarser buckets → more candidate pairs. `require` enforces the
    * contract instead of silently returning an incomplete pair set.
    */
  def simhashPairsPortable(
      df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    require(64 % bands == 0, s"bands must divide 64, got $bands")
    require(bands >= 2, "bands must be >= 2 (band values are folded into a long)")
    require(maxHamming < bands,
      s"banding guarantees recall only for hamming < bands: maxHamming=$maxHamming needs > $maxHamming bands")
    val width = 64 / bands
    // native codegen kernel for the sha256-nibble ±1 vote fold → 64 bits
    // (asserted exactly equal to the HOF formulation in MinhashParitySpec;
    // the interpreted fold paid a 64-element zip_with per token)
    val bits = graft.functions.SimhashBitsPortable.column(
      TextOps.wordTokens(col(textCol)))
    // band value = MSB-first fold of the band's bit slice (injective within
    // an engine is all a join key needs; width ≤ 32 keeps the fold in-range)
    def bandVal(b: Column): Column =
      aggregate(slice(col("__bits"), b * width + 1, lit(width)),
        lit(0L), (acc, x) => acc * 2 + x)
    val ham = size(filter(zip_with(col("__bits_a"), col("__bits_b"),
      (x, y) => x =!= y), m => m))
    candidatePairs(
      df.select(col(idCol).as("__id"), bits.as("__bits")),
      payload = Seq("__bits"),
      bucketKeys = _.select(col("__id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)), bandVal(_)))
          .as(Seq("__band", "__bucket")))) {
      _.withColumn("hamming", ham.cast("int"))
        .filter(col("hamming") <= maxHamming)
        .select("id_a", "id_b", "hamming")
    }
  }

  /** Exact n-gram Jaccard on bottom-k-sketch candidates. Candidate stage:
    * two docs are candidates iff their `bottomK` smallest shingle hashes
    * intersect (the classic bottom-k minhash sketch) — for true Jaccard j
    * the first collision probability is ≈ 1-(1-j)^k per shared element, far
    * higher near the threshold than banded rows^-amplification, and it costs
    * ONE hash per shingle (a banded signature pays numHashes per shingle).
    *
    * Verification: jac = |A∩B| / |A∪B| over the 16-hex (64-bit) shingle-HASH
    * sets — already computed for the sketch, so the whole pipeline hashes
    * each shingle exactly once, and the verify join ships fixed-width hash
    * arrays instead of raw shingle strings. Set semantics are identical to
    * raw-shingle Jaccard unless two distinct shingles collide in 64 bits:
    * P ≈ n²/2^65 per doc (n = shingles/doc; at n = 10^6 still < 10^-7), and
    * a collision only perturbs |A∩B|/|A∪B| by ±1 element. The per-doc hash
    * arrays are computed ONCE into the persisted per-doc frame — the naive
    * composition re-evaluated the tokenize→shingle→hash subtree in every
    * downstream stage (interpreted-HOF re-inlining, ~3× the whole query's
    * cost).
    */
  def ngramJaccardPairs(
      df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, threshold: Double = 0.5,
      bottomK: Int = 8, maxBucket: Int = 1000,
      lineage: Option[graft.stream.Lineage] = None): DataFrame = {
    // ONE codegen'd hashing pass per doc (graft.functions.NgramSketch): the
    // bottom-k DISTINCT hex16 bucket keys plus the full distinct hash set as
    // SORTED SIGNED LONGS (bijective reparse of the same 64-bit values, so
    // set sizes — and therefore Jaccard — are exactly the oracle's hex-set
    // numbers). Replaces the interpreted transform(sha2) → array_sort →
    // array_distinct chain (guide §4: no interpreted HOFs on the hot path);
    // the distinct only collapses 64-bit collisions (≈ n²/2^65 per doc).
    // Verify then runs |A∩B| as a merge walk over the sorted long arrays and
    // |A∪B| = |A| + |B| − |A∩B| — no per-pair hash sets or union arrays.
    val hs = df.select(col(idCol).as("__id"),
      graft.functions.NgramSketch.column(
        TextOps.shingles(col(textCol), shingleK), bottomK).as("__sk"))
      .select(col("__id"),
        col("__sk").getField("bottom").as("__hb"),
        col("__sk").getField("hl").as("__hl"))
    val inter = graft.functions.SortedLongIntersectSize.column(
      col("__hl_a"), col("__hl_b"))
    // size prefilter (classic set-similarity length filter): jac ≥ t implies
    // min(|A|,|B|) ≥ t·max(|A|,|B|) (intersect ≤ min, union ≥ max), so a
    // size-skewed pair can be dropped before any per-element work — sound,
    // output-identical
    val sizeOk =
      size(col("__hl_a")).cast("double") >= lit(threshold) * size(col("__hl_b")) &&
      size(col("__hl_b")).cast("double") >= lit(threshold) * size(col("__hl_a"))
    candidatePairs(hs, payload = Seq("__hl"),
      bucketKeys = _.select(col("__id"), explode(col("__hb")).as("__bucket")),
      cap = Some(("ngram_jaccard", maxBucket)), lineage = lineage) {
      _.filter(sizeOk)
        .withColumn("jaccard", round(inter.cast("double") /
          (size(col("__hl_a")) + size(col("__hl_b")) - inter), 4))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    }
  }

  /** Canonicalize near-duplicate clusters: every doc appearing in a pair is
    * labeled with the MIN doc id of its connected component — the standard
    * keep-one-canonical policy applied after candidate/verify pair
    * generation.
    *
    * Distributed min-label propagation WITH POINTER DOUBLING: labels start
    * as each node's own id; each round a node takes the min of its own
    * label, its neighbors' labels, and its label's label (the shortcutting
    * step — each node's pointer chain roughly halves per round, the
    * large-star/small-star idea), so convergence is O(log n) rounds even on
    * chain-shaped components where plain propagation needs O(diameter).
    * Fixpoint (min id of the connected component) is identical; fixpoint
    * when zero labels change. Each round is two shuffles on node id, and
    * labels are localCheckpoint'ed so the plan never grows with iteration
    * count (the classic iterative-lineage blowup).
    */
  def canonicalClusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                        maxIters: Int = 20): DataFrame = {
    // materialize the pair set ONCE before mirroring it: both union branches
    // reference `pairs`, and an expensive upstream (e.g. a blocked similarity
    // self-join) would otherwise execute twice when exchange reuse misses
    val p = pairs.select(col(idA).as("src"), col(idB).as("dst")).localCheckpoint()
    // DRIVER FAST PATH: the edge set is the DUPLICATE-PAIR graph — small
    // relative to the corpus by construction (near-dup pairs only, already
    // capped upstream). Under a bounded edge budget, run exact union-find on
    // the driver (min-id representative = the same fixpoint as min-label
    // propagation; string ids compare in UTF-8 byte order exactly like
    // Spark's `min`) instead of paying (2 joins + shortcut join +
    // localCheckpoint + convergence count) Spark jobs PER DOUBLING ROUND
    // (guide §1.2 / §5: O(edges) driver state with a hard cap). Larger edge
    // sets keep the distributed pointer-doubling loop below.
    // default sized so the collected boxed rows + the 2×-entry parent map
    // stay well inside a modest driver heap (~tens of MB, not the ~GB a 2M
    // default risked); env-tunable for drivers with more headroom. Null ids
    // (never produced by the upstream pair generators, but possible for
    // library callers) fall through to the distributed loop, which carries
    // them like any other value instead of NPE-ing in the comparator.
    val ccCap = sys.env.getOrElse("GRAFT_CC_DRIVER_CAP", "500000").toInt
    val probe = p.limit(ccCap + 1).collect()
    if (probe.length <= ccCap && !probe.exists(r => r.isNullAt(0) || r.isNullAt(1))) {
      val spark = pairs.sparkSession
      val idType = p.schema.head.dataType
      val cmp: (Any, Any) => Int = idType match {
        case org.apache.spark.sql.types.StringType =>
          // unsigned UTF-8 byte order — exactly Spark's string min/least
          (a, b) => {
            val x = a.asInstanceOf[String].getBytes("UTF-8")
            val y = b.asInstanceOf[String].getBytes("UTF-8")
            val n = math.min(x.length, y.length)
            var i = 0
            var r = 0
            while (i < n && r == 0) { r = (x(i) & 0xff) - (y(i) & 0xff); i += 1 }
            if (r != 0) r else x.length - y.length
          }
        case _ =>
          (a, b) => java.lang.Long.compare(
            a.asInstanceOf[Number].longValue, b.asInstanceOf[Number].longValue)
      }
      val parent = new java.util.HashMap[Any, Any]()
      def find(x: Any): Any = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      probe.foreach { r =>
        val (a, b) = (r.get(0), r.get(1))
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          // min-id representative keeps the exact min-label fixpoint
          if (cmp(ra, rb) <= 0) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      import scala.jdk.CollectionConverters._
      val rows: java.util.List[org.apache.spark.sql.Row] =
        parent.keySet().asScala.toSeq
          .map(id => org.apache.spark.sql.Row(id, find(id))).asJava
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", idType, nullable = false),
        org.apache.spark.sql.types.StructField("canonical_id", idType, nullable = false)))
      return spark.createDataFrame(rows, schema)
    }
    val edges = p
      .union(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    // convergence = zero labels changed this round: type-agnostic (string ids
    // work), null-safe on empty edge sets (count of an empty frame is 0, where
    // a sum-of-labels fixpoint NPE'd on the null aggregate), and a component
    // needing more than maxIters doubling rounds (> 2^maxIters nodes) FAILS
    // LOUDLY instead of silently returning unconverged canonical ids
    var it = 0
    var converged = labels.isEmpty
    while (!converged && it < maxIters) {
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("label")).as("__nbr"))
      val viaNbr = labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(col("id"), col("label").as("__old"),
          least(col("label"), coalesce(col("__nbr"), col("label"))).as("__m"))
      // shortcut: label ← min(label, label-of-label)
      val l2 = labels.select(col("id").as("__lid"), col("label").as("__llab"))
      val next = viaNbr.join(l2, col("__m") === col("__lid"), "left")
        .select(col("id"), col("__old"),
          least(col("__m"), coalesce(col("__llab"), col("__m"))).as("label"))
        .localCheckpoint()
      converged = next.filter(col("label") =!= col("__old")).isEmpty
      labels = next.drop("__old")
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"canonicalClusters did not converge in $maxIters rounds " +
          "(component diameter exceeds maxIters); raise maxIters")
    labels.select(col("id").as("doc_id"), col("label").as("canonical_id"))
  }

  /** Candidate recall of (planes, tables) sign-LSH for a pair at cosine `t`:
    * per-plane agreement p = 1 - acos(t)/π (Goemans-Williamson), recall =
    * 1 - (1 - p^planes)^tables (OR-amplification across tables).
    */
  def signLshRecall(threshold: Double, planes: Int, tables: Int): Double = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    1.0 - math.pow(1.0 - math.pow(p, planes), tables)
  }

  /** Largest plane count whose candidate recall at `threshold` still meets
    * `minRecall` with `tables` OR-amplified tables (more planes = finer
    * buckets = cheaper verification, at the cost of recall — this picks the
    * cheapest geometry that honors the contract). Capped at 31 so bucket ids
    * pack into the low 32 bits of a long.
    */
  def signLshPlanesFor(threshold: Double, tables: Int, minRecall: Double): Int = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    val perTable = 1.0 - math.pow(1.0 - minRecall, 1.0 / tables)
    val planes = math.floor(math.log(perTable) / math.log(p)).toInt
    math.max(1, math.min(31, planes))
  }

  /** Embedding-cosine near-dup pairs via sign-LSH bucketing; exact cosine on
    * candidates only (see Similarity.cosine). Pairing runs on bare 8-byte ids
    * — a degenerate bucket goes quadratic in ids, not in vector payload — and
    * the (small) deduped candidate set re-joins the vectors for scoring.
    *
    * HONEST RECALL CONTRACT: `planes = 0` (default) derives the plane count
    * from the threshold so candidate recall for a pair AT the threshold is ≥
    * `minRecall`; an explicit `planes` is REJECTED if its geometry cannot
    * deliver `minRecall` at the threshold (the silent-recall-gap failure
    * mode: 12 planes × 8 tables at threshold 0.3 has recall ≈ 2%). Low
    * thresholds necessarily buy coarse buckets and a near-quadratic verify
    * stage — that cost is inherent to sign-LSH, not a tuning knob; below
    * cosine ~0.5 prefer an exact blocked join or IVF-cell candidates.
    */
  def embeddingNearDupPairs(
      df: DataFrame, vecCol: String, idCol: String,
      threshold: Double = 0.95, planes: Int = 0, tables: Int = 8,
      seed: Long = 42L, minRecall: Double = 0.9): DataFrame = {
    val usePlanes =
      if (planes <= 0) signLshPlanesFor(threshold, tables, minRecall)
      else planes
    val achieved = signLshRecall(threshold, usePlanes, tables)
    require(achieved >= minRecall - 1e-9,
      f"sign-LSH geometry (planes=$usePlanes, tables=$tables) has candidate " +
        f"recall $achieved%.3f < $minRecall%.2f for pairs at cosine $threshold%.2f; " +
        "use fewer planes / more tables (or planes=0 to derive)")
    candidatePairs(
      df.select(col(idCol).as("__id"), Similarity.asDoubleVec(col(vecCol)).as("__v")),
      payload = Seq("__v"),
      bucketKeys = Similarity.signBucketsMulti(_, "__v", "__id", usePlanes, tables, seed)
        .select("__id", "__bucket"),
      persist = false) {
      _.withColumn("cosine", round(Similarity.cosine(col("__v_a"), col("__v_b")), 6))
        .filter(col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    }
  }
}
