package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.functions.SimhashBitsPortable

class TextOpsSpec extends SparkSuite {
  import spark.implicits._

  test("token counts: whitespace and BPE-ish") {
    val df = Seq("Hello, world! 42 times").toDF("text")
    val (ws, bpe) = df.select(TextOps.tokenCountWs(col("text")),
      TextOps.tokenCountBpe(col("text"))).as[(Int, Int)].head()
    assert(ws === 4)
    // Hello , world ! 42 times = 6
    assert(bpe === 6)
  }

  test("quality metrics on a known string") {
    val df = Seq((1L, "the cat sat")).toDF("doc_id", "text")
    val r = TextOps.qualityScore(df).select(
      "n_chars", "n_tokens", "alpha_ratio", "stopword_ratio", "mean_word_len").head()
    assert(r.getLong(0) === 11 && r.getLong(1) === 3)
    assert(r.getDouble(2) === math.rint(9.0 / 11.0 * 10000) / 10000)
    assert(r.getDouble(3) === math.rint(1.0 / 3.0 * 10000) / 10000)
    assert(r.getDouble(4) === 3.0)
  }

  test("langId picks the marker-dominant language; unknown when no hits") {
    val df = Seq(
      "the cat and the dog is of note",
      "der hund und die katze ist nicht da",
      "zzz qqq xxx").toDF("text")
    val got = df.select(TextOps.langId(col("text"))).as[String].collect().toSeq
    assert(got === Seq("en", "de", "unknown"))
  }

  test("fingerprint: equal docs equal, prefix-extended doc keeps min window often") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "totally different words entirely unrelated content here now")
    ).toDF("id", "text")
    val fp = df.select(col("id"), TextOps.fingerprintPortable(col("text"), k = 4).as("fp"))
      .as[(Long, String)].collect().toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L) !== fp(3L))
  }
}

class SimHashSpec extends SparkSuite {
  import spark.implicits._

  test("simhash bits: identical token sets agree; near sets are close in Hamming") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (3L, "completely unrelated legal boilerplate paragraph about insurance")
    ).toDF("id", "text")
    val sims = df.select(col("id"),
      SimhashBitsPortable.column(TextOps.wordTokens(col("text"))).as("s"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(sims.values.forall(_.size === 64))
    def ham(a: Seq[Int], b: Seq[Int]) = a.zip(b).count { case (x, y) => x != y }
    assert(ham(sims(1L), sims(2L)) < ham(sims(1L), sims(3L)))
    assert(ham(sims(1L), sims(2L)) <= 12)
  }

  test("simhash bits stay in whole-stage codegen (no fallback)") {
    // spark.range → Project goes through WholeStageCodegen; a LocalTableScan
    // wouldn't exercise doGenCode at all
    val df = spark.range(3).select(
      SimhashBitsPortable.column(split(concat(lit("a b c "), col("id")), " ")).as("s"))
    val plan = df.queryExecution.executedPlan.toString
    // "*(1) Project [simhash_bits_portable(...)]" — the * marks
    // WholeStageCodegen in the simple plan string; no fallback/interpreted
    // Project node
    assert(plan.contains("*(1) Project [simhash_bits_portable"), plan)
    assert(df.as[Seq[Int]].collect().length === 3)
  }
}

class VecOpsSpec extends SparkSuite {
  import spark.implicits._
  import graft.functions.VecOps.{vecDot, vecSqDist}

  test("vec_dot / vec_sqdist match the HOF fold bit-for-bit on random vectors") {
    val rnd = new scala.util.Random(7L)
    val rows = Seq.fill(200)((Seq.fill(64)(rnd.nextDouble() * 2 - 1),
                              Seq.fill(64)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("a", "b")
    val hofDot = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0d), (acc, v) => acc + v)
    val hofSq = aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
      lit(0.0d), (acc, v) => acc + v)
    val got = df.select(vecDot(col("a"), col("b")), hofDot,
      vecSqDist(col("a"), col("b")), hofSq)
      .as[(Double, Double, Double, Double)].collect()
    // EXACT equality — the native kernels sum in the same left-to-right order
    assert(got.forall(r => r._1 == r._2 && r._3 == r._4))
  }

  test("vec_dot: null element / ragged pair / empty semantics mirror the HOF") {
    val df = Seq(
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)), // null elem
      (Seq[java.lang.Double](1.0), Seq[java.lang.Double](1.0, 2.0)),       // ragged
      (Seq.empty[java.lang.Double], Seq.empty[java.lang.Double])           // empty
    ).toDF("a", "b")
    val got = df.select(vecDot(col("a").cast("array<double>"), col("b").cast("array<double>")))
      .as[Option[Double]].collect().toSeq
    assert(got === Seq(None, None, Some(0.0)))
  }

  test("vec_dot stays in whole-stage codegen (no fallback)") {
    val df = spark.range(3).select(
      vecDot(array(col("id").cast("double"), lit(2.0d)),
             array(lit(3.0d), lit(4.0d))).as("d"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [vec_dot"), plan)
    assert(df.as[Double].collect().toSeq === Seq(8.0, 11.0, 14.0))
  }
}

class DedupOpsSpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),   // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog and runs far away tonight"),// near dup of 0
    (3L, "spark engines shuffle data between executors for wide dependencies"),
    (4L, "completely different content about cooking pasta with tomato sauce")
  ).toDF("doc_id", "text")

  test("bucket caps are not silent: degenerate corpus lands drop counts in lineage") {
    // 40 identical docs with maxBucket=10: every bucket holds all 40 ids, so
    // each cap drops 30 rows — the counters MUST fire
    val (docCount, maxBucket) = (40, 10)
    val text = "all docs share this exact text"
    val degenerate = (0L until docCount).map(i => (i, text)).toDF("doc_id", "text")
    val lin = new graft.stream.Lineage(spark, tmpDir("caplin"))
    DedupOps.ngramJaccardPairs(degenerate, "text", "doc_id",
      maxBucket = maxBucket, lineage = Some(lin)).collect()
    DedupOps.minhashLshPairs(degenerate, "text", "doc_id",
      maxBucket = maxBucket, lineage = Some(lin)).collect()
    lin.flush()
    val rows = lin.read().as[(String, Long, String, Long)].collect()
      .map(r => (r._1, r._3) -> r._4).toMap
    // buckets per doc, in plain Scala: ngram keys on the bottomK = 8
    // smallest distinct 3-shingle hashes; minhash on its 8 (default) bands
    val shingles = text.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val bucketsPerDoc = Map("ngram_jaccard" -> math.min(8, shingles.size), "minhash_lsh" -> 8)
    for ((op, buckets) <- bucketsPerDoc) {
      assert(rows((op, "rows_dropped_by_bucket_cap")) === buckets * (docCount - maxBucket),
        s"$op drop count")
      assert(rows((op, "buckets_capped")) === buckets, s"$op capped-bucket count")
    }
    // and a clean corpus records zeros, not absence
    val lin2 = new graft.stream.Lineage(spark, tmpDir("caplin2"))
    DedupOps.ngramJaccardPairs(docs, "text", "doc_id",
      maxBucket = 1000, lineage = Some(lin2)).collect()
    lin2.flush()
    val clean = lin2.read().as[(String, Long, String, Long)].collect()
      .map(r => (r._3, r._4)).toMap
    assert(clean("rows_dropped_by_bucket_cap") === 0L)
  }

  test("canonicalClusters converges on a 1000-node path within the default round budget") {
    // a pure chain is the worst case for plain min propagation (diameter 999
    // rounds); pointer doubling must land it inside maxIters = 20 ≈ log2(1000)+ε
    val chain = (0L until 999L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = DedupOps.canonicalClusters(chain)
      .as[(Long, Long)].collect()
    assert(got.length === 1000)
    assert(got.forall(_._2 === 0L), "every node of the path must label to min id 0")
  }

  test("exactDedup keeps min-id survivor per digest") {
    val got = DedupOps.exactDedup(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(got === Set(0L, 2L, 3L, 4L))
  }

  test("minhash LSH finds the exact-dup pair with est≈1 and the near-dup pair") {
    val pairs = DedupOps.minhashLshPairs(docs, "text", "doc_id", threshold = 0.4)
      .as[(Long, Long, Double)].collect().map(p => ((p._1, p._2), p._3)).toMap
    assert(pairs.contains((0L, 1L)) && pairs((0L, 1L)) === 1.0)
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)),
      s"near-dup pair not found: $pairs")
    assert(!pairs.keySet.exists { case (a, b) => Set(a, b).contains(4L) })
  }

  test("simhash pairs find near-dups, skip unrelated") {
    val pairs = DedupOps.simhashPairsPortable(docs, "text", "doc_id", maxHamming = 8, bands = 16)
      .as[(Long, Long, Int)].collect().map(p => (p._1, p._2)).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(4L) })
  }

  test("simhash banding contract: maxHamming ≥ bands is rejected; mid-distance pair guaranteed at 8 bands") {
    intercept[IllegalArgumentException] {
      DedupOps.simhashPairsPortable(docs, "text", "doc_id", maxHamming = 10, bands = 4)
    }
    // adversarial fixture: deterministically search word-substituted variants
    // of a base sentence for one whose simhash lands at Hamming distance 4-7
    // from the base — the zone 4×16 banding only finds by luck but 8×8
    // banding guarantees (pigeonhole: ≤7 differing bits over 8 bands leaves
    // one band clean).
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    val variants = (0 until 200).map(i => (i + 1).toLong -> base.replace("home", s"word$i"))
    val all = (Seq(0L -> base) ++ variants).toDF("doc_id", "text")
    val sims = all.select(col("doc_id"),
      SimhashBitsPortable.column(TextOps.wordTokens(col("text"))).as("s"))
      .as[(Long, Seq[Int])].collect().toMap
    def ham(a: Seq[Int], b: Seq[Int]) = a.zip(b).count { case (x, y) => x != y }
    val midId = sims.collectFirst {
      case (id, s) if id != 0L && (4 to 7).contains(ham(s, sims(0L))) => id
    }
    assert(midId.nonEmpty, "fixture search found no distance-4..7 variant; widen the search")
    val mid = midId.get
    val dist = ham(sims(mid), sims(0L))
    val two = Seq(0L -> base, mid -> (base.replace("home", s"word${mid - 1}"))).toDF("doc_id", "text")
    val got = DedupOps.simhashPairsPortable(two, "text", "doc_id", maxHamming = 7, bands = 8)
      .as[(Long, Long, Int)].collect()
    assert(got.length === 1 && got(0)._3 === dist,
      s"guaranteed pair at distance $dist missing: ${got.toSeq}")
  }

  test("ngram jaccard matches a hand-computed value") {
    val two = Seq(
      (0L, "a b c d e"),
      (1L, "a b c d x")
    ).toDF("doc_id", "text")
    // 3-shingles: {'a b c','b c d','c d e'} vs {'a b c','b c d','c d x'}:
    // |∩|=2 |∪|=4 → 0.5. bottomK=3 covers every shingle of both docs, so the
    // candidate stage is deterministic here (shared bottom hashes certain).
    val got = DedupOps.ngramJaccardPairs(two, "text", "doc_id", shingleK = 3,
      threshold = 0.1, bottomK = 3).as[(Long, Long, Double)].collect()
    assert(got.length === 1 && got(0) === ((0L, 1L, 0.5)))
  }

  test("canonicalClusters labels every node with its component min (chain + pair + singleton-free)") {
    // chain 1-2-3 (diameter 2 → needs >1 propagation round), pair 7-9
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val got = DedupOps.canonicalClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
    // a longer chain exercises multi-round convergence: 10-11-…-15
    val chain = (10L until 15L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got2 = DedupOps.canonicalClusters(chain).as[(Long, Long)].collect().toMap
    assert(got2 === (10L to 15L).map(_ -> 10L).toMap)
  }

  test("near-dup threshold contract: insufficient geometry rejected; derived geometry meets recall on pairs planted AT the threshold") {
    // the round-2 silent-recall-gap shape: 12 planes × 8 tables at cosine 0.3
    // has candidate recall ≈ 2% — must be rejected, not silently near-empty
    val dummy = Seq((0L, Seq.fill(8)(1.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      DedupOps.embeddingNearDupPairs(dummy, "embedding", "vec_id",
        threshold = 0.3, planes = 12, tables = 8)
    }
    // adversarial fixture: 150 pairs at EXACTLY the threshold cosine —
    // v = t·u + sqrt(1-t²)·w with w ⊥ u — the hardest pairs the contract
    // still promises to find
    val t = 0.5
    val dim = 32
    val rnd = new scala.util.Random(7L)
    def unit(): Array[Double] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val rows = (0 until 150).flatMap { i =>
      val u = unit()
      val r = unit()
      val proj = u.zip(r).map { case (a, b) => a * b }.sum
      val wRaw = r.zip(u).map { case (b, a) => b - proj * a }
      val wn = math.sqrt(wRaw.map(x => x * x).sum)
      val w = wRaw.map(_ / wn)
      val v = u.zip(w).map { case (a, b) => t * a + math.sqrt(1 - t * t) * b }
      Seq((2L * i, u.toSeq.map(_.toFloat)), (2L * i + 1, v.toSeq.map(_.toFloat)))
    }
    val df = rows.toDF("vec_id", "embedding")
    // threshold slightly below t: float32 rounding may put a planted pair's
    // exact cosine a hair under 0.5, which is a filter artifact, not recall
    val found = DedupOps.embeddingNearDupPairs(df, "embedding", "vec_id",
      threshold = t - 0.01, minRecall = 0.9)
      .as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2)).toSet
    val recall = (0 until 150).count(i => found((2L * i, 2L * i + 1))).toDouble / 150
    assert(recall >= 0.85, s"planted-pair recall $recall < 0.85 " +
      s"(geometry promises ≥0.9 in expectation; margin for sampling noise)")
  }

  test("embedding near-dup finds duplicated vectors") {
    val base = (0 until 64).map(i => math.sin(i * 0.7).toFloat)
    val noisy = base.zipWithIndex.map { case (v, i) => if (i == 0) v + 0.001f else v }
    val other = (0 until 64).map(i => math.cos(i * 1.3 + 1).toFloat)
    val df = Seq((0L, base), (1L, noisy), (2L, other)).toDF("vec_id", "embedding")
    val pairs = DedupOps.embeddingNearDupPairs(df, "embedding", "vec_id", threshold = 0.99)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(pairs === Set((0L, 1L)))
  }
}

class SimilaritySpec extends SparkSuite {
  import spark.implicits._

  // clustered corpus (realistic embedding geometry): 20 centers, 10 members
  // each with small noise — nearest neighbors are cluster mates
  private def vec(seed: Int): Seq[Float] = {
    val cluster = seed / 10
    val rc = new scala.util.Random(900 + cluster)
    val center = Seq.fill(64)(rc.nextGaussian())
    val rn = new scala.util.Random(seed)
    center.map(c => (c + 0.15 * rn.nextGaussian()).toFloat)
  }
  private lazy val corpus = (0 until 200).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")

  test("bruteForceTopK matches a driver-side computation") {
    val queries = corpus.filter(col("vec_id") < 3)
    val got = Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", k = 3)
      .as[(Long, Int, Long, Double)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }
    // driver-side oracle
    val vecs = (0 until 200).map(i => i.toLong -> vec(i).map(_.toDouble)).toMap
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    for (q <- 0L until 3L) {
      val want = vecs.keys.filter(_ != q).toSeq
        .sortBy(n => (-cos(vecs(q), vecs(n)), n)).take(3)
      assert(got(q) === want, s"query $q")
    }
  }

  test("lshTopK achieves reasonable recall vs brute force on bucketed candidates") {
    val queries = corpus.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", k = 5)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(corpus, queries, "embedding", "vec_id",
      k = 5, planes = 8, tables = 8)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall=$recall") // 8 tables × 8 planes OR-amplified
    // every LSH result must be a real corpus neighbor of the query's bucket
    assert(lsh.forall { case (q, n) => q != n })
    // a caller-supplied dim (skipping the probe scan) gives identical results
    val withKnownDim = Similarity.lshTopK(corpus, queries, "embedding", "vec_id",
      k = 5, planes = 8, tables = 8, knownDim = Some(64))
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    assert(withKnownDim === lsh)
  }

  test("ivfTopK: k-means cells give high recall vs brute force at nprobe≪nlist") {
    val queries = corpus.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", k = 5)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val ivf = Ivf.ivfTopK(corpus, queries, "embedding", "vec_id",
      k = 5, nlist = 10, nprobe = 3, iters = 3)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall=$recall")
    // determinism: same data + params → same result
    val again = Ivf.ivfTopK(corpus, queries, "embedding", "vec_id",
      k = 5, nlist = 10, nprobe = 3, iters = 3)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    assert(again === ivf)
  }

  test("persisted IVF index: train once, probe many — results match the one-shot path, probes bucket-prune") {
    val queries = corpus.filter(col("vec_id") < 20)
    val oneShot = Ivf.ivfTopK(corpus, queries, "embedding", "vec_id",
      k = 5, nlist = 10, nprobe = 3, iters = 3)
      .as[(Long, Int, Long, Double)].collect().toSet

    val idx = Ivf.buildIndex(corpus, "embedding", "vec_id", "ivf_idx_test",
      nlist = 10, iters = 3, buckets = 10)
    try {
      // probe #1: identical answers without retraining or a corpus scan
      val probed = Ivf.probeTopK(idx, queries, "embedding", "vec_id", k = 5, nprobe = 3)
      assert(probed.as[(Long, Int, Long, Double)].collect().toSet === oneShot)
      // probe #2 (different query set): still consistent with one-shot
      val q2 = corpus.filter(col("vec_id") >= 50 && col("vec_id") < 60)
      val p2 = Ivf.probeTopK(idx, q2, "embedding", "vec_id", k = 5, nprobe = 3)
        .as[(Long, Int, Long, Double)].collect().toSet
      val o2 = Ivf.ivfTopK(corpus, q2, "embedding", "vec_id",
        k = 5, nlist = 10, nprobe = 3, iters = 3)
        .as[(Long, Int, Long, Double)].collect().toSet
      assert(p2 === o2)
      // a reloaded index (fresh session metadata only) answers identically
      val reloaded = Ivf.loadIndex(spark, "ivf_idx_test")
      assert(reloaded.centroids.map(_.toSeq).toSeq === idx.centroids.map(_.toSeq).toSeq)

      // plan audit: with bucketed scans active (what probeTopK forces during
      // its execution window) the probed-cell filter prunes whole BUCKETS
      val one = corpus.filter(col("vec_id") === 0L)
      assert(Ivf.probeTopK(idx, one, "embedding", "vec_id", k = 5, nprobe = 2).count() > 0)
      val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
      spark.conf.set(key, "false")
      try {
        val scan = spark.table("ivf_idx_test").filter(col("__cell").isin(3, 7))
        val s = scan.queryExecution.executedPlan.toString
        assert(s.contains("SelectedBucketsCount: 2 out of 10"),
          s"bucket pruning missing from plan:\n$s")
      } finally spark.conf.unset(key)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_idx_test")
      spark.sql("DROP TABLE IF EXISTS ivf_idx_test_centroids")
    }
  }

  test("ivfTopK at nlist=256: broadcast-join assignment keeps recall and determinism at realistic cell counts") {
    // 16-dim clustered corpus, 640 rows over 64 clusters — enough rows that
    // 256 cells are meaningfully populated and the plan carries NO centroid
    // literals (the join-based path this test pins down)
    def v16(seed: Int): Seq[Float] = {
      val rc = new scala.util.Random(300 + seed / 10)
      val center = Seq.fill(16)(rc.nextGaussian())
      val rn = new scala.util.Random(seed)
      center.map(c => (c + 0.1 * rn.nextGaussian()).toFloat)
    }
    val corpus640 = (0 until 640).map(i => (i.toLong, v16(i))).toDF("vec_id", "embedding")
    val queries = corpus640.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(corpus640, queries, "embedding", "vec_id", k = 5)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val ivf = Ivf.ivfTopK(corpus640, queries, "embedding", "vec_id",
      k = 5, nlist = 256, nprobe = 24, iters = 2)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall=$recall")
    val again = Ivf.ivfTopK(corpus640, queries, "embedding", "vec_id",
      k = 5, nlist = 256, nprobe = 24, iters = 2)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    assert(again === ivf)
  }

  test("past the train cap, IVF centroids and cells equal full-corpus Lloyd") {
    val c = PastCap.corpus(spark)
    val idx = Ivf.buildIndex(c, "embedding", "vec_id", "ivf_past_cap",
      nlist = 16, iters = 2, buckets = 4)
    try {
      val ordered = PastCap.inTrainingOrder(c)
      val want = PastCap.lloyd(ordered.map(_._2), m = 1, k = 16, iters = 2).head
      PastCap.assertClose(idx.centroids, want)
      val cells = spark.table("ivf_past_cap").select("nbr_id", "__cell")
        .as[(Long, Int)].collect().toMap
      assert(cells === ordered.map { case (id, v) => id -> PastCap.nearest(want, v) }.toMap)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_past_cap")
      spark.sql("DROP TABLE IF EXISTS ivf_past_cap_centroids")
    }
  }

  test("LSH derives embedding dim from the data (non-64-dim fixture) and rejects ragged rows") {
    // 24-dim corpus: two identical vectors + one orthogonal-ish + one ragged
    val a = Seq.fill(24)(1.0f)
    val b = Seq.tabulate(24)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val ragged = Seq.fill(7)(1.0f)
    val df = Seq((0L, a), (1L, a), (2L, b), (3L, ragged)).toDF("vec_id", "embedding")
    assert(Similarity.embeddingDim(df, "embedding") === 24)
    val pairs = DedupOps.embeddingNearDupPairs(df, "embedding", "vec_id",
      threshold = 0.999, planes = 4, tables = 4)
      .as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((0L, 1L)))
    // ragged row neither crashes the projection nor appears in any bucket
    val buckets = Similarity.signBucketsMulti(df, "embedding", "vec_id", 4, 2, 1L)
    assert(buckets.filter(col("__id") === 3L).count() === 0)
  }
}

class MultimodalSpec extends SparkSuite {
  import spark.implicits._

  test("binary plumbing: encode → decode metadata → frame sampling") {
    val df = Seq(1L, 2L, 100L).toDF("doc_id")
    val withMedia = Multimodal.withFakeMedia(df, "doc_id")
    assert(withMedia.schema("media").dataType.typeName === "binary")
    val meta = Multimodal.decodeMeta(spark, withMedia, "doc_id").collect()
      .map(m => m.doc_id -> m).toMap
    assert(meta(100L).width === 16 + 100 % 64)
    assert(meta(100L).height === 16 + 100 % 48)
    assert(meta(100L).n_frames === 1 + 100 % 8)
    assert(meta(100L).n_bytes === 16L + (meta(100L).width * meta(100L).height / 8) * meta(100L).n_frames)
    val frames = Multimodal.sampleFrames(spark, withMedia, "doc_id", stride = 2).collect()
    val f100 = frames.filter(_.doc_id == 100L)
    assert(f100.length === (meta(100L).n_frames + 1) / 2)
    assert(f100.forall(_.frame_sha.length === 64))
    // determinism: same id → same frame digests
    val again = Multimodal.sampleFrames(spark, withMedia, "doc_id", stride = 2).collect()
      .filter(_.doc_id == 100L).map(_.frame_sha).toSeq
    assert(again === f100.map(_.frame_sha).toSeq)
  }

  test("resize re-encodes blobs at the target dims; frame count survives") {
    val df = Seq(5L, 100L).toDF("doc_id")
    val resized = Multimodal.resize(spark, Multimodal.withFakeMedia(df, "doc_id"),
      "doc_id", w = 16, h = 16)
    val meta = Multimodal.decodeMeta(spark, resized, "doc_id").collect()
      .map(m => m.doc_id -> m).toMap
    assert(meta(100L).width === 16 && meta(100L).height === 16)
    assert(meta(100L).n_frames === 1 + 100 % 8) // frames preserved
    assert(meta(100L).n_bytes === 16L + (16 * 16 / 8) * meta(100L).n_frames)
  }

  test("feature extraction yields deterministic fixed-dim float vectors usable by similarity ops") {
    val df = (0L until 20L).toDF("doc_id")
    val feats = Multimodal.extractFeatures(spark,
      Multimodal.withFakeMedia(df, "doc_id"), "doc_id", dim = 12)
    assert(feats.schema("features").dataType ===
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, containsNull = false))
    val rows = feats.as[(Long, Seq[Float])].collect().toMap
    assert(rows.values.forall(_.size === 12))
    assert(rows.values.forall(_.forall(v => v >= -1f && v <= 1f)))
    // deterministic across runs
    val again = Multimodal.extractFeatures(spark,
      Multimodal.withFakeMedia(df, "doc_id"), "doc_id", dim = 12)
      .as[(Long, Seq[Float])].collect().toMap
    assert(again === rows)
    // plugs straight into the ANN path: brute-force top-k over features
    val topk = Similarity.bruteForceTopK(feats, feats.filter(col("doc_id") < 2),
      "features", "doc_id", k = 3)
    assert(topk.count() === 6)
  }
}
