package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Product quantization: encoding determinism, compression shape, scale
  * invariance, and the recall-with-exact-rerank contract vs brute force.
  */
class PqSpec extends SparkSuite {
  import spark.implicits._

  private val dim = 16

  /** Deterministic synthetic corpus: `n` vectors in `g` loose clusters. */
  private def corpus(n: Int, g: Int = 5) = {
    val rows = (0L until n.toLong).map { i =>
      val c = (i % g).toInt
      val v = Array.tabulate(dim) { j =>
        math.sin(c * 37 + j).toFloat + 0.05f * math.cos(i * 13 + j * 7).toFloat
      }
      (i, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("codes are m-wide, in [0, ksub), and deterministic across runs") {
    val c = corpus(120)
    val model = Pq.train(c, "embedding", "vec_id", dim, m = 4, ksub = 8, iters = 2)
    assert(model.books.length === 4 && model.books.forall(_.length === 8))
    val a = Pq.encode(c, "embedding", "vec_id", model)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val b = Pq.encode(c, "embedding", "vec_id", model)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(a === b)
    assert(a.values.forall(cs => cs.length == 4 && cs.forall(x => x >= 0 && x < 8)))
  }

  test("encoding is scale-invariant (unit normalization)") {
    val c = corpus(80)
    val model = Pq.train(c, "embedding", "vec_id", dim, m = 4, ksub = 8, iters = 2)
    val scaled = c.withColumn("embedding",
      transform(col("embedding"), x => x * lit(7.5f)))
    val a = Pq.encode(c, "embedding", "vec_id", model)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val b = Pq.encode(scaled, "embedding", "vec_id", model)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(a === b)
  }

  test("pqTopK with exact rerank reproduces brute force on a clustered corpus") {
    // shortlist must cover a whole cluster here: within-cluster vectors are
    // near-identical, so their ADC distances tie and a smaller shortlist
    // would cut true neighbors arbitrarily — the recall dial in action
    val c = corpus(300)
    val q = c.filter(col("vec_id") < 8)
    val pq = Pq.pqTopK(c, q, "embedding", "vec_id", dim,
      k = 3, m = 4, ksub = 8, iters = 3, shortlist = 100)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val brute = Similarity.bruteForceTopK(c, q, "embedding", "vec_id", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(pq === brute)
  }

  test("persisted index: build → load round-trips the model; probe matches one-shot") {
    val c = corpus(300)
    val q = c.filter(col("vec_id") < 8)
    val built = Pq.buildIndex(c, "embedding", "vec_id", dim, "pq_spec_idx",
      m = 4, ksub = 8, iters = 3)
    val loaded = Pq.loadIndex(spark, "pq_spec_idx")
    // geometry reconstructs from the books table alone
    assert(loaded.model.dim === dim && loaded.model.m === 4 && loaded.model.ksub === 8)
    // codebooks round-trip bit-identically (doubles through parquet are exact)
    assert(loaded.model.books.map(_.map(_.toSeq).toSeq).toSeq ===
      built.model.books.map(_.map(_.toSeq).toSeq).toSeq)
    val probe = Pq.probeTopK(loaded, c, q, "embedding", "vec_id",
      k = 3, shortlist = 100)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val oneShot = Pq.pqTopK(c, q, "embedding", "vec_id", dim,
      k = 3, m = 4, ksub = 8, iters = 3, shortlist = 100)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(probe === oneShot)
  }

  test("past the train cap, codebooks and codes equal full-corpus Lloyd") {
    val c = PastCap.corpus(spark)
    val model = Pq.train(c, "embedding", "vec_id", dim, m = 4, ksub = 8, iters = 2)
    val unit = PastCap.inTrainingOrder(c).map { case (id, v) =>
      val n = math.sqrt(v.foldLeft(0.0)((s, x) => s + x * x))
      id -> v.map(_ / n)
    }
    val want = PastCap.lloyd(unit.map(_._2), m = 4, k = 8, iters = 2)
    for (s <- 0 until 4) PastCap.assertClose(model.books(s), want(s))
    val sub = dim / 4
    val codes = Pq.encode(c, "embedding", "vec_id", model)
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes === unit.map { case (id, v) =>
      id -> (0 until 4).map(s => PastCap.nearest(want(s), v.slice(s * sub, (s + 1) * sub)))
    }.toMap)
  }

  test("invalid geometry is rejected loudly") {
    val c = corpus(50)
    intercept[IllegalArgumentException] {
      Pq.train(c, "embedding", "vec_id", dim, m = 5) // 16 % 5 != 0
    }
    intercept[IllegalArgumentException] {
      val model = Pq.train(c, "embedding", "vec_id", dim, m = 4, ksub = 4, iters = 1)
      val codes = Pq.encode(c, "embedding", "vec_id", model)
      Pq.adcTopK(codes, c, c.limit(2), "embedding", "vec_id", model,
        k = 10, shortlist = 5) // shortlist < k
    }
  }
}
