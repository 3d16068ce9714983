package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Bit-parity of the [[graft.functions.AnnKernels.signBuckets]] codegen
  * kernel against the pre-kernel tables × planes expression tree (vecDot /
  * when / bitwiseOR, verbatim) — the oracle for q_ann_lsh_topk and
  * q_embedding_near_dup replays the same sign decisions in SQL, so bucket
  * assignment must not move by a single ulp-order change.
  */
class SignBucketsParitySpec extends SparkSuite {
  import spark.implicits._

  test("sign-buckets kernel == the vecDot/when/bitwiseOR expression tree, exactly") {
    import graft.functions.VecOps.vecDot
    val dim = 16
    val planes = 6
    val tables = 4
    val seed = 42L
    val rnd = new scala.util.Random(7)
    val vecs: Seq[Seq[java.lang.Double]] =
      (0 until 50).map(_ => Seq.fill(dim)(java.lang.Double.valueOf(rnd.nextGaussian()))) :+
        // a null element: every vecDot is NULL and every bit falls through to 0
        (Seq.fill(dim - 1)(java.lang.Double.valueOf(0.5)) :+ (null: java.lang.Double)) :+
        // non-finite elements: a NaN dot product sets the bit (Spark's
        // NaN-safe `>=` orders NaN above every number); ±Inf decides by sign;
        // +Inf and -Inf together sum to NaN
        (Seq.fill(dim - 1)(java.lang.Double.valueOf(0.5)) :+ java.lang.Double.valueOf(Double.NaN)) :+
        (java.lang.Double.valueOf(Double.PositiveInfinity) +: Seq.fill(dim - 1)(java.lang.Double.valueOf(0.0))) :+
        (java.lang.Double.valueOf(Double.NegativeInfinity) +: Seq.fill(dim - 1)(java.lang.Double.valueOf(-0.25))) :+
        (Seq(Double.PositiveInfinity, Double.NegativeInfinity) ++ Seq.fill(dim - 2)(1.0))
          .map(java.lang.Double.valueOf) :+
        Seq.fill(dim)(java.lang.Double.valueOf(Double.NaN))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "__v")

    val planesAll = Array.tabulate(tables)(t =>
      Similarity.hyperplanes(planes, dim, seed + 1000L * t))
    // the pre-kernel formulation, verbatim
    val bucketCols = (0 until tables).map { t =>
      val hp = planesAll(t)
      val bits = (0 until planes).map { p =>
        when(vecDot(col("__v"), typedlit(hp(p).toSeq)) >= 0, lit(1L << p)).otherwise(lit(0L))
      }
      bits.reduce((a: Column, b: Column) => a.bitwiseOR(b))
        .bitwiseOR(lit(t.toLong << 32))
    }
    val rows = df.select(col("id"),
        array(bucketCols: _*).as("tree"),
        graft.functions.AnnKernels.signBucketsCol(col("__v"), planesAll, 32).as("kernel"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
    rows.foreach { case (id, tree, kernel) =>
      assert(kernel === tree, s"vector $id bucket set diverged")
    }
    assert(rows.length == vecs.size)
  }
}
