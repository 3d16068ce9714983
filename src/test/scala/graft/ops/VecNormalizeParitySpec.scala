package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSuite
import graft.functions.VecOps.{vecDot, vecNormalize}

/** Bit-parity of the `vec_normalize` kernel (the PQ encoder's unit
  * projection) against the interpreted expression it replaced,
  * `transform(v, x => x / sqrt(vecDot(v, v)))`, in both ANSI modes.
  */
class VecNormalizeParitySpec extends SparkSuite {

  private def hof(v: Column): Column = transform(v, x => x / sqrt(vecDot(v, v)))

  private val rnd = new scala.util.Random(17)
  private val vectors: Seq[Option[Seq[java.lang.Double]]] =
    (0 until 200).map { i =>
      Some(Seq.fill(1 + i % 16)(java.lang.Double.valueOf(rnd.nextGaussian() * 10)))
    } ++ Seq(
      Some(Seq[java.lang.Double](3.0, 4.0)),
      Some(Seq[java.lang.Double](1e200, -1e200)), // the dot overflows to ∞
      Some(Seq[java.lang.Double](Double.NaN, 1.0)),
      Some(Seq[java.lang.Double](1.0, Double.PositiveInfinity)),
      Some(Seq[java.lang.Double](1.0, null, 2.0)),
      Some(Seq.empty[java.lang.Double]),
      None)
  private val zero = Some(Seq[java.lang.Double](0.0, -0.0, 0.0))

  private def frame(vs: Seq[Option[Seq[java.lang.Double]]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        vs.zipWithIndex.map { case (v, i) => Row(i.toLong, v.orNull) }, 4),
      StructType(Seq(StructField("id", LongType),
        StructField("v", ArrayType(DoubleType, containsNull = true)))))

  /** (id, raw bits of each element; None = null element / vector). */
  private def bits(df: DataFrame, f: Column => Column): Map[Long, Option[Seq[Option[Long]]]] =
    df.select(col("id"), f(col("v")).as("u")).collect().map { r =>
      r.getLong(0) -> Option(r.getSeq[java.lang.Double](1)).map(_.map(d =>
        Option(d).map(x => java.lang.Double.doubleToRawLongBits(x))))
    }.toMap

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("random, NaN, infinite, null and empty vectors: bit-identical to the HOF") {
    for (ansi <- Seq(true, false)) withAnsi(ansi) {
      val df = frame(vectors)
      val want = bits(df, hof)
      assert(bits(df, vecNormalize) === want, s"ansi=$ansi")
      assert(want(200L) === Some(Seq(0.6, 0.8).map(d =>
        Some(java.lang.Double.doubleToRawLongBits(d)))))
      // the interpreted path agrees with the generated one
      vectors.zipWithIndex.foreach { case (v, i) =>
        val e = graft.functions.VecNormalize(
          org.apache.spark.sql.catalyst.expressions.Literal.create(v.orNull,
            ArrayType(DoubleType, containsNull = true)), ansi)
        val got = Option(e.eval(null).asInstanceOf[
          org.apache.spark.sql.catalyst.util.ArrayData]).map { a =>
          (0 until a.numElements()).map(j =>
            if (a.isNullAt(j)) None
            else Some(java.lang.Double.doubleToRawLongBits(a.getDouble(j))))
        }
        assert(got === want(i.toLong), s"row $i ansi=$ansi")
      }
    }
  }

  test("zero vectors: null elements, or DIVIDE_BY_ZERO under ANSI, as the HOF") {
    withAnsi(on = false) {
      // 1e-200² underflows: a zero norm from a non-zero vector
      val df = frame(Seq(zero, Some(Seq[java.lang.Double](1e-200))))
      val want = bits(df, hof)
      assert(want(0L) === Some(Seq(None, None, None)))
      assert(bits(df, vecNormalize) === want)
    }
    withAnsi(on = true) {
      val df = frame(Seq(zero))
      def errorClass(f: Column => Column): String = {
        val e = intercept[Throwable](df.select(f(col("v"))).collect())
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
          case t: org.apache.spark.SparkThrowable if t.getCondition != null => t.getCondition
        }.getOrElse(e.toString)
      }
      assert(errorClass(hof) === "DIVIDE_BY_ZERO")
      assert(errorClass(vecNormalize) === "DIVIDE_BY_ZERO")
    }
  }
}
