package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.Assertions._

/** Fixtures for quantizer training past `GRAFT_ANN_TRAIN_CAP` (default
  * 65,536): a 16-dim corpus of one row more than twice the cap, and a
  * plain-Scala Lloyd over every row that the engine's books must match.
  */
object PastCap {
  val rows: Long = 2L * 65536 + 1
  val dim = 16

  /** Five loose clusters, built by `spark.range`. */
  def corpus(spark: SparkSession): DataFrame =
    spark.range(rows).select(col("id").as("vec_id"),
      array((0 until dim).map { j =>
        (sin(col("id") % 5 * 37 + j) + cos(col("id") * 13 + j * 7) * 0.05).cast("float")
      }: _*).as("embedding"))

  /** Every (id, vector) in training order: (sha256(id), id). */
  def inTrainingOrder(df: DataFrame): Array[(Long, Array[Double])] =
    df.orderBy(sha2(col("vec_id").cast("string"), 256), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))

  private def dist2(a: Array[Double], b: Array[Double]): Double =
    a.indices.foldLeft(0.0) { (d, j) => val x = a(j) - b(j); d + x * x }

  /** Nearest codeword; ties go to the smaller code. */
  def nearest(book: Array[Array[Double]], x: Array[Double]): Int =
    book.indices.minBy(c => (dist2(x, book(c)), c))

  /** Lloyd over all of `vs`, each of the `m` subspaces on its own: seeds are
    * the first `k` vectors, an empty code keeps its codeword.
    */
  def lloyd(vs: Array[Array[Double]], m: Int, k: Int, iters: Int): Array[Array[Array[Double]]] = {
    val sub = vs.head.length / m
    Array.tabulate(m) { s =>
      val xs = vs.map(_.slice(s * sub, (s + 1) * sub))
      (0 until iters).foldLeft(xs.take(k)) { (book, _) =>
        val groups = xs.groupBy(nearest(book, _))
        Array.tabulate(book.length) { c =>
          groups.get(c).fold(book(c))(g => Array.tabulate(sub)(j => g.map(_(j)).sum / g.length))
        }
      }
    }
  }

  def assertClose(got: Array[Array[Double]], want: Array[Array[Double]]): Unit = {
    assert(got.map(_.length).toSeq === want.map(_.length).toSeq)
    val worst = got.indices.flatMap(c => got(c).indices.map(j => math.abs(got(c)(j) - want(c)(j)))).max
    assert(worst <= 1e-9, s"max |engine - full-corpus Lloyd| = $worst")
  }
}
