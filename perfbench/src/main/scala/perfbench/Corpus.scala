package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded text and embedding corpus in the shape of the repository's generic
  * `documents` / `embeddings` test tables: a 30-word vocabulary, 10-100 words per
  * document, five languages (English weighted), twenty sources, a few exact
  * copies and near-copies marked with an extra `dup` word; unit-norm 64-d
  * float embeddings with a label in 0..9. Each table is one parquet file, as
  * in the test data.
  */
object Corpus {
  private val vocab = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the",
    "agg", "key", "query", "a", "scan", "batch")
  private val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  def documents(seed: Long, n: Int): Seq[Row] = {
    val r = new SplittableRandom(seed)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val u = r.nextDouble()
      texts(i) =
        if (i > 0 && u < 0.002) texts(r.nextInt(i))
        else if (i > 0 && u < 0.05) {
          val words = texts(r.nextInt(i)).split(' ').toBuffer
          words.insert(r.nextInt(words.size + 1), "dup")
          words.mkString(" ")
        } else Seq.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.size))).mkString(" ")
      Row(i.toLong, texts(i), langs(r.nextInt(langs.size)), s"src${r.nextInt(20)}",
        texts(i).length.toLong)
    }
  }

  def embeddings(seed: Long, n: Int, dim: Int = 64): Seq[Row] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    (0 until n).map { i =>
      val v = Array.fill(dim)(gaussian(r))
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
    }
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller: SplittableRandom has no nextGaussian on JDK 17
    val u1 = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Write `documents.parquet` and `embeddings.parquet` under `dir`. */
  def write(spark: SparkSession, dir: String, seed: Long, docs: Int, vecs: Int): Unit = {
    def one(rows: Seq[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    one(documents(seed, docs), docSchema, "documents")
    one(embeddings(seed, vecs), vecSchema, "embeddings")
  }
}
