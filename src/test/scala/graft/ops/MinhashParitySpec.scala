package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Bit-parity of the portable (sha256-hex) minhash signature against a plain
  * Scala reimplementation — guards the nested-HOF expression structure.
  */
class MinhashParitySpec extends SparkSuite {
  import spark.implicits._

  private def shaHex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }

  /** h_i(s) = 8-hex window i of sha256(s) ‖ sha256(s + "#") ‖ … — must track
    * DedupOps.minhashSignature exactly.
    */
  private def windowHash(s: String, i: Int): String = {
    val digest = shaHex(if (i / 8 == 0) s else s + ("#" * (i / 8)))
    digest.substring((i % 8) * 8, (i % 8) * 8 + 8)
  }

  private def expectedSig(text: String, k: Int, n: Int): Seq[String] = {
    val ws = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    val nWin = math.max(ws.size - (k - 1), 1)
    val sh = (0 until nWin).map(i => ws.slice(i, i + k).mkString(" ")).distinct
    (0 until n).map(i => sh.map(s => windowHash(s, i)).min)
  }

  test("single-shingle portable signature components (separator is a real space)") {
    val df = Seq(Tuple1("alpha beta gamma")).toDF("text") // exactly one shingle
    val sh = df.select(TextOps.shingles(col("text"), 3).as("s")).as[Seq[String]].head()
    assert(sh === Seq("alpha beta gamma"),
      sh.map(s => s.getBytes("UTF-8").map("%02x".format(_)).mkString).toString)
    val sig = df.select(DedupOps.minhashSignature(col("text"), 3, 4).as("g"))
      .as[Seq[String]].head()
    val want = (0 until 4).map(i => windowHash("alpha beta gamma", i))
    assert(sig === want, s"got $sig want $want")
  }

  test("portable fingerprint (hash-once-per-window) matches a plain-Scala oracle; Df variant agrees") {
    val k = 4
    def expected(text: String): Option[String] = {
      val ws = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
      if (ws.size < k) None
      else {
        val hs = ws.map(w => shaHex(w).take(16))
        Some((0 to ws.size - k).map(i => shaHex(hs.slice(i, i + k).mkString("")).take(16)).min)
      }
    }
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog and runs far away home",
      "alpha beta gamma delta",
      "too few tokens") // < k → null
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val colApi = df.select(col("doc_id"),
      TextOps.fingerprintPortable(col("text"), k).as("fp"))
      .as[(Long, Option[String])].collect().toMap
    val dfApi = TextOps.fingerprintDf(df, "text", "fp", k)
      .select("doc_id", "fp").as[(Long, Option[String])].collect().toMap
    for ((t, i) <- texts.zipWithIndex) {
      assert(colApi(i.toLong) === expected(t), s"doc $i column API")
      assert(dfApi(i.toLong) === expected(t), s"doc $i DataFrame API")
    }
  }

  test("native portable kernels == the interpreted HOF formulations, exactly") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog and runs far away home",
      "der hund und die katze ist nicht da heute morgen wieder einmal",
      "x", "")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val numHashes = 16
    // the pre-kernel HOF minhash fold, verbatim
    val shingles = TextOps.shingles(col("text"), 3)
    val nDigests = (numHashes + 7) / 8
    val baseHashes = transform(shingles, s => concat((0 until nDigests).map { j =>
      if (j == 0) sha2(s, 256) else sha2(concat(s, lit("#" * j)), 256)
    }: _*))
    val hofSig = aggregate(baseHashes, array_repeat(lit("g"), numHashes),
      (acc, h) => zip_with(acc,
        transform(sequence(lit(0), lit(numHashes - 1)), i => h.substr(i * 8 + 1, lit(8))),
        (a, b) => least(a, b)))
    // the pre-kernel HOF simhash vote fold, verbatim
    val votesMap = typedlit((0 until 16).map { n =>
      "%x".format(n) -> (3 to 0 by -1).map(b => if (((n >> b) & 1) == 1) 1 else -1)
    }.toMap)
    def tokenVotes(t: org.apache.spark.sql.Column) =
      flatten(transform(
        filter(split(substring(sha2(t, 256), 1, 16), ""), c => length(c) > 0),
        ch => element_at(votesMap, ch)))
    val hofBits = transform(
      aggregate(TextOps.wordTokens(col("text")), array_repeat(lit(0), 64),
        (acc, t) => zip_with(acc, tokenVotes(t), (a, b) => a + b)),
      v => when(v > 0, lit(1)).otherwise(lit(0)))
    val rows = df.select(
      DedupOps.minhashSignature(col("text"), 3, numHashes),
      hofSig,
      graft.functions.SimhashBitsPortable.column(TextOps.wordTokens(col("text"))),
      hofBits)
      .as[(Seq[String], Seq[String], Seq[Int], Seq[Int])].collect()
    rows.zipWithIndex.foreach { case ((a, b, c, d), i) =>
      assert(a === b, s"minhash sig diverged on doc $i")
      assert(c === d, s"simhash bits diverged on doc $i")
    }
  }

  test("NgramSketch + SortedLongIntersectSize == the HOF hex-set formulation, exactly") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog and runs far away home",
      "the quick brown fox jumps over the lazy dog and walks far away home",
      "der hund und die katze ist nicht da heute morgen wieder einmal",
      "x", "")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val bottomK = 3
    // the pre-kernel HOF formulation, verbatim (sorted distinct hex16)
    val hofHex = array_distinct(array_sort(transform(
      TextOps.shingles(col("text"), 3), s => substring(sha2(s, 256), 1, 16))))
    val sk = graft.functions.NgramSketch.column(TextOps.shingles(col("text"), 3), bottomK)
    val rows = df.select(col("doc_id"),
        sk.getField("bottom"), sk.getField("hl"), hofHex)
      .as[(Long, Seq[String], Seq[Long], Seq[String])].collect()
    rows.foreach { case (i, bottom, hl, hex) =>
      assert(bottom === hex.take(bottomK), s"doc $i bottom-k diverged")
      val wantLongs = hex.map(java.lang.Long.parseUnsignedLong(_, 16)).sorted
      assert(hl === wantLongs, s"doc $i long set diverged")
    }
    // merge-walk intersect size == hex-set intersect size, on every pair
    val byId = rows.map(r => r._1 -> r).toMap
    for (a <- rows; b <- rows) {
      val inter = spark.range(1).select(
        graft.functions.SortedLongIntersectSize.column(
          typedlit(a._3), typedlit(b._3))).as[Int].head()
      assert(inter === a._4.toSet.intersect(b._4.toSet).size,
        s"intersect(${a._1}, ${b._1}) diverged")
    }
    assert(byId.size == rows.length)
  }

  test("portable minhash signature matches a plain-Scala oracle") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog and runs far away home",
      "spark engines shuffle data between executors for wide dependencies and joins",
      "a b c d e f g h i j k l m n o p q r s t u v w x y z")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
      DedupOps.minhashSignature(col("text"), 3, 32).as("sig"))
      .as[(Long, Seq[String])].collect().toMap
    for ((t, i) <- texts.zipWithIndex) {
      val want = expectedSig(t, 3, 32)
      assert(got(i.toLong) === want, s"doc $i signature mismatch")
    }
  }
}
