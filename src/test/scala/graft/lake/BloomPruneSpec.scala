package graft.lake

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.events.EventLog

/** Bloom-filter point-lookup file pruning: parquet-native blooms written by
  * the sink, advertised in the manifest, probed at planning time. Range
  * stats cannot prune a uniformly distributed column — the blooms must.
  */
class BloomPruneSpec extends SparkSuite {
  import spark.implicits._

  private def ev(lsn: Long, repo: String, path: String, commit: String,
                 content: String): Row =
    Row(lsn, 0L, new java.sql.Timestamp(1700000000000L + lsn * 1000), "insert",
      repo, path, commit, "scala", content, null, null)

  private def batch(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), EventLog.eventSchema)

  /** 240 keys / ~12 range-clustered files; `commit` is a sha-like value
    * UNCORRELATED with the (repo, path) clustering, so its per-file min/max
    * spans nearly the whole domain — range stats never prune it.
    */
  private def bloomedTable(): LakeTable = {
    val t = new LakeTable(spark, tmpDir("bloom"), bloomColumns = Seq("commit"))
    t.create(LakeTable.baseSchema)
    val rows = for (i <- 0 until 240) yield {
      val sha = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s"commit-$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
      ev(i + 1, f"r${i % 20}%02d", f"p$i%03d", sha, s"v$i")
    }
    t.merge(batch(rows), "e", 0)
    t.compact(targetRowsPerFile = 20, full = true)
    t
  }

  private def sha(i: Int): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"commit-$i".getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("manifest advertises blooms; point lookup on a hash column prunes files") {
    val t = bloomedTable()
    val files = t.head().files
    assert(files.size >= 8, s"expected many files, got ${files.size}")
    assert(files.forall(_.bloomCols.contains("commit")),
      "every data file must advertise its commit bloom")

    val target = sha(123)
    val pruned = t.readWhere(col("commit") === target)
    assert(pruned.select("path").as[String].collect().toSeq === Seq("p123"))
    val n = scannedFiles(pruned)
    assert(n <= 2, s"bloom probe should prune to O(1) of ${files.size} files, scanned $n")
    // results identical to the unpruned path
    assert(pruned.collect().toSeq ===
      t.read().filter(col("commit") === target).collect().toSeq)
  }

  test("range stats alone cannot prune the hash column (the bloom is load-bearing)") {
    // same data written WITHOUT blooms: the same point lookup scans ~all files
    val t = new LakeTable(spark, tmpDir("nobloom"))
    t.create(LakeTable.baseSchema)
    val rows = for (i <- 0 until 240)
      yield ev(i + 1, f"r${i % 20}%02d", f"p$i%03d", sha(i), s"v$i")
    t.merge(batch(rows), "e", 0)
    t.compact(targetRowsPerFile = 20, full = true)
    val files = t.head().files
    assert(files.forall(_.bloomCols.isEmpty))
    val n = scannedFiles(t.readWhere(col("commit") === sha(123)))
    assert(n >= files.size - 1,
      s"without blooms the sha lookup should scan ~all ${files.size} files, scanned $n")
  }

  test("absent value prunes every file; IN-lists and misses stay exact") {
    val t = bloomedTable()
    // a value that exists nowhere: bloom says definitely-absent everywhere
    val none = t.readWhere(col("commit") === sha(99999))
    assert(none.count() === 0)
    assert(scannedFiles(none) === 0, "an absent probe should scan zero files")
    // IN-list: both present values found, results exact
    val in = t.readWhere(col("commit").isin(sha(5), sha(200)))
    assert(in.select("path").as[String].collect().toSet === Set("p005", "p200"))
    // intersection of contradictory equalities is empty → zero files
    val contra = t.readWhere(col("commit") === sha(5) && col("commit") === sha(6))
    assert(contra.count() === 0)
    assert(scannedFiles(contra) === 0)
  }

  test("the native format(\"graft\") scan probes blooms at planning time too") {
    val t = bloomedTable()
    val files = t.head().files.size
    val df = spark.read.format("graft").option("path", t.root).load()
      .filter(col("commit") === sha(42))
    assert(df.select("path").as[String].collect().toSeq === Seq("p042"))
    val n = scannedFiles(df)
    assert(n <= 2, s"native scan should bloom-prune to O(1) of $files files, scanned $n")
    // absent value → zero files through the standard read surface as well
    assert(scannedFiles(spark.read.format("graft").option("path", t.root).load()
      .filter(col("commit") === sha(77777))) === 0)
  }

  test("bloom probing is skipped on non-key columns while deltas are pending") {
    val t = new LakeTable(spark, tmpDir("bloom-delta"), bloomColumns = Seq("commit"))
    t.create(LakeTable.baseSchema)
    t.merge(batch(Seq(ev(10, "r1", "k", "new-commit", "new"))), "e", 0)
    // stale shadowed delta row with a different commit value
    t.mergeDeferred(batch(Seq(ev(5, "r1", "k", "old-commit", "old"))), "e", 1)
    // true state: commit = new-commit; the old-commit lookup must find nothing
    assert(t.readWhere(col("commit") === "old-commit").count() === 0)
    assert(t.readWhere(col("commit") === "new-commit").count() === 1)
    // after compaction the deltas are materialized and pruning resumes
    t.compact(targetRowsPerFile = 1000000L)
    assert(t.readWhere(col("commit") === "old-commit").count() === 0)
    assert(t.readWhere(col("commit") === "new-commit").count() === 1)
  }
}
