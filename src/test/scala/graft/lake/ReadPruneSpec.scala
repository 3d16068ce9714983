package graft.lake

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.events.EventLog

/** Predicate-driven manifest file pruning on the batch read path
  * ([[LakeTable.readWhere]]): a point read on a compacted multi-file table
  * must touch O(1) files, and every unknown predicate shape must fail OPEN
  * with identical results to a full-scan filter.
  */
class ReadPruneSpec extends SparkSuite {
  import spark.implicits._

  private def ev(lsn: Long, repo: String, path: String, content: String): Row =
    Row(lsn, 0L, new java.sql.Timestamp(1700000000000L + lsn * 1000), "insert",
      repo, path, s"c$lsn", "scala", content, null, null)

  private def batch(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), EventLog.eventSchema)

  /** 200 keys over 20 repos, compacted into ~10 range-clustered files. */
  private def compactedTable(): LakeTable = {
    val t = new LakeTable(spark, tmpDir("prune"))
    t.create(LakeTable.baseSchema)
    val rows = for (i <- 0 until 200)
      yield ev(i + 1, f"r${i % 20}%02d", f"p$i%03d", s"v$i")
    t.merge(batch(rows), "e", 0)
    t.compact(targetRowsPerFile = 20, full = true)
    t
  }

  test("point read on (repo, path) touches O(1) files of a compacted table") {
    val t = compactedTable()
    val total = t.head().files.size
    assert(total >= 8, s"compaction should have produced many files, got $total")
    val pred = col("repo") === "r07" && col("path") === "p007"
    val pruned = t.readWhere(pred)
    assert(pruned.select("content").as[String].collect().toSeq === Seq("v7"))
    val n = scannedFiles(pruned)
    assert(n <= 2, s"point read should touch O(1) of $total files, scanned $n")
    // identical results to the unpruned path
    assert(pruned.collect().toSeq === t.read().filter(pred).collect().toSeq)
  }

  test("range predicate prunes to the matching repo range") {
    val t = compactedTable()
    val total = t.head().files.size
    val pred = col("repo") >= "r18"
    val pruned = t.readWhere(pred)
    assert(pruned.count() === t.read().filter(pred).count())
    val n = scannedFiles(pruned)
    assert(n < total, s"range read should skip cold files ($n of $total)")
  }

  test("IN-list bounds prune; OR and non-key predicates fail open with same results") {
    val t = compactedTable()
    val total = t.head().files.size
    val inPred = col("repo").isin("r01", "r02")
    assert(t.readWhere(inPred).count() === t.read().filter(inPred).count())
    assert(scannedFiles(t.readWhere(inPred)) < total)
    // OR across key columns: no provable bound — every file kept, results equal
    val orPred = col("repo") === "r01" || col("path") === "p150"
    assert(t.readWhere(orPred).collect().toSet === t.read().filter(orPred).collect().toSet)
    assert(scannedFiles(t.readWhere(orPred)) === total)
    // non-key column: no pruning, same results
    val nk = col("content") === "v42"
    assert(t.readWhere(nk).collect().toSeq === t.read().filter(nk).collect().toSeq)
  }

  test("property: 60 random predicates — readWhere always equals full-scan filter") {
    val t = compactedTable()
    val rnd = new scala.util.Random(1234L)
    def randLeaf(): org.apache.spark.sql.Column = rnd.nextInt(6) match {
      case 0 => col("repo") === f"r${rnd.nextInt(22)}%02d" // sometimes absent repo
      case 1 => col("path") >= f"p${rnd.nextInt(200)}%03d"
      case 2 => col("repo") < f"r${rnd.nextInt(22)}%02d"
      case 3 => col("repo").isin(Seq.fill(1 + rnd.nextInt(3))(f"r${rnd.nextInt(22)}%02d"): _*)
      case 4 => col("content") === s"v${rnd.nextInt(220)}" // non-key (fail open)
      case 5 => col("path") <= f"p${rnd.nextInt(200)}%03d"
    }
    def randPred(depth: Int): org.apache.spark.sql.Column =
      if (depth == 0 || rnd.nextInt(3) == 0) randLeaf()
      else if (rnd.nextBoolean()) randPred(depth - 1) && randPred(depth - 1)
      else randPred(depth - 1) || randPred(depth - 1)
    (1 to 60).foreach { i =>
      val p = randPred(2)
      val got = t.readWhere(p).collect().toSet
      val want = t.read().filter(p).collect().toSet
      assert(got === want, s"random predicate #$i diverged: $p")
    }
  }

  test("secondary-column stats: a lang predicate prunes files with no key bound at all") {
    val t = new LakeTable(spark, tmpDir("prune-lang"))
    t.create(LakeTable.baseSchema)
    def evLang(lsn: Long, repo: String, path: String, lang: String): Row =
      Row(lsn, 0L, new java.sql.Timestamp(1700000000000L + lsn * 1000), "insert",
        repo, path, s"c$lsn", lang, s"v$lsn", null, null)
    // disjoint key ranges per language → per-file lang stats are tight
    t.merge(batch((0 until 40).map(i => evLang(i + 1, f"a$i%02d", "p", "go"))), "e", 0)
    t.merge(batch((0 until 40).map(i => evLang(100 + i, f"m$i%02d", "p", "python"))), "e", 1)
    t.merge(batch((0 until 40).map(i => evLang(200 + i, f"z$i%02d", "p", "scala"))), "e", 2)
    val total = t.head().files.size
    assert(total >= 3, s"expected one file set per merge, got $total")
    assert(t.head().files.forall(_.stats.contains("lang")),
      "manifests must carry lang bounds")

    val pred = col("lang") === "go"
    val pruned = t.readWhere(pred)
    assert(pruned.count() === 40)
    val n = scannedFiles(pruned)
    assert(n < total, s"lang predicate should prune files ($n of $total scanned)")
    assert(pruned.collect().toSet === t.read().filter(pred).collect().toSet)

    // the same pruning reaches the format("graft") native scan's planned files
    val q = spark.read.format("graft").option("path", t.root).load().filter(pred)
    val planned = q.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(Nil, f.dataFilters).map(_.files.size).sum
    }.sum
    assert(planned < total, s"native scan planned $planned of $total files")
    assert(q.count() === 40)
  }

  test("long-column stats: numeric predicates on an evolved long column prune files") {
    val t = new LakeTable(spark, tmpDir("prune-stars"),
      statColumns = Seq("lang", "commit", "stars"))
    t.create(LakeTable.baseSchema)
    def evS(lsn: Long, repo: String, stars: Long): Row =
      Row(lsn, 0L, new java.sql.Timestamp(1700000000000L + lsn * 1000), "insert",
        repo, "p", s"c$lsn", "scala", s"v$lsn", null, s"""{"stars": $stars}""")
    val ddl: Row =
      Row(1L, 0L, new java.sql.Timestamp(1700000000000L), "schema_change",
        null, null, null, null, null,
        """{"addColumn":{"name":"stars","type":"long"}}""", null)
    // disjoint star ranges per merge → per-file long stats are tight
    t.merge(batch(ddl +: (0 until 40).map(i => evS(10 + i, f"a$i%02d", i.toLong))), "e", 0)
    t.merge(batch((0 until 40).map(i => evS(100 + i, f"m$i%02d", 1000L + i))), "e", 1)
    t.merge(batch((0 until 40).map(i => evS(200 + i, f"z$i%02d", 2000L + i))), "e", 2)
    val total = t.head().files.size
    assert(total >= 3, s"expected one file set per merge, got $total")
    assert(t.head().files.forall(_.longStats.contains("stars")),
      "manifests must carry int64 stars bounds")

    val pred = col("stars") >= 2000L
    val pruned = t.readWhere(pred)
    assert(pruned.count() === 40)
    val n = scannedFiles(pruned)
    assert(n < total, s"stars predicate should prune files ($n of $total scanned)")
    assert(pruned.collect().toSet === t.read().filter(pred).collect().toSet)

    // int-literal comparand (analyzer inserts a coercion cast) still prunes
    assert(scannedFiles(t.readWhere(col("stars") < 100)) < total)
    // IN-list and equality bounds
    assert(t.readWhere(col("stars").isin(1000L, 1003L)).count() === 2)
    assert(scannedFiles(t.readWhere(col("stars") === 1234567L)) < total)
    // contradictory numeric bounds: zero files
    assert(scannedFiles(t.readWhere(col("stars") > 5000L)) === 0)

    // the same pruning reaches the format("graft") native scan's planned files
    val q = spark.read.format("graft").option("path", t.root).load()
      .filter(col("stars") >= 2000)
    val planned = q.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(Nil, f.dataFilters).map(_.files.size).sum
    }.sum
    assert(planned < total, s"native scan planned $planned of $total files")
    assert(q.count() === 40)

    // manifest JSON round-trip preserves the long bounds (fresh log instance)
    val t2 = new LakeTable(spark, t.root, statColumns = Seq("lang", "commit", "stars"))
    assert(t2.head().files.forall(_.longStats.contains("stars")))
    assert(t2.readWhere(col("stars") >= 2000L).count() === 40)
  }

  test("zero-config: evolved long column prunes without any statColumns entry") {
    // same shape as above, but the table is opened with DEFAULT statColumns
    // (which know nothing of `stars`) — int64 leafs are auto-statted at
    // write time, so the evolved column prunes with no configuration at all
    val t = new LakeTable(spark, tmpDir("prune-auto"))
    t.create(LakeTable.baseSchema)
    def evS(lsn: Long, repo: String, stars: Long): Row =
      Row(lsn, 0L, new java.sql.Timestamp(1700000000000L + lsn * 1000), "insert",
        repo, "p", s"c$lsn", "scala", s"v$lsn", null, s"""{"stars": $stars}""")
    val ddl: Row =
      Row(1L, 0L, new java.sql.Timestamp(1700000000000L), "schema_change",
        null, null, null, null, null,
        """{"addColumn":{"name":"stars","type":"long"}}""", null)
    t.merge(batch(ddl +: (0 until 40).map(i => evS(10 + i, f"a$i%02d", i.toLong))), "e", 0)
    t.merge(batch((0 until 40).map(i => evS(200 + i, f"z$i%02d", 2000L + i))), "e", 1)
    val total = t.head().files.size
    assert(t.head().files.forall(_.longStats.contains("stars")),
      "int64 leafs must be statted automatically")
    val pred = col("stars") >= 2000L
    assert(t.readWhere(pred).count() === 40)
    assert(scannedFiles(t.readWhere(pred)) < total,
      "auto-statted column should prune with default statColumns")
    assert(t.readWhere(pred).collect().toSet === t.read().filter(pred).collect().toSet)
  }

  test("int-widened-to-long column: INT32-era files still prune under long predicates") {
    val t = new LakeTable(spark, tmpDir("prune-widen"),
      statColumns = Seq("lang", "commit", "stars"))
    t.create(LakeTable.baseSchema)
    def evS(lsn: Long, repo: String, stars: Long): Row =
      Row(lsn, 0L, new java.sql.Timestamp(1700000000000L + lsn * 1000), "insert",
        repo, "p", s"c$lsn", "scala", s"v$lsn", null, s"""{"stars": $stars}""")
    def ddl(lsn: Long, sc: String): Row =
      Row(lsn, 0L, new java.sql.Timestamp(1700000000000L + lsn * 1000),
        "schema_change", null, null, null, null, null, sc, null)
    // era 1: stars is INT (files store INT32 physical)
    t.merge(batch(ddl(1, """{"addColumn":{"name":"stars","type":"int"}}""") +:
      (0 until 30).map(i => evS(10 + i, f"a$i%02d", i.toLong))), "e", 0)
    // era 2: widen to LONG, values beyond int range
    t.merge(batch(ddl(100, """{"widenColumn":{"name":"stars","type":"long"}}""") +:
      (0 until 30).map(i => evS(110 + i, f"z$i%02d", 10000000000L + i))), "e", 1)
    val total = t.head().files.size
    assert(total >= 2)
    assert(t.head().files.forall(_.longStats.contains("stars")),
      "INT32-era and INT64-era files must both carry int64 stars bounds")
    val pred = col("stars") >= 10000000000L
    assert(t.readWhere(pred).count() === 30)
    assert(scannedFiles(t.readWhere(pred)) < total,
      "long predicate should skip the INT32-era files")
    assert(t.readWhere(pred).collect().toSet === t.read().filter(pred).collect().toSet)
    val lowPred = col("stars") < 30
    assert(t.readWhere(lowPred).count() === 30)
    assert(scannedFiles(t.readWhere(lowPred)) < total)
  }

  test("contradictory bounds read zero files and return nothing") {
    val t = compactedTable()
    val pred = col("repo") === "r01" && col("repo") === "r19"
    assert(t.readWhere(pred).collect().isEmpty)
    assert(scannedFiles(t.readWhere(pred)) === 0)
  }
}
