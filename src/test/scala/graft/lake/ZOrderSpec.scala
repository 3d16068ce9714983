package graft.lake

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.events.EventLog

/** Z-order compaction ([[LakeTable.compact]] `zorderBy` / [[ZOrder]]):
  * multi-dimension manifest pruning without changing any row, plus the
  * bucket/interleave building blocks.
  */
class ZOrderSpec extends SparkSuite {
  import spark.implicits._

  private def ev(lsn: Long, repo: String, path: String, lang: String,
                 content: String): Row =
    Row(lsn, 0L, new java.sql.Timestamp(1700000000000L + lsn * 1000), "insert",
      repo, path, s"c$lsn", lang, content, null, null)

  private def batch(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), EventLog.eventSchema)

  /** 960 keys across 24 repos × 8 langs; lang is INDEPENDENT of repo so a
    * (repo, path) range layout spreads every lang over every file.
    */
  private def seededTable(name: String): LakeTable = {
    val t = new LakeTable(spark, tmpDir(name))
    t.create(LakeTable.baseSchema)
    val rows = for (i <- 0 until 960)
      yield ev(i + 1, f"r${i % 24}%02d", f"p$i%03d", s"l${(i / 24) % 8}", s"v$i")
    t.merge(batch(rows), "e", 0)
    t
  }

  test("zorder compact: identical table state, multi-dimension file pruning") {
    val t = seededTable("zorder")
    t.compact(targetRowsPerFile = 30, full = true)
    val before = t.read().collect().toSet
    val rangeFiles = t.head().files.size
    assert(rangeFiles >= 24, s"expected a many-file range layout, got $rangeFiles")
    // range layout on (repo, path): a lang predicate cannot drop any file
    assert(scannedFiles(t.readWhere(col("lang") === "l3")) === rangeFiles.toLong)

    t.compact(targetRowsPerFile = 30, full = true, zorderBy = Seq("lang", "repo"))
    assert(t.read().collect().toSet === before, "zorder must not change rows")
    val zFiles = t.head().files.size
    assert(zFiles >= 24, s"z-layout should keep file granularity, got $zFiles")

    // the z-layout prunes on BOTH clustered dimensions from one layout.
    // At F files over 2 dimensions a point predicate can at best touch
    // ~sqrt(F)-ish of them (each dimension gets half the z-bits of
    // resolution), plus range-boundary misalignment — assert the practical
    // bound, not the ideal one.
    val langPred = col("lang") === "l3"
    val langScan = scannedFiles(t.readWhere(langPred))
    assert(langScan <= (zFiles * 45) / 100,
      s"lang predicate should prune the z-layout: scanned $langScan of $zFiles")
    assert(t.readWhere(langPred).collect().toSet ===
      t.read().filter(langPred).collect().toSet)

    val repoPred = col("repo") === "r07"
    val repoScan = scannedFiles(t.readWhere(repoPred))
    assert(repoScan <= (zFiles * 45) / 100,
      s"repo predicate should prune the z-layout: scanned $repoScan of $zFiles")
    assert(t.readWhere(repoPred).collect().toSet ===
      t.read().filter(repoPred).collect().toSet)
  }

  test("zorder compact materializes pending deltas and keeps merge semantics") {
    val t = seededTable("zorderMor")
    t.mergeDeferred(batch(Seq(
      ev(900, "r03", "p003", "lX", "UPDATED"),
      Row(901L, 0L, new java.sql.Timestamp(1700000901000L), "delete",
        "r04", "p004", null, null, null, null, null))), "e", 1)
    val expected = t.read().collect().toSet // resolved through the window
    t.compact(targetRowsPerFile = 30, full = true, zorderBy = Seq("lang", "repo"))
    assert(t.head().files.forall(!_.delta), "zorder compact must materialize deltas")
    assert(t.read().collect().toSet === expected)
    assert(t.read().filter(col("path") === "p003").select("content")
      .as[String].collect().toSeq === Seq("UPDATED"))
    assert(t.read().filter(col("path") === "p004").count() === 0)
  }

  test("zorder falls back to key clustering when the column is all null") {
    val t = new LakeTable(spark, tmpDir("zorderNull"))
    t.create(LakeTable.baseSchema)
    val rows = (0 until 60).map(i =>
      Row(i + 1L, 0L, new java.sql.Timestamp(1700000000000L + i), "insert",
        f"r${i % 6}", f"p$i%02d", s"c$i", null, s"v$i", null, null))
    t.merge(batch(rows), "e", 0)
    val before = t.read().collect().toSet
    t.compact(targetRowsPerFile = 10, full = true, zorderBy = Seq("lang"))
    assert(t.read().collect().toSet === before)
  }

  test("zorder validates its column list loudly") {
    val t = seededTable("zorderBad")
    intercept[IllegalArgumentException] {
      t.compact(full = true, zorderBy = Seq("nope"))
    }
  }

  test("bucketExpr ranks against boundaries; zValue interleaves disjoint bits") {
    val df = Seq("a", "c", "f", "zz", null).toDF("s")
      .withColumn("b", ZOrder.bucketExpr(col("s"), Seq("b", "e", "x")))
    assert(df.select("b").as[Int].collect().toSeq === Seq(0, 1, 2, 3, 0))

    val z = Seq((3, 5)).toDF("x", "y")
      .select(ZOrder.zValue(Seq(col("x"), col("y")), 4).as("z"))
      .as[Long].head()
    // x=0011, y=0101 interleaved (y bit i at 2i+1, x bit i at 2i):
    // bits: y0=1→b1, x0=1→b0, y1=0, x1=1→b2, y2=1→b5, x2=0, y3=0, x3=0
    assert(z === (1L | 2L | 4L | 32L))
  }
}
