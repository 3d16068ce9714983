package graft.lake

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.events.EventLog

/** Value-preserving `renameColumn` (Iceberg-parity, metadata-only): files
  * keep the column's ORIGINAL physical name forever, reads alias
  * physical→logical, replayed extras parse the name current at each row's
  * lsn, and the "renamed-columns" READER protocol feature gates builds that
  * would silently null the column. Unsafe variants quarantine.
  */
class SchemaRenameSpec extends SparkSuite {
  import spark.implicits._

  private def ev(
      lsn: Long, op: String, repo: String = null, path: String = null,
      commit: String = null, lang: String = null, content: String = null,
      sc: String = null, extra: String = null, eventId: Long = 0L): Row =
    Row(lsn, eventId, new java.sql.Timestamp(1700000000000L + lsn * 1000), op,
      repo, path, commit, lang, content, sc, extra)

  private def batch(rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), EventLog.eventSchema)

  private val addStars = """{"addColumn":{"name":"stars","type":"long"}}"""
  private val renameToRating = """{"renameColumn":{"name":"stars","to":"rating"}}"""

  /** add stars → rows keyed under "stars" → rename to rating → rows keyed
    * under "rating" — both eras must land in the SAME column.
    */
  private def renameLog: Seq[Row] = Seq(
    ev(1, "insert", "r1", "a", "c1", "scala", "v1"),
    ev(2, "schema_change", sc = addStars),
    ev(3, "insert", "r1", "b", "c3", "scala", "v3", extra = """{"stars": 7}"""),
    ev(4, "update", "r1", "a", "c4", "scala", "v4", extra = """{"stars": 9}"""),
    ev(5, "schema_change", sc = renameToRating),
    ev(6, "insert", "r2", "c", "c6", "py", "v6", extra = """{"rating": 3}"""),
    ev(7, "update", "r1", "b", "c7", "scala", "v7", extra = """{"rating": 8}"""))

  test("rename preserves pre-rename values; batch-split invariant vs the oracle") {
    def mk(kind: String, batches: Seq[Seq[Row]]): LakeTable = {
      val t = new LakeTable(spark, tmpDir(kind))
      t.create(LakeTable.baseSchema)
      batches.zipWithIndex.foreach { case (b, i) => t.merge(batch(b: _*), "e", i) }
      t
    }
    val one = mk("ren1", Seq(renameLog))
    val many = mk("renN", renameLog.map(Seq(_)))
    for (t <- Seq(one, many)) {
      val head = t.head()
      assert(head.schema.fieldNames.contains("rating") &&
        !head.schema.fieldNames.contains("stars"))
      assert(head.physicalName === Map("rating" -> "stars"))
      assert(head.renamedAt === Map("rating" -> Seq((5L, "stars"))))
    }
    val cols = Seq("repo", "path", "content", "rating")
    def rows(t: LakeTable) = t.read().select(cols.head, cols.tail: _*).collect().toSet
    assert(rows(one) === rows(many))
    // value preservation across BOTH eras: a9 (pre-rename extra key),
    // b8 (post-rename extra key overwrote the pre-rename 7), c3 (post)
    assert(rows(one).map(r => (r.getString(1), r.get(3))) ===
      Set(("a", 9L), ("b", 8L), ("c", 3L)))
    val oracle = graft.events.ReplayOracle.expected(spark, renameLog)
    assert(oracle.schema.fieldNames.contains("rating"))
    assert(rows(one) === oracle.select(cols.head, cols.tail: _*).collect().toSet)
  }

  test("unsafe renames quarantine: base column, unknown, taken target, tombstoned target") {
    val t = new LakeTable(spark, tmpDir("renbad"))
    t.create(LakeTable.baseSchema)
    t.merge(batch(renameLog: _*), "e", 0)
    val s = t.merge(batch(
      ev(10, "schema_change", sc = """{"renameColumn":{"name":"lang","to":"language"}}"""),
      ev(11, "schema_change", sc = """{"renameColumn":{"name":"nope","to":"x"}}"""),
      ev(12, "schema_change", sc = """{"renameColumn":{"name":"rating","to":"content"}}"""),
      ev(13, "schema_change", sc = """{"dropColumn":{"name":"rating"}}"""),
      // rating's physical "stars" is now tombstoned: renaming anything to
      // "stars" must quarantine (first re-add a column to rename)
      ev(14, "schema_change", sc = addStars.replace("stars", "tmp")),
      ev(15, "schema_change", sc = """{"renameColumn":{"name":"tmp","to":"stars"}}""")), "e", 1)
    assert(s.schemaQuarantined === 4, s"expected 4 quarantines, got ${s.schemaQuarantined}")
    val head = t.head()
    assert(head.schema.fieldNames.contains("lang"))
    assert(head.schema.fieldNames.contains("tmp"))
    assert(head.droppedAtLsn === Map("stars" -> 13L), "drop must tombstone the PHYSICAL name")
  }

  test("re-add after rename: the vacated logical name is blocked (physical collision), " +
       "but after a drop the FINAL logical name is free") {
    val t = new LakeTable(spark, tmpDir("renreadd"))
    t.create(LakeTable.baseSchema)
    t.merge(batch(renameLog: _*), "e", 0)
    // "stars" is rating's physical storage name → re-add quarantines
    val s1 = t.merge(batch(ev(10, "schema_change", sc = addStars)), "e", 1)
    assert(s1.schemaQuarantined === 1)
    // drop rating (tombstones physical "stars"); re-adding "rating" is safe —
    // no file ever stored bytes under that name
    t.merge(batch(ev(11, "schema_change", sc = """{"dropColumn":{"name":"rating"}}""")), "e", 2)
    val s2 = t.merge(batch(
      ev(12, "schema_change", sc = """{"addColumn":{"name":"rating","type":"long"}}"""),
      ev(13, "update", "r1", "a", "c13", "scala", "v13", extra = """{"rating": 42}""")), "e", 3)
    assert(s2.schemaQuarantined === 0 && s2.schemaChanges === 1)
    val a = t.read().filter(col("path") === "a").select("rating").as[Long].collect()
    assert(a.toSeq === Seq(42L))
    // old rows must show NULL rating (fresh column), not resurrected 9/8/3
    assert(t.read().filter(col("path") === "b").select("rating").collect()(0).isNullAt(0))
  }

  test("renamed-columns is a READER feature; format(\"graft\") serves correct values") {
    val t = new LakeTable(spark, tmpDir("renfeat"))
    t.create(LakeTable.baseSchema)
    t.merge(batch(renameLog: _*), "e", 0)
    val head = t.head().version
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t.root, "meta", s"v$head.json")), "UTF-8")
    val j = org.json4s.jackson.JsonMethods.parse(txt)
    val readerFeats = (j \ "requiredFeatures") match {
      case org.json4s.JArray(fs) => fs.collect { case org.json4s.JString(s) => s }
      case _ => Nil
    }
    assert(readerFeats.contains("renamed-columns"))
    // the SQL surface must route around the bare file scan and still return
    // the values (fallback relation aliases physical→logical)
    val got = spark.read.format("graft").load(t.root)
      .select("path", "rating").collect().map(r => (r.getString(0), r.get(1))).toSet
    assert(got === Set(("a", 9L), ("b", 8L), ("c", 3L)))
  }

  test("change feed and compaction carry logical names and values") {
    val t = new LakeTable(spark, tmpDir("renfeed"))
    t.create(LakeTable.baseSchema)
    t.merge(batch(renameLog.take(4): _*), "e", 0) // through the stars era
    val v1 = t.head().version
    t.merge(batch(renameLog.drop(4): _*), "e", 1) // rename + rating era
    val feed = t.changesBetween(v1, t.head().version)
    assert(feed.columns.contains("rating") && !feed.columns.contains("stars"))
    val changed = feed.filter(!col("_deleted"))
      .select("path", "rating").collect().map(r => (r.getString(0), r.get(1))).toSet
    assert(changed === Set(("b", 8L), ("c", 3L)))
    t.compact(full = true)
    assert(t.read().select("path", "rating").collect()
      .map(r => (r.getString(0), r.get(1))).toSet ===
      Set(("a", 9L), ("b", 8L), ("c", 3L)))
  }

  test("renamed column stays stat- and bloom-prunable (bounds re-keyed to physical)") {
    val t = new LakeTable(spark, tmpDir("renprune"))
    t.create(LakeTable.baseSchema)
    // stars correlates with repo, so range clustering by key gives tight
    // per-file stars bounds; stats in footers are keyed by the PHYSICAL
    // name — after the rename a rating predicate must still prune on them
    val rows = for (i <- 0 until 200)
      yield ev(i + 1, "insert", f"r${i % 20}%02d", f"p$i%03d", s"c$i", "scala",
        s"v$i", extra = s"""{"stars": ${i % 20}}""")
    t.merge(batch(Seq(ev(0, "schema_change",
      sc = """{"addColumn":{"name":"stars","type":"long"}}""")) ++ rows: _*), "e", 0)
    t.merge(batch(ev(1000, "schema_change", sc = renameToRating)), "e", 1)
    t.compact(targetRowsPerFile = 20, full = true)
    val total = t.head().files.count(f => !f.tomb)
    assert(total >= 8, s"expected many files, got $total")
    val pred = col("rating") === 7L
    val pruned = t.readWhere(pred)
    val scanned = scannedFiles(pruned)
    assert(scanned < total / 2,
      s"rating bounds should prune via the physical stars stats: $scanned of $total")
    assert(pruned.collect().toSet === t.read().filter(pred).collect().toSet)
  }

  test("deferred-merge path renames identically") {
    val t = new LakeTable(spark, tmpDir("renmor"))
    t.create(LakeTable.baseSchema)
    renameLog.zipWithIndex.foreach { case (e, i) => t.mergeDeferred(batch(e), "e", i) }
    assert(t.head().physicalName === Map("rating" -> "stars"))
    assert(t.read().select("path", "rating").collect()
      .map(r => (r.getString(0), r.get(1))).toSet ===
      Set(("a", 9L), ("b", 8L), ("c", 3L)))
  }
}
