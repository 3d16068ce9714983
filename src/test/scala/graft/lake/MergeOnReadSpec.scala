package graft.lake

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.events.{EventLog, ReplayOracle}

/** Merge-on-read (deferred merge) semantics: `mergeDeferred` writes O(batch)
  * delta files with zero target rewrite; reads resolve base+delta per key to
  * EXACTLY the state cumulative copy-on-write merges would have produced;
  * compaction materializes deltas incrementally (closure over overlapping
  * key ranges) and restores the native scan path.
  */
class MergeOnReadSpec extends SparkSuite {
  import spark.implicits._

  private def ev(
      lsn: Long, op: String, repo: String = null, path: String = null,
      commit: String = null, lang: String = null, content: String = null,
      sc: String = null, extra: String = null, eventId: Long = 0L): Row =
    Row(lsn, eventId, new java.sql.Timestamp(1700000000000L + lsn * 1000), op,
      repo, path, commit, lang, content, sc, extra)

  private def batch(rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), EventLog.eventSchema)

  private def freshTable(prefix: String): LakeTable = {
    val t = new LakeTable(spark, tmpDir(prefix))
    t.create(LakeTable.baseSchema)
    t
  }

  test("deferred merges: zero target rewrite, resolved read equals copy-on-write") {
    val cow = freshTable("morCow")
    val mor = freshTable("morDef")
    val b0 = Seq(
      ev(1, "insert", "r1", "a.scala", "c1", "scala", "v1"),
      ev(2, "insert", "r1", "b.scala", "c2", "scala", "v2"),
      ev(3, "insert", "r2", "x.py", "c3", "py", "v3"))
    val b1 = Seq(
      ev(4, "update", "r1", "a.scala", "c4", "scala", "v4"),
      ev(5, "delete", "r2", "x.py"))
    val b2 = Seq(
      ev(6, "update", "r1", "b.scala", "c6", "scala", "v6"),
      // stale duplicate of the deleted key's original insert — must stay dead
      ev(3, "insert", "r2", "x.py", "c3", "py", "v3", eventId = 1))
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
      cow.merge(batch(b: _*), "e", i)
      val before = mor.head().files.map(_.path).toSet
      mor.mergeDeferred(batch(b: _*), "e", i)
      val after = mor.head()
      // O(batch) write: every pre-existing file carried by reference
      assert(before.subsetOf(after.files.map(_.path).toSet))
      assert(after.files.filterNot(f => before.contains(f.path)).forall(_.delta))
    }
    def state(t: LakeTable) = t.read()
      .select("repo", "path", "commit", "lang", "content")
      .collect().toSet
    assert(state(mor) === state(cow))
    // shadowed history is physically retained until compaction
    assert(mor.readRaw().count() > cow.readRaw().count())
    // deferred ledger: replayed batch is a no-op
    assert(mor.mergeDeferred(batch(
      ev(99, "update", "r1", "a.scala", "c9", "scala", "NO")), "e", 1).noOp)
    assert(state(mor) === state(cow))
  }

  test("equal-LSN duplicate re-delivered as a delta loses to base (keeps original _ver)") {
    val t = freshTable("morTie")
    t.merge(batch(ev(1, "insert", "r1", "a", "c1", "scala", "v1")), "e", 0)
    val verBefore = t.changesBetween(0, t.head().version)
      .select("_ver").as[Long].head()
    // same event again through a deferred merge under a different epoch
    t.mergeDeferred(batch(ev(1, "insert", "r1", "a", "c1", "scala", "v1")), "e2", 0)
    assert(t.read().count() === 1)
    val feed = t.changesBetween(0, t.head().version)
      .select("repo", "path", "_ver", "_deleted").as[(String, String, Long, Boolean)]
      .collect()
    assert(feed.toSeq === Seq(("r1", "a", verBefore, false)),
      "base must win the tie: no spurious change-feed row, original _ver kept")
  }

  test("changesBetween over deferred commits: one final-state row per key, matching copy-on-write") {
    val batches = Seq(
      Seq(ev(1, "insert", "r1", "a", "c1", "scala", "v1"),
        ev(2, "insert", "r1", "b", "c2", "scala", "v2")),
      Seq(ev(3, "update", "r1", "a", "c3", "scala", "v3")),
      Seq(ev(4, "delete", "r1", "b"),
        ev(5, "update", "r1", "a", "c5", "scala", "v5")))
    val cow = freshTable("feedCow")
    val mor = freshTable("feedMor")
    batches.zipWithIndex.foreach { case (b, i) =>
      cow.merge(batch(b: _*), "e", i)
      mor.mergeDeferred(batch(b: _*), "e", i)
    }
    // both tables committed the same versions (v0 create + one per batch)
    assert(cow.head().version === mor.head().version)
    def feed(t: LakeTable, from: Long) =
      t.changesBetween(from, t.head().version)
        .select("repo", "path", "content", "_lsn", "_deleted", "_ver")
        .collect().toSet
    for (from <- 0L to 3L)
      assert(feed(mor, from) === feed(cow, from), s"window ($from, head]")
  }

  test("compaction materializes deltas incrementally: cold base files carry by reference") {
    val t = freshTable("morCompact")
    // a spread of keys, compacted FULL into clustered base files
    val init = (0 until 400).map(i =>
      ev(i + 1, "insert", s"r${i % 8}", f"p$i%03d", s"c$i", "scala", s"v$i"))
    t.merge(batch(init: _*), "e", 0)
    t.compact(targetRowsPerFile = 50, full = true)
    val baseFiles = t.head().files.map(_.path).toSet
    assert(t.head().files.count(!_.tomb) > 4, "fixture needs several base files")
    // one deferred batch touching a single key
    t.mergeDeferred(batch(ev(1000, "update", "r3", "p003", "cX", "scala", "VX")), "e", 1)
    assert(t.head().files.exists(_.delta))
    val snap = t.compact(targetRowsPerFile = 50)
    assert(!snap.files.exists(_.delta), "compaction must materialize all deltas")
    val survivors = snap.files.map(_.path).toSet
    val carried = baseFiles.intersect(survivors)
    assert(carried.nonEmpty,
      "base files outside the delta's key range must carry by reference")
    assert(t.read().filter(col("path") === "p003").select("content").as[String]
      .collect().toSeq === Seq("VX"))
    assert(t.read().count() === 400)
  }

  test("format(graft): row-resolved fallback while deltas pend, native file scan after compaction") {
    val t = freshTable("morRelation")
    t.merge(batch(
      ev(1, "insert", "r1", "a", "c1", "scala", "v1"),
      ev(2, "insert", "r1", "b", "c2", "scala", "v2")), "e", 0)
    t.mergeDeferred(batch(ev(3, "update", "r1", "a", "c3", "scala", "v3")), "e", 1)
    def rel() = spark.read.format("graft").option("path", t.root).load()
    val pending = rel()
    assert(!pending.queryExecution.executedPlan.toString.contains("FileScan"),
      "pending deltas must route through the resolved fallback relation")
    assert(pending.select("path", "content").as[(String, String)].collect().toSet
      === Set(("a", "v3"), ("b", "v2")))
    t.compact(targetRowsPerFile = 10)
    val compacted = rel()
    assert(compacted.queryExecution.executedPlan.toString.contains("FileScan"),
      "a delta-free snapshot must serve the native vectorized scan")
    assert(compacted.select("path", "content").as[(String, String)].collect().toSet
      === Set(("a", "v3"), ("b", "v2")))
  }

  test("random logs × random splits × random deferred/CoW interleavings ≡ oracle") {
    val rnd = new scala.util.Random(2027)
    for (trial <- 0 until 4) {
      val n = 1200 + rnd.nextInt(1200)
      val cfg = EventLog.Config(
        numEvents = n,
        numRepos = 4 + rnd.nextInt(20),
        pathsPerRepo = 4 + rnd.nextInt(30),
        zipfExponent = 0.8 + rnd.nextDouble(),
        updateRatio = 0.3 + rnd.nextDouble() * 0.4,
        deleteRatio = rnd.nextDouble() * 0.15,
        duplicateRate = rnd.nextDouble() * 0.1,
        schemaChangeLsns = Seq(rnd.nextInt(n).toLong, rnd.nextInt(n).toLong),
        widenLsns = Seq(rnd.nextInt(n).toLong),
        dropLsns = Seq(rnd.nextInt(n).toLong),
        renameLsns = Seq(rnd.nextInt(n).toLong),
        seed = rnd.nextLong())
      val events = EventLog.generate(spark, cfg).collect().toSeq
      val want = ReplayOracle.expected(spark, events)

      val sorted = events.sortBy(r => (r.getLong(0), r.getLong(1)))
      val nBatches = 2 + rnd.nextInt(4)
      val splits = sorted.grouped(math.max(1, sorted.size / nBatches)).toSeq
        .map(rnd.shuffle(_))

      val t = new LakeTable(spark, tmpDir(s"morProp$trial"))
      t.create(LakeTable.baseSchema)
      splits.zipWithIndex.foreach { case (rows, i) =>
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 3), EventLog.eventSchema)
        val deferred = rnd.nextBoolean()
        val stats =
          if (deferred) t.mergeDeferred(df, "mor", i.toLong)
          else t.merge(df, "mor", i.toLong)
        assert(CdcPropertySpec.counters(stats) === CdcPropertySpec.expected(rows),
          s"trial=$trial batch=$i deferred=$deferred")
        if (rnd.nextInt(3) == 0) t.compact(targetRowsPerFile = 200)
      }
      val got = t.read()
      assert(got.schema.fieldNames.toSeq === want.schema.fieldNames.toSeq, s"trial=$trial")
      val extra = got.exceptAll(want).count()
      val missing = want.exceptAll(got).count()
      assert(extra === 0 && missing === 0,
        s"trial=$trial batches=${splits.size} extra=$extra missing=$missing")
      // a final full materialization changes nothing and clears all deltas
      t.compact(targetRowsPerFile = 100000, full = true)
      assert(!t.head().files.exists(_.delta))
      assert(t.read().exceptAll(want).count() === 0 &&
        want.exceptAll(t.read()).count() === 0, s"trial=$trial post-compact")
    }
  }

  test("readWhere on a delta-pending table: pruned read equals full-scan filter") {
    val t = freshTable("morPrune")
    val init = (0 until 300).map(i =>
      ev(i + 1, "insert", s"r${i % 6}", f"p$i%03d", s"c$i", "scala", s"v$i"))
    t.merge(batch(init: _*), "e", 0)
    t.compact(targetRowsPerFile = 60, full = true)
    t.mergeDeferred(batch(
      ev(900, "update", "r2", "p008", "cU", "scala", "VU"),
      ev(901, "delete", "r3", "p009")), "e", 1)
    assert(t.head().files.exists(_.delta))
    for (pred <- Seq(
      col("repo") === "r2",
      col("repo") === "r2" && col("path") === "p008",
      col("path") >= "p007" && col("path") <= "p010")) {
      val pruned = t.readWhere(pred)
        .select("repo", "path", "content").collect().toSet
      val full = t.read().filter(pred)
        .select("repo", "path", "content").collect().toSet
      assert(pruned === full, s"predicate: $pred")
    }
    // the updated row surfaces, the deleted key does not
    assert(t.readWhere(col("path") === "p008").select("content")
      .as[String].collect().toSeq === Seq("VU"))
    assert(t.readWhere(col("path") === "p009").count() === 0)
  }

  test("expireSnapshots collects unreferenced delta files once below the retention floor") {
    val t = freshTable("morGc")
    t.merge(batch(ev(1, "insert", "r1", "a", "c1", "scala", "v1")), "e", 0)
    t.mergeDeferred(batch(ev(2, "update", "r1", "a", "c2", "scala", "v2")), "e", 1)
    val deltaPaths = t.head().files.filter(_.delta).map(_.path)
    assert(deltaPaths.nonEmpty)
    t.compact(targetRowsPerFile = 10) // materializes; deltas now unreferenced by head
    t.merge(batch(ev(3, "update", "r1", "a", "c3", "scala", "v3")), "e", 2)
    t.expireSnapshots(keepLast = 1)
    val fs = new org.apache.hadoop.fs.Path(t.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (p <- deltaPaths)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(p)),
        s"stale delta file must be GC'd: $p")
    assert(t.read().select("content").as[String].collect().toSeq === Seq("v3"))
  }
}
