package graft.lake

import org.apache.spark.sql.Row
import graft.SparkSuite
import graft.events.{EventLog, ReplayOracle}

/** Property-style engine checks (SURVEY.md §5): across random generator
  * configs and random batch splits, replay through LakeTable.merge and
  * LakeTable.mergeDeferred must equal the plain-Scala oracle fold — including
  * shuffled within-batch order and a duplicate storm on three keys — and every
  * batch's lineage counters must equal the ones derived from its raw rows
  * ([[CdcPropertySpec.expected]]).
  */
class CdcPropertySpec extends SparkSuite {
  import CdcPropertySpec._

  test("random configs × random splits × write modes ≡ oracle") {
    val rnd = new scala.util.Random(2026)
    // the last two trials: one fixed duplicate storm, once per write mode
    val storm = EventLog.Config(numEvents = 2000, numRepos = 1, pathsPerRepo = 3,
      zipfExponent = 3.0, duplicateRate = 0.5, schemaChangeLsns = Seq(700L, 1400L),
      seed = 2026L)
    for (trial <- 0 until 7) {
      val n = 1500 + rnd.nextInt(1500)
      val cfg = if (trial >= 5) storm else EventLog.Config(
        numEvents = n,
        numRepos = 5 + rnd.nextInt(30),
        pathsPerRepo = 5 + rnd.nextInt(40),
        zipfExponent = 0.8 + rnd.nextDouble(),
        updateRatio = 0.3 + rnd.nextDouble() * 0.4,
        deleteRatio = rnd.nextDouble() * 0.15,
        duplicateRate = rnd.nextDouble() * 0.1,
        schemaChangeLsns = Seq(rnd.nextInt(n).toLong, rnd.nextInt(n).toLong),
        // a random widen lsn: sometimes after the stars add (metadata-only
        // int→long widening mid-replay), sometimes before it (quarantined as
        // unknown column) — both orderings must replay identically to the
        // oracle under every batch split and write mode
        widenLsns = Seq(rnd.nextInt(n).toLong),
        // random drop/rename lsns: depending on where they land relative to
        // the adds they either APPLY (metadata-only drop with re-add
        // tombstone; era-gated value-preserving rename) or QUARANTINE
        // (unknown column / collision) — engine and oracle must agree under
        // every split either way
        dropLsns = Seq(rnd.nextInt(n).toLong),
        renameLsns = Seq(rnd.nextInt(n).toLong),
        seed = rnd.nextLong())
      val events = EventLog.generate(spark, cfg).collect().toSeq
      val want = ReplayOracle.expected(spark, events)

      // WAL-shaped batching: contiguous LSN ranges (a binlog delivers DDL in
      // order — a schema change can never trail higher-LSN data), but order
      // WITHIN each batch is arbitrary (parallel readers), so shuffle it
      val sorted = events.sortBy(r => (r.getLong(0), r.getLong(1)))
      val nBatches = 1 + rnd.nextInt(4)
      val splits = sorted.grouped(math.max(1, sorted.size / nBatches)).toSeq
        .map(rnd.shuffle(_))
      val deferred = trial % 2 == 1
      val clue = s"trial=$trial deferred=$deferred"

      val t = new LakeTable(spark, tmpDir(s"prop$trial"))
      t.create(LakeTable.baseSchema)
      splits.zipWithIndex.foreach { case (rows, i) =>
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 3), EventLog.eventSchema)
        val stats =
          if (deferred) t.mergeDeferred(df, "prop", i.toLong) else t.merge(df, "prop", i.toLong)
        assert(counters(stats) === expected(rows), s"$clue batch=$i")
      }
      val got = t.read()
      assert(got.schema.fieldNames.toSeq === want.schema.fieldNames.toSeq, clue)
      val extra = got.exceptAll(want).count()
      val missing = want.exceptAll(got).count()
      assert(extra === 0 && missing === 0,
        s"$clue batches=${splits.size} extra=$extra missing=$missing")
    }
  }

  test("counters of schema-change-only and constrained batches, both write modes") {
    def ev(lsn: Long, op: String, repo: String = null, path: String = null,
           lang: String = "scala", sc: String = null, eventId: Long = 0L): Row =
      Row(lsn, eventId, new java.sql.Timestamp(1700000000000L + lsn), op,
        repo, path, s"c$lsn", lang, "x", sc, null)
    val seed = Seq(ev(1, "insert", "r1", "a"), ev(2, "insert", "r2", "c"))
    val schemaOnly = Seq(
      ev(10, "schema_change", sc = """{"addColumn":{"name":"stars","type":"int"}}"""),
      ev(11, "schema_change", sc = """{"widenColumn":{"name":"nope","type":"long"}}"""))
    // seeded copy-on-write: an event re-delivered with the stored row's LSN
    // (the stored row wins the window; the event still counts as its key's
    // upsert), a key whose batch winner is a delete, a new key delivered twice
    val mixed = Seq(
      ev(1, "insert", "r1", "a"),
      ev(12, "update", "r2", "c"), ev(13, "delete", "r2", "c"),
      ev(14, "insert", "r3", "d"), ev(14, "insert", "r3", "d", eventId = 1))
    val constrained = Seq(
      ev(20, "insert", "r1", "a"),
      ev(21, "update", "r1", "a", lang = "cobol"),
      ev(21, "update", "r1", "a", lang = "cobol", eventId = 1),
      ev(22, "insert", "r1", "b", lang = "cobol"),
      ev(23, "delete", "r2", "c"),
      ev(24, "insert", "r2", "d"))
    for (deferred <- Seq(false, true); seeded <- Seq(false, true)) {
      val clue = s"deferred=$deferred seeded=$seeded"
      val t = new LakeTable(spark, tmpDir("stats"))
      t.create(LakeTable.baseSchema)
      def apply(rows: Seq[Row], batchId: Long): MergeStats = {
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 2), EventLog.eventSchema)
        if (deferred) t.mergeDeferred(df, "stats", batchId) else t.merge(df, "stats", batchId)
      }
      if (seeded) apply(seed, 0)

      val sc = apply(schemaOnly, 1)
      assert(counters(sc) === expected(schemaOnly), clue)
      assert((sc.schemaChanges, sc.schemaQuarantined) === ((1L, 1L)), clue)
      assert(t.head().maxLsn === 11L, clue)

      val m = apply(mixed, 2)
      assert(counters(m) === expected(mixed), clue)
      assert(counters(m) === ((5L, 2L, 2L, 1L)), clue)
      assert(t.head().maxLsn === 14L, clue)

      t.addConstraint("no-cobol", "lang <> 'cobol'")
      val c = apply(constrained, 3)
      assert(counters(c) === expected(constrained), clue)
      // enforcement runs on the delivered rows, before the per-key dedup
      assert(c.constraintQuarantined === 3L, clue)
      assert(t.head().maxLsn === 24L, clue)
      // stored rows: last-wins over the delivered data events with the
      // violators removed, so a quarantined batch winner exposes the key's
      // older passing row
      val passing = (if (seeded) seed else Nil) ++ mixed ++
        constrained.filterNot(r => r.getString(7) == "cobol" && r.getString(3) != "delete")
      val want = passing.filter(_.getString(3) != "schema_change")
        .groupBy(r => (r.getString(4), r.getString(5))).values
        .map(_.maxBy(r => (r.getLong(0), r.getLong(1))))
        .filter(_.getString(3) != "delete")
        .map(r => (r.getString(4), r.getString(5), r.getString(6), r.getString(7))).toSet
      val stored = t.read().select("repo", "path", "commit", "lang").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
      assert(stored === want, clue)
      // r1/a's delivered winner, the lsn-21 cobol update, is quarantined
      assert(stored.contains(("r1", "a", "c20", "scala")), clue)
    }
  }
}

object CdcPropertySpec {
  def counters(s: MergeStats): (Long, Long, Long, Long) =
    (s.eventsSeen, s.duplicatesDropped, s.upserts, s.deletes)

  /** `(eventsSeen, duplicatesDropped, upserts, deletes)` a merge must report
    * for a batch of raw event rows: every event counts as seen; per key, the
    * last data event by `(lsn, event_id)` survives as an upsert or a delete,
    * and the key's other data events are dropped duplicates.
    */
  def expected(rows: Seq[Row]): (Long, Long, Long, Long) = {
    // EventLog.eventSchema positions: lsn 0, event_id 1, op 3, repo 4, path 5
    val data = rows.filter(_.getString(3) != "schema_change")
    val winners = data.groupBy(r => (r.getString(4), r.getString(5))).values
      .map(_.maxBy(r => (r.getLong(0), r.getLong(1))))
    val deletes = winners.count(_.getString(3) == "delete").toLong
    (rows.size.toLong, (data.size - winners.size).toLong, winners.size - deletes, deletes)
  }
}
