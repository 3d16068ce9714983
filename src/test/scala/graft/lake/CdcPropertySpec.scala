package graft.lake

import org.apache.spark.sql.Row
import graft.SparkSuite
import graft.events.{EventLog, ReplayOracle}

/** Property-style engine checks (SURVEY.md §5): across random generator
  * configs and random batch splits, replay through LakeTable.merge must equal
  * the plain-Scala oracle fold — including shuffled within-batch order and
  * every saltBuckets strategy — and every batch's lineage counters must
  * equal the ones derived from its raw rows ([[CdcPropertySpec.expected]]).
  */
class CdcPropertySpec extends SparkSuite {
  import CdcPropertySpec._

  test("random configs × random splits × dedup strategies ≡ oracle") {
    val rnd = new scala.util.Random(2026)
    for (trial <- 0 until 5) {
      val n = 1500 + rnd.nextInt(1500)
      val cfg = EventLog.Config(
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
        // oracle under every batch split and dedup strategy
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
      // deterministic sweep: every strategy (incl. -2 adaptive) each run
      val salt = Seq(-2, -1, 0, 1, 4)(trial % 5)

      val t = new LakeTable(spark, tmpDir(s"prop$trial"))
      t.create(LakeTable.baseSchema)
      splits.zipWithIndex.foreach { case (rows, i) =>
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 3), EventLog.eventSchema)
        val stats = t.merge(df, "prop", i.toLong, saltBuckets = salt)
        assert(counters(stats) === expected(rows), s"trial=$trial salt=$salt batch=$i")
      }
      val got = t.read()
      assert(got.schema.fieldNames.toSeq === want.schema.fieldNames.toSeq,
        s"trial=$trial salt=$salt")
      val extra = got.exceptAll(want).count()
      val missing = want.exceptAll(got).count()
      assert(extra === 0 && missing === 0,
        s"trial=$trial salt=$salt batches=${splits.size} extra=$extra missing=$missing")
    }
  }

  test("counters of schema-change-only and constrained batches, both write modes") {
    def ev(lsn: Long, op: String, repo: String = null, path: String = null,
           lang: String = "scala", sc: String = null, eventId: Long = 0L): Row =
      Row(lsn, eventId, new java.sql.Timestamp(1700000000000L + lsn), op,
        repo, path, "c", lang, "x", sc, null)
    val schemaOnly = Seq(
      ev(10, "schema_change", sc = """{"addColumn":{"name":"stars","type":"int"}}"""),
      ev(11, "schema_change", sc = """{"widenColumn":{"name":"nope","type":"long"}}"""))
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
      if (seeded) apply(Seq(ev(1, "insert", "r1", "a"), ev(2, "insert", "r2", "c")), 0)

      val sc = apply(schemaOnly, 1)
      assert(counters(sc) === expected(schemaOnly), clue)
      assert((sc.schemaChanges, sc.schemaQuarantined) === ((1L, 1L)), clue)
      assert(t.head().maxLsn === 11L, clue)

      t.addConstraint("no-cobol", "lang <> 'cobol'")
      val c = apply(constrained, 2)
      assert(counters(c) === expected(constrained), clue)
      // enforcement runs on the delivered rows, before the per-key dedup
      assert(c.constraintQuarantined === 3L, clue)
      assert(t.head().maxLsn === 24L, clue)
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
