package graft.stream

import org.apache.spark.sql.DataFrame
import graft.SparkSuite
import graft.events.{EventLog, ReplayOracle}

class CdcIngestSpec extends SparkSuite {

  private val cfg = EventLog.Config(
    numEvents = 8000L, numRepos = 40, pathsPerRepo = 60,
    duplicateRate = 0.05, schemaChangeLsns = Seq(2500L, 6000L),
    // mid-log widen of the int column added at lsn 2500: the STREAMING path
    // (foreachBatch merge + checkpoint resume) must replay it like the fold
    widenLsns = Seq(5000L),
    // drop of stars at 6800 (after its 2500 add + 5000 widen) and a rename
    // of license (added at 6000) at 7200: the streaming path must carry the
    // tombstone + rename lineage through checkpointed micro-batches exactly
    // like the fold
    dropLsns = Seq(6800L), renameLsns = Seq(7200L), seed = 11L)

  private lazy val oracle: DataFrame =
    ReplayOracle.expected(spark, EventLog.generate(spark, cfg).collect().toSeq)

  private def assertSameTable(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.fieldNames.toSeq === want.schema.fieldNames.toSeq)
    val extra = got.exceptAll(want).count()
    val missing = want.exceptAll(got).count()
    assert(extra === 0 && missing === 0, s"extra=$extra missing=$missing")
  }

  private def ingest(work: String, maxFiles: Int, segments: Int = 8): CdcIngest = {
    EventLog.write(spark, cfg, s"$work/events", segments)
    val in = new CdcIngest(spark, s"$work/table", s"$work/events", s"$work/cp",
      maxFilesPerTrigger = maxFiles,
      lineage = Some(new Lineage(spark, s"$work/table")))
    in.runToCompletion()
    in
  }

  test("replay in one batch == replay in many batches == oracle") {
    val one = ingest(tmpDir("cdc1"), maxFiles = 100)
    val many = ingest(tmpDir("cdcN"), maxFiles = 1)
    assertSameTable(one.table.read(), oracle)
    assertSameTable(many.table.read(), oracle)
    assert(many.stats.count(!_.noOp) === 8, "expected 8 micro-batches")
  }

  test("resume from checkpoint: late segments arriving after a drain reconverge") {
    val work = tmpDir("cdcR")
    // write the full log, then hold back the last 3 segments
    EventLog.write(spark, cfg, s"$work/all", 8)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$work/events"))
    val segs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$work/all"))
      .map(_.getPath).sortBy(_.getName)
    val (early, late) = segs.partition(p => p.getName < "seg-00005")
    early.foreach(p => fs.rename(p, new org.apache.hadoop.fs.Path(s"$work/events/${p.getName}")))

    val in1 = new CdcIngest(spark, s"$work/table", s"$work/events", s"$work/cp",
      maxFilesPerTrigger = 2)
    in1.runToCompletion()
    val partialRows = in1.table.read().count()
    assert(partialRows > 0)

    late.foreach(p => fs.rename(p, new org.apache.hadoop.fs.Path(s"$work/events/${p.getName}")))
    val in2 = new CdcIngest(spark, s"$work/table", s"$work/events", s"$work/cp",
      maxFilesPerTrigger = 2)
    in2.runToCompletion()
    assertSameTable(in2.table.read(), oracle)
    // batchIds continued from the checkpoint, no ledger collision
    assert(in2.stats.forall(!_.noOp))
  }

  test("in-loop maintenance bounds snapshots and files without changing state") {
    val work = tmpDir("cdcM")
    EventLog.write(spark, cfg, s"$work/events", 8)
    val in = new CdcIngest(spark, s"$work/table", s"$work/events", s"$work/cp",
      maxFilesPerTrigger = 1, // 8 micro-batches
      maintenance = CdcIngest.Maintenance(
        expireEvery = 2, keepSnapshots = 2, compactAtFiles = 4))
    in.runToCompletion()
    assertSameTable(in.table.read(), oracle)
    // snapshots beyond keepLast are gone (maintenance ran after batch 7;
    // compaction may add one version on top)
    val metas = new java.io.File(s"$work/table/meta").listFiles()
      .map(_.getName).filter(n => n.startsWith("v") && n.endsWith(".json"))
    assert(metas.length <= 3, s"snapshot metadata unbounded: ${metas.toSeq.sorted}")
    // compaction kept fragmentation at bay: far fewer live files than the
    // 8 copy-on-write merges would otherwise leave
    assert(in.table.head().files.size < 8, s"files=${in.table.head().files.size}")
  }

  test("in-loop maintenance with zorderBy keeps oracle state and a pruned lang read") {
    val work = tmpDir("cdcZ")
    EventLog.write(spark, cfg, s"$work/events", 8)
    val in = new CdcIngest(spark, s"$work/table", s"$work/events", s"$work/cp",
      maxFilesPerTrigger = 1,
      maintenance = CdcIngest.Maintenance(
        expireEvery = 2, keepSnapshots = 2, compactAtFiles = 2,
        targetRowsPerFile = 200, zorderBy = Seq("lang")))
    in.runToCompletion()
    assertSameTable(in.table.read(), oracle)
    // the maintenance rewrites statted lang (zorder columns join the stat
    // set), so a lang point read prunes AND returns exactly the filter rows
    import org.apache.spark.sql.functions.col
    assertSameTable(in.table.readWhere(col("lang") === "py"),
      oracle.filter(col("lang") === "py"))
    val statted = in.table.head().files.count(_.stats.contains("lang"))
    assert(statted > 0, "zorder maintenance left no lang-statted files")
  }

  test("recordOp alone advances the periodic lineage flush (op-only workloads)") {
    val root = tmpDir("lineage-oponly")
    val lin = new Lineage(spark, root, flushEvery = 2)
    lin.recordOp("dedup", "rows_dropped_by_bucket_cap", 5L)
    lin.recordOp("dedup", "buckets_capped", 1L) // second record event → flush
    // rows are on disk with NO explicit flush() call
    val rows = lin.read().collect()
    assert(rows.length === 2, s"op-only records did not flush: ${rows.toSeq}")
  }

  test("ProcessingTime ingest flushes lineage mid-run; stopping the stream loses at most flushEvery batches") {
    val work = tmpDir("cdcPT")
    EventLog.write(spark, cfg, s"$work/events", 8)
    val lin = new Lineage(spark, s"$work/table", flushEvery = 2)
    val in = new CdcIngest(spark, s"$work/table", s"$work/events", s"$work/cp",
      maxFilesPerTrigger = 1, lineage = Some(lin),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(50L))
    intercept[IllegalArgumentException](in.runToCompletion()) // continuous never terminates
    val q = in.start()
    // wait until several batches merged, then KILL the stream without flushing
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (in.stats.size < 4 && System.nanoTime() < deadline) Thread.sleep(100)
    q.stop()
    assert(in.stats.size >= 4, s"stream only merged ${in.stats.size} batches in 60s")
    // periodic flush already landed rows on disk — no explicit flush() ran
    import spark.implicits._
    val flushedBatches = lin.read().select("batch_id").distinct().as[Long].collect().toSet
    assert(flushedBatches.size >= 2,
      s"expected ≥2 flushed batches mid-run, found $flushedBatches")
    // resume in drain mode completes the replay to the oracle state
    val resume = new CdcIngest(spark, s"$work/table", s"$work/events", s"$work/cp",
      maxFilesPerTrigger = 1)
    resume.runToCompletion()
    assertSameTable(resume.table.read(), oracle)
  }

  test("lineage sidecar records per-batch counters that sum to the log size") {
    val work = tmpDir("cdcL")
    val in = ingest(work, maxFiles = 2)
    val lin = new Lineage(spark, s"$work/table").read()
    import spark.implicits._
    val seen = lin.filter($"metric" === "eventsSeen")
      .agg(org.apache.spark.sql.functions.sum("value")).as[Long].head()
    // base events + duplicate deliveries
    val total = EventLog.generate(spark, cfg).count()
    assert(seen === total)
  }
}
