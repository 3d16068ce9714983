package graft.lake

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.events.EventLog

/** `spark.read.format("graft")` batch relation: standard read UX over a lake
  * table with automatic manifest file pruning from pushed filters, exact
  * results for any predicate shape (fail-open), projection pruning, and
  * versionAsOf time travel.
  */
class GraftSourceSpec extends SparkSuite {
  import spark.implicits._

  private def ev(lsn: Long, op: String, repo: String, path: String, content: String): Row =
    Row(lsn, 0L, new java.sql.Timestamp(1700000000000L + lsn * 1000), op,
      repo, path, s"c$lsn", "scala", content, null, null)

  private lazy val table: LakeTable = {
    val t = new LakeTable(spark, tmpDir("gsrc"))
    t.create(LakeTable.baseSchema)
    val rows = for (i <- 0 until 120)
      yield ev(i + 1, "insert", f"r${i % 12}%02d", f"p$i%03d", s"v$i")
    t.merge(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), EventLog.eventSchema), "e", 0)
    t.merge(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      ev(200, "update", "r03", "p003", "v3b"),
      ev(201, "delete", "r05", "p005", null)), 2), EventLog.eventSchema), "e", 1)
    t.compact(targetRowsPerFile = 20, full = true)
    t
  }

  private def viaSource(opts: (String, String)*): DataFrame =
    opts.foldLeft(spark.read.format("graft").option("path", table.root))(
      (r, kv) => r.option(kv._1, kv._2)).load()

  test("format(graft) read equals LakeTable.read; deletes excluded; update visible") {
    val got = viaSource().collect().toSet
    assert(got === table.read().collect().toSet)
    val upd = viaSource().filter(col("path") === "p003").select("content").as[String].collect()
    assert(upd.toSeq === Seq("v3b"))
    assert(viaSource().filter(col("path") === "p005").isEmpty)
  }

  test("pushed filters match full-scan results for every shape (fail-open)") {
    val full = table.read()
    val preds = Seq(
      col("repo") === "r07",
      col("repo") >= "r09" && col("path") < "p060",
      col("repo").isin("r01", "r02") || col("content") === "v50",
      !(col("repo") === "r00"),
      // regression: a weakened And under Not negates into a STRONGER pushed
      // predicate unless Not requires exact translation — <=> (EqualNullSafe)
      // exercises the leaf the lenient translator once dropped
      !(col("repo") === "r00" && col("path") <=> "p012"),
      !(col("repo") === "r00" && col("path") =!= "p012"),
      col("content").contains("v1"))
    preds.foreach { p =>
      assert(viaSource().filter(p).collect().toSet === full.filter(p).collect().toSet,
        s"predicate diverged: $p")
    }
  }

  test("projection prunes; count(*) works with an empty projection") {
    val df = viaSource().select("repo")
    assert(df.columns.toSeq === Seq("repo"))
    assert(df.distinct().count() === 12)
    assert(viaSource().count() === 119) // 120 inserts + 1 update - 1 delete
  }

  test("versionAsOf reads the table as of an earlier snapshot") {
    // head is the compaction snapshot; its parent the update/delete batch;
    // THAT batch's parent is the first-merge snapshot we want
    val v1 = table.log.read(table.head().parent).parent
    val old = viaSource("versionAsOf" -> v1.toString)
    assert(old.count() === 120)
    assert(old.filter(col("path") === "p003").select("content").as[String].head() === "v3")
    assert(old.filter(col("path") === "p005").count() === 1)
  }

  test("SQL surface: CREATE TEMPORARY VIEW ... USING graft") {
    spark.sql(
      s"CREATE OR REPLACE TEMPORARY VIEW graft_sql_view USING graft OPTIONS (path '${table.root}')")
    try {
      assert(spark.sql("SELECT count(*) FROM graft_sql_view").as[Long].head() === 119)
      val got = spark.sql(
        "SELECT content FROM graft_sql_view WHERE repo = 'r07' AND path = 'p007'")
        .as[String].collect().toSeq
      assert(got === Seq("v7"))
    } finally spark.catalog.dropTempView("graft_sql_view")
  }

  test("relation tracks schema evolution; versionAsOf reads the schema AS OF that version") {
    val t = new LakeTable(spark, tmpDir("gsrcw"))
    t.create(LakeTable.baseSchema)
    def b(rows: Row*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), EventLog.eventSchema)
    t.merge(b(
      Row(1L, 0L, new java.sql.Timestamp(0L), "schema_change", null, null, null,
        null, null, """{"addColumn":{"name":"stars","type":"int"}}""", null),
      Row(2L, 0L, new java.sql.Timestamp(0L), "insert", "r1", "a", "c2", "scala",
        "v2", null, """{"stars": 7}""")), "e", 0)
    val preWiden = t.head().version
    t.merge(b(
      Row(3L, 0L, new java.sql.Timestamp(0L), "schema_change", null, null, null,
        null, null, """{"widenColumn":{"name":"stars","type":"long"}}""", null),
      Row(4L, 0L, new java.sql.Timestamp(0L), "insert", "r2", "b", "c4", "scala",
        "v4", null, """{"stars": 9999999999}""")), "e", 1)
    def src(opts: (String, String)*) = opts.foldLeft(
      spark.read.format("graft").option("path", t.root))((r, kv) => r.option(kv._1, kv._2)).load()
    // head: widened schema, old int row read as long natively
    val now = src()
    assert(now.schema("stars").dataType === org.apache.spark.sql.types.LongType)
    assert(now.select("stars").as[Option[Long]].collect().toSet ===
      Set(Some(7L), Some(9999999999L)))
    // as of the pre-widen snapshot: the int schema of that version
    val old = src("versionAsOf" -> preWiden.toString)
    assert(old.schema("stars").dataType === org.apache.spark.sql.types.IntegerType)
    assert(old.select("stars").as[Option[Int]].collect().toSet === Set(Some(7)))
  }

  test("the relation plans a NATIVE columnar file scan: no row-conversion boundary") {
    val q = viaSource().filter(col("repo") === "r07").select("repo", "content")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("ExternalRDD"), s"row boundary in plan:\n$plan")
    assert(!plan.contains("RowDataSourceScan"), s"DSv1 row scan in plan:\n$plan")
    assert(plan.contains("FileScan parquet") || plan.contains("Scan parquet"),
      s"expected a native parquet scan:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(repo), EqualTo(repo,r07)]") ||
      plan.contains("EqualTo(repo,r07)"), s"filter not pushed to parquet:\n$plan")
    assert(plan.contains("ReadSchema: struct<repo:string,content:string>"),
      s"projection not pruned to (repo, content):\n$plan")
    // and the scan sits inside whole-stage codegen (the `*(n)` prefix)
    assert(plan.contains("*(1)"), s"no codegen span above the scan:\n$plan")
  }

  test("planning-time manifest pruning reaches the native scan's file list") {
    // a point read must PLAN O(1) files, not just filter rows at runtime
    val q = viaSource().filter(col("repo") === "r07" && col("path") === "p007")
    val scanned = q.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(Nil, f.dataFilters).map(_.files.size).sum
    }.sum
    assert(scanned <= 2, s"point read planned $scanned files")
    assert(q.select("content").as[String].collect().toSeq === Seq("v7"))
  }

  test("df.write.format(graft): append upserts, overwrite replaces, round-trips") {
    val root = tmpDir("gwrite")
    val a = Seq(("r1", "a", "v1"), ("r2", "b", "v2")).toDF("repo", "path", "content")
    a.write.format("graft").option("path", root).mode("append").save()
    val t = new LakeTable(spark, root)
    assert(t.read().select("repo", "path", "content").as[(String, String, String)]
      .collect().toSet === Set(("r1", "a", "v1"), ("r2", "b", "v2")))
    // append is an UPSERT by (repo, path): same key replaces, new key adds
    Seq(("r1", "a", "v1b"), ("r3", "c", "v3")).toDF("repo", "path", "content")
      .write.format("graft").option("path", root).mode("append").save()
    assert(t.read().filter(col("path") === "a").select("content").as[String].head() === "v1b")
    assert(t.read().count() === 3)
    // overwrite replaces the contents in one commit; history stays readable
    val preVer = t.head().version
    Seq(("r9", "z", "vz")).toDF("repo", "path", "content")
      .write.format("graft").option("path", root).mode("overwrite").save()
    assert(t.read().select("repo").as[String].collect().toSeq === Seq("r9"))
    assert(t.readVersion(preVer).count() === 3)
    // single-shot writes must NOT accrete ledger entries: the ledger is
    // serialized into every snapshot, so one never-reused epoch per save()
    // would grow all future metadata forever
    assert(t.head().ledger.size === 0,
      s"ad-hoc saves leaked into the ledger: ${t.head().ledger}")
  }

  test("an overwrite with a bad frame fails before it truncates the table") {
    val root = tmpDir("gwrite-bad")
    Seq(("r1", "a", "v1"), ("r2", "b", "v2")).toDF("repo", "path", "content")
      .write.format("graft").option("path", root).mode("append").save()
    val t = new LakeTable(spark, root)
    val version = t.head().version
    val rows = t.read().collect().toSet
    def assertUnchanged(): Unit = {
      assert(t.head().version === version)
      assert(t.read().collect().toSet === rows)
    }
    val unknown = intercept[IllegalArgumentException] {
      Seq(("r9", "z", "vz", 1)).toDF("repo", "path", "content", "stray")
        .write.format("graft").option("path", root).mode("overwrite").save()
    }
    assert(unknown.getMessage.contains("stray"), unknown.getMessage)
    assertUnchanged()
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW gow_bad USING graft OPTIONS (path '$root')")
    try {
      val noKey = intercept[IllegalArgumentException] {
        spark.sql("INSERT OVERWRITE gow_bad (repo, content) VALUES ('r9', 'vz')")
      }
      assert(noKey.getMessage.contains("key columns"), noKey.getMessage)
    } finally spark.catalog.dropTempView("gow_bad")
    assertUnchanged()
  }

  test("SQL INSERT INTO routes through the committing write path") {
    spark.sql(
      s"CREATE OR REPLACE TEMPORARY VIEW graft_ins USING graft OPTIONS (path '${table.root}')")
    try {
      val before = table.head().version
      spark.sql("INSERT INTO graft_ins VALUES ('zz', 'newpath', 'c9', 'scala', 'inserted')")
      // committed as a snapshot (not files dropped beside the table)...
      assert(table.head().version > before)
      // ...and visible both through the table API and a FRESH relation
      assert(table.read().filter(col("repo") === "zz")
        .select("content").as[String].head() === "inserted")
      spark.sql(
        s"CREATE OR REPLACE TEMPORARY VIEW graft_ins2 USING graft OPTIONS (path '${table.root}')")
      assert(spark.sql("SELECT content FROM graft_ins2 WHERE repo = 'zz'")
        .as[String].head() === "inserted")
      // upsert semantics: inserting the same key again replaces it
      spark.sql("INSERT INTO graft_ins VALUES ('zz', 'newpath', 'c9', 'scala', 'v2')")
      assert(table.read().filter(col("repo") === "zz").count() === 1)
      assert(table.read().filter(col("repo") === "zz")
        .select("content").as[String].head() === "v2")
    } finally {
      spark.catalog.dropTempView("graft_ins")
      spark.catalog.dropTempView("graft_ins2")
    }
  }

  test("SQL DML: column-list INSERT, DELETE, and UPDATE route through the merge path") {
    val root = tmpDir("gdml")
    val t = new LakeTable(spark, root)
    t.create(LakeTable.baseSchema)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW gdml USING graft OPTIONS (path '$root')")
    try {
      // partial-column INSERT: unlisted columns null-fill
      spark.sql("INSERT INTO gdml (repo, path, content) VALUES " +
        "('r1', 'a', 'v1'), ('r1', 'b', 'v2'), ('r2', 'c', 'v3')")
      assert(t.read().count() === 3)
      assert(t.read().filter(col("path") === "a")
        .select("lang").as[Option[String]].head().isEmpty)

      // UPDATE applies assignments to matching rows and upserts them
      spark.sql("UPDATE gdml SET lang = 'scala', content = concat(content, '!') " +
        "WHERE repo = 'r1'")
      assert(t.read().filter(col("repo") === "r1")
        .select("content").as[String].collect().toSet === Set("v1!", "v2!"))
      assert(t.read().filter(col("repo") === "r2")
        .select("lang").as[Option[String]].head().isEmpty)

      // DELETE tombstones the matching keys (visible to readRaw as tombstones)
      spark.sql("DELETE FROM gdml WHERE path = 'b'")
      assert(t.read().count() === 2)
      assert(t.readRaw().filter(col("_deleted")).count() === 1)

      // key-column UPDATE is rejected loudly
      val e = intercept[Exception](spark.sql("UPDATE gdml SET repo = 'x'"))
      assert(e.getMessage.contains("key column"), e.getMessage)
    } finally spark.catalog.dropTempView("gdml")
  }

  test("SQL MERGE INTO: matched update/delete, not-matched insert, first-action-wins") {
    val root = tmpDir("gmerge")
    val t = new LakeTable(spark, root)
    t.create(LakeTable.baseSchema)
    t.append(Seq(("r1", "a", "scala", "v1"), ("r1", "b", "go", "v2"), ("r2", "c", "py", "v3"))
      .toDF("repo", "path", "lang", "content"), "seed", 0)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW gmerge USING graft OPTIONS (path '$root')")
    Seq(("r1", "a", "upd", "u1"), ("r1", "b", "del", null), ("r9", "z", "ins", "n1"))
      .toDF("r", "p", "action", "payload").createOrReplaceTempView("gmerge_src")
    try {
      spark.sql("""
        MERGE INTO gmerge t USING gmerge_src s
        ON t.repo = s.r AND t.path = s.p
        WHEN MATCHED AND s.action = 'del' THEN DELETE
        WHEN MATCHED THEN UPDATE SET content = s.payload
        WHEN NOT MATCHED AND s.action = 'ins' THEN
          INSERT (repo, path, content) VALUES (s.r, s.p, s.payload)""")
      val got = t.read().select("repo", "path", "lang", "content")
        .as[(String, String, String, String)].collect().toSet
      assert(got === Set(
        ("r1", "a", "scala", "u1"), // matched update; unassigned lang KEPT
        ("r2", "c", "py", "v3"),    // untouched by the merge
        ("r9", "z", null, "n1")))   // not-matched insert (lang unassigned → null)
      // the delete left a real tombstone (late duplicates still lose)
      assert(t.readRaw().filter(col("_deleted"))
        .select("path").as[String].collect().toSeq === Seq("b"))

      // star forms: UPDATE SET * / INSERT * map source columns by name —
      // standard MERGE semantics require the source to carry EVERY target
      // column for a star action (Spark expands the star before our rule)
      Seq(("r2", "c", "c9", "rust", "v3b"), ("r8", "y", "c9", "js", "v8"))
        .toDF("repo", "path", "commit", "lang", "content")
        .createOrReplaceTempView("gmerge_src2")
      spark.sql("""
        MERGE INTO gmerge t USING gmerge_src2 s
        ON t.repo = s.repo AND t.path = s.path
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      val after = t.read().filter(col("repo").isin("r2", "r8"))
        .select("repo", "lang", "content").as[(String, String, String)].collect().toSet
      assert(after === Set(("r2", "rust", "v3b"), ("r8", "js", "v8")))

      // unsupported shapes fail loudly, not silently
      val e = intercept[Exception](spark.sql(
        "MERGE INTO gmerge t USING gmerge_src s ON t.repo = s.r " +
          "WHEN MATCHED THEN DELETE"))
      assert(e.getMessage.contains("BOTH key columns"), e.getMessage)
    } finally {
      spark.catalog.dropTempView("gmerge")
      spark.catalog.dropTempView("gmerge_src")
      spark.catalog.dropTempView("gmerge_src2")
    }
  }

  test("startingVersion options read the batch change feed through format(graft)") {
    val t = new LakeTable(spark, tmpDir("gchanges"))
    t.create(LakeTable.baseSchema)
    def b(rows: Row*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), EventLog.eventSchema)
    t.merge(b(ev(1, "insert", "r1", "a", "v1"), ev(2, "insert", "r1", "b", "v2")), "e", 0)
    val v1 = t.head().version
    t.merge(b(ev(10, "update", "r1", "a", "v1b"), ev(11, "insert", "r2", "c", "v3"),
      ev(12, "delete", "r1", "b", null)), "e", 1)
    val v2 = t.head().version

    def feed(opts: (String, String)*): DataFrame = opts.foldLeft(
      spark.read.format("graft").option("path", t.root))((r, kv) => r.option(kv._1, kv._2)).load()

    // (v1, head]: the three net changes, identical to the API surface
    val d = feed("startingVersion" -> v1.toString)
    assert(d.collect().toSet === t.changesBetween(v1, v2).collect().toSet)
    assert(d.count() === 3)
    assert(d.filter(col("_deleted")).select("path").as[String].collect().toSeq === Seq("b"))
    // column pruning + row filters stay exact on the wrapped plan
    assert(d.select("path").as[String].collect().toSet === Set("a", "b", "c"))
    assert(d.filter(col("path") === "a").select("content").as[String].head() === "v1b")
    // explicit endingVersion bounds the feed; (0, v1] sees only the seed batch
    assert(feed("startingVersion" -> "0", "endingVersion" -> v1.toString)
      .select("path").as[String].collect().toSet === Set("a", "b"))

    // SQL view: pure-SQL incremental ETL over the feed
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW gchg USING graft OPTIONS " +
      s"(path '${t.root}', startingVersion '$v1')")
    try assert(spark.sql("SELECT count(*) FROM gchg WHERE NOT _deleted").as[Long].head() === 2)
    finally spark.catalog.dropTempView("gchg")

    // time travel and change feed are different reads: combining must fail loudly
    val e = intercept[Exception](
      feed("startingVersion" -> "0", "versionAsOf" -> v1.toString).collect())
    assert(e.getMessage.contains("mutually exclusive"), e.getMessage)
  }

  test("streaming sink: per-(epoch, batchId) ledger makes a replayed batch a no-op") {
    val root = tmpDir("gsink")
    val sink = new GraftSink(spark, root, "e1")
    val b0 = Seq(("r1", "a", "v1")).toDF("repo", "path", "content")
    sink.addBatch(0, b0)
    val t = new LakeTable(spark, root)
    assert(t.read().count() === 1)
    val v1 = t.head().version
    sink.addBatch(0, b0) // re-delivery after a restart: must not double-apply
    assert(t.head().version === v1)
    sink.addBatch(1, Seq(("r1", "a", "v2")).toDF("repo", "path", "content"))
    assert(t.read().select("content").as[String].collect().toSeq === Seq("v2"))
    // event-shaped stream frames go through the full merge (deletes work)
    val ev = Seq((10L, 0L, "delete", "r1", "a"))
      .toDF("lsn", "event_id", "op", "repo", "path")
      .withColumn("commit", lit(null).cast("string"))
      .withColumn("lang", lit(null).cast("string"))
      .withColumn("content", lit(null).cast("string"))
      .withColumn("schema_change", lit(null).cast("string"))
      .withColumn("extra", lit(null).cast("string"))
    sink.addBatch(2, ev)
    assert(t.read().count() === 0)
  }

  test("writeStream.format(graft) end-to-end: micro-batches upsert exactly-once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, String, String)]
    val root = tmpDir("gsinkstream")
    val q = mem.toDF().toDF("repo", "path", "content")
      .writeStream.format("graft")
      .option("path", root).option("epoch", "s1")
      .option("checkpointLocation", tmpDir("gsinkchk"))
      .start()
    try {
      mem.addData(("r1", "a", "v1"))
      q.processAllAvailable()
      mem.addData(("r1", "a", "v2"), ("r2", "b", "v1"))
      q.processAllAvailable()
    } finally q.stop()
    val t = new LakeTable(spark, root)
    assert(t.read().select("repo", "path", "content").as[(String, String, String)]
      .collect().toSet === Set(("r1", "a", "v2"), ("r2", "b", "v1")))
  }

  test("a point-read filter prunes the inner scan to O(1) files") {
    // the executed scan's numFiles metric counts the files the point read
    // actually opened, after GraftFileIndex.listFiles pruned the manifests
    val q = viaSource().filter(col("repo") === "r07" && col("path") === "p007")
      .select("content")
    val read = scannedFiles(q)
    val snap = table.head()
    assert(snap.files.size >= 5, s"compaction should leave many files: ${snap.files.size}")
    assert(read >= 1 && read <= 2, s"expected O(1) files, read $read of ${snap.files.size}")
    assert(q.collect().toSeq.map(_.getString(0)) === Seq("v7")) // still exact
  }
}
