package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import graft.SparkSuite
import graft.events.EventLog

/** The lake write returns its files' manifest entries from the write tasks,
  * and a merge runs one pre-pass job plus the write (shuffle map stage and
  * write tasks), and one quarantine write when a CHECK constraint rejects a
  * row.
  */
class MergeWriteSpec extends SparkSuite {

  private def ev(
      lsn: Long, op: String, repo: String = null, path: String = null,
      lang: String = "scala", sc: String = null, extra: String = null): Row =
    Row(lsn, 0L, new java.sql.Timestamp(1700000000000L + lsn), op,
      repo, path, s"c$lsn", lang, s"v$lsn", sc, extra)

  private def batch(rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), EventLog.eventSchema)

  /** The files the head commit added, after checking them against the disk:
    * they are exactly the parquet files in the commit's dirs, and each entry
    * equals [[LakeTable.statsOfFile]] run on the committed file.
    */
  private def checkedAdds(t: LakeTable, statColumns: Seq[String]): Seq[DataFileEntry] = {
    val head = t.head()
    val before = t.log.read(head.parent).files.map(_.path).toSet
    val added = head.files.filterNot(f => before.contains(f.path))
    assert(added.nonEmpty, s"v${head.version} added no file")
    val conf = spark.sparkContext.hadoopConfiguration
    // commit dir / _deleted=… / part-….parquet
    val dirs = added.map(f => new Path(f.path).getParent.getParent).distinct
    val listed = dirs.flatMap { d =>
      val fs = d.getFileSystem(conf)
      val it = fs.listFiles(d, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
        .filter(_.getName.endsWith(".parquet")).map(p => fs.makeQualified(p).toString).toSeq
    }
    assert(listed.toSet === added.map(_.path).toSet)
    added.foreach { e =>
      val footer = LakeTable.statsOfFile(conf, new Path(e.path), e.path, statColumns)
      assert(footer.map(_.copy(delta = e.delta)) === Some(e), e.path)
    }
    added
  }

  test("write-task file entries equal the footer stats of every committed file") {
    val t = new LakeTable(spark, tmpDir("write-stats"), bloomColumns = Seq("commit"))
    t.create(LakeTable.baseSchema)
    val stats = LakeTable.defaultStatColumns

    // copy-on-write into an empty table: non-ASCII keys, a log-added long column
    t.merge(batch(
      ev(1, "insert", "r1", "a"),
      ev(2, "insert", "r1", "b", lang = "py"),
      ev(3, "insert", "rü", "päth"),
      ev(4, "insert", "r2", "😀"),
      ev(5, "schema_change", sc = """{"addColumn":{"name":"stars","type":"long"}}"""),
      ev(6, "insert", "r3", "c", extra = """{"stars": 7}""")), "e", 0)
    val first = checkedAdds(t, stats)
    assert(first.exists(f => f.maxRepo.isEmpty || f.maxPath.isEmpty), first)
    assert(first.forall(_.bloomCols.contains("commit")), first)
    assert(first.exists(_.longStats.contains("stars")), first)

    // copy-on-write into the non-empty table: updates, deletes, a rename
    t.merge(batch(
      ev(7, "update", "r1", "a", extra = """{"stars": 9}"""),
      ev(8, "delete", "rü", "päth"),
      ev(9, "schema_change", sc = """{"renameColumn":{"name":"stars","to":"rating"}}"""),
      ev(10, "insert", "r4", "d", extra = """{"rating": 3}""")), "e", 1)
    assert(t.head().physicalName === Map("rating" -> "stars"))
    val cow = checkedAdds(t, stats)
    assert(cow.exists(_.tomb) && cow.exists(!_.tomb), cow)

    // deferred merge: delta files, a delta tombstone
    t.mergeDeferred(batch(
      ev(11, "update", "r2", "😀", lang = "go"),
      ev(12, "delete", "r1", "b"),
      ev(13, "insert", "r5", "e", extra = """{"rating": 1}""")), "e", 2)
    val deferred = checkedAdds(t, stats)
    assert(deferred.forall(_.delta) && deferred.exists(_.tomb), deferred)

    // z-ordered full compaction, which also stats the z-order columns
    val rows = t.read().collect().toSet
    t.compact(full = true, zorderBy = Seq("lang", "commit"))
    val packed = checkedAdds(t, (stats ++ Seq("lang", "commit")).distinct)
    assert(packed.forall(!_.delta) && packed.exists(_.tomb), packed)
    assert(t.read().collect().toSet === rows)
  }

  /** Spark jobs `f` starts, counted by a listener. A marker job before and
    * after `f` fences the asynchronous listener bus.
    */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.put(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    def fence(): Int = {
      sc.setJobGroup("fence", "listener fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      var n = 0
      var g = groups.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      while (g != "fence") {
        assert(g != null, "listener fence timed out")
        n += 1
        g = groups.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      n
    }
    sc.addSparkListener(listener)
    try {
      fence()
      f
      fence()
    } finally sc.removeSparkListener(listener)
  }

  private val nextBatch = Seq(
    ev(21, "update", "r1", "p1"), ev(22, "delete", "r2", "p2"), ev(23, "insert", "r9", "p9"))

  test("an unconstrained copy-on-write merge into a non-empty table runs at most 3 jobs") {
    val t = new LakeTable(spark, tmpDir("merge-jobs"))
    t.create(LakeTable.baseSchema)
    t.merge(batch((1 to 20).map(i => ev(i, "insert", s"r${i % 3}", s"p$i")): _*), "e", 0)
    // pre-pass, shuffle map stage, write: the driver picks the range bounds,
    // so no job samples the plan below the exchange
    val jobs = jobsOf(t.merge(batch(nextBatch: _*), "e", 1))
    assert(jobs <= 3, s"$jobs jobs")
    assert(t.read().count() === 20L)
  }

  test("a copy-on-write merge into an empty table runs at most 3 jobs") {
    val t = new LakeTable(spark, tmpDir("merge-jobs-empty"))
    t.create(LakeTable.baseSchema)
    val jobs = jobsOf(t.merge(batch(nextBatch: _*), "e", 0))
    assert(jobs <= 3, s"$jobs jobs")
    assert(t.read().count() === 2L)
  }

  test("a deferred merge runs at most 3 jobs") {
    val t = new LakeTable(spark, tmpDir("merge-jobs-deferred"))
    t.create(LakeTable.baseSchema)
    t.merge(batch((1 to 20).map(i => ev(i, "insert", s"r${i % 3}", s"p$i")): _*), "e", 0)
    val jobs = jobsOf(t.mergeDeferred(batch(nextBatch: _*), "e", 1))
    assert(jobs <= 3, s"$jobs jobs")
    assert(t.read().count() === 20L)
  }

  test("a constrained copy-on-write merge runs at most 3 jobs, 4 with a violator") {
    val t = new LakeTable(spark, tmpDir("merge-jobs-check"))
    t.create(LakeTable.baseSchema)
    t.merge(batch((1 to 20).map(i => ev(i, "insert", s"r${i % 3}", s"p$i")): _*), "e", 0)
    t.addConstraint("no-cobol", "lang <> 'cobol'")
    // pre-pass, shuffle map stage, write
    val clean = jobsOf(t.merge(batch(nextBatch: _*), "e", 1))
    assert(clean <= 3, s"$clean jobs")
    // the same three, then the quarantine write
    var stats: MergeStats = null
    val dirty = jobsOf {
      stats = t.merge(batch(
        ev(24, "update", "r1", "p4", lang = "cobol"), ev(25, "insert", "r8", "p8")), "e", 2)
    }
    assert(dirty <= 4, s"$dirty jobs")
    assert(stats.constraintQuarantined === 1L)
    assert(t.read().count() === 21L)
    assert(t.read().filter("path = 'p4'").select("lang").collect().map(_.getString(0)) ===
      Array("scala"))
  }
}
