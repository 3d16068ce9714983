package graft.lake

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.events.EventLog

class CompactionSpec extends SparkSuite {
  import spark.implicits._

  private def ev(lsn: Long, op: String, repo: String, path: String,
                 content: String = null): Row =
    Row(lsn, 0L, new java.sql.Timestamp(1700000000000L + lsn), op,
      repo, path, "c", "scala", content, null, null)

  private def batch(rows: Row*) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 2), EventLog.eventSchema)

  test("compact bin-packs files, preserves content, expires old tombstones only") {
    val t = new LakeTable(spark, tmpDir("compact"))
    t.create(LakeTable.baseSchema)
    // disjoint repo ranges → later merges never touch the aaa file → >1 file
    t.merge(batch(ev(1, "insert", "aaa", "a", "v1")), "e", 0)
    t.merge(batch(ev(2, "insert", "r2", "b", "v2"), ev(3, "insert", "r3", "c", "v3")), "e", 1)
    t.merge(batch(ev(4, "delete", "r2", "b")), "e", 2)
    t.merge(batch(ev(5, "delete", "r3", "c")), "e", 3)
    val before = t.head()
    assert(before.files.size > 1)
    val pre = t.read().select("repo").as[String].collect().toSet
    assert(pre === Set("aaa"))

    // watermark 4: tombstone at lsn 4 expires, lsn 5 is retained
    val after = t.compact(targetRowsPerFile = 1000000L, tombstoneWatermark = Some(4L))
    assert(after.version === before.version + 1)
    // live rows and retained tombstones are packed into SEPARATE files
    // (Iceberg delete-file analog): one of each here
    assert(after.files.count(!_.tomb) === 1)
    assert(after.files.count(_.tomb) === 1)
    assert(t.read().select("repo").as[String].collect().toSet === pre)
    val tombs = t.readRaw().filter(col("_deleted")).select("_lsn").as[Long].collect().toSet
    assert(tombs === Set(5L))

    // a late duplicate ABOVE the watermark is still guarded by its tombstone:
    t.merge(batch(ev(5, "delete", "r3", "c")), "e", 4) // replayed delete, same lsn
    assert(t.read().select("repo").as[String].collect().toSet === pre)
  }

  test("incremental compaction rewrites only fragmented files; cold files carry by reference") {
    val t = new LakeTable(spark, tmpDir("inc-compact"))
    t.create(LakeTable.baseSchema)
    // one large clustered file...
    val bulk = (0 until 120).map(i => ev(i + 1, "insert", f"r${i % 12}%02d", f"p$i%03d", s"v$i"))
    t.merge(spark.createDataFrame(spark.sparkContext.parallelize(bulk, 4),
      EventLog.eventSchema), "e", 0)
    t.compact(targetRowsPerFile = 500, full = true) // → a single 120-row file
    val cold = t.head().files
    assert(cold.size === 1 && cold.head.rows === 120)
    // ...plus small merges on DISJOINT keys (outside the cold file's key box,
    // so copy-on-write never touches it)
    t.merge(batch(ev(200, "insert", "zz", "a", "x1")), "e", 1)
    t.merge(batch(ev(201, "insert", "zz", "b", "x2")), "e", 2)
    t.merge(batch(ev(202, "insert", "zz", "c", "x3")), "e", 3)
    val frag = t.head()
    assert(frag.files.map(_.path).toSet.contains(cold.head.path))
    assert(frag.files.size >= 4, s"expected fragmentation: ${frag.files.size}")
    val pre = t.read().collect().toSet

    // incremental: the 120-row file is ≥ target → carried with the SAME path;
    // the three 1-row files are bin-packed into one
    val next = t.compact(targetRowsPerFile = 100)
    assert(next.files.map(_.path).toSet.contains(cold.head.path),
      "cold file must carry by reference (same path)")
    val packed = next.files.filterNot(_.path == cold.head.path)
    assert(packed.size === 1, s"expected 1 bin-packed file, got ${packed.map(_.path)}")
    assert(packed.head.rows === 3)
    assert(t.read().collect().toSet === pre)
    // a pass where the only undersized file is alone (nothing to pack it
    // with) and nothing is jumbo is a metadata no-op
    assert(t.compact(targetRowsPerFile = 30).version === next.version)

    // incremental mode also SPLITS jumbo files (> 4× target): at target 3
    // the 120-row file is jumbo and splits, while the 3-row packed file is
    // exactly in range and carries by reference
    val split = t.compact(targetRowsPerFile = 3)
    assert(!split.files.map(_.path).contains(cold.head.path), "jumbo file must split")
    assert(split.files.map(_.path).toSet.contains(packed.head.path),
      "in-range file must still carry by reference")
    assert(split.files.count(f => !f.tomb && f.path != packed.head.path) >= 4,
      s"expected the 120-row file split into several: ${split.files.map(_.rows)}")
    assert(t.read().collect().toSet === pre)
  }

  test("concurrent merge and compaction: both land; final state equals serialized order") {
    val t = new LakeTable(spark, tmpDir("concurrent"))
    t.create(LakeTable.baseSchema)
    val seed = (0 until 60).map(i => ev(i + 1, "insert", f"r${i % 6}", f"p$i%03d", s"v$i"))
    t.merge(spark.createDataFrame(spark.sparkContext.parallelize(seed, 4),
      EventLog.eventSchema), "e", 0)

    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val merger = Future {
      gate.await()
      (1 to 4).foreach { b =>
        t.merge(batch(ev(100 + b, "update", f"r${b % 6}", f"p${b * 7}%03d", s"u$b")), "e", b)
      }
    }
    val compactor = Future {
      gate.await()
      (1 to 3).foreach(_ => t.compact(targetRowsPerFile = 10, full = true))
    }
    gate.countDown()
    Await.result(merger, 120.seconds)
    Await.result(compactor, 120.seconds)
    pool.shutdown()

    // every update won (no lost merge), every seed row survived (no lost
    // compaction carry), and the ledger saw each batch exactly once
    val contents = t.read().select("path", "content").as[(String, String)].collect().toMap
    assert(contents.size === 60)
    (1 to 4).foreach(b => assert(contents(f"p${b * 7}%03d") === s"u$b", s"batch $b lost"))
    val h = t.head()
    (0 to 4).foreach(b => assert(h.ledger.contains("e", b)))
    // serialized-equivalent history: every parent pointer chains to v0
    var v = h.version
    while (v > 0) { val s = t.log.read(v); assert(s.parent === v - 1); v = s.parent }
  }

  /** Four one-row files on disjoint keys: an incremental compaction at
    * target 100 rewrites all of them.
    */
  private def fragmented(root: String): LakeTable = {
    val t = new LakeTable(spark, root)
    t.create(LakeTable.baseSchema)
    (0 until 4).foreach(i => t.merge(batch(ev(i + 1, "insert", s"r$i", "p", s"v$i")), "e", i))
    assert(t.head().files.size === 4)
    t
  }

  /** Compact `t` while a second handle commits `raced(head)` once, on the
    * driver, after the compaction's data write and before its snapshot
    * commit.
    */
  private def compactRacing(t: LakeTable)(raced: Snapshot => Snapshot): Snapshot = {
    val racer = new LakeTable(spark, t.root)
    ConstraintSpec.arm { () =>
      val s = racer.head()
      assert(racer.log.tryCommit(raced(s).copy(version = s.version + 1,
        parent = s.version, operation = "race")))
    }
    t.afterDataWrite = () => ConstraintSpec.fire()
    try t.compact(targetRowsPerFile = 100)
    finally ConstraintSpec.disarm()
  }

  private def compactDirs(t: LakeTable): Seq[String] =
    new java.io.File(t.root, "data").listFiles()
      .map(_.getName).filter(_.startsWith("compact-v")).toSeq

  test("a compaction that loses a race to an unrelated commit rebases its files") {
    val t = fragmented(tmpDir("compact-rebase"))
    val before = t.head().version
    val rows = t.read().collect().toSet
    val after = compactRacing(t)(identity)
    assert(t.log.read(before + 1).operation === "race")
    assert(after.version === before + 2)
    assert(after.operation === "compact" && after.files.size === 1)
    assert(compactDirs(t).size === 1, compactDirs(t))
    assert(t.read().collect().toSet === rows)
  }

  test("a compaction whose rewritten file was replaced concurrently recomputes") {
    val t = fragmented(tmpDir("compact-recompute"))
    val before = t.head().version
    // the racer drops one of the four files the compaction is rewriting
    val after = compactRacing(t)(s => s.copy(files = s.files.tail))
    assert(t.log.read(before + 1).operation === "race")
    assert(after.version === before + 2)
    assert(compactDirs(t).size === 2, compactDirs(t))
    val raced = t.readVersion(before + 1).collect().toSet
    assert(raced.size === 3)
    assert(t.read().collect().toSet === raced)
  }

  test("GC never collects an in-flight writer's dir; aged orphan attempts are collected") {
    val t = new LakeTable(spark, tmpDir("gc-inflight"))
    t.create(LakeTable.baseSchema)
    for (i <- 0 until 4)
      t.merge(batch(ev(i + 1, if (i == 0) "insert" else "update", "r1", "p", s"v$i")), "e", i)
    val head = t.head().version
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def plant(dir: String): org.apache.hadoop.fs.Path = {
      val p = new org.apache.hadoop.fs.Path(t.log.dataDir, s"$dir/_deleted=false/part-0.parquet")
      val out = fs.create(p, true)
      try out.write(Array[Byte](1, 2, 3)) finally out.close()
      p
    }
    // a writer mid-flight toward the NEXT version, and a crashed attempt
    // from long before the retention floor — both unreferenced
    val inflight = plant(s"v${head + 1}-b9-aaaa1111")
    val orphan = plant("v1-b0-bbbb2222")
    t.expireSnapshots(keepLast = 1)
    assert(fs.exists(inflight), "GC must not collect an in-flight commit dir")
    assert(!fs.exists(orphan), "an orphan attempt below the floor must be collected")
    assert(t.read().count() === 1) // table state untouched
  }

  test("expireSnapshots drops old metadata and GCs unreferenced files") {
    val t = new LakeTable(spark, tmpDir("expire"))
    t.create(LakeTable.baseSchema)
    // updates to the SAME key: every merge must touch (and so rewrite) the
    // previous file — with (repo,path) bounding-box pruning, disjoint keys
    // would legitimately carry forward untouched and never become garbage
    for (i <- 0 until 4)
      t.merge(batch(ev(i + 1, if (i == 0) "insert" else "update", "r1", "p", s"v$i")), "e", i)
    val rowsBefore = t.read().count()
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def countData(): Int = {
      val dp = new org.apache.hadoop.fs.Path(t.log.dataDir)
      val it = fs.listFiles(dp, true)
      var n = 0
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
    val filesBefore = countData()
    t.expireSnapshots(keepLast = 1)
    assert(countData() < filesBefore, "expected GC to remove unreferenced files")
    assert(t.read().count() === rowsBefore) // latest snapshot intact
    assert(t.log.read(t.log.latestVersion().get).files.nonEmpty)
  }
}
