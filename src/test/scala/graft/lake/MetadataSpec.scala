package graft.lake

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Pure-JVM units for the bounded snapshot metadata (BatchLedger, PruneIndex). */
class LedgerSpec extends AnyFunSuite {

  test("contiguous batch ids collapse into the high-water mark") {
    var l = BatchLedger.empty
    for (b <- 0L to 99L) l = l.add("e", b)
    assert(l.hwm === Map("e" -> 99L))
    assert(l.sparse.isEmpty)
    assert(l.contains("e", 0L) && l.contains("e", 99L) && !l.contains("e", 100L))
    assert(l.size === 100L)
  }

  test("out-of-order ids spill to the sparse set and drain once the gap fills") {
    var l = BatchLedger.empty.add("e", 0L).add("e", 2L).add("e", 3L)
    assert(l.hwm === Map("e" -> 0L))
    assert(l.sparse === Set(("e", 2L), ("e", 3L)))
    assert(l.contains("e", 2L) && !l.contains("e", 1L))
    l = l.add("e", 1L)
    assert(l.hwm === Map("e" -> 3L) && l.sparse.isEmpty)
  }

  test("epochs are independent; re-add is a no-op") {
    val l = BatchLedger.empty.add("a", 0L).add("b", 5L)
    assert(l.contains("a", 0L) && !l.contains("b", 0L) && l.contains("b", 5L))
    assert(l.add("a", 0L) === l)
  }
}

class PruneIndexSpec extends AnyFunSuite {
  private def e(path: String, minR: String, maxR: String,
                minP: String = null, maxP: String = null) =
    DataFileEntry(path, 1L, Option(minR), Option(maxR), Option(minP), Option(maxP))

  test("interval lookup finds exactly the covering files") {
    val idx = PruneIndex(Seq(
      e("f1", "a", "f"), e("f2", "g", "m"), e("f3", "n", "z"), e("f4", "c", "h")))
    assert(idx.lookup("d", "x").toSet === Set("f1", "f4"))
    assert(idx.lookup("g", "x").toSet === Set("f2", "f4"))
    assert(idx.lookup("zz", "x").toSet === Set.empty)
    assert(idx.lookup("n", "x").toSet === Set("f3"))
  }

  test("path bounding box is a second necessary condition") {
    val idx = PruneIndex(Seq(e("f1", "a", "z", "p1", "p5")))
    assert(idx.lookup("m", "p3").toSet === Set("f1"))
    assert(idx.lookup("m", "p9").toSet === Set.empty)
  }

  test("unbounded sides always match; prefix scan does not stop early past them") {
    val idx = PruneIndex(Seq(
      DataFileEntry("open", 1L, None, None, None, None),
      e("f1", "b", "c"), e("f2", "x", "y")))
    assert(idx.lookup("zz", "p").toSet === Set("open"))
    assert(idx.lookup("b", "p").toSet === Set("open", "f1"))
  }

  test("comparisons are unsigned UTF-8 byte order (supplementary plane)") {
    // U+10000 (𐀀) is UTF-16 surrogate D800 DC00: Java String order puts it
    // BELOW U+E000 () but unsigned UTF-8 order puts it ABOVE. A file whose
    // range is ["z","z"] must not swallow the supplementary key.
    val supp = new String(Character.toChars(0x10000))
    val idx = PruneIndex(Seq(e("f1", "z", "z")))
    assert(idx.lookup(supp, "p").toSet === Set.empty,
      "supplementary-plane key wrongly matched a BMP-only range")
    assert(idx.lookup("z", "p").toSet === Set("f1"))
  }
}

/** Metadata stays bounded across commits and non-ASCII keys stay correct. */
class SnapshotMetadataSpec extends SparkSuite {
  import spark.implicits._

  private def slurp(p: String): String = {
    val src = scala.io.Source.fromFile(p, "UTF-8")
    try src.mkString finally src.close()
  }

  test("snapshot JSON is O(epochs): data files live in manifests, carried by reference") {
    val root = tmpDir("meta-bounded")
    val t = new LakeTable(spark, root)
    t.create(LakeTable.baseSchema)
    def b(lsn: Long, repo: String) = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
        lsn, 0L, new java.sql.Timestamp(1700000000000L + lsn), "insert",
        repo, "p", "c", "scala", s"v$lsn", null, null)), 1),
      graft.events.EventLog.eventSchema)
    // touch strictly disjoint repo ranges so earlier files are never rewritten
    for (i <- 0 until 12) t.merge(b(i.toLong + 1, f"r$i%03d"), "e", i.toLong)
    val v6 = slurp(s"$root/meta/v6.json")
    val v12 = slurp(s"$root/meta/v12.json")
    // ledger collapsed to one high-water mark, no per-batch pairs
    assert(v12.contains(""""ledgerHwm":{"e":11}"""), v12)
    assert(v12.contains(""""ledgerSparse":[]"""), v12)
    // snapshot body carries manifest refs, not file entries
    assert(!v12.contains(".parquet"), "data file paths inlined in snapshot JSON")
    // and does not grow linearly with table history (allow slack for refs)
    assert(v12.length < v6.length * 2, s"v6=${v6.length}B v12=${v12.length}B")
    // untouched manifests carried forward by reference between commits
    val refs6 = "m[0-9]+-[ar][0-9]*\\.json".r.findAllIn(v6).toSet
    val refs12 = "m[0-9]+-[ar][0-9]*\\.json".r.findAllIn(v12).toSet
    assert(refs6.subsetOf(refs12), s"$refs6 not carried into $refs12")
    // full state still reads back
    assert(t.read().count() === 12)
    assert(t.head().files.size === 12)
  }

  test("non-ASCII repo keys: pruning never skips the owning file (unbounded stats)") {
    val t = new LakeTable(spark, tmpDir("meta-nonascii"))
    t.create(LakeTable.baseSchema)
    val supp = "repo-" + new String(Character.toChars(0x1F600)) // 😀 U+1F600
    def b(lsn: Long, content: String, batch: Long) = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
        lsn, 0L, new java.sql.Timestamp(1700000000000L + lsn), if (lsn == 1) "insert" else "update",
        supp, "p", "c", "scala", content, null, null)), 1),
      graft.events.EventLog.eventSchema)
    t.merge(b(1, "v1", 0), "e", 0)
    // the file holding the emoji key must be touched by the update —
    // one-key-one-file invariant: no duplicate/stale live row afterwards
    t.merge(b(2, "v2", 1), "e", 1)
    val rows = t.read().select("repo", "content").as[(String, String)].collect()
    assert(rows.toSeq === Seq((supp, "v2")), s"stale or duplicate live row: ${rows.toSeq}")
  }

  test("racing commits on the same version: exactly one wins (hard-link atomicity)") {
    val root = tmpDir("meta-race")
    val log = new SnapshotLog(spark, root)
    val base = Snapshot(0L, LakeTable.baseSchema, Map.empty, Seq.empty, BatchLedger.empty, -1L)
    log.commit(base)
    // two writers race to publish v1 (POSIX rename would let BOTH "succeed",
    // silently dropping one snapshot; link(2) cannot)
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val results = (0 until 2).map { i =>
      Future {
        gate.await()
        try {
          log.commit(base.copy(version = 1L, parent = 0L,
            ledger = BatchLedger.empty.add(s"writer$i", 0L)))
          Right(i)
        } catch { case e: Exception => Left(e.getMessage) }
      }
    }
    gate.countDown()
    val done = results.map(Await.result(_, Duration.Inf)).toList
    pool.shutdown()
    assert(done.count(_.isRight) === 1, done.toString)
    assert(done.count(_.isLeft) === 1, done.toString)
    // the surviving snapshot is intact and attributable to exactly one writer
    val head = log.head().get
    assert(head.version === 1L)
    assert(head.ledger.hwm.keySet.size === 1)
  }

  /** Golden manifest and manifest-list JSON: string stats (`lang`, `commit`),
    * int64 stats of an evolved column, an absent bound (non-ASCII max key),
    * advertised blooms. Old and new builds must write these bytes exactly.
    */
  private val goldenManifests = Seq(
    """{"files":[{"path":"<root>/data/v1-b0-<id>/_deleted=false/part-00000-<uuid>.c000.zstd.parquet","rows":3,"minRepo":"a0","maxRepo":"a2","minPath":"p","maxPath":"p","maxVer":1,"tomb":false,"delta":false,"bytes":67933,"stats":[{"col":"commit","min":"c10","max":"c12"},{"col":"lang","min":"go","max":"go"}],"longStats":[{"col":"stars","min":0,"max":2}],"bloomCols":["commit"]}]}""",
    """{"files":[{"path":"<root>/data/v2-b1-<id>/_deleted=false/part-00000-<uuid>.c000.zstd.parquet","rows":3,"minRepo":"z0","minPath":"p","maxPath":"p","maxVer":2,"tomb":false,"delta":false,"bytes":67952,"stats":[{"col":"commit","min":"c20","max":"c22"},{"col":"lang","min":"rust","max":"rust"}],"longStats":[{"col":"stars","min":100,"max":102}],"bloomCols":["commit"]}]}""")

  private val goldenManifestList =
    """"manifestList":[{"name":"m1-a-<id>.json","files":1,"minRepo":"a0","maxRepo":"a2","minPath":"p","maxPath":"p","maxVer":1,"hasDeltas":false,"stattedStr":["commit","lang"],"stattedLong":["stars"],"bloomCols":["commit"],"stats":[{"col":"commit","min":"c10","max":"c12"},{"col":"lang","min":"go","max":"go"}],"longStats":[{"col":"stars","min":0,"max":2}]},""" +
    """{"name":"m2-a-<id>.json","files":1,"minRepo":"z0","minPath":"p","maxPath":"p","maxVer":2,"hasDeltas":false,"stattedStr":["commit","lang"],"stattedLong":["stars"],"bloomCols":["commit"],"stats":[{"col":"commit","min":"c20","max":"c22"},{"col":"lang","min":"rust","max":"rust"}],"longStats":[{"col":"stars","min":100,"max":102}]}]}"""

  test("manifest and manifest-list JSON are byte-identical to the golden format") {
    val root = tmpDir("meta-golden")
    val t = new LakeTable(spark, root, bloomColumns = Seq("commit"))
    t.create(LakeTable.baseSchema)
    def ev(lsn: Long, repo: String, lang: String, stars: Long) =
      org.apache.spark.sql.Row(lsn, 0L, new java.sql.Timestamp(1700000000000L + lsn),
        "insert", repo, "p", s"c$lsn", lang, s"v$lsn", null, s"""{"stars": $stars}""")
    val ddl = org.apache.spark.sql.Row(1L, 0L, new java.sql.Timestamp(1700000000000L),
      "schema_change", null, null, null, null, null,
      """{"addColumn":{"name":"stars","type":"long"}}""", null)
    def batch(rows: Seq[org.apache.spark.sql.Row]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), graft.events.EventLog.eventSchema)
    t.merge(batch(ddl +: (0 until 3).map(i => ev(10L + i, s"a$i", "go", i.toLong))), "e", 0)
    t.merge(batch(Seq(ev(20L, "z0", "rust", 100L), ev(21L, "z1", "rust", 101L),
      ev(22L, "zé", "rust", 102L))), "e", 1)

    val meta = new java.io.File(s"$root/meta")
    def manifests = meta.listFiles().filter(_.getName.startsWith("m")).sortBy(_.getName)
    val normal: String => String = _
      .replace(new java.io.File(root).toURI.getPath.stripSuffix("/"), "<root>")
      .replaceAll("file:", "")
      .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>")
      .replaceAll("-[0-9a-f]{8}(?=/|\\.json)", "-<id>")
    val head = slurp(s"$root/meta/v2.json")
    assert(manifests.map(f => normal(slurp(f.getPath))).toSeq === goldenManifests)
    assert(normal(head.substring(head.indexOf("\"manifestList\":"))) === goldenManifestList)

    // a table written before int64 stats existed: strip every longStats array
    // (manifests and manifest list); a fresh reader returns the same rows and
    // prunes on the string stats alone
    val stars = col("stars") >= 100L
    assert(scannedFiles(t.readWhere(stars)) === 1)
    val json = meta.listFiles().filter(_.getName.endsWith(".json"))
    for (f <- json) {
      val txt = slurp(f.getPath)
      val stripped = txt.replaceAll(",\"longStats\":\\[[^\\]]*\\]", "")
      if (stripped != txt) {
        java.nio.file.Files.write(f.toPath, stripped.getBytes("UTF-8"))
        new java.io.File(meta, s".${f.getName}.crc").delete() // stale checksum
      }
    }
    assert(!json.exists(f => slurp(f.getPath).contains("longStats")))
    val fresh = new LakeTable(spark, root, bloomColumns = Seq("commit"))
    assert(fresh.head().files.forall(_.longStats.isEmpty))
    assert(fresh.read().collect().toSet === t.read().collect().toSet)
    assert(fresh.readWhere(stars).collect().toSet === t.read().filter(stars).collect().toSet)
    assert(scannedFiles(fresh.readWhere(stars)) === 2, "no int64 stats left to prune on")
    val rust = col("lang") === "rust"
    assert(fresh.readWhere(rust).collect().toSet === t.read().filter(rust).collect().toSet)
    assert(scannedFiles(fresh.readWhere(rust)) === 1, "string stats still prune")
  }

  test("expireSnapshots GCs unreferenced manifests") {
    val root = tmpDir("meta-gc")
    val t = new LakeTable(spark, root)
    t.create(LakeTable.baseSchema)
    def b(lsn: Long) = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
        lsn, 0L, new java.sql.Timestamp(1700000000000L + lsn), "update",
        "r1", "p", "c", "scala", s"v$lsn", null, null)), 1),
      graft.events.EventLog.eventSchema)
    for (i <- 0 until 5) t.merge(b(i.toLong + 1), "e", i.toLong)
    t.expireSnapshots(keepLast = 1)
    val metas = new java.io.File(s"$root/meta").listFiles().map(_.getName).toSet
    // same-range rewrites: each commit replaces the single manifest, so only
    // the latest survives GC
    assert(metas.count(_.startsWith("m")) === 1, metas)
    assert(t.read().select("content").as[String].head() === "v5")
  }
}

/** `LakeTable.history()` — the DESCRIBE HISTORY analog: every commit path
  * stamps its operation + wall clock + size aggregates into the snapshot
  * JSON, and history() reads them back without touching a manifest.
  */
class HistorySpec extends SparkSuite {
  import spark.implicits._

  test("every commit path stamps its operation; aggregates match the table") {
    val t = new LakeTable(spark, tmpDir("hist"))
    t.create(LakeTable.baseSchema)
    def b(rows: org.apache.spark.sql.Row*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), graft.events.EventLog.eventSchema)
    def ev(lsn: Long, op: String, repo: String, path: String) =
      org.apache.spark.sql.Row(lsn, 0L, new java.sql.Timestamp(1700000000000L + lsn),
        op, repo, path, s"c$lsn", "scala", s"v$lsn", null, null)
    t.merge(b(ev(1, "insert", "r1", "a"), ev(2, "insert", "r1", "b")), "e", 0)
    t.append(Seq(("r2", "c", "x")).toDF("repo", "path", "content"), "e", 1)
    t.delete(Seq(("r1", "b")).toDF("repo", "path"), "e", 2)
    t.compact(targetRowsPerFile = 1000, full = true)
    t.overwrite(Seq(("r9", "z", "y")).toDF("repo", "path", "content"), "e", 3)

    val h = t.history().collect()
    assert(h.map(_.getAs[Long]("version")).toSeq ===
      h.map(_.getAs[Long]("version")).toSeq.sorted.reverse, "newest first")
    val ops = h.sortBy(_.getAs[Long]("version")).map(_.getAs[String]("operation")).toSeq
    assert(ops === Seq(
      "create", "merge", "append", "delete", "compact", "truncate", "overwrite"), ops)
    // metadata-only aggregates agree with the actual head state
    val head = h.maxBy(_.getAs[Long]("version"))
    assert(head.getAs[Long]("live_rows") === t.read().count())
    assert(head.getAs[Long]("files") === t.head().files.size.toLong)
    assert(head.getAs[Long]("bytes") > 0L)
    assert(head.getAs[java.sql.Timestamp]("committed_at") != null)
    // truncate's empty commit reports zero rows/files
    val trunc = h.find(_.getAs[String]("operation") == "truncate").get
    assert(trunc.getAs[Long]("live_rows") === 0L && trunc.getAs[Long]("files") === 0L)
    // a FRESH log instance reads the same audit headers (JSON round-trip)
    val again = new LakeTable(spark, t.root).history().collect()
    assert(again.map(r => (r.getAs[Long]("version"), r.getAs[String]("operation"))).toSeq
      === h.map(r => (r.getAs[Long]("version"), r.getAs[String]("operation"))).toSeq)
  }
}
