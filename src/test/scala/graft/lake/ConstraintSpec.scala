package graft.lake

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.events.EventLog

/** CHECK constraints: snapshot metadata, write-path quarantine semantics,
  * validation against existing data, and interaction with restore.
  */
class ConstraintSpec extends SparkSuite {
  import spark.implicits._

  private def ev(lsn: Long, op: String, repo: String, path: String,
                 lang: String = "scala", content: String = null): Row =
    Row(lsn, 0L, new java.sql.Timestamp(1700000000000L + lsn), op,
      repo, path, "c", lang, content, null, null)

  private def batch(rows: Row*) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 2), EventLog.eventSchema)

  test("violating upserts quarantine with counters; deletes and NULLs pass") {
    val root = tmpDir("check")
    val t = new LakeTable(spark, root)
    t.create(LakeTable.baseSchema)
    t.merge(batch(ev(1, "insert", "r1", "a", "scala", "ok")), "e", 0)
    t.addConstraint("lang-allowed", "lang IN ('scala', 'java')")
    assert(t.head().constraints === Map("lang-allowed" -> "lang IN ('scala', 'java')"))

    val stats = t.merge(batch(
      ev(2, "insert", "r1", "b", "scala", "fine"),
      ev(3, "insert", "r1", "c", "cobol", "violates"),
      ev(4, "insert", "r1", "d", null, "null lang passes (SQL CHECK)"),
      ev(5, "delete", "r1", "a")), "e", 1)
    assert(stats.constraintQuarantined === 1L)
    val live = t.read().select("path").as[String].collect().toSet
    assert(live === Set("b", "d")) // c quarantined, a deleted, null-lang d kept

    // quarantined rows are written for inspection, not silently dropped
    val qdir = new java.io.File(root, "quarantine")
    assert(qdir.exists && qdir.listFiles().nonEmpty)
    val quarantined = spark.read.parquet(qdir.listFiles().head.toString)
    assert(quarantined.select("path").as[String].collect().toSeq === Seq("c"))

    // dropping the constraint re-admits such rows
    t.dropConstraint("lang-allowed")
    t.merge(batch(ev(6, "insert", "r1", "c2", "cobol", "now fine")), "e", 2)
    assert(t.read().filter(col("lang") === "cobol").count() === 1L)
  }

  test("addConstraint validates existing rows and rejects duplicates") {
    val t = new LakeTable(spark, tmpDir("check-val"))
    t.create(LakeTable.baseSchema)
    t.merge(batch(ev(1, "insert", "r1", "a", "cobol", "pre-existing")), "e", 0)
    intercept[IllegalArgumentException] {
      t.addConstraint("lang-allowed", "lang IN ('scala', 'java')")
    }
    t.addConstraint("key-shape", "repo IS NOT NULL")
    intercept[IllegalArgumentException] {
      t.addConstraint("key-shape", "path IS NOT NULL") // duplicate name
    }
    intercept[IllegalArgumentException] { t.dropConstraint("no-such") }
  }

  test("constraints enforce on the deferred-merge path too") {
    val t = new LakeTable(spark, tmpDir("check-mor"))
    t.create(LakeTable.baseSchema)
    t.addConstraint("content-required", "content IS NOT NULL AND length(content) > 0")
    val stats = t.mergeDeferred(batch(
      ev(1, "insert", "r1", "a", "scala", "ok"),
      ev(2, "insert", "r1", "b", "scala", "")), "e", 0)
    assert(stats.constraintQuarantined === 1L)
    assert(t.read().select("path").as[String].collect().toSeq === Seq("a"))
  }

  private def quarantinedPaths(root: String): Seq[String] = {
    val qdir = new java.io.File(root, "quarantine")
    if (!qdir.exists || qdir.listFiles().isEmpty) Nil
    else spark.read.option("recursiveFileLookup", "true").parquet(qdir.toString)
      .select("path").as[String].collect().toSeq.sorted
  }

  test("a lost commit race quarantines each violating row exactly once") {
    val root = tmpDir("check-race")
    val t = new LakeTable(spark, root)
    t.create(LakeTable.baseSchema)
    t.addConstraint("lang-allowed", "lang IN ('scala', 'java')")
    // a second handle commits a metadata-only version from inside the
    // merge's first task, so the merge's first commit attempt must lose
    val racer = new LakeTable(spark, root)
    ConstraintSpec.arm { () =>
      val s = racer.head()
      assert(racer.log.tryCommit(s.copy(version = s.version + 1, parent = s.version,
        operation = "race")))
    }
    val before = t.head().version
    val stats = t.merge(ConstraintSpec.racingBatch(spark, Seq(
      ev(1, "insert", "r1", "a", "scala", "ok"),
      ev(2, "insert", "r1", "b", "cobol", "violates"),
      ev(3, "insert", "r1", "c", "fortran", "violates too"))), "e", 0)
    assert(!ConstraintSpec.armed, "the race hook never fired")
    assert(stats.version === before + 2, "the merge must have recomputed once")
    assert(stats.constraintQuarantined === 2L)
    assert(quarantinedPaths(root) === Seq("b", "c"))
    assert(t.read().select("path").as[String].collect().toSeq === Seq("a"))
  }

  test("a merge whose data write fails leaves no quarantine dir") {
    val root = tmpDir("check-fail")
    val t = new LakeTable(spark, root)
    t.create(LakeTable.baseSchema)
    t.addConstraint("lang-allowed", "lang IN ('scala', 'java')")
    // a plain file where the data directory belongs: every data write fails
    assert(new java.io.File(root, "data").createNewFile())
    intercept[Exception] {
      t.merge(batch(
        ev(1, "insert", "r1", "a", "scala", "ok"),
        ev(2, "insert", "r1", "b", "cobol", "violates")), "e", 0)
    }
    val qdir = new java.io.File(root, "quarantine")
    assert(!qdir.exists || qdir.listFiles().isEmpty,
      s"a failed batch left quarantine output: ${Option(qdir.listFiles()).map(_.toSeq)}")
    assert(t.head().files.isEmpty)
  }

  test("a merge that loses every commit race gives up after the bound") {
    val root = tmpDir("check-giveup")
    val t = new LakeTable(spark, root)
    t.create(LakeTable.baseSchema)
    t.addConstraint("lang-allowed", "lang IN ('scala', 'java')")
    val before = t.head().version
    // the racer commits from inside every task that reads the batch and
    // re-arms itself, so every merge attempt finds a newer head at commit
    val racer = new LakeTable(spark, root)
    def race(): Unit = {
      val s = racer.head()
      assert(racer.log.tryCommit(s.copy(version = s.version + 1, parent = s.version,
        operation = "race")))
      ConstraintSpec.arm(() => race())
    }
    ConstraintSpec.arm(() => race())
    val e = try intercept[IllegalStateException] {
      t.merge(ConstraintSpec.racingBatch(spark, Seq(
        ev(1, "insert", "r1", "a", "scala", "ok"),
        ev(2, "insert", "r1", "b", "cobol", "violates"))), "e", 0)
    } finally ConstraintSpec.disarm()
    assert(e.getMessage.contains(
      s"merge(e, 0) lost ${LakeTable.maxCommitAttempts} commit races"), e.getMessage)
    // every attempt writes its own data dir: exactly the bound of them
    val attemptDirs = new java.io.File(root, "data").listFiles().map(_.getName)
      .filter(_.matches("v\\d+-b0-.*"))
    assert(attemptDirs.length === LakeTable.maxCommitAttempts, attemptDirs.toSeq)
    val qdir = new java.io.File(root, "quarantine")
    assert(!qdir.exists || qdir.listFiles().isEmpty,
      s"lost attempts left quarantine output: ${Option(qdir.listFiles()).map(_.toSeq)}")
    val ops = (before + 1 to t.head().version).map(v => t.log.read(v).operation)
    assert(ops.nonEmpty && ops.forall(_ == "race"), ops)
    assert(t.head().files.isEmpty)
  }

  test("restore rolls constraints back with the rest of the state") {
    val t = new LakeTable(spark, tmpDir("check-restore"))
    t.create(LakeTable.baseSchema)
    t.merge(batch(ev(1, "insert", "r1", "a", "scala", "v1")), "e", 0)
    val before = t.head().version
    t.addConstraint("lang-allowed", "lang = 'scala'")
    t.restoreTo(before)
    assert(t.head().constraints.isEmpty)
    // the constraint is gone: a previously-violating row now lands
    t.merge(batch(ev(2, "insert", "r1", "b", "cobol", "v2")), "e", 1)
    assert(t.read().count() === 2L)
  }
}

object ConstraintSpec {
  @volatile private var hook: Option[() => Unit] = None

  /** Run `f` once, from inside the first task that reads a [[racingBatch]]
    * (or from a `LakeTable.afterDataWrite` hook that calls [[fire]]).
    */
  def arm(f: () => Unit): Unit = hook = Some(f)
  def armed: Boolean = hook.nonEmpty
  def disarm(): Unit = hook = None

  private[lake] def fire(): Unit = synchronized {
    val h = hook
    hook = None
    h.foreach(_())
  }

  def racingBatch(spark: org.apache.spark.sql.SparkSession, rows: Seq[Row]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2).mapPartitions { it => fire(); it },
      EventLog.eventSchema)
}
