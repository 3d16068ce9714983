package graft.lake

import java.util.concurrent.{CountDownLatch, Executors}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.events.EventLog

/** Optimistic-concurrency coverage for the PLAIN-ROW write surfaces racing
  * the CDC merge: `append`/`applyChanges` ride the merge path (recompute on
  * a lost commit race), and `overwrite` commits its truncate through the
  * same commit loop before appending through the merge path. The contract
  * under races on DISJOINT keys: no commit is ever lost, history stays a
  * serial parent chain, and the final state equals SOME serial order of the
  * writers ([[SnapshotLog.tryCommit]] + the table's one commit loop).
  */
class MultiWriterSpec extends SparkSuite {
  import spark.implicits._

  private def ev(lsn: Long, op: String, repo: String, path: String,
                 content: String = null): Row =
    Row(lsn, 0L, new java.sql.Timestamp(1700000000000L + lsn), op,
      repo, path, "c", "scala", content, null, null)

  private def batch(rows: Row*) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 2), EventLog.eventSchema)

  private def assertSerialChain(t: LakeTable): Unit = {
    var v = t.head().version
    while (v > 0) { val s = t.log.read(v); assert(s.parent === v - 1); v = s.parent }
  }

  test("append racing merge: both writers land, no lost commit, serial history") {
    val t = new LakeTable(spark, tmpDir("append-race"))
    t.create(LakeTable.baseSchema)
    t.merge(batch(ev(1, "insert", "seed", "p0", "v0")), "cdc", 0)

    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val gate = new CountDownLatch(1)
    val merger = Future {
      gate.await()
      (1 to 4).foreach { b =>
        t.merge(batch(ev(100 + b, "insert", s"cdc$b", "p", s"m$b")), "cdc", b)
      }
    }
    val appender = Future {
      gate.await()
      (1 to 4).foreach { b =>
        t.append(Seq((s"app$b", "p", s"a$b")).toDF("repo", "path", "content"),
          "app", b)
      }
    }
    gate.countDown()
    Await.result(merger, 120.seconds)
    Await.result(appender, 120.seconds)
    pool.shutdown()

    val contents = t.read().select("repo", "content").as[(String, String)]
      .collect().toMap
    (1 to 4).foreach { b =>
      assert(contents.get(s"cdc$b").contains(s"m$b"), s"merge batch $b lost")
      assert(contents.get(s"app$b").contains(s"a$b"), s"append batch $b lost")
    }
    val h = t.head()
    (0 to 4).foreach(b => assert(h.ledger.contains("cdc", b)))
    (1 to 4).foreach(b => assert(h.ledger.contains("app", b)))
    assertSerialChain(t)
  }

  test("overwrite racing merge: both commit; final state is a serial order") {
    val t = new LakeTable(spark, tmpDir("ow-race"))
    t.create(LakeTable.baseSchema)
    t.merge(batch(ev(1, "insert", "old", "p", "stale")), "cdc", 0)

    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val gate = new CountDownLatch(1)
    val merger = Future {
      gate.await()
      t.merge(batch(ev(50, "insert", "mid", "p", "merged")), "cdc", 1)
    }
    val overwriter = Future {
      gate.await()
      t.overwrite((1 to 3).map(i => (s"new$i", "p", s"n$i"))
        .toDF("repo", "path", "content"), "ow", 0)
    }
    gate.countDown()
    Await.result(merger, 120.seconds)
    Await.result(overwriter, 120.seconds)
    pool.shutdown()

    val h = t.head()
    assert(h.ledger.contains("cdc", 1) && h.ledger.contains("ow", 0))
    assertSerialChain(t)
    val contents = t.read().select("repo", "content").as[(String, String)]
      .collect().toMap
    // overwrite rows always survive (they commit after the truncate)
    (1 to 3).foreach(i => assert(contents.get(s"new$i").contains(s"n$i")))
    // the pre-existing row never survives an overwrite
    assert(!contents.contains("old"))
    // the raced merge either serialized BEFORE the truncate (wiped) or
    // after it (survives) — both are valid serial orders, a third state isn't
    assert(contents.get("mid").forall(_ == "merged"))
    assert(contents.size === 3 + (if (contents.contains("mid")) 1 else 0))
  }

  test("two appenders racing: disjoint keys, both land exactly once") {
    val t = new LakeTable(spark, tmpDir("app-app-race"))
    t.create(LakeTable.baseSchema)

    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val gate = new CountDownLatch(1)
    def writer(tag: String) = Future {
      gate.await()
      (1 to 3).foreach { b =>
        t.append(Seq((s"$tag$b", "p", s"$tag-c$b")).toDF("repo", "path", "content"),
          tag, b)
      }
    }
    val (wa, wb) = (writer("x"), writer("y"))
    gate.countDown()
    Await.result(wa, 120.seconds)
    Await.result(wb, 120.seconds)
    pool.shutdown()

    val contents = t.read().select("repo", "content").as[(String, String)]
      .collect().toMap
    assert(contents.size === 6)
    (1 to 3).foreach { b =>
      assert(contents(s"x$b") === s"x-c$b")
      assert(contents(s"y$b") === s"y-c$b")
    }
    assertSerialChain(t)
  }
}
