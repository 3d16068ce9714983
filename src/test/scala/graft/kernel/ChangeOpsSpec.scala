package graft.kernel

import org.apache.spark.sql.functions._
import graft.SparkSuite

class ChangeOpsSpec extends SparkSuite {
  import spark.implicits._

  test("dedupLastWins keeps exactly the max-(lsn,tie) row per key, ties included") {
    val df = Seq(
      ("a", 1L, 0L, "v1"), ("a", 3L, 0L, "v3"), ("a", 3L, 1L, "v3dup"),
      ("b", 2L, 0L, "w2"), ("c", 1L, 5L, "x")
    ).toDF("k", "lsn", "tie", "v")
    val got = ChangeOps.dedupLastWins(df, Seq("k"), Seq(col("lsn"), col("tie")))
      .select("k", "v").as[(String, String)].collect().toMap
    assert(got === Map("a" -> "v3dup", "b" -> "w2", "c" -> "x"))
  }

  test("caseId assigns 1..n per key in (lsn) order") {
    val df = Seq(("a", 10L), ("a", 5L), ("a", 7L), ("b", 1L)).toDF("k", "lsn")
    val got = ChangeOps.caseId(df, Seq("k"), Seq(col("lsn")))
      .select("k", "lsn", "case_id").as[(String, Long, Int)].collect().toSet
    assert(got === Set(("a", 5L, 1), ("a", 7L, 2), ("a", 10L, 3), ("b", 1L, 1)))
  }

  test("mergePrecedence: current wins on collision, incoming fills gaps") {
    val cur = Seq(("a", "curA"), ("b", "curB")).toDF("k", "v")
    val inc = Seq(("b", "incB"), ("c", "incC")).toDF("k", "v")
    val got = ChangeOps.mergePrecedence(cur, inc, Seq("k"), Seq(col("v")))
      .as[(String, String)].collect().toMap
    assert(got === Map("a" -> "curA", "b" -> "curB", "c" -> "incC"))
  }

  test("dedup result is invariant to row order") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 8) {
      val rows = List.fill(200) {
        val k = rnd.nextInt(9); val lsn = rnd.nextInt(51).toLong; val tie = rnd.nextInt(4).toLong
        (s"k$k", lsn, tie, s"payload-$k-$lsn-$tie")
      }
      // reference answer: plain Scala max per key with the same total order
      val want = rows.groupBy(_._1).map { case (k, rs) =>
        k -> rs.maxBy(r => (r._2, r._3))._4
      }
      val shuffle = new scala.util.Random(trial)
      for (variant <- Seq(rows, shuffle.shuffle(rows))) {
        val df = variant.toDF("k", "lsn", "tie", "v").repartition(5)
        val got = ChangeOps.dedupLastWins(df, Seq("k"), Seq(col("lsn"), col("tie")))
          .select("k", "v").as[(String, String)].collect().toMap
        assert(got === want, s"trial=$trial")
      }
    }
  }
}
