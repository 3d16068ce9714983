package graft.lake

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSuite

/** The predicate → bound extractor the read planner prunes with. Conditions
  * are analyzed exactly as [[LakeTable.readWhere]] analyzes them: a `Filter`
  * over an empty relation of the table schema, so the shapes tested here
  * (coercion casts, resolved attributes) are the shapes the planner sees.
  */
class KeyPredicatesSpec extends SparkSuite {

  private val schema = StructType(Seq(
    StructField("repo", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("lang", StringType),
    StructField("stars", LongType),
    StructField("n", IntegerType),
    StructField("ts", TimestampType)))

  private val strCols = Seq("repo", "path", "lang")
  private val longCols = Seq("stars", "n", "ts")

  private def analyzed(p: Column): Expression = {
    val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    empty.filter(p).queryExecution.analyzed.collectFirst {
      case f: Filter => f.condition
    }.getOrElse(Literal(true))
  }

  private def ranges(p: Column) =
    KeyPredicates.extractTyped(analyzed(p), strCols, longCols)

  private def eqs(p: Column) =
    KeyPredicates.extractEqualities(analyzed(p), strCols, longCols)

  test("= in both operand orders bounds the column to one value") {
    for (p <- Seq(col("repo") === "r5", lit("r5") === col("repo"))) {
      val b = ranges(p).strings("repo")
      assert((b.lower, b.upper) === ((Some("r5"), Some("r5"))), p.toString)
      assert(ranges(p).strings("path").lower.isEmpty)
      assert(ranges(p).strings("path").upper.isEmpty)
    }
    for (p <- Seq(col("stars") === 7L, lit(7L) === col("stars"))) {
      val b = ranges(p).longs("stars")
      assert((b.lower, b.upper) === ((Some(7L), Some(7L))), p.toString)
    }
  }

  test("IN bounds the column to [min, max] of its literals") {
    val s = ranges(col("lang").isin("scala", "go", "rust")).strings("lang")
    assert((s.lower, s.upper) === ((Some("go"), Some("scala"))))
    val l = ranges(col("stars").isin(30L, 10L, 20L)).longs("stars")
    assert((l.lower, l.upper) === ((Some(10L), Some(30L))))
  }

  test("<, <=, >, >= in both operand orders give one-sided bounds") {
    val lowers = Seq(col("path") > "p3", col("path") >= "p3",
      lit("p3") < col("path"), lit("p3") <= col("path"))
    for (p <- lowers) {
      val b = ranges(p).strings("path")
      assert((b.lower, b.upper) === ((Some("p3"), None)), p.toString)
    }
    val uppers = Seq(col("stars") < 9L, col("stars") <= 9L,
      lit(9L) > col("stars"), lit(9L) >= col("stars"))
    for (p <- uppers) {
      val b = ranges(p).longs("stars")
      assert((b.lower, b.upper) === ((None, Some(9L))), p.toString)
    }
    // conjuncts tighten: the larger lower and the smaller upper win
    val b = ranges(col("repo") > "b" && col("repo") > "d" &&
      col("repo") < "x" && col("repo") <= "k").strings("repo")
    assert((b.lower, b.upper) === ((Some("d"), Some("k"))))
  }

  test("coerced int literals and timestamp literals bound int64 columns") {
    // `stars > 5` analyzes to `stars > cast(5 as bigint)`; the cast is folded
    // only by the optimizer, which never runs on the planning predicate
    val c = analyzed(col("stars") > 5)
    assert(c.find(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Cast]).isDefined, c)
    val b = KeyPredicates.extractTyped(c, strCols, longCols).longs("stars")
    assert((b.lower, b.upper) === ((Some(5L), None)))
    // an int column compared with an int literal
    val n = ranges(col("n") <= 3).longs("n")
    assert((n.lower, n.upper) === ((None, Some(3L))))
    // timestamps bound in micros since the epoch
    val y2020 = java.sql.Timestamp.from(java.time.Instant.parse("2020-01-01T00:00:00Z"))
    val t = ranges(col("ts") >= lit(y2020)).longs("ts")
    assert(t.lower === Some(1577836800000000L))
    assert(t.upper.isEmpty)
  }

  test("null literals, OR trees and functions of the column fail open") {
    val open = Seq(
      col("repo") === lit(null).cast("string"),
      col("stars") > lit(null).cast("long"),
      col("stars").isin(1L, null),
      col("repo") === "a" || col("repo") === "b",
      col("stars") === 1L || col("lang") === "go",
      upper(col("repo")) === "A",
      length(col("path")) > 3,
      col("stars") + 1L > 5L,
      col("repo") === col("path"),
      not(col("repo") === "a"))
    for (p <- open) {
      val r = ranges(p)
      assert(r.strings.values.forall(b => b.lower.isEmpty && b.upper.isEmpty), p.toString)
      assert(r.longs.values.forall(b => b.lower.isEmpty && b.upper.isEmpty), p.toString)
      val e = eqs(p)
      assert(e.strings.isEmpty && e.longs.isEmpty, p.toString)
    }
    // a failing-open conjunct leaves the other conjunct's bound intact
    val b = ranges(upper(col("repo")) === "A" && col("repo") === "a").strings("repo")
    assert((b.lower, b.upper) === ((Some("a"), Some("a"))))
    // columns the caller did not ask for are never bounded
    assert(!ranges(col("repo") === "a").strings.contains("content"))
  }

  test("contradictory bounds: lower above upper, no file outside both survives") {
    val s = ranges(col("repo") === "a" && col("repo") === "b").strings("repo")
    assert((s.lower, s.upper) === ((Some("b"), Some("a"))))
    assert(!s.overlaps(Some("c"), Some("z")))
    assert(!s.overlaps(Some("0"), Some("a0")))
    assert(s.overlaps(None, None), "unknown stats fail open")
    val l = ranges(col("stars") > 10L && col("stars") < 5L).longs("stars")
    assert((l.lower, l.upper) === ((Some(10L), Some(5L))))
    assert(!l.overlaps(Some(6L), Some(9L)))
    assert(!l.overlaps(Some(11L), Some(20L)))
    val ok = ranges(col("stars") >= 5L && col("stars") <= 10L).longs("stars")
    assert(ok.overlaps(Some(10L), Some(20L)))
    assert(!ok.overlaps(Some(11L), Some(20L)))
    assert(ok.overlaps(None, Some(7L)))
  }

  test("supplementary-plane strings follow UTF-8 byte order, not String.compareTo") {
    // U+1F600 is the surrogate pair D83D DE00: String.compareTo puts it below
    // U+FF21, unsigned UTF-8 (F0 9F 98 80 vs EF BC A1) puts it above
    val emoji = new String(Character.toChars(0x1F600))
    val fw = "Ａ"
    assert(emoji.compareTo(fw) < 0)
    val in = ranges(col("repo").isin(emoji, fw)).strings("repo")
    assert((in.lower, in.upper) === ((Some(fw), Some(emoji))))
    val lo = ranges(col("repo") >= emoji && col("repo") >= fw).strings("repo")
    assert(lo.lower === Some(emoji))
    val hi = ranges(col("repo") <= emoji && col("repo") <= fw).strings("repo")
    assert(hi.upper === Some(fw))
    // a file whose box is [fw, fw] cannot hold the emoji key
    val pt = ranges(col("repo") === emoji).strings("repo")
    assert(!pt.overlaps(Some(fw), Some(fw)))
    assert(pt.overlaps(Some(fw), Some(emoji)))
  }

  test("equality sets: = and IN intersect across conjuncts; ranges add no probe") {
    val e = eqs(col("repo").isin("a", "b", "c") && col("repo").isin("b", "c", "d") &&
      lit("c") === col("repo") && col("stars").isin(1L, 2L, 3L) && col("stars") === 2)
    assert(e.strings === Map("repo" -> Set("c")))
    assert(e.longs === Map("stars" -> Set(2L)))
    // disjoint equalities: the empty set, a provable contradiction
    assert(eqs(col("lang") === "go" && col("lang") === "rust").strings === Map("lang" -> Set.empty[String]))
    // only = and IN probe a bloom
    assert(eqs(col("repo") > "a" && col("stars") <= 3L).strings.isEmpty)
    assert(eqs(col("repo") > "a" && col("stars") <= 3L).longs.isEmpty)
    // columns outside the requested sets never probe
    val narrow = KeyPredicates.extractEqualities(
      analyzed(col("repo") === "a" && col("stars") === 1L), Seq("path"), Nil)
    assert(narrow.strings.isEmpty && narrow.longs.isEmpty)
  }
}
