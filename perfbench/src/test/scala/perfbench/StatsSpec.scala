package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0, 5.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 50) == 3.0)
    assert(Stats.percentile(xs, 100) == 5.0)
    assert(Stats.percentile(xs, 75) == 4.0)
    assert(Stats.percentile(Seq(1.0, 2.0), 50) == 1.5)
    assert(Stats.percentile(Nil, 50).isNaN)
  }

  test("the tail is the highest ladder percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19) == 50.0) // no rung qualifies: median
    assert(Stats.tailPercentile(20) == 50.0)
    assert(Stats.tailPercentile(39) == 50.0)
    assert(Stats.tailPercentile(40) == 75.0)
    assert(Stats.tailPercentile(99) == 75.0)
    assert(Stats.tailPercentile(100) == 90.0)
    assert(Stats.tailPercentile(200) == 95.0)
    assert(Stats.tailPercentile(1000) == 99.0)
    assert(Stats.tailPercentile(10000) == 99.9)
    for (n <- 20 to 3000) {
      val p = Stats.tailPercentile(n)
      assert(n * (1 - p / 100) >= 10 - 1e-9, s"n=$n p=$p")
      Stats.TailLadder.filter(_ > p).foreach(q => assert(n * (1 - q / 100) < 10 - 1e-9, s"n=$n q=$q"))
    }
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.tail(xs) == (75.0, Stats.percentile(xs, 75.0)))
    assert(xs.count(_ > Stats.tail(xs)._2) >= 10)
  }

  test("self time subtracts the union of children clipped to the span") {
    val parent = Span(1, "p", 0, 100, -1, "r")
    def child(s: Long, e: Long) = Span(2, "c", s, e, 1, "r")
    assert(Stats.selfTime(parent, Nil) == 100)
    // overlapping children count once; a child running past the end is clipped
    assert(Stats.selfTime(parent, Seq(child(10, 30), child(20, 50), child(90, 120))) == 50)
    assert(Stats.selfTime(parent, Seq(child(0, 100), child(40, 60))) == 0)
    assert(Stats.selfTime(parent, Seq(child(200, 300))) == 100)
  }

  test("events attribute to the window holding their start") {
    val w = IndexedSeq((0L, 10L), (20L, 30L), (30L, 35L))
    assert(Stats.attribute(5, w).contains(0))
    assert(Stats.attribute(10, w).contains(0))
    assert(Stats.attribute(15, w).isEmpty)
    assert(Stats.attribute(20, w).contains(1))
    assert(Stats.attribute(30, w).contains(2)) // a shared edge goes to the later window
    assert(Stats.attribute(-1, w).isEmpty)
    assert(Stats.attribute(36, w).isEmpty)
    assert(Stats.attribute(5, IndexedSeq.empty).isEmpty)
  }

  test("BENCHMARK.json names exactly the metrics the benchmark reports") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val src = scala.io.Source.fromFile("../BENCHMARK.json")
    val json = try JsonMethods.parse(src.mkString) finally src.close()
    def entries(k: String) = (json \ k).children.map { e =>
      ((e \ "name").values.toString, (e \ "unit").values.toString)
    }
    assert(entries("end_to_end") == Main.EndToEnd)
    // per-layer metrics that only the undeclared ingest_mor_read reaches may
    // be left out; the rest keep the benchmark's order and units
    assert(Main.PerLayer.filter(entries("per_layer").contains) == entries("per_layer"))
    // every declared workload exists; BENCHMARK.json may declare a subset
    assert((json \ "workloads").children.map(w => (w \ "name").values.toString).toSet
      .subsetOf(Workload.Names.toSet))
  }
}
