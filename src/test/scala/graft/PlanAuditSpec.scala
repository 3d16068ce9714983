package graft

import org.apache.spark.sql.functions._
import graft.util.Tables

/** Physical-plan audits: the plans we ship must be the plans we'd want at
  * 100 TB — filters pushed to the parquet scan, column pruning at the reader,
  * small dimensions broadcast, codegen unbroken.
  */
class PlanAuditSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("filter + projection push down to the parquet scan") {
    val df = Tables.lineitem(spark, sf)
      .filter(col("l_quantity") > 30)
      .select("l_orderkey", "l_quantity")
    val plan = formatted(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"), plan)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), plan)
  }

  test("corrections join broadcasts the dimension side (J2)") {
    val plan = formatted(Queries.correctionsJoin(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("cross-page dedup broadcasts the tiny to_replace set (J1)") {
    val plan = formatted(Queries.crossPageDedup(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("text/similarity pipelines prune their scans to the consumed columns") {
    // documents carries (doc_id, text, lang, source, n_chars); a text op must
    // read only (doc_id, text). embeddings carries (vec_id, embedding,
    // label); similarity must not drag `label` through the broadcast.
    val textPlan = formatted(Queries.tokenCountQ(spark, sf))
    val textReads = "ReadSchema: struct<(.*)>".r
      .findAllMatchIn(textPlan).map(_.group(1)).toSeq
    assert(textReads.nonEmpty && textReads.forall(_ == "doc_id:bigint,text:string"),
      s"documents scan reads extra columns: $textReads\n$textPlan")
    val simPlan = formatted(Queries.embeddingTopK(spark, sf))
    val simReads = "ReadSchema: struct<(.*)>".r
      .findAllMatchIn(simPlan).map(_.group(1)).toSeq
    assert(simReads.nonEmpty && simReads.forall(_ == "vec_id:bigint,embedding:array<float>"),
      s"embeddings scan reads extra columns: $simReads\n$simPlan")
  }

  test("readWhere pushes the key predicate into the pruned parquet scan") {
    import spark.implicits._
    val t = new graft.lake.LakeTable(spark, tmpDir("planprune"))
    t.create(graft.lake.LakeTable.baseSchema)
    val ev = Seq((1L, 1L, new java.sql.Timestamp(0L), "insert", "r1", "a", "c1",
      "scala", "v1", null: String, null: String),
      (2L, 2L, new java.sql.Timestamp(0L), "insert", "r2", "b", "c2",
      "scala", "v2", null: String, null: String))
      .toDF("lsn", "event_id", "ts", "op", "repo", "path", "commit", "lang",
        "content", "schema_change", "extra")
    t.merge(ev, "e", 0)
    val plan = formatted(t.readWhere(col("repo") === "r1"))
    // manifest-level pruning selects the files; the row-level predicate must
    // STILL reach the parquet reader for row-group stats pruning
    assert(plan.contains("EqualTo(repo,r1)"), plan)
  }

  test("a renamed-column read stays a vectorized scan + codegen'd project (no shuffle)") {
    import spark.implicits._
    val t = new graft.lake.LakeTable(spark, tmpDir("planrename"))
    t.create(graft.lake.LakeTable.baseSchema)
    val rows = Seq(
      (0L, 0L, new java.sql.Timestamp(0L), "schema_change", null: String,
        null: String, null: String, null: String, null: String,
        """{"addColumn":{"name":"stars","type":"long"}}""", null: String),
      (1L, 1L, new java.sql.Timestamp(0L), "insert", "r1", "a", "c1",
        "scala", "v1", null: String, """{"stars": 5}"""),
      (2L, 2L, new java.sql.Timestamp(0L), "schema_change", null: String,
        null: String, null: String, null: String, null: String,
        """{"renameColumn":{"name":"stars","to":"rating"}}""", null: String))
      .toDF("lsn", "event_id", "ts", "op", "repo", "path", "commit", "lang",
        "content", "schema_change", "extra")
    t.merge(rows, "e", 0)
    val df = t.read().select("repo", "rating")
    assert(df.as[(String, Long)].collect().toSeq === Seq(("r1", 5L)))
    val plan = formatted(df)
    // the physical→logical alias must stay a Project INSIDE whole-stage
    // codegen over the columnar parquet scan — no exchange, no row boundary
    assert(plan.contains("Scan parquet"), plan)
    assert(plan.contains("[codegen id :"), plan)
    assert(!plan.contains("Exchange"), plan)
    // column pruning survives the alias: only the consumed physical columns
    // are read (repo + the original stars), content never leaves the footer
    assert(plan.contains("ReadSchema: struct<repo:string,stars:bigint>"), plan)
  }

  test("fused MERGE plan has exactly one exchange for dedup+merge+clustering") {
    // reproduce the merge's core plan shape on a standalone union: the
    // running counts of passing rows (the winner rule) and of source rows
    // (the lineage counters), without and with a CHECK constraint
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val src = Seq(("r1", "a", 1L, true, "scala"), ("r1", "a", 2L, false, "scala"),
      ("r2", "b", 2L, false, "scala"), ("r2", "b", 3L, true, "cobol"))
      .toDF("repo", "path", "_lsn", "__src", "lang")
    // the merge's driver-chosen key ranges: ("r1", "a") goes to 0, ("r2", "b") to 1
    val pid = graft.lake.LakeTable.partitionId(IndexedSeq(("r1", "z")))
    val w = Window
      .partitionBy(col("__pid"), col("repo"), col("path"))
      .orderBy(col("_lsn").desc)
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    for ((violates, winners) <- Seq(
        lit(false) -> Set(("r1", "a", 2L), ("r2", "b", 3L)),
        (expr("lang <> 'cobol'") <=> lit(false)) -> Set(("r1", "a", 2L), ("r2", "b", 2L)))) {
      val ok = !col("__src") || !violates
      val merged = src.withColumn("__pid", pid).repartitionById(2, col("__pid"))
        .withColumns(Map(
          "__okN" -> sum(when(ok, 1)).over(running),
          "__srcN" -> sum(when(col("__src"), 1)).over(running)))
        .filter(ok && col("__okN") === 1)
      val plan = merged.queryExecution.executedPlan.toString
      val exchanges = "Exchange".r.findAllIn(plan).size
      assert(exchanges === 1,
        s"expected the partition-id exchange to satisfy the window's clustering; got $exchanges:\n$plan")
      // the driver picked the ranges: no exchange samples its input
      assert(!plan.toLowerCase.contains("rangepartitioning"), plan)
      // both window columns share one sort and one window operator
      assert("Sort \\[".r.findAllIn(plan).size === 1, plan)
      assert("Window \\[".r.findAllIn(plan).size === 1, plan)
      // the flag is computed above the exchange: only the input columns and
      // the partition id cross it
      val shuffled = merged.queryExecution.sparkPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.child.output.map(_.name)
      }
      assert(shuffled === Seq(src.columns.toSeq :+ "__pid"), plan)
      // a violating source row never wins: the key's older row does
      assert(merged.select("repo", "path", "_lsn").as[(String, String, Long)]
        .collect().toSet === winners, plan)
    }
  }

  test("change feed pushes the _ver commit-version predicate to the scan") {
    import spark.implicits._
    val t = new graft.lake.LakeTable(spark, tmpDir("planfeed"))
    t.create(graft.lake.LakeTable.baseSchema)
    val ev = Seq((1L, 1L, new java.sql.Timestamp(0L), "insert", "r1", "a", "c1",
      "scala", "v1", null: String, null: String))
      .toDF("lsn", "event_id", "ts", "op", "repo", "path", "commit", "lang",
        "content", "schema_change", "extra")
    t.merge(ev, "e", 0)
    t.merge(ev.withColumn("lsn", lit(2L)).withColumn("content", lit("v2")), "e", 1)
    val plan = formatted(t.changesBetween(1, 2))
    // the Or(IsNull, GreaterThan) legacy-null guard must still push down
    assert(plan.contains("GreaterThan(_ver,1)") && plan.contains("PushedFilters: [Or(IsNull(_ver)"), plan)
  }

  test("a full MERGE (incl. file pruning) never executes a nested-loop or cartesian join") {
    // The prune used to be a BroadcastNestedLoopJoin range join (O(keys ×
    // files) predicate sweep); it is now a broadcast interval index probed
    // map-side. Capture every plan the merge executes and audit it.
    import spark.implicits._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val t = new graft.lake.LakeTable(spark, tmpDir("planaudit"))
      t.create(graft.lake.LakeTable.baseSchema)
      def b(lsn: Long, repo: String) = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
          lsn, 0L, new java.sql.Timestamp(1700000000000L + lsn), "insert",
          repo, "p", "c", "scala", s"v$lsn", null, null)), 1),
        graft.events.EventLog.eventSchema)
      t.merge(b(1, "r1"), "e", 0)
      t.merge(b(2, "r2"), "e", 1) // second merge exercises pruning against files
      t.merge(b(3, "r1"), "e", 2)
      // listener delivery is async; wait until the captured set stabilizes
      var last = -1
      var spins = 0
      while (plans.size() != last && spins < 50) {
        last = plans.size(); spins += 1; Thread.sleep(100)
      }
      assert(plans.size() > 0, "listener captured no plans")
      plans.forEach { p =>
        assert(!p.contains("BroadcastNestedLoopJoin"), p)
        assert(!p.contains("CartesianProduct"), p)
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("bucketed tables co-locate: equi-join on the bucket key runs with ZERO exchange") {
    import spark.implicits._
    val facts = (0L until 2000L).map(i => (i % 97, s"f$i", i)).toDF("k", "payload", "v")
    val state = (0L until 97L).map(i => (i, s"s$i")).toDF("k", "state")
    graft.kernel.Bucketing.writeBucketed(facts, "ba_facts", 8, Seq("k"))
    graft.kernel.Bucketing.writeBucketed(state, "ba_state", 8, Seq("k"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      val joined = spark.table("ba_facts").join(spark.table("ba_state"), "k")
      assert(joined.count() === 2000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles — co-location lost:\n$plan")
      // and a groupBy on the bucket key reuses the clustering too
      val agg = spark.table("ba_facts").groupBy("k").count()
      assert(agg.count() === 97)
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
        agg.queryExecution.executedPlan.toString)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS ba_facts")
      spark.sql("DROP TABLE IF EXISTS ba_state")
    }
  }

  test("scalar text ops stay in one whole-stage codegen span") {
    val df = Tables.documents(spark, sf).select(
      graft.ops.TextOps.tokenCountWs(col("text")),
      sha2(col("text"), 256),
      graft.functions.SimhashBitsPortable.column(graft.ops.TextOps.wordTokens(col("text"))))
    // one codegen stage over the scan, with every projection inside it (an
    // interpreted-only expression would leave its Project outside any stage)
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    val plan = df.queryExecution.executedPlan
    val stages = plan.collect { case w: WholeStageCodegenExec => w }
    val projects = plan.collect { case p: ProjectExec => p }
    assert(stages.size === 1, plan)
    assert(projects.nonEmpty && projects.forall(p => stages.head.find(_ eq p).isDefined), plan)
  }

  test("near-dup pair operators shuffle only bucket keys and ids below the pair dedup") {
    // Pairs are formed on bare ids: no signature, bit, hash-set or vector
    // payload may ride through the bucket self-join or the pair dedup. The
    // operators return a checkpointed frame, so capture the plans they run.
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    import graft.ops.DedupOps
    object Walk extends AdaptiveSparkPlanHelper
    val keysAndIds = Set("__band", "__bucket", "__id", "id_a", "id_b")
    def pairDedups(p: SparkPlan): Seq[SparkPlan] = Walk.collect(p) {
      case a: HashAggregateExec if a.groupingExpressions.map(_.name) ==
          Seq("id_a", "id_b") => a
    }
    val docs = Tables.documents(spark, sf)
    val ops = Seq[(String, () => Unit)](
      "minhashLshPairs" -> (() => DedupOps.minhashLshPairs(docs, "text", "doc_id", threshold = 0.3)),
      "simhashPairsPortable" -> (() => DedupOps.simhashPairsPortable(docs, "text", "doc_id")),
      "ngramJaccardPairs" -> (() => DedupOps.ngramJaccardPairs(docs, "text", "doc_id", threshold = 0.3)),
      "embeddingNearDupPairs" -> (() => DedupOps.embeddingNearDupPairs(
        Tables.embeddings(spark, sf), "embedding", "vec_id", threshold = 0.5)))
    for ((name, run) <- ops) {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          plans.add(qe.executedPlan)
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        run()
        // listener delivery is async: wait for the pair query's plan
        var spins = 0
        while (!plans.asScala.exists(pairDedups(_).nonEmpty) && spins < 100) {
          spins += 1; Thread.sleep(100)
        }
      } finally spark.listenerManager.unregister(listener)
      val dedups = plans.asScala.toSeq.flatMap(pairDedups)
      assert(dedups.nonEmpty, s"$name: no (id_a, id_b) dedup in the captured plans")
      dedups.foreach { d =>
        val shuffled = Walk.collect(d) {
          case e: Exchange => e.output.map(_.name)
          case r: ReusedExchangeExec => r.output.map(_.name)
        }
        assert(shuffled.nonEmpty, s"$name: no exchange below the pair dedup\n$d")
        shuffled.foreach { cols =>
          assert(cols.toSet.subsetOf(keysAndIds),
            s"$name: exchange carries ${cols.mkString(", ")}\n$d")
        }
      }
    }
  }
}
