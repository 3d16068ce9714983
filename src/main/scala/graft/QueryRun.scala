package graft

/** Ad-hoc single-query profiler: run named [[SparkEntry.queries]] entries
  * against a scale-factor dir with per-query wall time, optionally dumping
  * the executed plan. Usage:
  *
  *   sbt "runMain graft.QueryRun q_ngram_jaccard [q_more ...]"
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default: the
  * host's available processors), GRAFT_EXPLAIN=1 to print the formatted plan
  * before executing.
  */
object QueryRun {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val explain = sys.env.getOrElse("GRAFT_EXPLAIN", "0") == "1"
    val reps = sys.env.getOrElse("GRAFT_REPS", "1").toInt
    val spark = BenchUtil.session(cpus)
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
      (1 to reps).foreach { r =>
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        if (explain && r == 1) df.explain("formatted")
        df.write.mode("overwrite").format("noop").save()
        println(f"[queryrun] $name rep=$r ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
