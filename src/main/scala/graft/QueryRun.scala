package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics

/** Ad-hoc single-query profiler: run named [[SparkEntry.queries]] entries
  * against a scale-factor dir with per-query wall time and codegen compile
  * cost (classes compiled, Janino ms), optionally dumping the executed plan;
  * prints the JVM's Metaspace use at the end. Usage:
  *
  *   sbt "runMain graft.QueryRun q_ngram_jaccard [q_more ...]"
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default: the
  * host's available processors), GRAFT_REPS (default 1) runs per query,
  * GRAFT_EXPLAIN=1 to print the formatted plan before executing. A warm rep
  * that still compiles classes has a working set larger than the codegen
  * cache, or code that differs from run to run.
  */
object QueryRun {
  /** One update (Janino ms) per class compiled. `getCount` is exact; the
    * snapshot is a sampling reservoir, so its sum is the total compile time
    * only while it still holds every sample (the first 1,028 compiles).
    */
  private val compiled = CodegenMetrics.METRIC_COMPILATION_TIME
  private def compileMs(): Option[Double] = {
    val snap = compiled.getSnapshot
    if (snap.size == compiled.getCount) Some(snap.getValues.map(_.toDouble).sum) else None
  }

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
        val (n0, ms0) = (compiled.getCount, compileMs())
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        if (explain && r == 1) df.explain("formatted")
        df.write.mode("overwrite").format("noop").save()
        val wall = (System.nanoTime() - t0) / 1e9
        val ms = ms0.zip(compileMs()).map { case (a, b) => f"${b - a}%.0f" }.getOrElse("?")
        println(f"[queryrun] $name rep=$r $wall%.2f s, compiled ${compiled.getCount - n0} classes in $ms ms")
      }
    }
    val metaspace = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(_.getName == "Metaspace").map(_.getUsage.getUsed / 1048576.0)
    metaspace.foreach(mb => println(f"[queryrun] metaspace used $mb%.0f MB"))
    spark.stop()
  }
}
