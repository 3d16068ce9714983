package graft.lake

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.internal.StaticSQLConf
import graft.SparkSuite

/** The extension sizes Spark's generated-class cache so a warm query reuses
  * its compiled classes instead of recompiling them.
  */
class CodegenCacheSpec extends SparkSuite {
  private val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key

  test("the extension gives the session a 2,000-entry codegen cache") {
    assert(spark.conf.get(key) === "2000")
  }

  test("a warm pass over more classes than Spark's default cache compiles nothing") {
    // 150 whole-stage classes that differ only in an inlined literal; each is
    // also compiled under the task class loader, so ~300 cache keys in all
    def compiles(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (1 to 150).foreach(i => spark.range(0, 4, 1, 1).selectExpr(s"id * 3 + $i AS v").collect())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val cold = compiles()
    assert(cold >= 150, s"cold pass compiled only $cold classes")
    assert(compiles() === 0L)
  }

  test("a value the user already set wins over the engine default") {
    val userSet = new SparkConf(false).set(key, "64")
    GraftSparkExtension.setEngineDefaults(userSet)
    assert(userSet.get(key) === "64")
    val unset = new SparkConf(false)
    GraftSparkExtension.setEngineDefaults(unset)
    assert(unset.get(key) === "2000")
  }
}
