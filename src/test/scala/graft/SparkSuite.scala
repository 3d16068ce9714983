package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession shared across all suites (sbt forks a single test JVM). */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.lake.GraftSparkExtension")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Walks executed plans through AQE stages. */
private object PlanWalk extends AdaptiveSparkPlanHelper

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Data files the scans of `df` opened. Collects `df` exactly once: a
    * scan sets its `numFiles` metric only when it first lists its files, and
    * every further action on the same frame resets the metric to 0. So call
    * this on a frame no earlier action has run.
    */
  def scannedFiles(df: DataFrame): Long = {
    df.collect()
    PlanWalk.collect(df.queryExecution.executedPlan) { case f: FileSourceScanExec => f }
      .map(_.metrics("numFiles").value).sum
  }
}
