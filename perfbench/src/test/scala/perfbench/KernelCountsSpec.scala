package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The kernel counters the benchmark expects, derived from a raw log. */
class KernelCountsSpec extends AnyFunSuite {

  test("one merge per batch: the last (lsn, event_id) per key survives, the rest are duplicates") {
    val spark = SparkSession.builder().master("local[1]").appName("KernelCountsSpec")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      import spark.implicits._
      val log = Seq(
        (0, "r", "a", 1L, 0, "insert"),
        (0, "r", "a", 2L, 0, "update"), // same key, same batch: one duplicate
        (0, "r", "b", 3L, 0, "insert"),
        (0, "r", "b", 4L, 0, "delete"), // b's last event is a delete
        (0, "", "", 5L, 0, "schema_change"), // seen, but never a key
        (1, "r", "a", 2L, 1, "update"), // a redelivery in the next batch is its own merge
        (1, "r", "c", 6L, 0, "insert"),
        (2, "r", "d", 7L, 0, "delete"),
        (2, "r", "d", 7L, 1, "update") // same lsn: the higher event_id wins
      ).toDF("batch", "repo", "path", "lsn", "event_id", "op")
      // data events 8, surviving keys 5 (a, b; a, c; d)
      assert(Workload.kernelCountsFromLog(spark, log) == Map(
        "events_seen" -> 9L, "duplicates_dropped" -> 3L, "upserts" -> 4L, "deletes" -> 1L))
    } finally spark.stop()
  }
}
