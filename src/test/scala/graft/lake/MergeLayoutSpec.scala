package graft.lake

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, input_file_name}
import graft.SparkSuite
import graft.events.EventLog

/** The file layout of the merge's shuffle, whose key ranges the driver picks
  * from the pre-pass sample and the manifest: each commit's files cover
  * disjoint key ranges, no file is empty, the same inputs give the same
  * layout, and uniform keys spread evenly over the files.
  */
class MergeLayoutSpec extends SparkSuite {

  /** Runs `f` with a 1 KiB minimum partition size, so that batches of a few
    * thousand rows already shuffle into `spark.sql.shuffle.partitions` (8)
    * ranges rather than one.
    */
  private def smallPartitions[T](f: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "1k")
    try f finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), EventLog.eventSchema)

  private def insert(lsn: Long, repo: String, path: String): Row =
    Row(lsn, 0L, new java.sql.Timestamp(1700000000000L + lsn), "insert",
      repo, path, s"c$lsn", "scala", s"v$lsn", null, null)

  /** 6,000 Zipf events in lsn order, cut into `n` batches. */
  private def zipfBatches(n: Int): Seq[DataFrame] = {
    val events = EventLog.generate(spark, EventLog.Config(
      numEvents = 6000, numRepos = 40, pathsPerRepo = 30, seed = 11L)).collect().toSeq
      .sortBy(r => (r.getLong(0), r.getLong(1)))
    events.grouped(events.size / n + 1).map(frame).toSeq
  }

  /** The files commit `v` added. */
  private def added(t: LakeTable, v: Long): Seq[DataFileEntry] = {
    val before = t.log.read(v - 1).files.map(_.path).toSet
    t.log.read(v).files.filterNot(f => before.contains(f.path))
  }

  /** The lexicographic key range `[first, last]` of each of `files`. */
  private def keyRanges(files: Seq[DataFileEntry]): Seq[((String, String), (String, String))] =
    if (files.isEmpty) Nil
    else spark.read.parquet(files.map(_.path): _*)
      .select(input_file_name(), col("repo"), col("path"))
      .filter(col("repo").isNotNull && col("path").isNotNull)
      .collect().toSeq
      .groupBy(_.getString(0)).values.toSeq
      .map { rows =>
        val keys = rows.map(r => (r.getString(1), r.getString(2)))
          .sortWith(LakeTable.keyCompare(_, _) < 0)
        (keys.head, keys.last)
      }

  /** Every file of commit `v` holds a row, and its live files (and, apart,
    * its tombstone files) cover pairwise-disjoint key ranges; the number of
    * live files.
    */
  private def checkCommit(t: LakeTable, v: Long): Int = {
    val files = added(t, v)
    assert(files.forall(_.rows > 0), s"v$v wrote an empty file: $files")
    for (group <- Seq(files.filterNot(_.tomb), files.filter(_.tomb))) {
      val ranges = keyRanges(group).sortWith((a, b) => LakeTable.keyCompare(a._1, b._1) < 0)
      ranges.zip(ranges.drop(1)).foreach { case (a, b) =>
        assert(LakeTable.keyCompare(a._2, b._1) < 0, s"v$v: overlapping files $a and $b")
      }
    }
    files.count(!_.tomb)
  }

  test("each commit's files cover disjoint key ranges: copy-on-write ingest, then a deferred merge") {
    smallPartitions {
      val t = new LakeTable(spark, tmpDir("layout-disjoint"))
      t.create(LakeTable.baseSchema)
      val batches = zipfBatches(4)
      batches.init.zipWithIndex.foreach { case (b, i) => t.merge(b, "e", i.toLong) }
      t.mergeDeferred(batches.last, "e", batches.size - 1L)
      val head = t.head()
      assert(head.files.forall(_.rows > 0), head.files)
      val live = (1L to head.version).map(v => checkCommit(t, v))
      // the check is not vacuous: the merges split their output
      assert(live.forall(_ > 1), live)
      assert(added(t, head.version).forall(_.delta))
    }
  }

  test("a batch of one hot key writes no empty file") {
    smallPartitions {
      val t = new LakeTable(spark, tmpDir("layout-hot"))
      t.create(LakeTable.baseSchema)
      val hot = (1 to 2000).map(i => insert(i, "repo-hot", "src/hot.scala"))
      // into the empty table, and again once the table holds 2,000 more
      // keys: each time the estimate asks for 8 ranges and the weight
      // collapses onto the one key
      t.merge(frame(hot), "e", 0)
      t.merge(frame((1 to 2000).map(i => insert(3000 + i, s"repo-$i", "p"))), "e", 1)
      t.merge(frame(hot.map(r => insert(r.getLong(0) + 10000, "repo-hot", "src/hot.scala"))),
        "e", 2)
      (1L to t.head().version).foreach(v => checkCommit(t, v))
      assert(t.head().files.forall(_.rows > 0), t.head().files)
      assert(t.read().count() === 2001L)
    }
  }

  test("the same batches into two copies of a table give the same files and key boxes") {
    smallPartitions {
      val batches = zipfBatches(3)
      val tables = Seq("layout-a", "layout-b").map { name =>
        val t = new LakeTable(spark, tmpDir(name))
        t.create(LakeTable.baseSchema)
        batches.zipWithIndex.foreach { case (b, i) => t.merge(b, "e", i.toLong) }
        t
      }
      def boxes(t: LakeTable, v: Long) = added(t, v)
        .map(f => (f.tomb, f.rows, f.minRepo, f.maxRepo, f.minPath, f.maxPath)).sortBy(_.toString)
      (1L to tables.head.head().version).foreach { v =>
        assert(boxes(tables(0), v) === boxes(tables(1), v), s"v$v")
      }
    }
  }

  test("uniformly random distinct keys spread evenly over the files of an empty table") {
    smallPartitions {
      val rnd = new scala.util.Random(5)
      val rows = (1 to 4000).map(i => insert(i, f"repo-${rnd.nextInt(1000000)}%06d", s"p$i"))
      val t = new LakeTable(spark, tmpDir("layout-uniform"))
      t.create(LakeTable.baseSchema)
      t.merge(frame(rows), "e", 0)
      val files = t.head().files
      // 8 = spark.sql.shuffle.partitions, the cap on the ranges
      assert(files.size === 8, files)
      files.foreach { f =>
        assert(f.rows >= 4000 / 8 / 2 && f.rows <= 4000 * 3 / 8 / 2, files.map(_.rows))
      }
      checkCommit(t, 1L)
    }
  }
}
