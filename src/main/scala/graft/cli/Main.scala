package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.events.{EventLog, ReplayOracle}
import graft.lake.LakeTable
import graft.stream.{CdcIngest, Lineage}

/** spark-submit / sbt entrypoint for the CDC engine; commands in [[Main.usage]]. */
object Main {
  val usage: String =
    """Usage:
      |  generate <eventsDir> <numEvents> <numFiles> [seed]
      |  ingest   <eventsDir> <tableRoot> <checkpointDir> [epoch]
      |  e2e      <workDir> [numEvents]         — generate→ingest→verify vs oracle
      |  show     <tableRoot>                   — print snapshot + sample rows
      |  history  <tableRoot>                   — commit audit log (DESCRIBE HISTORY analog)
      |  restore  <tableRoot> <version>         — roll back to a retained snapshot (RESTORE analog)
      |  feed     <tableRoot> <checkpointDir> [startingVersion] [maxVersionsPerTrigger]
      |           — drain the committed change feed (graft-changes streaming
      |             source) to the console; re-run with the same checkpoint to
      |             get only NEW versions
      |  docs                                   — markdown schema docs (cli/docs.py parity)""".stripMargin

  def session(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-cdc")
      .config("spark.sql.extensions", "graft.lake.GraftSparkExtension")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "generate" :: dir :: n :: k :: rest =>
      val spark = session()
      val cfg = EventLog.Config(numEvents = n.toLong,
        seed = rest.headOption.map(_.toLong).getOrElse(42L),
        schemaChangeLsns = Seq(n.toLong / 3, 2 * n.toLong / 3))
      EventLog.write(spark, cfg, dir, k.toInt)
      println(s"wrote ${cfg.numEvents} events (+dups) to $dir in $k segments")
      spark.stop()

    case "ingest" :: eventsDir :: tableRoot :: cp :: rest if rest.size <= 1 =>
      val spark = session()
      val epoch = rest.headOption.getOrElse("run0")
      val lin = new Lineage(spark, tableRoot)
      spark.streams.addListener(lin.listener(epoch))
      val ingest = new CdcIngest(spark, tableRoot, eventsDir, cp,
        epoch = epoch, lineage = Some(lin))
      val stats = ingest.runToCompletion()
      stats.foreach(s => println(
        s"batch=${s.batchId} v=${s.version} seen=${s.eventsSeen} dupDropped=${s.duplicatesDropped} " +
        s"upserts=${s.upserts} deletes=${s.deletes} schemaChanges=${s.schemaChanges} noOp=${s.noOp}"))
      println(s"final rows=${ingest.table.read().count()}")
      spark.stop()

    case "e2e" :: work :: rest =>
      val spark = session()
      val n = rest.headOption.map(_.toLong).getOrElse(50000L)
      val cfg = EventLog.Config(numEvents = n, schemaChangeLsns = Seq(n / 3, 2 * n / 3))
      EventLog.write(spark, cfg, s"$work/events", 8)
      val ingest = new CdcIngest(spark, s"$work/table", s"$work/events", s"$work/cp",
        lineage = Some(new Lineage(spark, s"$work/table")))
      val stats = ingest.runToCompletion()
      val got = ingest.table.read()
      val want = ReplayOracle.expected(spark, EventLog.generate(spark, cfg).collect().toSeq)
      val extra = got.exceptAll(want).count()
      val missing = want.exceptAll(got).count()
      println(s"batches=${stats.size} rows=${got.count()} extra=$extra missing=$missing " +
        s"schema=${got.schema.fieldNames.mkString(",")}")
      println(if (extra == 0 && missing == 0) "E2E OK" else "E2E MISMATCH")
      spark.stop()
      if (extra != 0 || missing != 0) sys.exit(1)

    case "show" :: tableRoot :: _ =>
      val spark = session()
      val t = new LakeTable(spark, tableRoot)
      val snap = t.head()
      println(s"version=${snap.version} files=${snap.files.size} " +
        s"rows=${snap.files.map(_.rows).sum} applied=${snap.ledger.size}")
      println(snap.schema.treeString)
      t.read().orderBy(col("repo"), col("path")).show(10, 60)
      spark.stop()

    case "feed" :: tableRoot :: cp :: rest =>
      val spark = session()
      val start = rest.headOption.getOrElse("earliest")
      val maxV = rest.drop(1).headOption.getOrElse("0")
      val q = spark.readStream.format("graft-changes")
        .option("path", tableRoot)
        .option("startingVersion", start)
        .option("maxVersionsPerTrigger", maxV)
        .load()
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", cp)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          b.persist() // count + show share one scan of the window
          println(s"--- batch $id (${b.count()} rows)")
          b.orderBy(col("repo"), col("path")).show(20, 40)
          b.unpersist()
          ()
        }
        .start()
      q.awaitTermination()
      spark.stop()

    case "history" :: tableRoot :: _ =>
      val spark = session()
      new LakeTable(spark, tableRoot).history().show(50, truncate = false)
      spark.stop()

    case "restore" :: tableRoot :: version :: _ =>
      val spark = session()
      val t = new LakeTable(spark, tableRoot)
      val snap = t.restoreTo(version.toLong)
      println(s"restored $tableRoot to v$version as commit v${snap.version}")
      t.history().show(10, truncate = false)
      spark.stop()

    case "docs" :: _ =>
      import graft.meta.Schemas
      println(Schemas.toMarkdown(Schemas.equipmentLoss, "equipment-loss",
        exclude = Set(Schemas.Tag.Metadata, Schemas.Tag.Debug)))
      println()
      println(Schemas.toMarkdown(Schemas.media, "media"))
      println()
      println(Schemas.toMarkdown(graft.lake.LakeTable.baseSchema, "lake-table (north rule)"))

    case other =>
      System.err.println(s"bad command line: ${other.mkString(" ")}\n$usage"); sys.exit(2)
  }
}
