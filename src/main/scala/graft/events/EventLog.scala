package graft.events

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic seeded change-event log generator (FIXTURES.md §1.2).
  *
  * Events are keyed `(repo, path)` with a globally monotonic `lsn` and an
  * `event_id` tiebreak making the order total. Repo choice follows a Zipf-ish
  * skew so hot keys are actually exercised. A configurable fraction of
  * events is delivered twice (exactly-once test surface). `schema_change`
  * events carry `{"addColumn":{"name":...,"type":...}}`; subsequent events
  * may carry values for added columns in the `extra` JSON payload.
  *
  * Generation is distributed: `spark.range(n)` + pure column expressions of
  * the row id, so a 10^10-event log is producible on a cluster without any
  * driver-side loop. All pseudo-randomness is `xxhash64(seed, id, tag)` —
  * reproducible, partition-order independent.
  *
  * Reimagines the reference's scrape source (Borderlands src/flows/oryx.py:70-81)
  * as a replayable log; no driver-side fetching.
  */
object EventLog {

  val eventSchema: StructType = StructType(Seq(
    StructField("lsn", LongType, nullable = false),
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = true),
    StructField("op", StringType, nullable = false),
    StructField("repo", StringType, nullable = true),
    StructField("path", StringType, nullable = true),
    StructField("commit", StringType, nullable = true),
    StructField("lang", StringType, nullable = true),
    StructField("content", StringType, nullable = true),
    StructField("schema_change", StringType, nullable = true),
    StructField("extra", StringType, nullable = true)
  ))

  final case class Config(
      numEvents: Long = 100000L,
      numRepos: Int = 200,
      pathsPerRepo: Int = 500,
      zipfExponent: Double = 1.2,
      updateRatio: Double = 0.55,
      deleteRatio: Double = 0.05,
      duplicateRate: Double = 0.02,
      schemaChangeLsns: Seq[Long] = Seq.empty,
      // lsns carrying {"widenColumn":{"name":"stars","type":"long"}} — stars
      // is ADDED as int, so a widen lsn after its add exercises the
      // metadata-only widening path (and one before it, the quarantine path)
      widenLsns: Seq[Long] = Seq.empty,
      // lsns carrying {"dropColumn":{"name":"stars"}} — after the stars add
      // this exercises the metadata-only drop + re-add-tombstone path; before
      // it, the unknown-column quarantine. Later stars ADDs then exercise the
      // refused re-add on both engine and oracle.
      dropLsns: Seq[Long] = Seq.empty,
      // lsns carrying {"renameColumn":{"name":"license","to":"lic"}} — the
      // generated extras switch their JSON key to "lic" after the FIRST
      // rename lsn, so a successfully applied rename exercises era-gated
      // parsing; a quarantined one (before the license add) exercises the
      // both-sides-null consistency instead
      renameLsns: Seq[Long] = Seq.empty,
      seed: Long = 42L)

  /** Pseudo-random double in [0,1) from (seed, id, tag) — pure expression. */
  private def rnd(id: org.apache.spark.sql.Column, seed: Long, tag: String) =
    (pmod(xxhash64(lit(seed), id, lit(tag)), lit(1000000000L)).cast("double") / 1e9)

  /** Build the event log as a DataFrame of exactly `cfg.numEvents` base
    * events plus duplicates; deterministic in content AND in (lsn, event_id).
    */
  def generate(spark: SparkSession, cfg: Config): DataFrame = {
    val base = spark.range(0, cfg.numEvents).toDF("lsn")
    val id = col("lsn")

    // Zipf-ish repo skew: map uniform u to rank floor(N * u^zipfExp) so low
    // ranks (hot repos) get disproportionate mass.
    val u = rnd(id, cfg.seed, "repo")
    val repoRank = least(
      floor(pow(u, lit(cfg.zipfExponent)) * cfg.numRepos).cast("int"),
      lit(cfg.numRepos - 1))
    val pathId = pmod(xxhash64(lit(cfg.seed), id, lit("path")), lit(cfg.pathsPerRepo.toLong))

    val opR = rnd(id, cfg.seed, "op")
    val allScLsns = cfg.schemaChangeLsns ++ cfg.widenLsns ++ cfg.dropLsns ++ cfg.renameLsns
    val isSchemaChange = if (allScLsns.nonEmpty)
      id.isin(allScLsns.map(Long.box): _*) else lit(false)
    val isWiden = if (cfg.widenLsns.nonEmpty)
      id.isin(cfg.widenLsns.map(Long.box): _*) else lit(false)
    val isDrop = if (cfg.dropLsns.nonEmpty)
      id.isin(cfg.dropLsns.map(Long.box): _*) else lit(false)
    val isRename = if (cfg.renameLsns.nonEmpty)
      id.isin(cfg.renameLsns.map(Long.box): _*) else lit(false)
    val op = when(isSchemaChange, lit("schema_change"))
      .when(opR < cfg.deleteRatio, lit("delete"))
      .when(opR < cfg.deleteRatio + cfg.updateRatio, lit("update"))
      .otherwise(lit("insert"))

    val repo = concat(lit("repo-"), lpad(repoRank.cast("string"), 5, "0"))
    val path = concat(lit("src/"), pathId.cast("string"), lit("/file_"),
      pmod(xxhash64(lit(cfg.seed), id, lit("f")), lit(97L)).cast("string"), lit(".scala"))
    val commitHex = lower(hex(xxhash64(lit(cfg.seed), id, lit("c1")))) // 16 hex
    val commit = concat(commitHex, commitHex, lower(hex(xxhash64(lit(cfg.seed), id, lit("c2")))))
    val langs = array(lit("scala"), lit("java"), lit("py"), lit("md"), lit("sql"))
    val lang = element_at(langs, (pmod(xxhash64(lit(cfg.seed), id, lit("lang")), lit(5L)) + 1).cast("int"))
    // Deterministic pseudo-source content, length varies 0..~2KB.
    val chunk = concat(lit("// chunk "), lower(hex(xxhash64(lit(cfg.seed), id, lit("body")))), lit("\n"))
    val contentLen = (pmod(xxhash64(lit(cfg.seed), id, lit("len")), lit(40L)) + 1).cast("int")
    val content = concat(
      lit("object F { // "), repo, lit("/"), path, lit(" @"), id.cast("string"), lit("\n"),
      repeat(chunk, contentLen), lit("}\n"))
    // Values for schema-evolved columns ride in `extra` (JSON); present on a
    // subset of data events so null backfill is exercised too.
    // after the first rename lsn, the license value rides under its NEW key
    // (a producer emitting the renamed field name) — the engine's era-gated
    // parse and the oracle's mirror must both pick the right key per row
    val licKey = if (cfg.renameLsns.nonEmpty)
      when(id > lit(cfg.renameLsns.min), lit("lic")).otherwise(lit("license"))
    else lit("license")
    val extra = when(rnd(id, cfg.seed, "extra") < 0.3,
      concat(lit("{\"stars\": "), pmod(xxhash64(lit(cfg.seed), id, lit("st")), lit(10000L)).cast("string"),
             lit(", \""), licKey, lit("\": \"lic-"), pmod(xxhash64(lit(cfg.seed), id, lit("lic")), lit(7L)).cast("string"),
             lit("\"}")))

    val events = base.select(
      id,
      lit(0L).as("event_id"),
      timestamp_seconds(lit(1700000000L) + id).as("ts"),
      op.as("op"),
      when(op === "schema_change", lit(null)).otherwise(repo).as("repo"),
      when(op === "schema_change", lit(null)).otherwise(path).as("path"),
      when(op.isin("delete", "schema_change"), lit(null)).otherwise(commit).as("commit"),
      when(op.isin("delete", "schema_change"), lit(null)).otherwise(lang).as("lang"),
      when(op.isin("delete", "schema_change"), lit(null)).otherwise(content).as("content"),
      when(op === "schema_change",
        when(isWiden, lit("{\"widenColumn\":{\"name\":\"stars\",\"type\":\"long\"}}"))
          .when(isDrop, lit("{\"dropColumn\":{\"name\":\"stars\"}}"))
          .when(isRename, lit("{\"renameColumn\":{\"name\":\"license\",\"to\":\"lic\"}}"))
          // alternate added column type by position in the list; stars is int
          // so the widen lsns above have something real to widen
          .otherwise(concat(lit("{\"addColumn\":{\"name\":\""),
            when(pmod(id, lit(2L)) === 0, lit("stars")).otherwise(lit("license")),
            lit("\",\"type\":\""),
            when(pmod(id, lit(2L)) === 0, lit("int")).otherwise(lit("string")),
            lit("\"}}")))).as("schema_change"),
      when(op.isin("insert", "update"), extra).as("extra"))

    // Duplicate delivery: re-emit a sample with a bumped event_id. Same lsn →
    // dedup must collapse them; the engine result must be unchanged.
    val dups = events.filter(rnd(col("lsn"), cfg.seed, "dup") < cfg.duplicateRate)
      .withColumn("event_id", lit(1L))
    events.unionByName(dups)
  }

  /** Write the log as `numFiles` parquet files under `dir`, ordered so the
    * file-streaming source replays them as micro-batches. Files are split by
    * lsn range (file i holds lsns in [i*n/k, (i+1)*n/k)) — mimics a WAL
    * segment layout; a duplicate row lands in its lsn's segment.
    */
  def write(spark: SparkSession, cfg: Config, dir: String, numFiles: Int): Unit = {
    val df = generate(spark, cfg)
    val width = math.max(1L, (cfg.numEvents + numFiles - 1) / numFiles)
    // Duplicate deliveries (event_id=1) land one segment LATER than their
    // original — the hard exactly-once case: a stale duplicate arriving after
    // newer events (possibly after a delete) must not resurrect anything.
    stageSegments(spark,
      df.withColumn("__seg",
        least(floor(col("lsn") / width) + col("event_id"), lit((numFiles - 1).toLong)).cast("int")),
      dir, Seq("lsn", "event_id"))
  }

  /** Stage ANY frame as an order-ranged WAL segment directory: file i holds
    * the i-th range of `orderCol`, modtimes strictly increase with i, so a
    * file stream over `dir` replays the frame in `orderCol` order across
    * micro-batches — the deterministic-arrival-order substrate operators
    * like [[graft.stream.StreamDedup.firstSeen]] build on (first ARRIVAL =
    * globally-least `orderCol`, making a streaming result oracle-checkable
    * by a batch `arg_min`). One 2-value aggregate sizes the ranges; the
    * staging write itself is fully distributed.
    */
  def writeOrdered(spark: SparkSession, df: org.apache.spark.sql.DataFrame,
                   dir: String, numFiles: Int, orderCol: String = "lsn"): Unit = {
    val r = df.agg(min(col(orderCol)), max(col(orderCol))).head()
    if (r.isNullAt(0)) return // empty frame: nothing to stage
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    val width = math.max(1L, (mx - mn + numFiles) / numFiles)
    stageSegments(spark,
      df.withColumn("__seg",
        least(floor((col(orderCol) - mn) / width), lit((numFiles - 1).toLong)).cast("int")),
      dir, Seq(orderCol))
  }

  private def stageSegments(spark: SparkSession,
                            dfWithSeg: org.apache.spark.sql.DataFrame,
                            dir: String, sortCols: Seq[String]): Unit = {
    dfWithSeg
      .repartition(col("__seg"))
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.partitionBy("__seg").mode("overwrite").parquet(dir + "/__staging")
    // flatten: move each segment dir's files to seg-NNNN.parquet files
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(dir + "/__staging")
    val out = new org.apache.hadoop.fs.Path(dir)
    fs.mkdirs(out)
    val segs = fs.listStatus(staging).filter(_.getPath.getName.startsWith("__seg="))
    val t0 = System.currentTimeMillis() - segs.length * 2000L
    for (seg <- segs.sortBy(s => s.getPath.getName.stripPrefix("__seg=").toInt)) {
      val segId = seg.getPath.getName.stripPrefix("__seg=").toInt
      val parts = fs.listStatus(seg.getPath).filter(_.getPath.getName.endsWith(".parquet"))
      for ((p, i) <- parts.zipWithIndex) {
        val dest = new org.apache.hadoop.fs.Path(out, f"seg-$segId%05d-$i.parquet")
        fs.rename(p.getPath, dest)
        // strictly increasing modtimes → the file stream source replays
        // segments in WAL order (it batches by modification time)
        fs.setTimes(dest, t0 + segId * 2000L, -1)
      }
    }
    fs.delete(staging, true)
  }
}
