package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.kernel.{ChangeOps, Salting}

/** Per-merge lineage counts (SURVEY.md §7.6). */
final case class MergeStats(
    epoch: String,
    batchId: Long,
    version: Long,
    eventsSeen: Long,
    duplicatesDropped: Long,
    upserts: Long,
    deletes: Long,
    schemaChanges: Long,
    schemaQuarantined: Long = 0L,
    constraintQuarantined: Long = 0L,
    noOp: Boolean)

/** Copy-on-write lake table with Iceberg-style semantics, from scratch over
  * Parquet + [[SnapshotLog]] (SURVEY.md §7.2-7.3). Key is fixed to
  * `(repo, path)` per the north rule; rows carry engine columns `_lsn`
  * (last applied change) and `_deleted` (tombstone).
  *
  * Tombstones are retained, not dropped: a duplicate delivery of an OLD
  * update arriving after a newer delete must lose, which requires the delete
  * LSN to still be visible to the merge window. Compaction may expire
  * tombstones older than the max accepted lateness (not needed in-sandbox).
  *
  * MERGE semantics = last-LSN-wins upsert:
  *  - WHEN MATCHED AND src._lsn > tgt._lsn → replace row (or tombstone it)
  *  - WHEN NOT MATCHED → insert
  * expressed as one window over the union of the deduped batch and the
  * touched target files — no SQL MERGE needed, every step is a Catalyst plan.
  */
final class LakeTable(spark: SparkSession, val root: String,
                      statColumns: Seq[String] = LakeTable.defaultStatColumns,
                      bloomColumns: Seq[String] = Nil) {
  import LakeTable._

  val log = new SnapshotLog(spark, root)
  private val keyCols = Seq("repo", "path")

  /** The shared data-file writer: zstd + a parquet-native BLOOM FILTER for
    * each configured bloom column present in the frame (adaptive sizing —
    * parquet picks the smallest candidate covering the chunk's actual NDV).
    * Blooms serve two layers: parquet-mr skips row groups on pushed equality
    * predicates automatically, and [[BloomPrune]] probes the same filters at
    * PLANNING time to skip whole files — the layer min/max stats cannot
    * provide on high-cardinality columns (a uniform hash key spans nearly
    * the full domain in every file, so range stats never prune it).
    */
  private def dataWriter(df: DataFrame) = {
    val present = df.columns.toSet
    bloomColumns.filter(present.contains).foldLeft(
      df.write.mode("overwrite").option("compression", "zstd")
        .option("parquet.bloom.filter.adaptive.enabled", "true")) {
      (w, c) => w.option(s"parquet.bloom.filter.enabled#$c", "true")
    }.partitionBy("_deleted")
  }

  def create(baseSchema: StructType): Unit = {
    // tryCommit: two racing creators both succeed idempotently (the loser's
    // intent — "the table exists" — is satisfied by the winner's v0)
    if (log.latestVersion().isEmpty)
      log.tryCommit(Snapshot(0L, baseSchema, Map.empty, Seq.empty,
        BatchLedger.empty, -1L, operation = "create"))
  }

  def head(): Snapshot = log.head().getOrElse(
    throw new IllegalStateException(s"no snapshot at $root — call create() first"))

  private def storageSchema(s: Snapshot): StructType =
    StructType(s.schema.fields.toSeq :+
      StructField("_lsn", LongType, nullable = false) :+
      StructField("_deleted", BooleanType, nullable = false) :+
      StructField("_ver", LongType, nullable = false))

  /** Rename LOGICAL field names to their PHYSICAL storage names (identity
    * when nothing is renamed). Engine columns never rename.
    */
  private def toPhysicalSchema(mapping: Map[String, String], st: StructType): StructType =
    if (mapping.isEmpty) st
    else StructType(st.fields.map(f =>
      mapping.get(f.name).map(p => f.copy(name = p)).getOrElse(f)))

  /** Alias a LOGICAL-named frame to PHYSICAL column names for a parquet
    * write — the single write-side half of the rename boundary (reads alias
    * back inside readStored/readStoredTagged/readAt). No-op Project when the
    * mapping is empty.
    */
  private def toPhysicalCols(mapping: Map[String, String], df: DataFrame): DataFrame =
    if (mapping.isEmpty) df
    else df.select(df.columns.toSeq.map(c => col(c).as(mapping.getOrElse(c, c))): _*)

  /** Read stored rows of the given files under the given snapshot's schema;
    * files written before a schema evolution lack the added columns and the
    * Parquet reader null-fills them (union-by-name evolution, SURVEY §2.7 U2).
    *
    * Tombstone rows live in SEPARATE files from live rows (the merge writes
    * `partitionBy("_deleted")` — the Iceberg delete-file analog), so
    * `_deleted` is not a physical column: it is reconstituted per file group
    * as a literal. Live-only readers ([[readAt]]) never open tombstone files
    * at all — at the 100 TB design point a full-table scan reads zero
    * tombstone bytes instead of scanning and filtering them row by row.
    */
  private def readStored(snap: Snapshot, entries: Seq[DataFileEntry]): DataFrame = {
    val st = storageSchema(snap)
    // files store PHYSICAL names (a renamed column keeps its add-time name in
    // every file); read physical, alias back to logical in the final select —
    // a plain Project over the vectorized scan, no-op when nothing is renamed
    val noDel = toPhysicalSchema(snap.physicalName,
      StructType(st.fields.filterNot(_.name == "_deleted")))
    val (tombs, live) = entries.partition(_.tomb)
    def side(fs: Seq[DataFileEntry], deleted: Boolean): Option[DataFrame] =
      if (fs.isEmpty) None
      else Some(spark.read.schema(noDel).parquet(fs.map(_.path): _*)
        .withColumn("_deleted", lit(deleted)))
    (side(live, deleted = false) ++ side(tombs, deleted = true))
      .reduceOption(_.unionByName(_))
      .map(_.select(st.fieldNames.toSeq.map(n => col(snap.physicalOf(n)).as(n)): _*))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st))
  }

  /** [[readStored]] plus a per-row resolution-preference column `__pref`:
    * `-1` for rows from base (copy-on-write) files, the row's `_ver` for rows
    * from delta (deferred-merge) files. With the window ordering
    * `(_lsn DESC, __pref ASC)` this encodes the engine's tie rules at read
    * time: on equal LSN a base row beats any delta (a re-delivered duplicate
    * keeps the originally-stamped `_ver`, exactly like the copy-on-write
    * merge where the target wins ties), and among deltas the EARLIEST commit
    * wins (first delivery, matching what cumulative copy-on-write merges
    * would have produced). Like `_deleted`, the flag is per FILE GROUP, so it
    * costs a literal, not a physical column.
    */
  private def readStoredTagged(snap: Snapshot, entries: Seq[DataFileEntry]): DataFrame = {
    val st = storageSchema(snap)
    val noDel = toPhysicalSchema(snap.physicalName,
      StructType(st.fields.filterNot(_.name == "_deleted")))
    val grouped = entries.groupBy(e => (e.tomb, e.delta)).toSeq.sortBy(_._1)
    grouped.map { case ((tomb, delta), fs) =>
      spark.read.schema(noDel).parquet(fs.map(_.path): _*)
        .withColumn("_deleted", lit(tomb))
        .withColumn("__pref", if (delta) col("_ver") else lit(-1L))
    }
      .reduceOption(_.unionByName(_))
      .map(_.select(st.fieldNames.toSeq.map(n => col(snap.physicalOf(n)).as(n))
        :+ col("__pref"): _*))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(st.fields.toSeq :+ StructField("__pref", LongType, nullable = false))))
  }

  /** Stored state of `entries` with deferred-merge (delta) files RESOLVED:
    * one winner row per key, picked by the same last-LSN-wins /
    * base-beats-delta-on-ties rule the copy-on-write merge applies at write
    * time ([[readStoredTagged]]). When no delta files are present this is
    * exactly [[readStored]] — zero added plan nodes on a compacted table.
    * This is the merge-on-read trade: deferred merges make the WRITE O(batch)
    * (no target read, no rewrite) and shift the per-key window here, until a
    * compaction materializes the deltas back into base files.
    */
  private def resolveStored(snap: Snapshot, entries: Seq[DataFileEntry]): DataFrame = {
    if (!entries.exists(_.delta)) readStored(snap, entries)
    else {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(col("_lsn").desc, col("__pref").asc)
      readStoredTagged(snap, entries)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn", "__pref")
    }
  }

  /** User-visible table state: live rows only, engine columns hidden. */
  def read(): DataFrame = readAt(head())

  /** [[read]] with MANIFEST-LEVEL file pruning driven by the predicate:
    * conjuncts that provably bound any PRUNABLE column — the keys
    * (`repo`/`path`) plus the configured secondary stat columns — via `=`,
    * `IN`, range comparisons against string literals ([[KeyPredicates]]) skip
    * every data file whose footer-stat bounding box cannot hold a matching
    * row, BEFORE any Spark job is planned; the full predicate then runs on
    * the pruned scan (and pushes to Parquet row groups as usual), so results
    * are identical to `read().filter(predicate)` for a deterministic
    * predicate. On a compacted range-clustered table a point read touches
    * O(1) files instead of scanning every live file — the 100×-scale
    * difference between a key lookup and a full-table scan. Unknown
    * predicate shapes and missing stats fail OPEN (file kept).
    */
  def readWhere(predicate: org.apache.spark.sql.Column): DataFrame =
    // TWO-LEVEL metadata pruning (the Iceberg manifest-list analog): when the
    // head snapshot carries manifest summaries, plan from the HEADER alone —
    // prune whole manifests by their key bounding box BEFORE parsing any of
    // them, then prune files within the survivors. A fresh process doing a
    // point read on a 10^6-file table parses O(overlapping) manifests, not
    // O(table). Pre-summary snapshots fall back to the full parse (readHeader
    // returns None), producing identical rows.
    log.latestVersion().flatMap(log.readHeader) match {
      case Some(h) => readWhereFrom(h, predicate, headerOnly = true)
      case None    => readWhereFrom(head(), predicate, headerOnly = false)
    }

  private def readWhereFrom(
      snap: Snapshot, predicate: org.apache.spark.sql.Column,
      headerOnly: Boolean): DataFrame = {
    // resolve the predicate against the table schema first: a raw Column in
    // Spark 4 is a ColumnNode tree (UnresolvedFunction("=",…)), not Catalyst
    // EqualTo/And — analyzing a Filter over an empty LocalRelation yields the
    // resolved conjuncts KeyPredicates understands, at zero execution cost
    val cond = {
      val empty = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), snap.schema)
      empty.filter(predicate).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.getOrElse(org.apache.spark.sql.catalyst.expressions.Literal(true))
    }
    // statted/bloom column sets and the delta flag come from summaries on the
    // header path (unions over manifests ≡ unions over their entries) and
    // from loaded entries on the legacy path
    val (strCols, longCols) =
      if (headerOnly) typedPrunableFrom(snap.schema,
        snap.manifestSummaries.iterator.flatMap(_.stattedStr).toSet,
        snap.manifestSummaries.iterator.flatMap(_.stattedLong).toSet)
      else typedPrunable(snap)
    val hasDeltas =
      if (headerOnly) snap.manifestSummaries.exists(_.hasDeltas)
      else snap.files.exists(_.delta)
    // NON-KEY bounds are unsound while deferred-merge deltas are pending: a
    // non-key value can differ between a stale delta row and the newer base
    // row shadowing it, so dropping the base file on a stat bound flips the
    // per-key winner and surfaces a row the full scan would never return
    // (DeltaPruneSoundnessSpec). Key columns are immutable per key — every
    // copy of a candidate key lives in a file whose key box overlaps the
    // bound, so key pruning can never split a key's copy set (the identical
    // argument covers manifest-box pruning: a manifest's key box contains
    // every key of every file it lists). Restrict to key bounds until
    // compaction materializes the deltas.
    val (ps, pl) =
      if (hasDeltas) (strCols.filter(keyCols.contains), Seq.empty[String])
      else (strCols, longCols)
    // extract bounds under LOGICAL names, probe file/manifest stats under
    // PHYSICAL names (stats come from parquet footers; key columns never
    // rename, so this is identity for the manifest key boxes)
    val bounds = toPhysicalBounds(snap, KeyPredicates.extractTyped(cond, ps, pl))
    val candidates =
      if (headerOnly)
        log.loadManifests(
          snap.manifestSummaries.filter(_.overlapsKeys(bounds)).map(_.name))
      else snap.files
    val pruned = bloomPruneFiles(snap, cond, pruneEntries(candidates, bounds), ps, pl)
    readAt(snap, pruned).filter(predicate)
  }

  /** Second pruning layer, shared by [[readWhere]] and the native
    * `format("graft")` FileIndex: equality literals on columns whose files
    * ADVERTISE a parquet bloom probe the embedded filters and drop definite
    * negatives — the high-cardinality point lookups range stats can never
    * prune. `strCols`/`longCols` carry the caller's (already delta-safe)
    * prunable column sets.
    */
  private[lake] def bloomPruneFiles(
      snap: Snapshot, cond: org.apache.spark.sql.catalyst.expressions.Expression,
      candidates: Seq[DataFileEntry],
      strCols: Seq[String], longCols: Seq[String]): Seq[DataFileEntry] = {
    val byName = snap.schema.fields.map(f => f.name -> f.dataType).toMap
    // advertised blooms from the CANDIDATES, not snap.files: only candidate
    // files get probed, and a file without the bloom fails open anyway —
    // equivalent pruning, and it keeps this callable from header-only reads
    // (snap.files unloaded) where candidates came via manifest summaries.
    // Advertised names are PHYSICAL (footers); extraction runs on LOGICAL
    // names and the probe re-keys to physical (renamed columns keep blooms).
    val advertised = candidates.iterator.flatMap(_.bloomCols).toSet
    val bloomStr = strCols.filter(c => advertised.contains(snap.physicalOf(c)) &&
      byName.get(c).contains(StringType))
    val bloomLong = longCols.filter(c => advertised.contains(snap.physicalOf(c)) &&
      (byName.get(c) match {
        case Some(LongType) | Some(IntegerType) | Some(TimestampType) => true
        case _ => false
      }))
    if (bloomStr.isEmpty && bloomLong.isEmpty) candidates
    else {
      val eqs = KeyPredicates.extractEqualities(cond, bloomStr, bloomLong)
      val phys =
        if (snap.physicalName.isEmpty) eqs
        else KeyPredicates.Equalities(
          eqs.strings.map { case (c, v) => snap.physicalOf(c) -> v },
          eqs.longs.map { case (c, v) => snap.physicalOf(c) -> v })
      BloomPrune.prune(spark, candidates, phys)
    }
  }

  /** Columns with manifest-level min/max stats usable for file pruning: the
    * key columns plus the configured secondary stat columns — so a point
    * query on e.g. `lang` skips files at PLANNING time instead of scanning
    * every file for a predicate the key ranges know nothing about.
    */
  private[lake] def prunableColumns: Seq[String] = keyCols ++ statColumns

  /** Prunable columns under `snap`, split by stat representation: string
    * columns prune via UTF-8 string bounds, long / int / timestamp columns
    * via int64 bounds ([[DataFileEntry.longStats]]). Derived from what the
    * MANIFESTS actually carry (union of statted columns across files), not
    * from this instance's writer-side `statColumns` — so a reader opened
    * with different stat configuration (e.g. the `format("graft")` relation,
    * which always opens with defaults) still prunes on every statted column.
    * The snapshot-schema type cross-check drops any column whose current
    * Catalyst type no longer matches its stat representation (fail open).
    * Columns of other types (float/double/boolean — NaN ordering and
    * near-zero selectivity make stats useless) are never statted.
    */
  private[lake] def typedPrunable(snap: Snapshot): (Seq[String], Seq[String]) =
    typedPrunableFrom(snap.schema,
      snap.files.iterator.flatMap(_.stats.keysIterator).toSet,
      snap.files.iterator.flatMap(_.longStats.keysIterator).toSet,
      snap.physicalName)

  /** [[typedPrunable]] core over explicit statted-column sets — the
    * header-only read path derives them from [[ManifestSummary]] unions
    * instead of loaded file entries (equal by construction: a summary's
    * statted lists are the union over its manifest's entries). Manifest
    * stats are keyed by PHYSICAL column names (that is what parquet footers
    * carry, and renamed columns keep writing under their original name), so
    * the sets are translated to logical names before the schema type
    * cross-check — a renamed column stays first-class prunable.
    */
  private[lake] def typedPrunableFrom(
      schema: StructType, statted: Set[String], lstatted: Set[String],
      physical: Map[String, String] = Map.empty)
      : (Seq[String], Seq[String]) = {
    val toLogical: String => String =
      if (physical.isEmpty) identity
      else { val inv = physical.map(_.swap); p => inv.getOrElse(p, p) }
    val byName = schema.fields.map(f => f.name -> f.dataType).toMap
    val strings = (keyCols ++ (statted.map(toLogical) -- keyCols).toSeq.sorted)
      .filter(c => byName.get(c).contains(StringType))
    val longs = lstatted.map(toLogical).toSeq.sorted.filter(c => byName.get(c) match {
      case Some(LongType) | Some(IntegerType) | Some(TimestampType) => true
      case _ => false
    })
    (strings, longs)
  }

  /** Files of `snap` that can hold a row inside `bounds` (manifest-level
    * pruning; shared by [[readWhere]] and the `format("graft")` relation).
    * A column missing from a file's stats contributes no constraint for
    * that file (fail open — e.g. manifests written before the column was
    * statted, or before the column existed at all).
    */
  private[lake] def pruneFiles(
      snap: Snapshot, bounds: KeyPredicates.TypedBounds): Seq[DataFileEntry] =
    pruneEntries(snap.files, bounds)

  /** Re-key extracted bounds from LOGICAL to PHYSICAL column names for stat
    * probing (identity when nothing is renamed).
    */
  private def toPhysicalBounds(
      snap: Snapshot, b: KeyPredicates.TypedBounds): KeyPredicates.TypedBounds =
    if (snap.physicalName.isEmpty) b
    else KeyPredicates.TypedBounds(
      b.strings.map { case (c, v) => snap.physicalOf(c) -> v },
      b.longs.map { case (c, v) => snap.physicalOf(c) -> v })

  /** [[pruneFiles]] over an explicit entry list (header-only reads pass the
    * entries of just the summary-surviving manifests).
    */
  private[lake] def pruneEntries(
      entries: Seq[DataFileEntry], bounds: KeyPredicates.TypedBounds)
      : Seq[DataFileEntry] =
    entries.filter { f =>
      bounds.strings.forall { case (c, b) =>
        val (mn, mx) = f.boundsOf(c)
        b.overlaps(mn, mx)
      } && bounds.longs.forall { case (c, b) =>
        val (mn, mx) = f.longBoundsOf(c)
        b.overlaps(mn, mx)
      }
    }

  /** String-bounds-only overload (pre-typed-stats callers). */
  private[lake] def pruneFiles(
      snap: Snapshot, bounds: Map[String, KeyPredicates.Bound]): Seq[DataFileEntry] =
    pruneFiles(snap, KeyPredicates.TypedBounds(bounds, Map.empty))

  /** Live rows of selected files — the `format("graft")` relation's scan. */
  private[lake] def scanLive(snap: Snapshot, entries: Seq[DataFileEntry]): DataFrame =
    readAt(snap, entries)

  /** Time travel: the table as of `version` (live rows, engine columns
    * hidden, the schema AS OF that version). Any still-unexpired snapshot is
    * readable — same retention contract as the change feed.
    */
  def readVersion(version: Long): DataFrame = readAt(log.read(version))

  /** Commit history, newest first — the DESCRIBE HISTORY analog: one row per
    * retained snapshot with the operation that produced it, the writer's
    * commit wall clock, and table-size aggregates. Built from snapshot-file
    * METADATA only (no manifest loads, no data I/O — the aggregates were
    * precomputed at commit time), so the cost is one small JSON read per
    * retained version regardless of table size; retention via
    * [[expireSnapshots]] bounds the row count.
    */
  def history(): DataFrame = {
    import spark.implicits._
    log.history().toDF().select(
      col("version"), col("parent"), col("operation"),
      timestamp_millis(col("committedAt")).as("committed_at"),
      col("files"), col("liveRows").as("live_rows"), col("bytes"),
      col("tombstoneFiles").as("tombstone_files"), col("maxLsn").as("max_lsn"))
  }

  /** Add a named CHECK constraint (the Delta `ADD CONSTRAINT` analog):
    * `check` is any SQL boolean expression over the table's columns. The
    * commit is rejected unless every EXISTING live row satisfies it (one
    * validation scan, same contract as Delta). From then on every write path
    * (merge / append / SQL DML — they all funnel through the merge)
    * QUARANTINES violating upsert rows instead of failing the stream or
    * storing them ([[enforceConstraints]]): SQL CHECK semantics, a row
    * violates only when the expression evaluates to exactly FALSE (NULL
    * passes); delete events are exempt (their value columns are null by
    * construction). Constraints live in the snapshot, so time travel and
    * [[restoreTo]] carry them with the rest of the state.
    */
  def addConstraint(name: String, check: String): Snapshot = {
    require(name.matches("[A-Za-z0-9_-]+"), s"bad constraint name: '$name'")
    var result: Snapshot = null
    var attempts = 0
    while (result == null) {
      val snap = head()
      require(!snap.constraints.contains(name), s"constraint '$name' already exists")
      val bad = readAt(snap).filter(expr(check) <=> lit(false)).limit(1).count()
      require(bad == 0L, s"cannot add CHECK '$name': existing rows violate ($check)")
      val next = snap.copy(version = snap.version + 1, parent = snap.version,
        operation = s"addConstraint($name)",
        constraints = snap.constraints + (name -> check))
      if (log.tryCommit(next)) result = next
      else {
        attempts += 1
        if (attempts >= 8) throw new IllegalStateException(
          s"addConstraint lost $attempts commit races; giving up")
      }
    }
    result
  }

  /** Remove a named CHECK constraint. */
  def dropConstraint(name: String): Snapshot = {
    var result: Snapshot = null
    var attempts = 0
    while (result == null) {
      val snap = head()
      require(snap.constraints.contains(name), s"no such constraint: '$name'")
      val next = snap.copy(version = snap.version + 1, parent = snap.version,
        operation = s"dropConstraint($name)",
        constraints = snap.constraints - name)
      if (log.tryCommit(next)) result = next
      else {
        attempts += 1
        if (attempts >= 8) throw new IllegalStateException(
          s"dropConstraint lost $attempts commit races; giving up")
      }
    }
    result
  }

  /** CHECK-constraint enforcement over a batch's storage-projected source
    * rows ([[addConstraint]]), under the batch's evolved snapshot `snap`:
    * violating UPSERT rows are quarantined — written to `quarantineDir` (the
    * merge attempt's own, by an `aux` job) for inspection, counted into
    * `MergeStats.constraintQuarantined`, logged loudly — never a stream
    * failure (the batch would redeliver forever), never a silent drop.
    * Zero cost when the snapshot has no constraints. The delivery counters
    * (eventsSeen/upserts/deletes) describe the batch AS DELIVERED;
    * `constraintQuarantined` records what enforcement then removed.
    */
  private def enforceConstraints(snap: Snapshot, src: DataFrame,
                                 quarantineDir: String, aux: AuxJobs)
      : (DataFrame, scala.concurrent.Future[Long]) = {
    if (snap.constraints.isEmpty)
      return (src, scala.concurrent.Future.successful(0L))
    val violates = snap.constraints.values.toSeq
      .map(s => expr(s) <=> lit(false)).reduce(_ || _) && !col("_deleted")
    val bad = src.filter(violates)
    // count + quarantine-write run CONCURRENTLY with the main merge jobs
    // (guide §2.6): the merge only needs the FILTERED frame — which is lazy —
    // not the violator count, so the extra per-batch job leaves the critical
    // path; the caller awaits before committing (a failed quarantine write
    // must still fail the batch, not land a commit that lost rows silently).
    val quarantined = aux {
      val n = bad.count()
      if (n > 0) {
        bad.select((snap.schema.fieldNames.toSeq :+ "_lsn").map(col): _*)
          .write.mode("overwrite").parquet(quarantineDir)
        System.err.println(s"[lake] QUARANTINED $n rows violating CHECK " +
          s"(${snap.constraints.keys.mkString(", ")}) -> $quarantineDir")
      }
      n
    }
    (src.filter(!violates), quarantined)
  }

  /** Roll the table back to `version` (the Delta `RESTORE` analog): a
    * METADATA-ONLY commit that re-points HEAD at the target snapshot's entire
    * state — data files (by reference, zero data I/O), schema,
    * schema-evolution lineage (`addedAtLsn`/`widenedAt`), `maxLsn`, and the
    * idempotence ledger. Afterwards the table behaves exactly as it did at
    * `version`: batches applied after it are forgotten by the ledger and
    * re-apply if redelivered (rewind-and-reprocess is the point of restore),
    * and later merges evolve forward from the restored state.
    *
    * The target must still be retained ([[expireSnapshots]]). GC safety: the
    * new HEAD re-references the restored files, and [[expireSnapshots]] keeps
    * every file referenced by a retained snapshot regardless of how old its
    * original commit dir is — so a restore never races GC into dangling refs.
    *
    * Change-feed contract: restored rows keep their ORIGINAL `_ver` stamps,
    * so a [[changesBetween]] window crossing a restore commit cannot use the
    * `_ver` fast path — it falls back to an exact two-state diff
    * ([[stateDiff]]), O(both states) instead of O(delta), paid only by
    * consumers whose window spans the restore.
    *
    * Concurrency: on a lost commit race the restore retries against the new
    * HEAD — the caller asked for state-as-of-`version`, so a concurrently
    * landed commit is deliberately superseded (logged loudly, bounded tries).
    */
  def restoreTo(version: Long): Snapshot = {
    var result: Snapshot = null
    var attempts = 0
    while (result == null) {
      val snap = head()
      require(version <= snap.version,
        s"cannot restore to v$version: head is v${snap.version}")
      if (version == snap.version) return snap
      val target = log.read(version)
      val next = target.copy(
        version = snap.version + 1,
        parent = snap.version,
        operation = s"restore(v$version)")
      if (log.tryCommit(next)) result = next
      else {
        attempts += 1
        if (attempts >= 8) throw new IllegalStateException(
          s"restore lost $attempts commit races; giving up")
        System.err.println(
          s"[lake] restore to v$version lost a commit race; retrying against the new head")
      }
    }
    result
  }

  private def readAt(snap: Snapshot): DataFrame =
    readAt(snap, snap.files)

  /** Live rows of `entries` under `snap`'s schema, engine columns hidden —
    * the single place the live-read logic lives, shared by full reads and
    * pruned reads. Tombstones sit in separate files, so a live read is a
    * plain projected parquet scan: no row filter, no tombstone bytes read
    * (schema projection also skips the physical `_lsn`/`_ver` columns).
    *
    * When deferred-merge delta files are pending, the read is instead the
    * RESOLVED state ([[resolveStored]]): tombstone files participate (a delta
    * tombstone must shadow an older base row) and the winner per key is
    * filtered to live rows. Sound under file pruning because bounds-based
    * pruning keeps every file that can hold a key, so all of a surviving
    * key's row copies enter the window together.
    */
  private def readAt(snap: Snapshot, entries: Seq[DataFileEntry]): DataFrame = {
    if (entries.exists(_.delta))
      return resolveStored(snap, entries)
        .filter(!col("_deleted"))
        .select(snap.schema.fieldNames.map(col).toSeq: _*)
    val live = entries.filterNot(_.tomb)
    if (live.isEmpty)
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), snap.schema)
    else {
      val scan = spark.read.schema(toPhysicalSchema(snap.physicalName, snap.schema))
        .parquet(live.map(_.path): _*)
      if (snap.physicalName.isEmpty) scan
      else scan.select(
        snap.schema.fieldNames.toSeq.map(n => col(snap.physicalOf(n)).as(n)): _*)
    }
  }

  /** Schema of the change feed (changesBetween / the graft-changes streaming
    * source): the CURRENT user schema plus (`_lsn`, `_deleted`, `_ver`) —
    * `_ver` is the commit version that last modified the row, exposed
    * deliberately (Delta CDF's `_commit_version` analog) so consumers can
    * order/attribute deliveries. Fixed at stream start by Structured
    * Streaming; columns added by later schema evolution appear to a running
    * stream only after restart.
    */
  def changeFeedSchema(): StructType = storageSchema(head())

  /** Stored state incl. tombstones and `_lsn` — for tests and compaction. */
  def readRaw(): DataFrame = {
    val snap = head()
    readStored(snap, snap.files)
  }

  /** Incremental change feed (Iceberg-style incremental scan): the NET row
    * changes between two committed snapshots, for downstream incremental
    * consumers. Returns storage-schema rows (`_deleted` true = the key was
    * deleted) — each key changed in (fromVersion, toVersion] appears exactly
    * once with its final state.
    *
    * Scale shape: reads ONLY the data files added after `fromVersion`
    * (carried-forward files are skipped by manifest diff, no data scan), and
    * `_ver > fromVersion` filters carried-over rows that copy-on-write
    * rewrote into new files — a parquet-pushed predicate, no join. `_ver` is
    * the snapshot version that last MODIFIED the row (Delta CDF's
    * `_commit_version` analog), stamped by the merge itself, so the feed is
    * exact even when change events arrive out of LSN order across batches
    * (an `_lsn`-watermark filter would silently drop a late-delivered change
    * whose LSN is below an earlier snapshot's high-water mark). Both
    * snapshots must still exist (expireSnapshots bounds how far back a
    * consumer may resume; same contract as Iceberg's changelog expiry), and
    * deletes are visible only while their tombstones outlive
    * `compact(tombstoneWatermark)` — expire tombstones only past every
    * consumer's resume horizon.
    */
  def changesBetween(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion, s"$fromVersion > $toVersion")
    // expired/over-head window ends fail here with the rich retention error
    // (describe() on an expired mid-window version would otherwise leak a
    // raw missing-file exception) — two tiny JSON reads, no manifest loads
    log.requireRetained(fromVersion)
    log.requireRetained(toVersion)
    // A restore commit inside the window invalidates the `_ver` fast path:
    // the rows it (re)exposed carry their ORIGINAL commit versions, so the
    // manifest-diff + `_ver > from` scan below would silently miss them (and
    // keys whose post-`version` additions the restore erased would never get
    // tombstones). Detect it from commit metadata — O(window) tiny JSON
    // header reads, no data I/O; the streaming source drains one or two
    // versions per window — and fall back to the exact two-state diff.
    val crossesRestore = (fromVersion + 1 to toVersion)
      .exists(v => log.describe(v).operation.startsWith("restore"))
    if (crossesRestore)
      return stateDiff(log.read(fromVersion), log.read(toVersion), toVersion)
    // MANIFEST-level diff from the snapshot headers when both carry manifest
    // summaries: a manifest referenced by BOTH versions is carried unchanged
    // (manifests are immutable and names are unique per write), so it can
    // contribute no added file — only manifests new in `to` are parsed, plus
    // the manifests `from` dropped (a rewritten manifest's kept entries are
    // OLD files whose originals lived exactly in those dropped manifests —
    // every other `from` path sits in a carried manifest `to` still
    // references, which the name diff already excluded). Cost per feed
    // window: O(changed manifests), not O(table) — the metadata analog of
    // the `_ver` file pruning below. Summary-level maxVer skips a new-in-`to`
    // manifest whose files ALL predate the window (post-compaction rewrites
    // of cold ranges). Pre-summary snapshots fall back to full parses.
    (log.readHeader(fromVersion), log.readHeader(toVersion)) match {
      case (Some(fh), Some(th)) =>
        val fromNames = fh.manifestSummaries.map(_.name).toSet
        val toNames = th.manifestSummaries.map(_.name).toSet
        val toOnly = th.manifestSummaries.filterNot(s => fromNames.contains(s.name))
        val fromOnly = fh.manifestSummaries.map(_.name).filterNot(toNames.contains)
        val candidates = log.loadManifests(
          toOnly.filter(_.maxVer.forall(_ > fromVersion)).map(_.name))
        val oldPaths = log.loadManifests(fromOnly).map(_.path).toSet
        val added = candidates
          .filter(f => !oldPaths.contains(f.path) && f.maxVer.forall(_ > fromVersion))
        changesFrom(th, added, fromVersion, toVersion)
      case _ =>
        val from = log.read(fromVersion)
        val to = log.read(toVersion)
        val old = from.files.map(_.path).toSet
        val added = to.files
          .filter(f => !old.contains(f.path) && f.maxVer.forall(_ > fromVersion))
        changesFrom(to, added, fromVersion, toVersion)
    }
  }

  /** Shared tail of [[changesBetween]]: scan the added files, resolve
    * per-key winners when needed, keep rows modified inside the window.
    */
  private def changesFrom(
      to: Snapshot, added: Seq[DataFileEntry],
      fromVersion: Long, toVersion: Long): DataFrame = {
    // `added` arrives FILE-level pruned by footer-stat maxVer: a file whose
    // maxVer is at or below fromVersion holds only carried rows — skipped at
    // planning time (the Iceberg data-sequence-number analog; after a
    // compaction rewrites a mostly-cold table this is the difference between
    // re-opening every file and touching only the files holding
    // recently-changed keys). None = unknown stats — fail open.
    //
    // null _ver = a file written before commit-version stamping existed
    // (parquet null-fills the missing column). Fail OPEN: deliver such rows
    // rather than silently dropping pre-upgrade history — re-delivery is
    // idempotent for a last-wins consumer, a dropped change is unrecoverable.
    // The OR of two pushable predicates still reaches the parquet scan.
    //
    // With deferred merges, several delta commits in the window can each hold
    // a row for the same key; resolveStored picks the final state per key
    // (the feed contract: each changed key appears exactly once) BEFORE the
    // `_ver` filter — the winner is the key's newest row, and if the winner
    // predates the window (base beats an equal-LSN duplicate delta) the key
    // correctly does not surface. Delta-free windows keep the plain scan, and
    // so does a SINGLE-commit window whose adds are all deltas (the deferred
    // merge already deduped that batch per key — one row per key by
    // construction, no resolution shuffle needed; this keeps the streaming
    // feed's version-by-version drain of a deferred ingest cheap).
    val oneDeferredCommit = toVersion - fromVersion == 1 && added.forall(_.delta)
    val stored =
      if (oneDeferredCommit) readStored(to, added) else resolveStored(to, added)
    stored.filter(col("_ver").isNull || col("_ver") > fromVersion)
  }

  /** Exact NET change between two snapshot STATES — the [[changesBetween]]
    * fallback for windows crossing a [[restoreTo]] commit, where `_ver`
    * stamps cannot identify what changed. Same output contract: storage-
    * schema rows of `to`, each key whose resolved state differs appearing
    * exactly once with its final state. A key live in `from` but entirely
    * absent from `to` (the restore erased rows that had no tombstone at the
    * target version) surfaces as a SYNTHESIZED tombstone carrying the `from`
    * row's `_lsn` and null value columns — exactly what a stored tombstone
    * for it would hold. Both-sides-deleted (or both-absent) keys emit
    * nothing: there is no net change to deliver.
    *
    * `_ver` attribution: a row whose stored `_ver` postdates the window
    * start keeps it (a real post-`from` write); a row the restore re-exposed
    * carries the window-end version — the restore commit is what made it
    * current (Delta CDF attributes restore-surfaced rows to the restore
    * commit the same way).
    *
    * Cost: one shuffle of both resolved states on the key columns — paid
    * only when the window spans a restore; all other windows keep the
    * manifest-diff + pushed-`_ver` incremental scan.
    */
  private def stateDiff(from: Snapshot, to: Snapshot, toVersion: Long): DataFrame = {
    val st = storageSchema(to)
    val toS = resolveStored(to, to.files)
    val fromS = resolveStored(from, from.files).select(
      keyCols.map(col) ++
        Seq(col("_lsn").as("__f_lsn"), col("_deleted").as("__f_del")): _*)
    val j = toS.join(fromS, keyCols, "full_outer")
    val toPresent = col("_lsn").isNotNull
    val fromLive = col("__f_lsn").isNotNull && !col("__f_del")
    val changed =
      // to-side live and the from-side winner was absent, deleted, or a
      // different event → deliver the final row
      (toPresent && !col("_deleted") &&
        (col("__f_lsn").isNull || col("__f_del") || col("_lsn") =!= col("__f_lsn"))) ||
      // to-side tombstone over a previously-live key → deliver the delete
      (toPresent && col("_deleted") && fromLive) ||
      // previously-live key with no stored row at all in `to` → synthesize
      (!toPresent && fromLive)
    val out = st.fields.toSeq.map { f =>
      f.name match {
        case k if keyCols.contains(k) => col(k)
        case "_lsn" => coalesce(col("_lsn"), col("__f_lsn")).as("_lsn")
        case "_deleted" =>
          when(toPresent, col("_deleted")).otherwise(lit(true)).as("_deleted")
        case "_ver" =>
          when(col("_ver").isNotNull && col("_ver") > lit(from.version), col("_ver"))
            .otherwise(lit(toVersion)).as("_ver")
        case other =>
          when(toPresent, col(other)).otherwise(lit(null).cast(f.dataType)).as(other)
      }
    }
    j.filter(changed).select(out: _*)
  }

  private val timing = sys.env.getOrElse("GRAFT_MERGE_TIMING", "0") == "1"
  private def timed[T](name: String)(f: => T): T = {
    if (!timing) f
    else {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[merge-timing] $name ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
  }

  /** Apply one micro-batch of change events (EventLog.eventSchema shape).
    * Idempotent per (epoch, batchId): a replayed batch is a no-op.
    *
    * `recordInLedger = false` is for SINGLE-SHOT writes (`df.write`, SQL
    * INSERT): they never replay, and recording a fresh never-reused epoch
    * per call would grow the ledger — serialized into EVERY snapshot — by
    * one entry per ad-hoc write forever. Exactly-once for such a write is
    * the commit loop itself (a recompute only happens when our commit did
    * NOT land). Replayable writers (streams) keep the default and get
    * ledger idempotence per (epoch, batchId).
    */
  def merge(batch: DataFrame, epoch: String, batchId: Long, saltBuckets: Int = 0,
            recordInLedger: Boolean = true, operation: String = "merge"): MergeStats =
    mergeWithRetry(batch, epoch, batchId, saltBuckets, recordInLedger, operation,
      deferred = false)

  /** MERGE-ON-READ twin of [[merge]] (Hudi log-file / Iceberg v2
    * merge-on-read analog): apply the batch WITHOUT reading or rewriting any
    * target file. The batch's per-key winners (same last-LSN-wins /
    * event-id-tie dedup rule) are written as range-clustered DELTA files and
    * the snapshot carries every previous file by reference — write cost is
    * O(batch), independent of how many table files the keys touch. This is
    * the scale answer to copy-on-write's weak spot: a random-key update
    * batch at the 10^10-row design point touches (and under copy-on-write
    * rewrites) a large fraction of the table's files per batch; deferred
    * merges make ingest write-amplification 1 and shift the per-key
    * resolution to readers ([[resolveStored]]) until a compaction — or any
    * later copy-on-write merge touching the same ranges — materializes the
    * deltas ([[compact]] rewrites delta files unconditionally, pulling in
    * every base file whose key range overlaps). Same idempotence ledger,
    * schema-evolution handling, lineage counters and recompute-on-lost-race
    * rule as [[merge]] — both run the one merge body, `mergeOnce`.
    *
    * Trade-offs a caller accepts until the next compaction: reads resolve
    * through a window (no longer a bare vectorized scan — the
    * `format("graft")` relation drops to its row-based fallback), and
    * `history()`'s `live_rows` counts stored rows (an upper bound while
    * shadowed rows exist).
    */
  def mergeDeferred(batch: DataFrame, epoch: String, batchId: Long,
                    saltBuckets: Int = 0, recordInLedger: Boolean = true,
                    operation: String = "merge-deferred"): MergeStats =
    mergeWithRetry(batch, epoch, batchId, saltBuckets, recordInLedger, operation,
      deferred = true)

  private def mergeWithRetry(batch: DataFrame, epoch: String, batchId: Long,
                             saltBuckets: Int, recordInLedger: Boolean,
                             operation: String, deferred: Boolean): MergeStats = {
    // Optimistic concurrency: on a lost commit race the merge RECOMPUTES
    // against the new head rather than rebasing its output metadata. A
    // metadata-only rebase is UNSOUND for a merge: output rows are stamped
    // `_ver = parent + 1` at write time, so re-parenting the same files onto
    // a newer head would publish rows whose `_ver` sits below their commit
    // version and the change feed's `_ver > fromVersion` filter would
    // silently drop them for consumers resuming in between. Compaction (which
    // preserves stored `_ver`s) takes the cheap rebase path instead — so the
    // long-running maintenance job rarely forces the ingest loop to redo work.
    val name = if (deferred) "mergeDeferred" else "merge"
    var attempts = 0
    var out: MergeStats = null
    while (out == null) {
      val snap = head()
      if (recordInLedger && snap.ledger.contains(epoch, batchId)) {
        return MergeStats(epoch, batchId, snap.version, 0, 0, 0, 0, 0, noOp = true)
      }
      mergeOnce(snap, batch, epoch, batchId, saltBuckets, recordInLedger,
        operation, deferred) match {
        case Some(stats) => out = stats
        case None =>
          attempts += 1
          if (attempts >= 5) throw new IllegalStateException(
            s"$name($epoch, $batchId) lost $attempts commit races; giving up " +
              "(is another writer committing in a tight loop?)")
          System.err.println(s"[lake] $name($epoch, $batchId) lost a commit " +
            "race; recomputing against the new head")
      }
    }
    out
  }

  /** One attempt of [[merge]] (copy-on-write) or, with `deferred`, of
    * [[mergeDeferred]] against `snap`; `None` when another writer committed
    * first. The two modes share every step but four:
    *  - target read: copy-on-write unions the touched target files into the
    *    merge window, deferred reads no target at all;
    *  - output dir: `v…` vs `delta-v…` (both parsed by [[expireSnapshots]]);
    *  - the `delta` flag on the new file entries;
    *  - kept files: copy-on-write drops the touched files it rewrites,
    *    deferred touches none and keeps them all.
    */
  private def mergeOnce(snap: Snapshot, batch: DataFrame, epoch: String,
                        batchId: Long, saltBuckets: Int,
                        recordInLedger: Boolean, operation: String,
                        deferred: Boolean): Option[MergeStats] = {
    import scala.concurrent.Await
    import scala.concurrent.duration.Duration
    val aux = new AuxJobs(spark.sparkContext)
    val quarantineDir = s"$root/quarantine/constraints-v${snap.version + 1}-b$batchId-" +
      java.util.UUID.randomUUID().toString.take(8)
    var committed = false
    try {
      // ---- schema-change events: a separate TINY pass (`op = 'schema_change'`
      // pushes down to the scan, so it touches almost nothing; folding it into
      // the per-key agg as a collect_list used to allocate a buffer per key and
      // forced the agg off the codegen hash path). Submitted CONCURRENTLY with
      // the counter job below (guide §2.6 — actions are only sequential because
      // the driver calls them sequentially): the scheduler back-fills, so this
      // job's fixed cost leaves the critical path.
      val scFut = aux(timed("schema-scan")(batch
        .filter(col("op") === "schema_change")
        .select(col("lsn"), col("schema_change"))
        .collect().toSeq.sortBy(_.getLong(0))))

      // ---- lineage counters, from one of two places.
      // (a) ONE narrow pre-aggregation over data events (key/lsn/op columns
      // only — a few % of batch bytes) folds per partition into counter
      // totals plus, on a non-empty copy-on-write target, the touched-file
      // hits against a broadcast interval index (an O(log files + hits) probe
      // per distinct key, not a join); only those partials return to the
      // driver. It runs only where the write cannot supply the counters:
      // file pruning needs the job anyway, constraints keep quarantined rows
      // out of the written output, and salting pre-dedups before the write.
      // (b) Everywhere else — the initial load, every constraint-free
      // deferred batch — the merge window writes EXACTLY one row per distinct
      // batch key (tombstones in their own file group), so `distinctKeys` and
      // `deleteWinners` come from the footer stats the commit collects
      // anyway, and `eventsSeen` / max lsn from an Observation on the write
      // job itself: no per-key hash shuffle and no extra job (guide §2.4).
      val pruneIx =
        if (deferred || snap.files.isEmpty) None
        else Some(spark.sparkContext.broadcast(PruneIndex(snap.files)))
      val (preAgg, touched) =
        if (pruneIx.isEmpty && snap.constraints.isEmpty && saltBuckets == 0)
          (None, Set.empty[String])
        else timed("pre-agg+prune") {
          val keyAgg = batch
            .filter(col("op") =!= "schema_change")
            .select(col("repo"), col("path"), col("lsn"), col("event_id"), col("op"))
            .groupBy(col("repo"), col("path"))
            .agg(
              max_by(col("op"), struct(col("lsn"), col("event_id"))).as("__winOp"),
              count(lit(1)).as("__n"),
              max(col("lsn")).as("__maxLsn"))
          val partials = keyAgg.rdd.mapPartitions { it =>
            var keys = 0L; var n = 0L; var del = 0L; var mx = -1L
            val hits = scala.collection.mutable.HashSet.empty[String]
            it.foreach { r =>
              keys += 1
              n += r.getLong(3)
              if (!r.isNullAt(2) && r.getString(2) == "delete") del += 1
              // null-safe: an all-null-lsn group adds nothing to the max
              val m = if (r.isNullAt(4)) -1L else r.getLong(4)
              if (m > mx) mx = m
              if (!r.isNullAt(0) && !r.isNullAt(1))
                pruneIx.foreach(ix => hits ++= ix.value.lookup(r.getString(0), r.getString(1)))
            }
            Iterator.single((keys, n, del, mx, hits.toSeq))
          }.collect()
          (Some((partials.map(_._1).sum, partials.map(_._2).sum, partials.map(_._3).sum,
            partials.foldLeft(-1L)((a, p) => math.max(a, p._4)))),
            partials.iterator.flatMap(_._5).toSet)
        }
      val scRows = Await.result(scFut, Duration.Inf)

      val (evolved, scApplied, scQuarantined) = evolveSchema(snap, scRows)
      // ---- the change stream for this batch (all data events) ----
      val data = batch.filter(col("op") =!= "schema_change")

      // optional pre-dedup for extreme duplicate storms: saltBuckets selects
      //  0 (default) → none: the fused merge window dedups everything in the
      //                single range shuffle below;
      // -1           → hash-agg pre-dedup (map-side partial combine collapses
      //                hot-key duplicates before any shuffle);
      // -2           → adaptive salted window: probe the batch's hottest key
      //                and size the salt buckets from it (Salting.chooseSaltBuckets);
      // >=1          → (salted) window pre-dedup with a fixed bucket count.
      val changes =
        if (saltBuckets == 0) data
        else Salting.dedupSalted(data, keyCols, Seq(col("lsn"), col("event_id")),
          if (saltBuckets == -1) 0 else saltBuckets)

      // ---- project events to storage rows ([[storageProjection]]).
      // `_ver` = commit version that last modified the row: source rows carry
      // the committing version, target rows their stored one. Ties prefer the
      // target (__tie below), so a source row wins the merge window iff it
      // strictly changes the key's state — the winner's own _ver is therefore
      // exactly "version of last modification" with no extra comparison, and a
      // re-delivered duplicate keeps the old _ver (no spurious change-feed row).
      val src0 = changes.select(
        storageProjection(evolved) ++ Seq(
          col("lsn").as("_lsn"),
          (col("op") === "delete").as("_deleted"),
          lit(snap.version + 1).as("_ver"),
          col("event_id").as("__tie"),
          lit(-1L).as("__pref")): _*)
      val (src, constraintQuarantinedF) =
        enforceConstraints(evolved, src0, quarantineDir, aux)

      // copy-on-write target rows, via readStoredTagged: when touched files
      // include deferred-merge deltas, the per-row `__pref` (base −1, delta
      // _ver) breaks LSN ties among TARGET rows the same way the read-time
      // resolution does — base beats delta (duplicate re-delivery keeps the
      // original `_ver`), earlier delta commit beats later. Touched delta
      // files are rewritten like any other touched file, so a copy-on-write
      // merge also MATERIALIZES the deltas it touches.
      val window =
        if (deferred) src
        else readStoredTagged(evolved, snap.files.filter(f => touched.contains(f.path)))
          .withColumn("__tie", lit(Long.MaxValue)) // target wins LSN ties: re-applied dup is a no-op
          .unionByName(src)

      // ---- the fused MERGE: ONE shuffle. repartitionByRange(key) satisfies
      // the window's ClusteredDistribution, so batch-dedup + target-merge run
      // in a single exchange, and the output files come out range-clustered by
      // key (tight min/max → effective pruning on the next merge). Counter
      // mode (b) observes the rows ABOVE the exchange: below it, the
      // range-sampling job would run the observation too and count twice.
      import org.apache.spark.sql.expressions.Window
      lazy val observed = org.apache.spark.sql.Observation()
      val clustered = window.repartitionByRange(col("repo"), col("path"))
      val w = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(col("_lsn").desc, col("__tie").desc, col("__pref").asc)
      val merged = (if (preAgg.nonEmpty) clustered else clustered.observe(observed,
          count(lit(1)).as("n"), coalesce(max(col("_lsn")), lit(-1L)).as("maxLsn")))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn", "__tie", "__pref")

      // ---- write new data files: live rows and tombstones to SEPARATE files
      // (Iceberg delete-file analog) so live reads never open tombstone bytes.
      // The dir carries a per-attempt suffix: two writers racing on the same
      // (version, batchId) — or two epochs sharing a batchId — must never
      // overwrite each other's in-flight files; the loser's dir becomes an
      // unreferenced orphan that expireSnapshots' GC removes. ----
      val newDir = s"${log.dataDir}/${if (deferred) "delta-" else ""}" +
        s"v${snap.version + 1}-b$batchId-" + java.util.UUID.randomUUID().toString.take(8)
      timed("write")(dataWriter(toPhysicalCols(evolved.physicalName, merged)).parquet(newDir))
      val newFiles = timed("footer-stats")(
        LakeTable.footerStats(spark, newDir, statColumns = statColumns)
          .map(_.copy(delta = deferred)))

      val (distinctKeys, eventsSeen, deleteWinners, dataMaxLsn) = preAgg.getOrElse {
        // a write the optimizer proved empty reports no metrics at all
        val m = observed.get
        (newFiles.map(_.rows).sum, m.getOrElse("n", 0L).asInstanceOf[Long],
          newFiles.filter(_.tomb).map(_.rows).sum,
          m.getOrElse("maxLsn", -1L).asInstanceOf[Long])
      }
      val batchMaxLsn = math.max(dataMaxLsn,
        scRows.lastOption.map(_.getLong(0)).getOrElse(-1L))

      val next = evolved.copy(
        version = snap.version + 1,
        files = snap.files.filterNot(f => touched.contains(f.path)) ++ newFiles,
        ledger = if (recordInLedger) snap.ledger.add(epoch, batchId) else snap.ledger,
        parent = snap.version,
        maxLsn = math.max(snap.maxLsn, batchMaxLsn),
        operation = operation,
        manifestSummaries = Nil) // the commit writes its own
      // the concurrent quarantine job must have LANDED before the commit does
      // (a failed quarantine write fails the batch, never a silent row loss)
      val constraintQuarantined = Await.result(constraintQuarantinedF, Duration.Inf)
      committed = log.tryCommit(next)
      if (!committed) None // lost the race: the caller recomputes
      else Some(MergeStats(epoch, batchId, next.version,
        eventsSeen = eventsSeen + scRows.length,
        duplicatesDropped = eventsSeen - distinctKeys,
        upserts = distinctKeys - deleteWinners,
        deletes = deleteWinners,
        schemaChanges = scApplied,
        schemaQuarantined = scQuarantined,
        constraintQuarantined = constraintQuarantined,
        noOp = false))
    } finally if (!committed) {
      // a failed or lost attempt: none of its auxiliary jobs may outlive it,
      // and its quarantined rows belong to a batch that never committed (a
      // recompute quarantines them again)
      aux.cancel()
      val q = new org.apache.hadoop.fs.Path(quarantineDir)
      q.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(q, true)
    }
  }

  /** Event→storage-row projection under `snap`'s (evolved) schema: extras
    * gated by column add-LSN; the PARSE type of a widened column is gated by
    * the widen LSN (a pre-widen row parses through the ORIGINAL type then
    * widens — exactly how its stored physical value would read back — so the
    * final table is invariant to how the log is split into batches).
    */
  private def storageProjection(snap: Snapshot): Seq[org.apache.spark.sql.Column] =
    snap.schema.fields.toSeq.map { f =>
      if (keyCols.contains(f.name)) col(f.name)
      else snap.addedAtLsn.get(f.name) match {
        case Some(atLsn) =>
          // era-gated extras key: a row produced BEFORE a rename carried the
          // THEN-current name in its JSON extra — parse the name active at
          // the row's lsn (ascending history; foldRight tests earliest
          // rename first) so replay is invariant to batch splits
          val raw = snap.renamedAt.getOrElse(f.name, Nil)
            .foldRight(get_json_object(col("extra"), s"$$.${f.name}")) {
              case ((rLsn, prior), later) =>
                when(col("lsn") <= lit(rLsn),
                  get_json_object(col("extra"), s"$$.$prior")).otherwise(later)
            }
          val typed = snap.widenedAt.get(f.name) match {
            case Some((wLsn, fromName)) =>
              when(col("lsn") > lit(wLsn), raw.cast(f.dataType))
                .otherwise(raw.cast(parseTypeName(fromName)).cast(f.dataType))
            case None => raw.cast(f.dataType)
          }
          when(col("lsn") > lit(atLsn) && col("op") =!= "delete", typed).as(f.name)
        case None =>
          when(col("op") === "delete", lit(null).cast(f.dataType))
            .otherwise(col(f.name).cast(f.dataType)).as(f.name)
      }
    }

  /** Apply `scRows` (lsn-sorted schema_change events) to `snap`'s schema:
    * the evolved snapshot plus the counts of applied and quarantined changes.
    * `addColumn` introduces a nullable column; `widenColumn` changes an
    * existing column's type within the SAFE-WIDENING whitelist (int→long,
    * float→double; a new column is already the null→anything case) —
    * metadata-only, since Spark's Parquet reader natively reads the old
    * physical type into the widened logical one. `dropColumn` removes a
    * LOG-ADDED column metadata-only (the schema projection stops reading the
    * physical bytes; files rewritten later physically shed it) and leaves a
    * drop TOMBSTONE: re-adding the same name would silently resurrect stale
    * stored values in not-yet-rewritten files, so a re-add quarantines —
    * the honest contract for a NAME-mapped format (Delta refuses drops
    * entirely without column-mapping mode; Iceberg needs field IDs).
    * Narrowing / unknown types / unknown columns / base-schema drops /
    * constraint-referenced drops / unrecognized change shapes are
    * QUARANTINED: counted into lineage and logged, never failing the stream
    * (SURVEY §7.7(3)).
    */
  private def evolveSchema(
      snap: Snapshot, scRows: Seq[org.apache.spark.sql.Row]): (Snapshot, Long, Long) = {
    var schema = snap.schema
    var addedAt = snap.addedAtLsn
    var widened = snap.widenedAt
    var dropped = snap.droppedAtLsn
    var physical = snap.physicalName
    var renames = snap.renamedAt
    def physOf(n: String): String = physical.getOrElse(n, n)
    var scApplied = 0L
    var scQuarantined = 0L
    def quarantine(lsn: Long, why: String): Unit = {
      scQuarantined += 1
      System.err.println(s"[lake] QUARANTINED schema change at lsn $lsn: $why")
    }
    for (r <- scRows; if !r.isNullAt(1)) {
      // EVERY failure mode of a schema-change payload quarantines — malformed
      // JSON, missing fields, unknown type names — never poisons the stream
      // (an uncaught throw here would fail the micro-batch, and the same
      // batch redelivers forever on restart)
      try {
        implicit val fmt: Formats = DefaultFormats
        val sc = JsonMethods.parse(r.getString(1))
        val add = sc \ "addColumn"
        val widen = sc \ "widenColumn"
        val drop = sc \ "dropColumn"
        val rename = sc \ "renameColumn"
        if (add != JNothing) {
          val name = (add \ "name").extract[String]
          if (dropped.contains(name))
            quarantine(r.getLong(0), s"addColumn $name: the name was dropped at " +
              s"lsn ${dropped(name)} and live files may still hold its old " +
              "physical values — re-adding would resurrect them (rename the " +
              "new column, or rebuild the table)")
          else if (physical.values.exists(_ == name))
            quarantine(r.getLong(0), s"addColumn $name: a renamed column still " +
              "stores its values under this physical name — adding it would " +
              "make two columns share one storage column")
          else if (!schema.fieldNames.contains(name)) {
            val dt = parseTypeName((add \ "type").extract[String])
            schema = StructType(schema.fields.toSeq :+ StructField(name, dt, nullable = true))
            addedAt += (name -> r.getLong(0))
            scApplied += 1
          }
        } else if (drop != JNothing) {
          val name = (drop \ "name").extract[String]
          val referencing = constraintsReferencing(snap, name)
          if (!schema.fieldNames.contains(name))
            quarantine(r.getLong(0), s"dropColumn $name: no such column")
          else if (!addedAt.contains(name))
            quarantine(r.getLong(0), s"dropColumn $name: base-schema column " +
              "(drops apply to log-added columns only — base columns feed " +
              "the fixed-type event frame)")
          else if (referencing.nonEmpty)
            quarantine(r.getLong(0), s"dropColumn $name: referenced by CHECK " +
              s"constraint(s) ${referencing.mkString(", ")} — drop the " +
              "constraint first")
          else {
            schema = StructType(schema.fields.filterNot(_.name == name))
            addedAt -= name
            widened -= name
            // tombstone the PHYSICAL name: that is what the live files hold
            // (re-adding the final LOGICAL name of a renamed column is safe —
            // no file ever stored bytes under it)
            dropped += (physOf(name) -> r.getLong(0))
            physical -= name
            renames -= name
            scApplied += 1
          }
        } else if (rename != JNothing) {
          // value-preserving rename (Iceberg-parity): METADATA-ONLY — files
          // keep the column's ORIGINAL physical name forever; reads alias
          // physical→logical; replayed extras parse the name that was
          // current at each row's lsn (the rename history below), so the
          // end state is batch-split invariant
          val name = (rename \ "name").extract[String]
          val to = (rename \ "to").extract[String]
          val referencing = constraintsReferencing(snap, name)
          if (!schema.fieldNames.contains(name))
            quarantine(r.getLong(0), s"renameColumn $name: no such column")
          else if (!addedAt.contains(name))
            quarantine(r.getLong(0), s"renameColumn $name: base-schema column " +
              "(renames apply to log-added columns only)")
          else if (referencing.nonEmpty)
            quarantine(r.getLong(0), s"renameColumn $name: referenced by CHECK " +
              s"constraint(s) ${referencing.mkString(", ")} — drop the " +
              "constraint first")
          else if (schema.fieldNames.contains(to) ||
                   baseSchema.fieldNames.contains(to))
            quarantine(r.getLong(0), s"renameColumn $name → $to: target name " +
              "already in use")
          else if (dropped.contains(to) || physical.values.exists(_ == to))
            quarantine(r.getLong(0), s"renameColumn $name → $to: target name " +
              "collides with a stored physical column (dropped tombstone or " +
              "another column's storage name)")
          else {
            schema = StructType(schema.fields.map(f =>
              if (f.name == name) f.copy(name = to) else f))
            addedAt += (to -> addedAt(name)); addedAt -= name
            widened.get(name).foreach { w => widened += (to -> w); widened -= name }
            physical += (to -> physOf(name)); physical -= name
            renames += (to -> (renames.getOrElse(name, Nil) :+ ((r.getLong(0), name))))
            renames -= name
            scApplied += 1
          }
        } else if (widen != JNothing) {
          val name = (widen \ "name").extract[String]
          val target = parseTypeName((widen \ "type").extract[String])
          schema.fields.find(_.name == name) match {
            case Some(f) if f.dataType == target => () // idempotent re-apply
            // widening is defined ONLY for log-added columns: their values
            // arrive through JSON extras, so the lsn-gated parse-type chain
            // (and the ReplayOracle that mirrors it) can honor the pre-widen
            // type. A base-schema column's values come from the fixed-type
            // event frame — no parse gate exists for them — so a base widen
            // quarantines rather than silently diverging from replay.
            case Some(f) if widensTo(f.dataType, target) && addedAt.contains(name) =>
              widened += (name -> (r.getLong(0), f.dataType.typeName))
              schema = StructType(schema.fields.toSeq.map(x =>
                if (x.name == name) x.copy(dataType = target) else x))
              scApplied += 1
            case Some(f) if widensTo(f.dataType, target) =>
              quarantine(r.getLong(0), s"widenColumn $name: base-schema column " +
                "(widening applies to log-added columns only)")
            case Some(f) =>
              quarantine(r.getLong(0), s"widenColumn $name " +
                s"${f.dataType.simpleString}→${target.simpleString} is not a safe widening")
            case None =>
              quarantine(r.getLong(0), s"widenColumn $name: no such column")
          }
        } else {
          quarantine(r.getLong(0),
            s"unrecognized schema_change payload: ${r.getString(1).take(120)}")
        }
      } catch {
        case e @ (_: IllegalArgumentException | _: MappingException) =>
          quarantine(r.getLong(0), s"${e.getMessage} (payload: ${r.getString(1).take(120)})")
        case e: com.fasterxml.jackson.core.JacksonException =>
          quarantine(r.getLong(0), s"malformed JSON: ${r.getString(1).take(120)}")
      }
    }
    (snap.copy(schema = schema, addedAtLsn = addedAt, widenedAt = widened,
      droppedAtLsn = dropped, physicalName = physical, renamedAt = renames),
      scApplied, scQuarantined)
  }

  /** Names of CHECK constraints whose expression references `name` — a drop
    * of such a column would make every later write fail analysis, so the
    * drop quarantines instead. Parse-only (no resolution): unresolved
    * attribute names are exactly what the stored SQL strings contain.
    */
  private def constraintsReferencing(snap: Snapshot, name: String): Seq[String] =
    snap.constraints.toSeq.collect {
      case (cname, sql) if scala.util.Try(
        spark.sessionState.sqlParser.parseExpression(sql).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.last
        }.contains(name)).getOrElse(true) => cname // unparseable → fail safe
    }.sorted

  /** Plain-row write surface backing `df.write.format("graft")`, SQL
    * `INSERT INTO`, and the `writeStream.format("graft")` sink: rows of the
    * USER schema become insert events at the table's next LSN and run
    * through the SAME merge path — per-key dedup, file pruning,
    * range-clustered write, snapshot commit — so a plain write is an upsert
    * by `(repo, path)` with full idempotence per `(epoch, batchId)`.
    *
    * Columns added by schema evolution are packed back through the JSON
    * `extra` channel so the merge's lsn-gated parse chain stays the single
    * source of evolved-column semantics. Duplicate keys WITHIN `rows`
    * collapse to one winner (by generated event order — upsert promises one
    * survivor per key, not which).
    */
  def append(rows: DataFrame, epoch: String, batchId: Long,
             recordInLedger: Boolean = true): MergeStats =
    applyChanges(rows.withColumn("__op", lit("insert")), epoch, batchId,
      recordInLedger, operation = "append")

  /** The general plain-row change surface: `rows` carries the user columns
    * (keys required, others optional → null) plus `__op` ∈ {insert, delete},
    * and every row becomes one change event at the table's next LSN through
    * the full merge path. Backs [[append]], [[delete]], and SQL MERGE INTO.
    */
  def applyChanges(rows: DataFrame, epoch: String, batchId: Long,
                   recordInLedger: Boolean = true,
                   operation: String = "write"): MergeStats = {
    val snap = head()
    val present = rows.columns.toSet - "__op"
    val unknown = present -- snap.schema.fieldNames
    require(rows.columns.contains("__op"), "applyChanges requires an __op column")
    require(keyCols.forall(present.contains),
      s"plain-row writes require key columns ${keyCols.mkString(", ")}; got ${rows.columns.mkString(", ")}")
    require(unknown.isEmpty,
      s"write with columns absent from the table schema: ${unknown.mkString(", ")} " +
        "(evolve the schema with a schema_change event first)")
    val lsn = math.max(snap.maxLsn, 0L) + 1
    val (evolved, base) = snap.schema.fields.toSeq.partition(f => snap.addedAtLsn.contains(f.name))
    val baseCols = base.map { f =>
      if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    val presentEvolved = evolved.filter(f => present.contains(f.name))
    val extraCol =
      if (presentEvolved.isEmpty) lit(null).cast(StringType)
      else to_json(struct(presentEvolved.map(f => col(f.name)): _*))
    val ev = rows.select(baseCols ++ Seq(
      lit(lsn).as("lsn"),
      monotonically_increasing_id().as("event_id"),
      col("__op").as("op"),
      lit(null).cast(StringType).as("schema_change"),
      extraCol.as("extra")): _*)
    merge(ev, epoch, batchId, recordInLedger = recordInLedger,
      operation = operation)
  }

  /** Delete every key in `keys` (columns `repo`, `path`): tombstone events
    * at the table's next LSN through the same merge path — late duplicates
    * of older updates still lose to these tombstones, and the change feed
    * sees ordinary delete rows.
    */
  def delete(keys: DataFrame, epoch: String, batchId: Long,
             recordInLedger: Boolean = true): MergeStats =
    applyChanges(keys.select(col("repo"), col("path"))
      .withColumn("__op", lit("delete")), epoch, batchId, recordInLedger,
      operation = "delete")

  /** `SaveMode.Overwrite` / `INSERT OVERWRITE`: replace the table's contents
    * with `rows` in one commit (Iceberg REPLACE semantics). The previous
    * contents do NOT surface as deletes in the change feed — consumers see
    * the overwrite version's files as a full rewrite; resume across it like
    * any compaction-style rewrite.
    */
  def overwrite(rows: DataFrame, epoch: String, batchId: Long,
                recordInLedger: Boolean = true): MergeStats = {
    // truncate: commit an empty file set (history stays time-travelable),
    // then run the normal append path against the emptied table; the
    // truncate itself retries on a lost commit race
    var attempts = 0
    var truncated = false
    while (!truncated) {
      val snap = head()
      if (recordInLedger && snap.ledger.contains(epoch, batchId))
        return MergeStats(epoch, batchId, snap.version, 0, 0, 0, 0, 0, noOp = true)
      truncated = log.tryCommit(snap.copy(version = snap.version + 1,
        files = Seq.empty, parent = snap.version, operation = "truncate"))
      if (!truncated) {
        attempts += 1
        if (attempts >= 5) throw new IllegalStateException(
          s"overwrite($epoch, $batchId) lost $attempts truncate races; giving up")
      }
    }
    applyChanges(rows.withColumn("__op", lit("insert")), epoch, batchId,
      recordInLedger, operation = "overwrite")
  }

  /** Bin-pack fragmented data files and expire old tombstones.
    *
    * INCREMENTAL by default: copy-on-write merges leave one small file set
    * per touched range per batch, and only files below `targetRowsPerFile`
    * rows (plus, when a `tombstoneWatermark` is given, every tombstone file)
    * are rewritten; files already at the target size carry into the next
    * snapshot BY REFERENCE — maintenance I/O is O(fragmented files), not
    * O(table), which is what keeps a periodic in-loop compaction affordable
    * at the 10^10-event design point. `full = true` forces a whole-table
    * rewrite (global re-clustering).
    *
    * Tombstones with `_lsn <= tombstoneWatermark` are dropped — safe once
    * the event source guarantees no event with a smaller LSN can still
    * arrive (e.g. checkpoint high-water mark minus max lateness); newer
    * tombstones are retained for late-duplicate protection.
    *
    * `zorderBy` re-clusters the rewritten rows on the Morton z-value of the
    * named columns (typically with `full = true` for a whole-table
    * re-layout): per-file manifest bounds tighten on EVERY clustered
    * dimension, so `readWhere` / `format("graft")` predicates on any of
    * them prune files — see [[ZOrder]]. Row content is untouched; only the
    * row→file assignment changes.
    *
    * Concurrency: compaction rewrites row state WITHOUT changing it
    * (`_lsn`/`_ver` pass through as stored), so its output files are valid
    * under ANY base snapshot that still holds every file it read. On a lost
    * commit race it therefore REBASES cheaply — re-read head, verify the
    * rewritten files are all still live there, re-commit carrying the new
    * head's other files — and only a concurrent writer that replaced one of
    * those files forces a recompute. (The merge takes the opposite choice:
    * its rows are stamped with the target commit version, so it always
    * recomputes — see [[merge]].) Bounded retries, loud failure.
    */
  def compact(targetRowsPerFile: Long = 1000000L,
              tombstoneWatermark: Option[Long] = None,
              full: Boolean = false,
              zorderBy: Seq[String] = Nil): Snapshot = {
    var attempts = 0
    var result: Snapshot = null
    while (result == null) {
      val snap = head()
      // fragmented (undersized) files bin-pack together; JUMBO files (> 4×
      // target — e.g. one giant initial load) split so a later point read
      // is not hostage to a single huge range; tombstone files join the
      // rewrite when a watermark may expire rows in them; deferred-merge
      // DELTA files are always rewritten (compaction is what materializes
      // merge-on-read state back into plain base files)
      val seed =
        if (full) snap.files
        else snap.files.filter(f =>
          f.delta || f.rows < targetRowsPerFile || f.rows > 4 * targetRowsPerFile ||
            (f.tomb && tombstoneWatermark.isDefined))
      // materializing a delta row into a base file is only sound if every
      // other stored copy of its key — the base row it shadows, duplicates in
      // other deltas — is rewritten in the SAME pass (otherwise the pass
      // would leave two base rows for one key, or resolve against a partial
      // copy set). Closure over manifest bounding boxes: add every file
      // overlapping a rewritten delta, transitively through newly-added
      // deltas. Manifest-level work on the driver — no data I/O.
      val rewrite = deltaClosure(seed, snap.files)
      val rewritePaths = rewrite.map(_.path).toSet
      val carry = snap.files.filterNot(f => rewritePaths.contains(f.path))
      val onlyOneSmall = rewrite.size == 1 &&
        rewrite.head.rows < targetRowsPerFile && !rewrite.head.delta
      if (rewrite.isEmpty || (onlyOneSmall && tombstoneWatermark.isEmpty && !full))
        return snap // nothing to bin-pack
      // resolveStored: a plain re-pack (no deltas) passes rows through
      // unchanged; with deltas in the set the per-key window materializes
      // the resolved state (preserving stored _lsn/_ver, so the rebase rule
      // below still holds)
      val all = resolveStored(snap, rewrite)
      val kept = tombstoneWatermark match {
        case Some(wm) => all.filter(!col("_deleted") || col("_lsn") > wm)
        case None => all
      }
      val rewriteRows = rewrite.map(_.rows).sum
      val nParts =
        math.max(1, math.min(10000, rewriteRows / math.max(1L, targetRowsPerFile))).toInt
      val newDir = s"${log.dataDir}/compact-v${snap.version + 1}-" +
        java.util.UUID.randomUUID().toString.take(8)
      // zorderBy: cluster the rewrite on the Morton z-value of the named
      // columns instead of lexicographic (repo, path) — every clustered
      // column's per-file bounds tighten at once, so single-column
      // predicates on ANY of them prune ([[ZOrder]]). The secondary
      // within-z sort keeps key point reads tight inside each z-range.
      // Degenerate sample (no boundaries) falls back to key clustering.
      val clustered = zorderBy match {
        case Nil => None
        case zs => ZOrder.zColumn(kept, zs, rewriteRows).map(z =>
          kept.withColumn("__z", z)
            .repartitionByRange(nParts, col("__z"))
            .sortWithinPartitions(col("__z"), col("repo"), col("path"))
            .drop("__z"))
      }
      dataWriter(toPhysicalCols(snap.physicalName, clustered.getOrElse(
        kept.repartitionByRange(nParts, col("repo"), col("path"))
          .sortWithinPartitions("repo", "path"))))
        .parquet(newDir)
      // stat the z-order columns too: their tightened per-file bounds are
      // the whole point (string columns; int64-family leaves are already
      // auto-statted)
      val packed = LakeTable.footerStats(spark, newDir,
        statColumns = (statColumns ++ zorderBy).distinct)
      val removed = rewrite.map(_.path).toSet
      assert(carry.forall(f => !removed.contains(f.path)))

      var base = snap
      var recompute = false
      while (result == null && !recompute) {
        val next = base.copy(
          version = base.version + 1,
          files = base.files.filterNot(f => removed.contains(f.path)) ++ packed,
          parent = base.version, operation = "compact")
        if (log.tryCommit(next)) result = next
        else {
          attempts += 1
          if (attempts >= 8) throw new IllegalStateException(
            s"compact lost $attempts commit races; giving up")
          val h = head()
          if (removed.forall(h.files.map(_.path).toSet.contains)) {
            System.err.println(s"[lake] compact lost a commit race; rebasing onto v${h.version}")
            base = h
          } else {
            System.err.println("[lake] compact lost a commit race and a rewritten " +
              "file was replaced concurrently; recomputing")
            recompute = true
          }
        }
      }
    }
    result
  }

  /** Rectangle-overlap test on two manifest entries' (repo, path) bounding
    * boxes. Every row of a file lies inside its box, so two files sharing a
    * key MUST have overlapping boxes — box overlap is a sound (conservative)
    * superset of key overlap. Unknown bounds count as overlapping (fail
    * closed here: the file is INCLUDED in the rewrite).
    */
  private def boxesOverlap(a: DataFileEntry, b: DataFileEntry): Boolean = {
    def dimOverlaps(aMin: Option[String], aMax: Option[String],
                    bMin: Option[String], bMax: Option[String]): Boolean = {
      val disjoint =
        (for (x <- aMax; y <- bMin) yield utf8Compare(x, y) < 0).getOrElse(false) ||
          (for (x <- bMax; y <- aMin) yield utf8Compare(x, y) < 0).getOrElse(false)
      !disjoint
    }
    dimOverlaps(a.minRepo, a.maxRepo, b.minRepo, b.maxRepo) &&
      dimOverlaps(a.minPath, a.maxPath, b.minPath, b.maxPath)
  }

  /** Close `seed` under "overlaps a delta file in the set": every file whose
    * key box overlaps a to-be-rewritten delta joins the rewrite, transitively
    * through newly-added deltas (a base file never extends the frontier —
    * base rows cannot shadow anything). Returns the closed set in
    * `all`-order.
    */
  private def deltaClosure(
      seed: Seq[DataFileEntry], all: Seq[DataFileEntry]): Seq[DataFileEntry] = {
    var in = seed.map(_.path).toSet
    var frontier = seed.filter(_.delta)
    while (frontier.nonEmpty) {
      val added = all.filter(f =>
        !in.contains(f.path) && frontier.exists(d => boxesOverlap(d, f)))
      in ++= added.map(_.path)
      frontier = added.filter(_.delta)
    }
    all.filter(f => in.contains(f.path))
  }

  /** Expire snapshots older than the last `keepLast`, deleting their metadata
    * and any data files no surviving snapshot references (GC).
    *
    * Concurrency-safe against in-flight writers: every commit dir is named
    * for the version it TARGETS (`v{N}-…` / `compact-v{N}-…`), and the GC
    * only deletes unreferenced files from dirs whose target version is
    * already below the retention floor. A writer currently streaming its
    * output into `v{head+1}-…` can never be collected mid-write (its target
    * is above the floor by construction); a crashed/lost-race attempt's
    * orphan dir ages below the floor and is collected on a later cycle.
    * Unparseable dir names are skipped (fail safe — never delete what we
    * cannot attribute).
    */
  def expireSnapshots(keepLast: Int = 2): Unit = {
    require(keepLast >= 1)
    val latest = log.latestVersion().getOrElse(return)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keepFloor = math.max(0L, latest - keepLast + 1)
    val keepVersions = (keepFloor to latest)
    val live: Set[String] = keepVersions.flatMap(v => log.read(v).files.map(_.path)).toSet
    // drop old metadata, then manifests no surviving snapshot references
    (0L until keepFloor).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(root, s"meta/v$v.json"), false)
    }
    log.gcManifests(keepVersions)
    // GC unreferenced data files (recursive: `partitionBy("_deleted")` nests
    // files one level below each commit dir)
    val dirVer = "^(?:compact-|delta-)?v(\\d+)".r
    def targetVersion(p: org.apache.hadoop.fs.Path): Option[Long] = {
      // walk up to the child of dataDir (the commit dir) and parse its name
      var cur = p
      while (cur.getParent != null && cur.getParent.getName != "data") cur = cur.getParent
      dirVer.findFirstMatchIn(cur.getName).map(_.group(1).toLong)
    }
    val dataPath = new org.apache.hadoop.fs.Path(log.dataDir)
    if (fs.exists(dataPath)) {
      val it = fs.listFiles(dataPath, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet") &&
            !live.contains(fs.makeQualified(f.getPath).toString) &&
            targetVersion(f.getPath).exists(_ < keepFloor))
          fs.delete(f.getPath, false)
      }
    }
  }
}

object LakeTable {

  /** Driver-side pool for overlapping small independent Spark actions with a
    * bigger one in the same merge (guide §2.6). A merge attempt submits at
    * most two ([[AuxJobs]]: schema scan, constraint quarantine), so four
    * threads serve two concurrent writers; further writers queue rather
    * than grow the pool. Daemon threads so an idle pool never blocks JVM
    * exit.
    */
  private[lake] lazy val auxJobEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(4, r => {
        val t = new Thread(r, "lake-aux-job"); t.setDaemon(true); t
      }))

  /** The auxiliary Spark actions of ONE merge attempt, run on [[auxJobEc]]
    * under a job tag of their own, so an attempt that fails or loses its
    * commit race can cancel their jobs and wait until none is left running.
    */
  private[lake] final class AuxJobs(sc: org.apache.spark.SparkContext) {
    private val tag = s"graft-merge-aux-${java.util.UUID.randomUUID()}"
    private var started = List.empty[scala.concurrent.Future[_]]

    def apply[T](f: => T): scala.concurrent.Future[T] = {
      val fut = scala.concurrent.Future {
        sc.addJobTag(tag)
        try f finally sc.removeJobTag(tag)
      }(auxJobEc)
      started ::= fut
      fut
    }

    /** Cancel the running jobs, then wait for every action to finish. */
    def cancel(): Unit = {
      sc.cancelJobsWithTag(tag)
      started.foreach(scala.concurrent.Await.ready(_, scala.concurrent.duration.Duration.Inf))
    }
  }

  /** UTF-8 unsigned lexicographic comparison — the order Parquet uses for
    * binary stats AND the order Spark's UTF8String sorts by. Java String
    * compareTo (UTF-16 code units) disagrees for supplementary-plane chars,
    * which is why all pruning comparisons run through here.
    */
  private[lake] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  private def isAscii(bytes: Array[Byte]): Boolean = bytes.forall(b => b >= 0)

  /** Min/max of one string column across a footer's blocks, as unsigned-byte
    * bounds. Returns None (unbounded) when stats are missing or non-ASCII:
    * for ASCII, UTF-8 byte order and JVM string order coincide, so the
    * downstream comparisons are exact; a non-ASCII (or truncation-incremented,
    * possibly invalid-UTF-8) stat is treated as no-bound rather than risking
    * an inverted range that silently skips a file holding the key.
    */
  private def columnBounds(
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      column: String): (Option[String], Option[String]) = {
    import scala.jdk.CollectionConverters._
    var minB: Array[Byte] = null
    var maxB: Array[Byte] = null
    var unbounded = false
    for (b <- blocks; c <- b.getColumns.asScala if c.getPath.toDotString == column) {
      val st = c.getStatistics
      if (st == null || !st.hasNonNullValue) unbounded = true
      else {
        val mn = st.getMinBytes; val mx = st.getMaxBytes
        if (minB == null || unsignedLt(mn, minB)) minB = mn
        if (maxB == null || unsignedLt(maxB, mx)) maxB = mx
      }
    }
    if (unbounded || minB == null) (None, None)
    else (
      if (isAscii(minB)) Some(new String(minB, "UTF-8")) else None,
      if (isAscii(maxB)) Some(new String(maxB, "UTF-8")) else None)
  }

  /** Is this physical column's stat order the int64 order Catalyst literals
    * compare in? INT64/INT32 with no annotation or a SIGNED int annotation
    * (covers long, int, and int-widened-to-long files — INT32 stats widen
    * losslessly), and TIMESTAMP only in MICROS (Catalyst timestamp literals
    * are micros; a TIMESTAMP_MILLIS stat would compare a different unit and
    * prune WRONGLY — skip it, fail open). INT96 timestamps, unsigned ints,
    * decimals, dates: no int64-comparable stats.
    */
  private def int64Comparable(t: org.apache.parquet.schema.PrimitiveType): Boolean = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val p = t.getPrimitiveTypeName
    (p == INT64 || p == INT32) && (t.getLogicalTypeAnnotation match {
      case null => true
      case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
      case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
      case _ => false
    })
  }

  /** Min/max of an int64-comparable column (INT64 or INT32 physical) across
    * a footer's blocks. Any block with missing stats or no non-null value →
    * (None, None), mirroring [[columnBounds]]' fail-open contract. Min/max
    * cover only NON-null values, which is sound for pruning because every
    * bound shape [[KeyPredicates]] extracts is null-rejecting (`null > 5` is
    * null → row filtered anyway), so a file whose non-null range misses the
    * bound cannot contribute a matching row through its nulls either.
    */
  private def longColumnBounds(
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      column: String): (Option[Long], Option[Long]) = {
    import scala.jdk.CollectionConverters._
    var mn = Long.MaxValue
    var mx = Long.MinValue
    var seen = false
    var unbounded = false
    for (b <- blocks; c <- b.getColumns.asScala if c.getPath.toDotString == column) {
      val st = c.getStatistics
      if (st == null || !st.hasNonNullValue) unbounded = true
      else (st.genericGetMin, st.genericGetMax) match {
        case (lo: java.lang.Number, hi: java.lang.Number) =>
          mn = math.min(mn, lo.longValue)
          mx = math.max(mx, hi.longValue)
          seen = true
        case _ => unbounded = true // non-numeric stats object: fail open
      }
    }
    if (unbounded || !seen) (None, None) else (Some(mn), Some(mx))
  }

  private def unsignedLt(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    a.length < b.length
  }

  private def statsOfFile(
      conf: org.apache.hadoop.conf.Configuration, path: String,
      tomb: Boolean, bytes: Long, statColumns: Seq[String]): Option[DataFileEntry] = {
    import scala.jdk.CollectionConverters._
    val p = new org.apache.hadoop.fs.Path(path)
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      if (rows == 0) None
      else {
        val (minR, maxR) = columnBounds(blocks, "repo")
        val (minP, maxP) = columnBounds(blocks, "path")
        // secondary stat columns: STRING (binary) columns only, bounded in
        // size — a min may truncate (a prefix is still a valid lower bound),
        // an over-long max becomes no-bound (a truncated prefix would sort
        // BELOW the real max and wrongly exclude files). Columns absent from
        // the file or non-binary record no stats (fail open downstream).
        import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
        val physByCol = reader.getFooter.getFileMetaData.getSchema.getColumns.asScala
          .map(c => c.getPath.mkString(".") -> c.getPrimitiveType)
          .toMap
        val secondary = statColumns
          .filter(c => physByCol.get(c).exists(_.getPrimitiveTypeName == BINARY))
          .flatMap { c =>
            columnBounds(blocks, c) match {
              case (None, None) => None
              case (mn, mx) => Some(c -> ((
                mn.map(_.take(statValueCap)),
                mx.filter(_.length <= statValueCap))))
            }
          }.toMap
        // int64-family columns (long / int / timestamp-micros) are statted
        // AUTOMATICALLY, not just when configured: the bounds are a fixed
        // 16 bytes per column per file, so every numeric leaf a user might
        // predicate on prunes with zero configuration — including columns
        // that only entered the schema via log-driven evolution, which no
        // writer-side statColumns list could anticipate. Top-level leafs
        // only (KeyPredicates can't bound nested paths), engine columns
        // excluded (`_ver` has its own manifest slot; `_lsn` bounds serve
        // no read predicate), capped deterministically (configured columns
        // first, then alphabetical) to keep manifests bounded on very wide
        // tables.
        val longEligible = physByCol.iterator.collect {
          case (name, t) if int64Comparable(t) && !name.contains(".") &&
            !name.startsWith("_") => name
        }.toSeq
        val longCols = (statColumns.filter(longEligible.contains) ++
          longEligible.sorted).distinct.take(maxLongStatColumns)
        val secondaryLong = longCols.flatMap { c =>
          longColumnBounds(blocks, c) match {
            case (None, None) => None
            case b => Some(c -> b)
          }
        }.toMap
        // bloom ADVERTISEMENT: columns with a parquet bloom filter in at
        // least one row group, recorded in the manifest so readers probe
        // only files that actually carry one (no wasted footer reads on
        // tables written without blooms). Absence in any one row group is
        // handled at probe time (that group fails open).
        val bloomed = physByCol.keysIterator.filter(!_.contains(".")).toSeq.sorted
          .filter(c => blocks.exists(_.getColumns.asScala.exists(cc =>
            cc.getPath.toDotString == c && cc.getBloomFilterOffset >= 0)))
        Some(DataFileEntry(path, rows, minR, maxR, minP, maxP,
          longColumnMax(blocks, "_ver"), tomb = tomb, bytes = bytes,
          stats = secondary, longStats = secondaryLong, bloomCols = bloomed))
      }
    } finally reader.close()
  }

  /** Secondary stat values longer than this are not stored exactly (see
    * [[statsOfFile]]); keeps manifests small even if someone stats a
    * long-string column.
    */
  private val statValueCap = 256

  /** Bound on auto-statted int64 columns per file (see [[statsOfFile]]):
    * 24 × 16 bytes keeps the manifest entry small even for wide tables
    * while covering every numeric column a real predicate would touch.
    */
  private val maxLongStatColumns = 24

  /** Max of an int64 column across a footer's blocks; None when any block
    * lacks the stat, lacks the column (pre-`_ver` files), or holds ANY null
    * in it — parquet min/max stats cover only non-null values, so a block
    * mixing null-`_ver` (pre-upgrade) rows with stamped rows has a definite
    * max that does NOT speak for the null rows; pruning on it would drop
    * them before the row-level `_ver IS NULL` fail-open ever ran. Fail open.
    */
  private def longColumnMax(
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      column: String): Option[Long] = {
    import scala.jdk.CollectionConverters._
    var mx = Long.MinValue
    var known = true
    val it = blocks.iterator
    while (known && it.hasNext) {
      it.next().getColumns.asScala.find(_.getPath.toDotString == column)
        .map(_.getStatistics) match {
        case Some(l: org.apache.parquet.column.statistics.LongStatistics)
          if l.hasNonNullValue && l.isNumNullsSet && l.getNumNulls == 0 =>
          mx = math.max(mx, l.genericGetMax.longValue)
        case _ => known = false
      }
    }
    if (known && mx != Long.MinValue) Some(mx) else None
  }

  /** Per-file (rows, repo/path bounding box) from Parquet FOOTERS only — no
    * data scan. Small commits read footers on the driver (no job overhead);
    * beyond `distributeThreshold` files the footer reads fan out to executors
    * and only the tiny stat tuples come back — a 10^4-file commit stops being
    * a serial driver loop.
    */
  def footerStats(spark: org.apache.spark.sql.SparkSession, dir: String,
                  distributeThreshold: Int = 128,
                  statColumns: Seq[String] = defaultStatColumns): Seq[DataFileEntry] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(conf)
    // recursive: partitionBy("_deleted") nests files one level down; the dir
    // name tells live from tombstone files with no footer read needed
    val files = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, Long)]
      val it = fs.listFiles(d, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) {
          val q = fs.makeQualified(st.getPath).toString
          buf += ((q, q.contains("/_deleted=true/"), st.getLen))
        }
      }
      buf.sortBy(_._1).toSeq
    }
    if (files.size <= distributeThreshold)
      files.flatMap { case (p, t, len) => statsOfFile(conf, p, t, len, statColumns) }
    else {
      val serConf = new org.apache.spark.SerializableWritable(conf)
      val slices = math.min(files.size, spark.sparkContext.defaultParallelism * 2)
      spark.sparkContext.parallelize(files, slices)
        .flatMap { case (p, t, len) => statsOfFile(serConf.value, p, t, len, statColumns) }
        .collect().toSeq.sortBy(_.path)
    }
  }

  /** Default secondary stat columns (north-rule schema): small-cardinality
    * string columns a user predicates on. `content` is deliberately NOT
    * statted — document-sized min/max strings would bloat every manifest for
    * bounds no sane predicate uses.
    */
  val defaultStatColumns: Seq[String] = Seq("lang", "commit")

  /** North-rule base schema (BASELINE.json input_hint). */
  val baseSchema: StructType = StructType(Seq(
    StructField("repo", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("commit", StringType, nullable = true),
    StructField("lang", StringType, nullable = true),
    StructField("content", StringType, nullable = true)))

  def parseTypeName(t: String): DataType = t.toLowerCase match {
    case "string"  => StringType
    case "long" | "bigint" => LongType
    case "int" | "integer" => IntegerType
    case "float"   => FloatType
    case "double"  => DoubleType
    case "boolean" => BooleanType
    case "timestamp" => TimestampType
    case other => throw new IllegalArgumentException(s"unsupported evolved type: $other")
  }

  /** Safe-widening whitelist (SURVEY §7.7(3)): value- and order-preserving
    * promotions Spark's Parquet reader performs natively on the old physical
    * type, making a widen METADATA-ONLY (no file rewrite). A new nullable
    * column covers the null→anything case.
    */
  def widensTo(from: DataType, to: DataType): Boolean = (from, to) match {
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case _ => false
  }
}
