package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.JsonDSL._

/** Idempotence ledger: which (epoch, batchId) merges have been applied.
  *
  * Streaming batchIds per epoch are contiguous from 0, so the ledger is a
  * per-epoch high-water mark plus a (normally empty) out-of-order spill set —
  * O(epochs) bytes instead of O(batches) (SURVEY §7.2: at the 10^10 design
  * point a per-pair set re-serialized on every commit is O(n²) cumulative
  * metadata cost).
  */
final case class BatchLedger(hwm: Map[String, Long], sparse: Set[(String, Long)]) {
  def contains(epoch: String, batchId: Long): Boolean =
    hwm.get(epoch).exists(batchId <= _) || sparse((epoch, batchId))

  def add(epoch: String, batchId: Long): BatchLedger = {
    if (contains(epoch, batchId)) this
    else {
      var h = hwm.getOrElse(epoch, -1L)
      var sp = sparse + ((epoch, batchId))
      while (sp((epoch, h + 1))) { sp -= ((epoch, h + 1)); h += 1 }
      BatchLedger(hwm + (epoch -> h), sp)
    }
  }

  def size: Long = hwm.values.map(_ + 1).sum + sparse.size
}

object BatchLedger { val empty: BatchLedger = BatchLedger(Map.empty, Set.empty) }

/** One committed version of a lake table.
  *
  * @param version    monotonically increasing snapshot id
  * @param schema     user-visible schema (storage adds `_lsn`,`_deleted`)
  * @param addedAtLsn column name -> lsn of the schema_change that added it
  *                   (absent for base columns); gates extra-payload parsing
  *                   so replay is invariant to batch splits
  * @param files      data files owned by this snapshot (resolved from
  *                   manifest files on read; persisted as manifest refs)
  * @param ledger     idempotence ledger: replaying an applied batch is a
  *                   no-op (exactly-once under retry)
  * @param maxLsn     high-water mark of applied change LSNs (the snapshot's
  *                   "sequence number"): rows with `_lsn > parentSnapshot
  *                   .maxLsn` are exactly the rows this lineage of commits
  *                   changed — the key for incremental change-feed reads
  *                   (LakeTable.changesBetween) without scanning data files
  * @param widenedAt  column name -> (lsn of the widenColumn change, ORIGINAL
  *                   type name): gates the extra-payload PARSE type so replay
  *                   is invariant to batch splits — a pre-widen row parses
  *                   through the old type then widens, exactly as its stored
  *                   physical value reads back
  */
final case class Snapshot(
    version: Long,
    schema: StructType,
    addedAtLsn: Map[String, Long],
    files: Seq[DataFileEntry],
    ledger: BatchLedger,
    parent: Long,
    maxLsn: Long = -1L,
    widenedAt: Map[String, (Long, String)] = Map.empty,
    operation: String = "",
    constraints: Map[String, String] = Map.empty,
    manifestSummaries: Seq[ManifestSummary] = Nil,
    droppedAtLsn: Map[String, Long] = Map.empty,
    physicalName: Map[String, String] = Map.empty,
    renamedAt: Map[String, Seq[(Long, String)]] = Map.empty) {
  /** Storage (parquet) column name of logical column `name`: renamed
    * log-added columns keep their ORIGINAL add-time name in every file
    * forever, so all files share one physical schema and rename stays
    * metadata-only (no rewrite, single-schema reads).
    */
  def physicalOf(name: String): String = physicalName.getOrElse(name, name)
}

/** Per-manifest summary embedded in the snapshot JSON — the Iceberg
  * manifest-LIST analog. Carries enough metadata to decide WITHOUT parsing a
  * manifest whether a pruned read must load it: the union key bounding box
  * of its files (None side = some file unbounded there — fail open), the max
  * `_ver` across its files (None = some file unknown — fail open; lets the
  * change feed skip whole cold manifests), whether it holds deferred-merge
  * delta files, and the union of statted / bloom'd column names (so a
  * header-only reader knows which predicate columns are prunable at all).
  *
  * Summaries are recomputed at every commit from the entries the commit
  * already holds in memory (carried-by-reference manifests were just read
  * for the manifest delta), so they cost no extra I/O; they are an
  * OPTIMIZATION, not a protocol feature — a reader that ignores them and
  * parses every manifest produces identical rows, so no required-feature
  * bump. At the 10^6-file design point this is the difference between a
  * fresh process parsing O(table) manifest JSON for a point read and
  * parsing O(1) overlapping manifests.
  */
final case class ManifestSummary(
    name: String,
    fileCount: Long,
    minRepo: Option[String], maxRepo: Option[String],
    minPath: Option[String], maxPath: Option[String],
    maxVer: Option[Long],
    hasDeltas: Boolean,
    stattedStr: Seq[String],
    stattedLong: Seq[String],
    bloomCols: Seq[String],
    // union bounding boxes of SECONDARY statted columns (capped — see
    // ManifestSummary.maxStatBoxCols; a column over the cap or with any
    // unbounded file simply has no entry here and fails open to file-level
    // pruning). On a z-ordered table these make a predicate on ANY clustered
    // dimension prune whole manifests, not just files.
    stats: Map[String, (Option[String], Option[String])] = Map.empty,
    longStats: Map[String, (Option[Long], Option[Long])] = Map.empty) {
  /** Can any file in this manifest hold a row inside the bounds? Key boxes
    * are always present; secondary columns prune only when summarized
    * (missing column → no constraint → fail open).
    */
  def overlapsKeys(bounds: KeyPredicates.TypedBounds): Boolean =
    KeyPredicates.admits(bounds, {
      case "repo" => (minRepo, maxRepo)
      case "path" => (minPath, maxPath)
      case c => stats.getOrElse(c, (None, None))
    }, longStats.getOrElse(_, (None, None)))
}

object ManifestSummary {
  /** Cap on summarized secondary-column boxes per manifest: bounds the
    * snapshot-JSON growth to O(manifests × cap) regardless of how many
    * columns are statted at file level (columns beyond the cap keep their
    * FILE-level pruning; only the manifest-level shortcut is capped).
    */
  val maxStatBoxCols = 8

  def of(name: String, entries: Seq[DataFileEntry]): ManifestSummary = {
    // combine per-file bounds under the SAME order the file stats were
    // written in (Bound.hull; unsigned UTF-8 for strings) — JVM string order
    // disagrees above the BMP and would widen/shrink the box incorrectly
    val repo = Bound.hull(entries.map(e => (e.minRepo, e.maxRepo)))
    val path = Bound.hull(entries.map(e => (e.minPath, e.maxPath)))
    val stattedStr = entries.iterator.flatMap(_.stats.keysIterator).toSeq.distinct.sorted
    val stattedLong = entries.iterator.flatMap(_.longStats.keysIterator).toSeq.distinct.sorted
    // union box per secondary column: include ONLY when every file stats the
    // column with both sides bounded (a missing/unbounded file would make
    // the box a lie — leave the column out and fail open at manifest level)
    def boxes[T: StatKind](statted: Seq[String],
                           stat: DataFileEntry => Map[String, (Option[T], Option[T])]) =
      statted.take(maxStatBoxCols).flatMap { c =>
        val per = entries.flatMap(stat(_).get(c))
        val box = Bound.hull(per)
        if (per.size < entries.size || box.lower.isEmpty || box.upper.isEmpty) None
        else Some(c -> ((box.lower, box.upper)))
      }.toMap
    ManifestSummary(
      name = name,
      fileCount = entries.size.toLong,
      minRepo = repo.lower, maxRepo = repo.upper,
      minPath = path.lower, maxPath = path.upper,
      maxVer = if (entries.isEmpty || entries.exists(_.maxVer.isEmpty)) None
               else Some(entries.flatMap(_.maxVer).max),
      hasDeltas = entries.exists(_.delta),
      stattedStr = stattedStr,
      stattedLong = stattedLong,
      bloomCols = entries.iterator.flatMap(_.bloomCols).toSeq.distinct.sorted,
      stats = boxes(stattedStr, _.stats),
      longStats = boxes(stattedLong, _.longStats))
  }
}

/** One line of [[SnapshotLog.history]]: a commit's audit header, read from
  * the snapshot JSON alone — no manifest loads, no data I/O. Size aggregates
  * are computed once at commit time and stored; `-1` = unknown (snapshot
  * predates the field). `committedAt` is the writer's wall clock at publish
  * (audit/ops metadata, not part of table semantics — versions, not clocks,
  * order commits).
  */
final case class CommitInfo(
    version: Long, parent: Long, operation: String, committedAt: Long,
    files: Long, liveRows: Long, bytes: Long, tombstoneFiles: Long,
    maxLsn: Long)

/** Manifest entry with per-file key-range stats for file pruning, built
  * from the file's footer by the write task that wrote it
  * (LakeTable.statsOfFile). Bounds are Options: None = unbounded on that
  * side (stat missing, or non-ASCII where Parquet's unsigned-UTF-8 stat
  * order and JVM string order could disagree). `maxVer` is the file's
  * largest `_ver` (commit version of last row modification, from the footer):
  * the change feed drops whole files with `maxVer <= fromVersion` at planning
  * time — the Iceberg data-sequence-number pruning analog, decisive after a
  * compaction rewrites a mostly-cold table. None = unknown (fail open).
  *
  * `delta = true` marks a DEFERRED-merge file (merge-on-read, Hudi log-file
  * analog): its rows shadow older rows for the same key in base files and
  * older deltas, resolved at read time by LakeTable's merge window until a
  * compaction materializes them. Base (copy-on-write) files keep the
  * invariant of at most one row per key across the live set; delta files
  * add at most one row per key PER DELTA COMMIT on top.
  */
final case class DataFileEntry(
    path: String, rows: Long,
    minRepo: Option[String], maxRepo: Option[String],
    minPath: Option[String], maxPath: Option[String],
    maxVer: Option[Long] = None,
    tomb: Boolean = false,
    bytes: Long = 0L,
    stats: Map[String, (Option[String], Option[String])] = Map.empty,
    longStats: Map[String, (Option[Long], Option[Long])] = Map.empty,
    delta: Boolean = false,
    bloomCols: Seq[String] = Nil) {
  /** Min/max bound of `column`, unified over the key columns' dedicated
    * fields and the secondary stats map; (None, None) = unknown (fail open).
    */
  def boundsOf(column: String): (Option[String], Option[String]) = column match {
    case "repo" => (minRepo, maxRepo)
    case "path" => (minPath, maxPath)
    case c => stats.getOrElse(c, (None, None))
  }

  /** Min/max of an int64-statted column (long / int / timestamp-micros
    * secondary stat columns); (None, None) = unknown (fail open).
    */
  def longBoundsOf(column: String): (Option[Long], Option[Long]) =
    longStats.getOrElse(column, (None, None))
}

/** A racing writer already published this version. Callers retry against the
  * new head ([[LakeTable]] rebases compactions and recomputes merges) or
  * surface the loss; only a true semantic overlap aborts.
  */
final class CommitConflictException(msg: String) extends IllegalStateException(msg)

/** From-scratch Iceberg-style snapshot log over any Hadoop FileSystem.
  *
  * Layout: `<root>/meta/v{N}.json` (snapshot) + `<root>/meta/m{N}-{i}.json`
  * (manifests, immutable groups of data-file entries). A snapshot stores
  * manifest REFERENCES: each commit writes one manifest for its added files,
  * carries unchanged manifests forward by reference, and rewrites only the
  * manifests that lost files — commit metadata is O(changed files + epochs),
  * not O(table files), which is what survives 10^5+ commits
  * (Iceberg spec v2 has the same added/existing-manifest split).
  *
  * Commit point: on `file:` schemes an atomic hard link (create-no-overwrite;
  * two writers racing on the same version → exactly one link(2) succeeds);
  * on other filesystems an existence check + rename (HDFS rename won't
  * overwrite; object stores would need a conditional put — single writer
  * assumed there). Readers list `meta/` and take the max version — no
  * mutable HEAD pointer. Generalizes the reference's fixed "latest release"
  * pointer (Borderlands src/borderlands/paths.py:16-18) into a versioned,
  * idempotent commit protocol (SURVEY.md §7.2).
  */
final class SnapshotLog(spark: SparkSession, root: String) {
  import SnapshotLog.supportedFeatures
  private val metaDir = new Path(root, "meta")
  private def fs: FileSystem = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def dataDir: String = new Path(root, "data").toString

  private def listVersions(): Seq[Long] = {
    if (!fs.exists(metaDir)) return Seq.empty
    fs.listStatus(metaDir).map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }.toSeq
  }

  def latestVersion(): Option[Long] = {
    val vs = listVersions()
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** Earliest RETAINED snapshot version — the resume/`startingVersion=
    * earliest` floor after `expireSnapshots` has dropped old versions.
    */
  def earliestVersion(): Option[Long] = {
    val vs = listVersions()
    if (vs.isEmpty) None else Some(vs.min)
  }

  def head(): Option[Snapshot] = latestVersion().map(read)

  def read(version: Long): Snapshot = parseSnapshot(snapshotText(version))

  private def snapshotText(version: Long): String =
      try readText(new Path(metaDir, s"v$version.json"))
      catch {
        case e: java.io.FileNotFoundException =>
          // distinguish the two causes instead of leaking a raw missing-file
          // path: below the retention floor = consumer resuming from an
          // expired snapshot; above head = stale checkpoint / wrong table
          val vs = listVersions()
          val detail =
            if (vs.isEmpty) " (table has no snapshots)"
            else if (version > vs.max)
              s"; head is v${vs.max} — a version above head was never " +
                "committed here (stale checkpoint or wrong table root?)"
            else
              s"; earliest retained is v${vs.min} — a consumer resuming " +
                "from an expired version must re-bootstrap (expireSnapshots " +
                "keepLast bounds the resume horizon)"
          throw new IllegalStateException(
            s"snapshot v$version does not exist at $root$detail", e)
      }

  /** Writer half of the protocol gate: refuse to commit a child of a
    * snapshot that requires writer features this build lacks. `j` is the
    * parent's already-parsed snapshot JSON.
    */
  private def writerGate(parentVersion: Long, j: JValue): Unit = {
    (j \ "requiredWriterFeatures") match {
      case JArray(fs) =>
        val declared = fs.collect { case JString(s) => s }.toSet
        val unknown = declared -- SnapshotLog.supportedWriterFeatures
        if (unknown.nonEmpty) throw new IllegalStateException(
          s"the parent snapshot v$parentVersion requires writer features " +
            s"${unknown.mkString(", ")} that this version of the library does not " +
            "support; upgrade the writer (supported: " +
            s"${SnapshotLog.supportedWriterFeatures.toSeq.sorted.mkString(", ")}). " +
            "Reading the table remains possible.")
      case _ => () // pre-protocol snapshots: base feature set only
    }
  }

  /** Manifest refs of a snapshot version (for GC). */
  private def manifestRefs(version: Long): Seq[String] = {
    implicit val fmt: Formats = DefaultFormats
    val j = JsonMethods.parse(readText(new Path(metaDir, s"v$version.json")))
    (j \ "manifests").extract[Seq[String]]
  }

  private def readText(p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  // immutable manifests → a tiny in-memory cache spares re-reads across
  // commits within one writer process
  private val manifestCache = new java.util.concurrent.ConcurrentHashMap[String, Seq[DataFileEntry]]()

  /** Manifest files actually read+parsed by this log instance (cache
    * misses). Observability for the two-level metadata pruning: a pruned
    * point read on a fresh process should load O(overlapping) manifests,
    * not O(table) — ManifestPruneSpec asserts on this counter.
    */
  val manifestLoads = new java.util.concurrent.atomic.AtomicLong(0L)

  private def readManifest(name: String): Seq[DataFileEntry] = {
    manifestCache.computeIfAbsent(name, { n =>
      manifestLoads.incrementAndGet()
      implicit val fmt: Formats = DefaultFormats
      val j = JsonMethods.parse(readText(new Path(metaDir, n)))
      (j \ "files").extract[Seq[JObject]].map(parseEntry)
    })
  }

  /** Entries of exactly the named manifests (for pruned reads that have
    * already decided, from the snapshot header's [[ManifestSummary]] list,
    * which manifests can matter). Bounded-parallel like a full load.
    */
  private[lake] def loadManifests(names: Seq[String]): Seq[DataFileEntry] =
    readManifests(names)

  /** Load a snapshot's manifests with bounded parallelism. A snapshot at the
    * 10^5-file design point references hundreds of immutable manifests;
    * reading them serially makes snapshot load O(manifests × FS round-trip)
    * on the driver — the dominant metadata cost on object stores. Order of
    * the returned entries follows the manifest list (deterministic).
    */
  private def readManifests(names: Seq[String]): Seq[DataFileEntry] = {
    val misses = names.filterNot(manifestCache.containsKey)
    if (misses.size > 1) {
      // daemon threads: a hung object-store read must not keep the JVM alive
      // after the driver exits (shutdown() neither interrupts nor daemonizes)
      val tf = new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger()
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-manifest-load-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, misses.size), tf)
      try {
        val futures = misses.map(n => pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = { readManifest(n); () }
        }))
        try futures.foreach(_.get()) // propagate the first failure
        catch { case e: java.util.concurrent.ExecutionException =>
          // surface the REAL cause (FileNotFound, parse error, …), not the
          // wrapper, and interrupt the remaining in-flight reads — a stuck
          // FS call otherwise pins the pool past the failure
          pool.shutdownNow()
          throw Option(e.getCause).getOrElse(e)
        }
      } finally pool.shutdown()
    }
    names.flatMap(readManifest)
  }

  private def writeManifest(name: String, entries: Seq[DataFileEntry]): Unit = {
    val json: JObject = "files" -> entries.map(renderEntry)
    val out = fs.create(new Path(metaDir, name), false)
    try out.write(JsonMethods.compact(JsonMethods.render(json)).getBytes("UTF-8"))
    finally out.close()
    manifestCache.put(name, entries)
  }

  /** Atomically publish `snap` as v{snap.version}. Throws if that version
    * already exists. Manifest delta vs the parent snapshot is computed here:
    * added files → one new manifest; manifests with removed files →
    * rewritten; untouched manifests → carried by reference.
    */
  def commit(snap: Snapshot): Unit = {
    fs.mkdirs(metaDir)
    // one parse of the parent snapshot JSON serves both the writer protocol
    // gate and the manifest delta below. The gate runs FIRST: committing on
    // top of a parent whose invariants this build does not understand (e.g.
    // CHECK constraints it would not enforce) must fail loudly before
    // anything publishes — reading such a parent is safe, extending its
    // history is not.
    val parentManifests: Seq[String] =
      if (snap.version == 0 || snap.parent < 0) Seq.empty
      else {
        val j = JsonMethods.parse(readText(new Path(metaDir, s"v${snap.parent}.json")))
        writerGate(snap.parent, j)
        implicit val fmt: Formats = DefaultFormats
        (j \ "manifests").extract[Seq[String]]
      }
    val livePaths = snap.files.map(_.path).toSet
    val byPath = snap.files.map(f => f.path -> f).toMap

    // per-attempt unique suffix: a crashed or conflict-aborted commit leaves
    // orphan manifests (GC-able via gcManifests), and a RETRY of the same
    // version must not collide with them (create-no-overwrite would fail
    // permanently on the leftover deterministic name, wedging the table)
    val attempt = java.util.UUID.randomUUID().toString.take(8)
    var covered = Set.empty[String]
    // (manifest name, its entries): entries are in memory anyway (carried
    // manifests were just read for the delta), so the per-manifest summary
    // list in the snapshot JSON costs no extra I/O
    var refs = Vector.empty[(String, Seq[DataFileEntry])]
    var rewriteIdx = 0
    for (m <- parentManifests) {
      val entries = readManifest(m)
      val kept = entries.filter(e => livePaths.contains(e.path))
      if (kept.size == entries.size) {
        refs :+= (m -> entries)
        covered ++= entries.map(_.path)
      } else if (kept.nonEmpty) {
        val name = s"m${snap.version}-r$rewriteIdx-$attempt.json"
        rewriteIdx += 1
        writeManifest(name, kept)
        refs :+= (name -> kept)
        covered ++= kept.map(_.path)
      } // all removed → dropped
    }
    val added = snap.files.filterNot(f => covered.contains(f.path)).map(f => byPath(f.path))
    if (added.nonEmpty) {
      val name = s"m${snap.version}-a-$attempt.json"
      writeManifest(name, added)
      refs :+= (name -> added)
    }

    val tmp = new Path(metaDir, s".tmp-v${snap.version}-${java.util.UUID.randomUUID}.json")
    val out = fs.create(tmp, false)
    try out.write(renderSnapshot(snap, refs).getBytes("UTF-8")) finally out.close()
    val dest = new Path(metaDir, s"v${snap.version}.json")
    // gate the link(2) branch on the RESOLVED FileSystem scheme only: a
    // scheme-less path resolves against the Hadoop default FS, which may be
    // non-local (HDFS) — attempting a local hard link there would throw
    // NoSuchFileException and leak the tmp file
    val linked =
      if (fs.getScheme == "file") {
        // local fs: link(2) is atomic create-no-overwrite — racing writers
        // on the same version cannot both win (POSIX rename would overwrite)
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(fs.makeQualified(dest).toUri.getPath),
            java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath))
          fs.delete(tmp, false)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            fs.delete(tmp, false)
            throw new CommitConflictException(
              s"commit conflict: $dest already exists (concurrent writer?)")
        }
      } else false
    if (!linked) {
      if (fs.exists(dest) || !fs.rename(tmp, dest)) {
        fs.delete(tmp, false)
        throw new CommitConflictException(
          s"commit conflict: $dest already exists (concurrent writer?)")
      }
    }
  }

  /** [[commit]], but a lost version race returns false instead of throwing —
    * the optimistic-concurrency primitive behind [[LakeTable]]'s
    * rebase/recompute retry loops.
    */
  def tryCommit(snap: Snapshot): Boolean =
    try { commit(snap); true }
    catch { case _: CommitConflictException => false }

  /** Delete manifests referenced by no surviving snapshot (paired with
    * LakeTable.expireSnapshots' data-file GC).
    */
  def gcManifests(keepVersions: Seq[Long]): Unit = {
    if (!fs.exists(metaDir)) return
    val live = keepVersions.flatMap(manifestRefs).toSet
    for (st <- fs.listStatus(metaDir);
         n = st.getPath.getName
         if n.startsWith("m") && n.endsWith(".json") && !live.contains(n)) {
      fs.delete(st.getPath, false)
      manifestCache.remove(n)
    }
  }

  private def renderEntry(f: DataFileEntry): JObject =
    ("path" -> f.path) ~ ("rows" -> f.rows) ~
    ("minRepo" -> f.minRepo) ~ ("maxRepo" -> f.maxRepo) ~
    ("minPath" -> f.minPath) ~ ("maxPath" -> f.maxPath) ~
    ("maxVer" -> f.maxVer) ~ ("tomb" -> f.tomb) ~ ("delta" -> f.delta) ~
    ("bytes" -> f.bytes) ~
    ("stats" -> renderStats(f.stats)) ~ ("longStats" -> renderStats(f.longStats)) ~
    ("bloomCols" -> f.bloomCols.toList)

  /** A stat map as JSON, the one form of `stats` and `longStats` in manifest
    * entries and manifest-list summaries alike: `[{"col","min","max"}]`
    * sorted by column, a None side absent (unbounded).
    */
  private def renderStats[T](m: Map[String, (Option[T], Option[T])])(
      implicit kind: StatKind[T]): JValue =
    m.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
      ("col" -> c) ~ ("min" -> mn.map(kind.toJson)) ~ ("max" -> mx.map(kind.toJson)) }

  /** Inverse of [[renderStats]]; a missing array (manifests written before
    * the stat existed) is an empty map: unknown, fail open.
    */
  private def parseStats[T](j: JValue)(
      implicit kind: StatKind[T]): Map[String, (Option[T], Option[T])] = {
    implicit val fmt: Formats = DefaultFormats
    j match {
      case JArray(ss) => ss.map { s =>
        (s \ "col").extract[String] -> ((kind.fromJson(s \ "min"), kind.fromJson(s \ "max")))
      }.toMap
      case _ => Map.empty
    }
  }

  private def parseEntry(f: JValue): DataFileEntry = {
    implicit val fmt: Formats = DefaultFormats
    def opt(field: String): Option[String] = StatKind.utf8.fromJson(f \ field)
    // older manifests: no maxVer, unknown, fail open
    val maxVer = StatKind.int64.fromJson(f \ "maxVer")
    DataFileEntry((f \ "path").extract[String], (f \ "rows").extract[Long],
      opt("minRepo"), opt("maxRepo"), opt("minPath"), opt("maxPath"), maxVer,
      tomb = (f \ "tomb") match { case JBool(b) => b; case _ => false },
      delta = (f \ "delta") match { case JBool(b) => b; case _ => false },
      bytes = StatKind.int64.fromJson(f \ "bytes").getOrElse(0L),
      stats = parseStats[String](f \ "stats"),
      longStats = parseStats[Long](f \ "longStats"),
      bloomCols = (f \ "bloomCols") match {
        case JArray(cs) => cs.collect { case JString(c) => c }
        case _ => Nil // pre-bloom manifests: no blooms advertised
      })
  }

  private def renderSnapshot(
      s: Snapshot, manifests: Seq[(String, Seq[DataFileEntry])]): String = {
    val live = s.files.filterNot(_.tomb)
    val summaries = manifests.map { case (n, es) => ManifestSummary.of(n, es) }
    val json: JObject =
      ("version" -> s.version) ~
      ("parent" -> s.parent) ~
      ("maxLsn" -> s.maxLsn) ~
      // audit header (see CommitInfo): aggregates precomputed here so
      // history() never loads a manifest
      ("operation" -> s.operation) ~
      ("committedAt" -> System.currentTimeMillis()) ~
      ("fileCount" -> s.files.size) ~
      ("liveRows" -> live.map(_.rows).sum) ~
      ("bytes" -> s.files.map(_.bytes).sum) ~
      ("tombstoneFiles" -> (s.files.size - live.size)) ~
      ("schema" -> JsonMethods.parse(s.schema.json)) ~
      ("addedAtLsn" -> s.addedAtLsn) ~
      ("ledgerHwm" -> s.ledger.hwm) ~
      ("ledgerSparse" -> s.ledger.sparse.toSeq.sorted.map { case (e, b) =>
        ("epoch" -> e) ~ ("batchId" -> b) }) ~
      ("widenedAt" -> s.widenedAt.toSeq.sortBy(_._1).map { case (n, (l, f)) =>
        ("name" -> n) ~ ("lsn" -> l) ~ ("from" -> f) }) ~
      // drop TOMBSTONES: names whose physical values may still sit in live
      // files — re-adding one would silently resurrect those values, so the
      // refusal must survive restarts and be honored by EVERY writer (the
      // "dropped-columns" writer feature below gates older builds out)
      ("droppedAtLsn" -> s.droppedAtLsn) ~
      // rename lineage: logical → ORIGINAL physical storage name, plus the
      // ascending (renameLsn, priorName) history that gates which JSON-extra
      // key a replayed pre-rename row parses (batch-split invariance)
      ("physicalName" -> s.physicalName) ~
      ("renamedAt" -> s.renamedAt.toSeq.sortBy(_._1).map { case (n, hist) =>
        ("name" -> n) ~ ("history" -> hist.map { case (l, prior) =>
          ("lsn" -> l) ~ ("prior" -> prior) }) }) ~
      ("constraints" -> s.constraints) ~
      // protocol gate (the Delta reader/writer-version analog), derived from
      // the snapshot's actual CONTENT, not writer identity — a delta-free,
      // constraint-free snapshot stays readable by any older reader even if
      // newer features were used earlier in its history. Reader features are
      // what you must understand to produce correct ROWS (pending deltas must
      // be resolved); writer features additionally cover invariants any
      // COMMIT on top of this snapshot must preserve (CHECK constraints must
      // be enforced — reading past them is safe, writing past them is not).
      // Writer features are a superset of reader features: a writer carries
      // forward what it reads.
      ("requiredFeatures" -> readerFeaturesOf(s)) ~
      ("requiredWriterFeatures" -> {
        val f = Seq.newBuilder[String]
        f ++= readerFeaturesOf(s)
        if (s.constraints.nonEmpty) f += "check-constraints"
        // a writer ignorant of drop tombstones would (a) not re-render them,
        // losing the re-add refusal, and (b) happily re-add the column and
        // resurrect stale stored values — gate commits, reading stays open
        if (s.droppedAtLsn.nonEmpty) f += "dropped-columns"
        f.result()
      }) ~
      ("manifests" -> manifests.map(_._1)) ~
      // manifest-LIST summaries (see ManifestSummary): header-only readers
      // prune whole manifests by key box / maxVer before parsing any of
      // them. Optional-side Option[String] renders as absent = unbounded.
      ("manifestList" -> summaries.map { m =>
        ("name" -> m.name) ~
        ("files" -> m.fileCount) ~
        ("minRepo" -> m.minRepo) ~ ("maxRepo" -> m.maxRepo) ~
        ("minPath" -> m.minPath) ~ ("maxPath" -> m.maxPath) ~
        ("maxVer" -> m.maxVer) ~
        ("hasDeltas" -> m.hasDeltas) ~
        ("stattedStr" -> m.stattedStr) ~
        ("stattedLong" -> m.stattedLong) ~
        ("bloomCols" -> m.bloomCols) ~
        ("stats" -> renderStats(m.stats)) ~
        ("longStats" -> renderStats(m.longStats))
      })
    JsonMethods.compact(JsonMethods.render(json))
  }

  private def readerFeaturesOf(s: Snapshot): Seq[String] = {
    val f = Seq.newBuilder[String]
    if (s.files.exists(_.delta)) f += "merge-on-read-deltas"
    // a reader ignorant of the logical→physical mapping would read the
    // renamed column's NEW name from files that store the ORIGINAL one and
    // silently null every value — wrong rows, so this gates READS
    if (s.physicalName.nonEmpty) f += "renamed-columns"
    f.result()
  }

  private def parseSnapshot(txt: String): Snapshot = parseSnapshot(txt, loadFiles = true)

  /** With `loadFiles = false`, returns the snapshot HEADER only: every field
    * except `files` (which comes back EMPTY — callers must treat it as
    * "unloaded", never as "empty table") plus the manifest summaries. One
    * small JSON read, zero manifest parses — the entry point for pruned
    * reads that load only overlapping manifests afterwards.
    */
  private def parseSnapshot(txt: String, loadFiles: Boolean): Snapshot = {
    implicit val fmt: Formats = DefaultFormats
    val j = JsonMethods.parse(txt)
    // reader protocol gate FIRST: a reader that does not know a required
    // feature must fail loudly here, not silently misread (e.g. serving a
    // merge-on-read snapshot's base rows without resolving its deltas).
    // Writer features are deliberately NOT checked here — reading a
    // constraint-bearing table needs no constraint knowledge; the writer
    // gate lives in commit() against the parent snapshot.
    (j \ "requiredFeatures") match {
      case JArray(fs) =>
        val declared = fs.collect { case JString(s) => s }.toSet
        val unknown = declared -- supportedFeatures
        if (unknown.nonEmpty) throw new IllegalStateException(
          s"this table snapshot requires reader features ${unknown.mkString(", ")} " +
            "that this version of the library does not support; upgrade the reader " +
            s"(supported: ${supportedFeatures.toSeq.sorted.mkString(", ")})")
      case _ => () // pre-protocol snapshots: base feature set only
    }
    val ledger = BatchLedger(
      (j \ "ledgerHwm").extract[Map[String, Long]],
      (j \ "ledgerSparse").extract[Seq[JObject]]
        .map(b => ((b \ "epoch").extract[String], (b \ "batchId").extract[Long])).toSet)
    Snapshot(
      version = (j \ "version").extract[Long],
      schema = DataType.fromJson(JsonMethods.compact(JsonMethods.render(j \ "schema")))
        .asInstanceOf[StructType],
      addedAtLsn = (j \ "addedAtLsn").extract[Map[String, Long]],
      files = if (loadFiles) readManifests((j \ "manifests").extract[Seq[String]])
              else Nil,
      ledger = ledger,
      parent = (j \ "parent").extract[Long],
      maxLsn = StatKind.int64.fromJson(j \ "maxLsn").getOrElse(-1L),
      widenedAt = (j \ "widenedAt") match {
        case JArray(ws) => ws.map { w =>
          (w \ "name").extract[String] ->
            ((w \ "lsn").extract[Long], (w \ "from").extract[String])
        }.toMap
        case _ => Map.empty // pre-widening snapshots
      },
      operation = (j \ "operation") match {
        case JString(s) => s
        case _ => "" // pre-audit-header snapshots
      },
      constraints = (j \ "constraints") match {
        case o: JObject => o.extract[Map[String, String]]
        case _ => Map.empty // pre-constraint snapshots
      },
      droppedAtLsn = (j \ "droppedAtLsn") match {
        case o: JObject => o.extract[Map[String, Long]]
        case _ => Map.empty // pre-drop snapshots
      },
      physicalName = (j \ "physicalName") match {
        case o: JObject => o.extract[Map[String, String]]
        case _ => Map.empty // pre-rename snapshots
      },
      renamedAt = (j \ "renamedAt") match {
        case JArray(rs) => rs.map { r =>
          (r \ "name").extract[String] -> ((r \ "history") match {
            case JArray(hs) => hs.map(h =>
              ((h \ "lsn").extract[Long], (h \ "prior").extract[String]))
            case _ => Nil
          })
        }.toMap
        case _ => Map.empty // pre-rename snapshots
      },
      manifestSummaries = (j \ "manifestList") match {
        case JArray(ms) => ms.map { m =>
          def os(n: String): Option[String] = StatKind.utf8.fromJson(m \ n)
          def strs(n: String): Seq[String] = (m \ n) match {
            case JArray(vs) => vs.collect { case JString(v) => v }
            case _ => Nil
          }
          ManifestSummary(
            name = (m \ "name").extract[String],
            fileCount = (m \ "files").extract[Long],
            minRepo = os("minRepo"), maxRepo = os("maxRepo"),
            minPath = os("minPath"), maxPath = os("maxPath"),
            maxVer = StatKind.int64.fromJson(m \ "maxVer"),
            hasDeltas = (m \ "hasDeltas") match {
              case JBool(b) => b
              case _ => true // unknown → fail open (assume deltas possible)
            },
            stattedStr = strs("stattedStr"),
            stattedLong = strs("stattedLong"),
            bloomCols = strs("bloomCols"),
            stats = parseStats[String](m \ "stats"),
            longStats = parseStats[Long](m \ "longStats"))
        }
        case _ => Nil // pre-summary snapshots: readHeader rebuilds them
      })
  }

  /** Snapshot HEADER of `version`: all metadata, `files` UNLOADED (empty),
    * one manifest summary per manifest ref. A missing version fails with the
    * same rich retention error as [[read]]. A pre-summary snapshot (no
    * `manifestList`, or one that does not match the refs) gets its summaries
    * rebuilt from the manifests themselves — the loads a full read makes —
    * so a pruned read never silently drops a manifest.
    */
  def readHeader(version: Long): Snapshot = {
    implicit val fmt: Formats = DefaultFormats
    val txt = snapshotText(version)
    val snap = parseSnapshot(txt, loadFiles = false)
    val names = (JsonMethods.parse(txt) \ "manifests").extract[Seq[String]]
    if (snap.manifestSummaries.map(_.name) == names) snap
    else snap.copy(manifestSummaries = names.map(n => ManifestSummary.of(n, readManifest(n))))
  }

  /** A commit's audit header from its snapshot JSON alone (no manifest
    * loads); fields a pre-audit-header snapshot lacks come back as ""/-1.
    */
  def describe(version: Long): CommitInfo = {
    val j = JsonMethods.parse(readText(new Path(metaDir, s"v$version.json")))
    def long(field: String): Long = StatKind.int64.fromJson(j \ field).getOrElse(-1L)
    CommitInfo(
      version = long("version"), parent = long("parent"),
      operation = (j \ "operation") match { case JString(s) => s; case _ => "" },
      committedAt = long("committedAt"), files = long("fileCount"),
      liveRows = long("liveRows"), bytes = long("bytes"),
      tombstoneFiles = long("tombstoneFiles"), maxLsn = long("maxLsn"))
  }

  /** Audit headers of every retained snapshot, newest first (the DESCRIBE
    * HISTORY analog). Metadata-only: one small JSON read per retained
    * version, bounded by expireSnapshots' retention — no manifest or data
    * I/O regardless of table size.
    */
  def history(): Seq[CommitInfo] =
    listVersions().sorted(Ordering[Long].reverse).map(describe)
}

object SnapshotLog {
  /** Reader features this build understands (the Delta protocol-version
    * analog, named not numbered — independent features compose). A snapshot
    * lists the subset its CONTENT actually requires in `requiredFeatures`;
    * [[SnapshotLog]] rejects snapshots demanding anything else, so a future
    * format addition degrades to a clear upgrade error instead of silent
    * misreads. `check-constraints` stays in the READER set for compatibility
    * with early-protocol snapshots that declared it reader-side; current
    * writers declare it only in `requiredWriterFeatures` (constraints gate
    * commits, not reads).
    */
  val supportedFeatures: Set[String] =
    Set("merge-on-read-deltas", "check-constraints", "renamed-columns")

  /** "dropped-columns" is writer-only: READING a post-drop snapshot needs no
    * drop knowledge (its schema JSON already lacks the column and the parquet
    * schema projection skips the physical bytes), but a WRITER must carry the
    * drop tombstones forward and refuse re-adds, or stale stored values
    * resurrect.
    */

  /** Writer features this build can preserve when extending a table's
    * history — a superset of [[supportedFeatures]]: a writer carries forward
    * what it reads, plus enforces write-time invariants (CHECK constraints).
    */
  val supportedWriterFeatures: Set[String] = supportedFeatures + "dropped-columns"
}
