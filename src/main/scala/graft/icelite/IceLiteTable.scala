package graft.icelite

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** IceLite: a Spark-native lakehouse table (SURVEY.md §7.3, reproducing the
  * Iceberg semantics the reference teaches at
  * /root/reference/README.md:830–1192 from scratch — the environment ships
  * no Iceberg runtime jar).
  *
  * Guarantees (the tutorial's promised invariants, README.md:520–529):
  *  - snapshot isolation: readers resolve one immutable snapshot; commits
  *    are an atomic version-file swap (§ commit below)
  *  - row-level UPDATE / DELETE / MERGE (copy-on-write) + merge-on-read
  *    positional deletes (deletion vectors, README.md:1105–1121)
  *  - schema evolution without rewriting files: field-id physical columns,
  *    rename/add/add-with-default are metadata-only (README.md:976–992,
  *    1157–1166)
  *  - partition evolution: per-file spec ids; old files keep their layout
  *    (README.md:991–992)
  *  - time travel by snapshot id or timestamp + rollback (README.md:1004–1013)
  *  - maintenance: compaction, snapshot expiry, orphan removal
  *    (README.md:1022–1028)
  *
  * Scale design: all data moves through DataFrames (distributed); the
  * driver only touches metadata (file lists, row counts — KBs per commit).
  * Per-file footer stats are harvested EXECUTOR-side, by the task that
  * wrote the file ([[TaskWriter]]), so a 10k-file commit doesn't
  * serialize minutes of footer reads on the driver. CoW rewrites read ONLY the affected files
  * (manifest-pruned scan), so an UPDATE touching one partition of a 100 TB
  * table rewrites one partition. Merge-on-read DELETE writes positions
  * only — no data rewrite at all — and the read path applies them as a
  * broadcast per-file position filter, never a shuffle of the fact table.
  *
  * Concurrency: every operation loads (version, metadata) as one unit and
  * commits at exactly loadedVersion+1 via create-if-absent, so ANY
  * intervening commit collides with an existing version file — a lost
  * update is impossible. Rebuildable operations (append, MoR delete,
  * metadata DDL, expire) rebase-and-retry on collision; CoW rewrites
  * surface the conflict to the caller, whose derived files are stale.
  */
class IceLiteTable(val spark: SparkSession, val location: String,
    commitStore: Option[CommitStore] = None) {
  import IceLite.{HINT, fs}

  /** Commit control plane — all metadata atomicity flows through this
    * ([[CommitStore]] documents the exact guarantees the protocol needs;
    * tests inject an object-store double with no rename primitive). */
  private[icelite] val store: CommitStore =
    commitStore.getOrElse(new HadoopCommitStore(fs(spark, location)))

  /** Manifest chunk IO (chunked file-table metadata, [[ManifestIO]]).
    * Exposed to the pruning specs for its chunk-load instrumentation. */
  private[icelite] val manifestIO =
    new ManifestIO(location, spark.sessionState.newHadoopConf())

  /** Planning instrumentation: the LARGEST per-scan file count any
    * scanSnapshot admitted since the last reset. Deterministic — driver
    * metadata arithmetic, no task-metric listeners — so pruning specs
    * assert on it directly (e.g. a stat-pruned MERGE discovery plans 1
    * file of N, not N). */
  private[graft] val maxPlannedFiles = new java.util.concurrent.atomic.AtomicLong(0)

  // ---------------------------------------------------------------- metadata

  private def metaAt(v: Int): TableMetadata = {
    val p = new Path(location, s"metadata/v$v.json")
    MetaJson.fromJson(store.readString(p), manifestIO, p.toString)
  }

  /** (version, metadata) loaded as ONE consistent unit — the version is
    * read first and the metadata fetched for exactly that version, so a
    * concurrent commit between the two reads cannot split them. All
    * operations build on a versionedMeta and commit at version+1. */
  def versionedMeta: (Int, TableMetadata) = {
    val v = currentVersion
    (v, metaAt(v))
  }

  def meta: TableMetadata = versionedMeta._2

  def currentVersion: Int =
    store.readString(new Path(location, s"metadata/$HINT")).trim.toInt

  /** Atomic commit at exactly version `v`: create-if-absent (an existing
    * file means a concurrent writer claimed this version — the conflict
    * detector; do NOT silently skip it), then swap the version hint
    * FORWARD-ONLY. A writer that was quarantine-stepped while paused (GC,
    * slow FS) finds the hint already past `v` and fails loudly instead of
    * regressing the table. */
  private def commitAt(v: Int, next: TableMetadata, note: String): Unit = {
    val entry = MetadataLogEntry(v, System.currentTimeMillis(), note)
    // metadata-log retention (Iceberg's metadata-log truncation under
    // write.metadata.previous-versions-max): the commit-note log is
    // bounded at `write.metadata.log.max-entries` newest entries, so a
    // long-lived table's version file does not grow O(commits). 0 = keep
    // everything.
    val maxLog = next.properties
      .getOrElse("write.metadata.log.max-entries", "100").toInt
    val fullLog = next.metadataLog :+ entry
    val boundedLog =
      if (maxLog > 0 && fullLog.size > maxLog) fullLog.takeRight(maxLog) else fullLog
    // persist the prune low-water mark (advanced by the LAST prune run) so
    // catch-up survives restarts and never strands files below a gap
    val withFloor =
      if (next.properties.get("write.metadata.delete-after-commit.enabled").contains("true") &&
          pruneFloor.get > next.properties
            .get(IceLite.PruneFloorProp).map(_.toInt).getOrElse(1))
        next.copy(properties =
          next.properties + (IceLite.PruneFloorProp -> pruneFloor.get.toString))
      else next
    // Iceberg V3 row lineage: every data file entering the table gets a
    // disjoint id block [firstRowId, firstRowId + rows) assigned HERE —
    // one central point, BEFORE the spill below, so assignments land in
    // the chunk files. New files always arrive in the head snapshot's
    // inline tail (append/CoW/compaction/adopt all build tails; carried
    // manifests pass by reference with their ids already set), so only
    // the tail is examined. nextRowId is monotone for the table's life.
    val withRowIds = assignRowIds(withFloor.copy(metadataLog = boundedLog))
    // spill crossed-threshold inline tails into side manifest chunks
    // FIRST, so the version file carries refs + summaries, never the bulk
    // entries (chunks from an attempt that then collides are orphans the
    // grace-period sweep reclaims)
    val withLog = manifestIO.spill(withRowIds)
    // create-if-absent: the conflict check
    store.createExclusive(new Path(location, s"metadata/v$v.json"), MetaJson.toJson(withLog))
    IceLite.swapHintForward(store, new Path(location, s"metadata/$HINT"), v)
    pruneOldVersionFiles(v, withLog)
  }

  /** Assign V3 row-id blocks to every unassigned inline-tail file, in
    * (snapshot, tail) order — deterministic for a deterministic write.
    * All snapshots are covered (not just the head) so WAP branch commits
    * assign at staging time; one physical file carried through several
    * tails gets ONE id block (path-keyed dedup). A commit with nothing
    * to assign returns `m` unchanged, so metadata-only version files
    * stay byte-stable. Files carried inside already-spilled PRE-lineage
    * chunks keep `firstRowId = None` (chunks are immutable); their rows
    * read as null `_row_id` until a rewrite materializes them. */
  private def assignRowIds(m: TableMetadata): TableMetadata = {
    if (!m.snapshots.exists(_.files.tail.exists(_.firstRowId.isEmpty))) return m
    var ctr = m.nextRowId
    val assigned = scala.collection.mutable.Map[String, Long]()
    val snaps = m.snapshots.map { s =>
      if (!s.files.tail.exists(_.firstRowId.isEmpty)) s
      else s.withListing(FileListing(s.files.manifests,
        s.files.tail.map { f =>
          if (f.firstRowId.isDefined) f
          else f.copy(firstRowId = Some(assigned.getOrElseUpdate(
            f.path, { val id = ctr; ctr += f.rows; id })))
        }, manifestIO))
    }
    m.copy(snapshots = snaps, nextRowId = ctr)
  }

  /** Iceberg's `write.metadata.delete-after-commit.enabled` +
    * `write.metadata.previous-versions-max`: after a successful commit,
    * delete version files older than the retention window so metadata/
    * holds O(window) files instead of O(commits). Safe by the protocol:
    * readers resolve ONLY through the forward-only hint (no backward
    * scan exists), time travel and rollback read snapshots from the
    * CURRENT metadata, and the orphan-step logic scans ABOVE the hint.
    * Opt-in (Iceberg's default too) — a debugging workflow may want the
    * full version history on disk. Deletion is best-effort and bounded
    * per commit (amortized catch-up when the property is enabled late);
    * a failure degrades to a stderr note, never to the committed DML.
    *
    * The walk goes OLDEST-FIRST from a persisted low-water mark
    * ([[IceLite.PruneFloorProp]], carried in table properties and advanced
    * in the NEXT commit's metadata), so progress is contiguous and
    * resumable: a budget-exhausted run, a crash, or the property being
    * enabled late can never strand files below a gap the way a
    * newest-first stop-at-first-missing walk does (it would park forever
    * on the hole its own budget carved). Deletes are budget-bounded per
    * commit; probes on already-missing versions are capped separately
    * (each version is stepped past at most once over the table's life —
    * amortized O(1) per commit). */
  private val pruneFloor = new java.util.concurrent.atomic.AtomicInteger(0)

  private def pruneOldVersionFiles(v: Int, m: TableMetadata): Unit =
    if (m.properties.get("write.metadata.delete-after-commit.enabled").contains("true")) {
      val keep = math.max(1, m.properties
        .getOrElse("write.metadata.previous-versions-max", "100").toInt)
      val hi = v - keep - 1 // newest deletable version
      var k = math.max(1, math.max(pruneFloor.get,
        m.properties.get(IceLite.PruneFloorProp).map(_.toInt).getOrElse(1)))
      var budget = 8
      var probes = 1024
      try {
        while (k <= hi && budget > 0 && probes > 0) {
          val p = new Path(location, s"metadata/v$k.json")
          probes -= 1
          if (store.exists(p)) { store.delete(p); budget -= 1 }
          k += 1
        }
        if (k > pruneFloor.get) pruneFloor.set(k)
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[icelite] version-file prune skipped: ${e.getMessage}")
      }
    }

  /** One-shot commit for operations whose output is DERIVED from the
    * loaded snapshot (compaction, overwrite): any concurrent commit means
    * the derived file set is stale, so the collision propagates to the
    * caller, who must re-run the whole operation. Predicate-scoped CoW
    * rewrites use [[commitCowRewrite]] instead, which can validate and
    * rebase across DISJOINT concurrent commits. */
  private def commitFrom(loadedVersion: Int, next: TableMetadata, note: String): Unit =
    commitAt(loadedVersion + 1, next, note)

  /** Commit a predicate-scoped copy-on-write rewrite (UPDATE / DELETE /
    * MERGE) with Iceberg-style validation-and-rebase: on a version
    * collision, reload the winner's state and RETRY iff the conflicting
    * commits provably touched disjoint data — otherwise abort with
    * [[IceLite.ConcurrentRewriteException]] (the caller re-runs the whole
    * op against the new state). Two disjoint-partition UPDATEs therefore
    * both land without caller intervention; overlapping ones still abort.
    *
    * Validation (serializable, mirroring Iceberg's validateDataFilesExist /
    * validateNoNewDeleteFiles / validateAddedDataFiles):
    *  1. every file this rewrite REPLACED is still live — a concurrent
    *     rewrite of a shared file means both ops derived from it;
    *  2. no delete file was added since the scanned snapshot — new MoR/eq
    *     deletes may cover rows this rewrite re-materialized from its
    *     pre-delete scan (committing would resurrect them);
    *  3. every concurrently ADDED data file is refuted by this op's
    *     predicate stat-filters — an added file that may hold matching
    *     rows was not seen by the already-evaluated predicate (for MERGE:
    *     may hold keys inside the source key range → duplicate inserts).
    *     With no derivable filters, any added file aborts.
    * On success the rebased snapshot is the winner's file set minus the
    * replaced files plus this op's rewritten files (re-stamped into the
    * winner's sequence order). */
  private def commitCowRewrite(
      loadedVersion: Int, loadedMeta: TableMetadata, scanned: Snapshot,
      hitPaths: Set[String], newFiles: Seq[DataFile],
      condFilters: Seq[Stats.StatFilter], op: String, note: String,
      finish: TableMetadata => TableMetadata = identity): Unit = {
    // Retry-only validation inputs are LAZY: the no-collision path (the
    // overwhelming majority) never forces a pruned chunk — first-attempt
    // cost stays O(admitted chunks), the chunks the discovery scan already
    // loaded and cached.
    lazy val scannedDels = scanned.deleteFiles.map(_.path).toSet
    val scannedDelRefs = scanned.deletes.manifests.map(_.path).toSet
    val scannedRefPaths = scanned.files.manifests.map(_.path).toSet
    lazy val scannedData = scanned.dataFiles.map(_.path).toSet
    def chunkMayHoldHits(r: ManifestRef, cur: TableSchema): Boolean =
      condFilters.isEmpty ||
        condFilters.forall(f => Stats.summaryMayContain(r.stats, cur, f))
    // hit → the scanned chunk that carried it (None = inline tail). A
    // chunk whose stat summary refutes the predicate provably holds no hit
    // (file bounds are within chunk bounds, and a hit file's bounds admit
    // the predicate), so only discovery-admitted chunks — cache hits — are
    // read here.
    val hitContainer: Map[String, Option[String]] = {
      val mp = scala.collection.mutable.Map[String, Option[String]]()
      scanned.files.manifests.foreach { r =>
        if (chunkMayHoldHits(r, loadedMeta.currentSchema))
          manifestIO.read(r).foreach { f =>
            val p = f.path; if (hitPaths.contains(p)) mp(p) = Some(r.path)
          }
      }
      scanned.files.tail.foreach { f =>
        val p = f.path; if (hitPaths.contains(p)) mp(p) = None
      }
      mp.toMap
    }
    var v = loadedVersion
    var m = loadedMeta
    var attempt = 0
    while (true) {
      val cs = m.currentSnapshot.getOrElse(
        throw new IceLite.ConcurrentRewriteException("table emptied concurrently; re-run"))
      // CHUNK-SCOPED rebuild: a parent manifest whose summary refutes the
      // predicate, or whose (cached) entries contain no hit, carries over
      // BY REFERENCE; only hit-holding chunks dissolve into survivors. On
      // a 10M-file table a CoW touching one chunk loads one chunk — never
      // the file table.
      val sq = nextSeq(m)
      val keptRefs = scala.collection.mutable.ArrayBuffer[ManifestRef]()
      val loose = scala.collection.mutable.ArrayBuffer[DataFile]()
      cs.files.manifests.foreach { r =>
        if (!chunkMayHoldHits(r, m.currentSchema)) keptRefs += r
        else {
          val entries = manifestIO.read(r)
          if (!entries.exists(f => hitPaths.contains(f.path))) keptRefs += r
          else loose ++= entries.filterNot(f => hitPaths.contains(f.path))
        }
      }
      loose ++= cs.files.tail.filterNot(f => hitPaths.contains(f.path))
      loose ++= newFiles.map(_.copy(seq = sq))
      val next = newSnapshotDL(m, op,
        FileListing(keptRefs.toSeq, loose.toSeq, manifestIO), cs.deletes)
      try { commitAt(v + 1, finish(next), note); return }
      catch {
        case e @ (_: java.io.IOException | _: IceLite.CommitSupersededException) =>
          if (attempt >= 4) throw new IceLite.ConcurrentRewriteException(
            s"copy-on-write rewrite lost $attempt consecutive commit races; re-run (${e.getMessage})")
          attempt += 1
          val (nv, nm) = versionedMeta
          val ncs = nm.currentSnapshot.getOrElse(
            throw new IceLite.ConcurrentRewriteException("table emptied concurrently; re-run"))
          // 1. replaced-files-live, chunk-scoped: a hit carried by a chunk
          // the winner still references is live by immutability; otherwise
          // search only the winner's tail + NEW chunks (O(changed chunks))
          val ncsRefPaths = ncs.files.manifests.map(_.path).toSet
          val ncsTail = ncs.files.tail.map(_.path).toSet
          lazy val newChunkFiles: Set[String] = ncs.files.manifests
            .filterNot(r => scannedRefPaths.contains(r.path))
            .flatMap(r => manifestIO.read(r).map(_.path)).toSet
          val allLive = hitPaths.forall { p =>
            (hitContainer.get(p).flatten match {
              case Some(chunk) => ncsRefPaths.contains(chunk)
              case None        => false
            }) || ncsTail.contains(p) || newChunkFiles.contains(p)
          }
          if (!allLive)
            throw new IceLite.ConcurrentRewriteException(
              "copy-on-write rewrite conflicts with a concurrent rewrite of " +
                "the same files; re-run the operation")
          if (hasNewDeletesSince(ncs, scannedDelRefs, scannedDels))
            throw new IceLite.ConcurrentRewriteException(
              "copy-on-write rewrite conflicts with concurrent deletes: new " +
                "delete files appeared since the scanned snapshot; re-run")
          // 3. added-files-refuted, chunk-scoped: carried chunks add
          // nothing; candidates come from the winner's tail + new chunks
          // only (a re-chunked OLD file that slips in is refuted against
          // scannedData — conservative, never a miss)
          val added = (ncs.files.tail ++ ncs.files.manifests
            .filterNot(r => scannedRefPaths.contains(r.path)).flatMap(manifestIO.read))
            .filterNot(f => scannedData.contains(f.path))
          val unsafeAdd = added.exists(f => condFilters.isEmpty ||
            condFilters.forall(flt =>
              Stats.mayContain(f, nm.schema(f.schemaId), nm.currentSchema, flt)))
          if (unsafeAdd)
            throw new IceLite.ConcurrentRewriteException(
              "copy-on-write rewrite conflicts with concurrent appends whose " +
                "stats admit this operation's predicate; re-run")
          v = nv; m = nm
          Thread.sleep(25L + scala.util.Random.nextInt(50))
      }
    }
  }

  /** Chunk-scoped "did a delete file appear since the scanned snapshot":
    * a delete chunk ref carried by path identity is immutable, so only
    * NEW refs need their entries read (a spill may have chunked OLD tail
    * deletes into a new ref — its contents decide, not its novelty) and
    * the inline tail is checked directly. O(changed chunks), never
    * O(all delete files) — the validation counterpart of the delete
    * manifest list. */
  private def hasNewDeletesSince(cur: Snapshot, scannedRefPaths: Set[String],
      scannedDelPaths: Set[String]): Boolean =
    cur.deletes.tail.exists(d => !scannedDelPaths.contains(d.path)) ||
      cur.deletes.manifests.exists(r => !scannedRefPaths.contains(r.path) &&
        manifestIO.readDeletes(r).exists(d => !scannedDelPaths.contains(d.path)))

  /** Optimistic-retry commit for operations whose intent can be REBUILT on
    * top of a newer table state (append's add-files, MoR delete's
    * add-positions, pure-metadata DDL, expire): on a version-file collision
    * the whole [load (version, meta) → rebuild → commit] cycle reruns
    * against the winner's state.
    *
    * Crashed-writer handling: a colliding version file whose hint never
    * advanced is only stepped over after it provably AGED past the
    * quarantine window (`commit.orphan-quarantine-ms`, default 5 min) — a
    * live racer paused mid-commit (GC, slow FS) is younger than that, so
    * its commit is never silently discarded; we keep backing off until it
    * either finishes (hint advances → rebase) or ages out. */
  private def commitWithRetry(build: TableMetadata => (TableMetadata, String),
      retries: Int = 8): Unit = {
    var attempt = 0
    while (true) {
      val (v, m) = versionedMeta
      val quarantineMs = m.properties.getOrElse(
        "commit.orphan-quarantine-ms", "300000").toLong
      // step over contiguous AGED orphan version files above the hint
      var target = v + 1
      var scanning = true
      while (scanning) {
        val p = new Path(location, s"metadata/v$target.json")
        if (store.exists(p) &&
          System.currentTimeMillis() - store.modificationTime(p) > quarantineMs)
          target += 1
        else scanning = false
      }
      val (next, note) = build(m)
      try { commitAt(target, next, note); return }
      catch {
        case e @ (_: java.io.IOException | _: IceLite.CommitSupersededException) =>
          if (attempt >= retries) throw new RuntimeException(
            s"commit failed after $retries retries (last: ${e.getMessage})", e)
          attempt += 1
          Thread.sleep(50L + scala.util.Random.nextInt(100)) // jittered backoff
      }
    }
  }

  /** Monotone native snapshot ids — skipping any id recorded as an
    * adopted FOREIGN snapshot id: the foreign→native remap resolves in
    * [[TableMetadata.snapshot]], so minting a native snapshot under a
    * recorded foreign id would make `VERSION AS OF` that id ambiguous
    * (the remap is only collision-checked at adoption time; natives keep
    * incrementing afterwards and would eventually walk into it). */
  private def nextSnapshotId(m: TableMetadata): Long = {
    var id = m.snapshots.map(_.id).maxOption.getOrElse(0L) + 1
    while (m.properties.contains(s"${TableMetadata.ForeignSnapshotProp}$id")) id += 1
    id
  }

  /** Next data sequence number: one past the highest stamped on any file
    * in the snapshot log (0 = legacy). Derived, not stored — rollback and
    * expire can never desync it. Commit paths that may REBASE (append,
    * upsert) must re-stamp from the rebased metadata inside the retry
    * lambda; ties that slip through a race are conservative (an equality
    * delete applies only to strictly-lower seqs, so a tied row survives —
    * the same outcome Iceberg's commit-ordered assignment gives the
    * later-committing writer). */
  private def nextSeq(m: TableMetadata): Long =
    m.snapshots.iterator.map(s =>
      // listing maxSeq comes from manifest summaries — no chunk load
      math.max(s.files.maxSeq, s.deletes.maxSeq))
      .maxOption.getOrElse(0L) + 1

  private def newSnapshot(
      m: TableMetadata, op: String,
      dataFiles: Seq[DataFile], deleteFiles: Seq[DeleteFile]): TableMetadata =
    newSnapshotL(m, op, FileListing.inline(dataFiles), deleteFiles)

  private def newSnapshotL(
      m: TableMetadata, op: String,
      files: FileListing, deleteFiles: Seq[DeleteFile]): TableMetadata =
    newSnapshotDL(m, op, files, DeleteListing.inline(deleteFiles))

  /** Listing-based snapshot builder: add-files paths (append, MoR delete,
    * rollback) pass the parent's listings (± a tail) so parent manifest
    * chunks — data AND delete — carry over BY REFERENCE; commit cost stays
    * O(new files) on a 10M-file table. */
  private def newSnapshotDL(
      m: TableMetadata, op: String,
      files: FileListing, deletes: DeleteListing): TableMetadata = {
    val snap = new Snapshot(
      nextSnapshotId(m), m.currentSnapshotId, System.currentTimeMillis(), op,
      files, deletes, m.currentSchemaId)
    m.copy(currentSnapshotId = Some(snap.id), snapshots = m.snapshots :+ snap)
  }

  // ---------------------------------------------------------------- writing

  private def transformExpr(sf: SpecField, src: Column): Column = sf.transform match {
    case "identity" => src.cast("string")
    case "year"     => year(src).cast("string")
    case "month"    => date_format(src, "yyyy-MM")
    case "day"      => date_format(src, "yyyy-MM-dd")
    case b if b.startsWith("bucket[") =>
      val n = b.stripPrefix("bucket[").stripSuffix("]").toInt
      pmod(xxhash64(src), lit(n)).cast("string")
    case b if b.startsWith("mbucket[") =>
      // Iceberg-spec murmur3 bucket (adopted foreign layouts): new native
      // writes land in the SAME buckets the foreign writer used, so the
      // adopted tuples and the live ones share one hash semantics
      val n = b.stripPrefix("mbucket[").stripSuffix("]").toInt
      org.apache.spark.sql.graft.SparkShims.columnOf(
        graft.functions.IcebergBucket(
          org.apache.spark.sql.graft.SparkShims.toExpression(src), n)).cast("string")
    case other => sys.error(s"unknown transform $other")
  }

  /** Write `df` (current-schema column names) as new data files under the
    * given spec; returns manifest entries. One distributed job: each task
    * writes its files straight into data/ through the one
    * [[TaskWriter]] and reports their entries (rows, partition tuple,
    * footer stats) — the driver opens no footer and lists nothing. */
  private def writeFiles(df: DataFrame, m: TableMetadata, schemaId: Int, spec: PartitionSpec,
      targetFiles: Option[Int] = None,
      // extra columns written into the parquet UNDER THEIR OWN NAMES,
      // alongside the schema's physical columns — the V3 materialized
      // lineage carrier (rewrites pass _row_id/_last_updated_sequence_
      // number through; plain writes pass nothing)
      extraPhysCols: Seq[String] = Seq()): Seq[DataFile] = {
    val sch = m.schema(schemaId)
    val phys = df.select(sch.fields.map(f =>
      col(f.name).cast(f.sparkDdl).as(f.physName)) ++
      extraPhysCols.map(c => col(c).cast("bigint").as(c)): _*)
    val partCols = spec.fields.map(sf => col("_p_" + sf.name))
    // write.sort-order (setSortOrder): cluster rows so each file covers a
    // TIGHT, near-disjoint range of the sort key — that turns the manifest
    // min/max stats into a real index (a point/range predicate on the sort
    // key prunes all but a few files at plan time). Unpartitioned writes
    // range-repartition globally (disjoint ranges across files);
    // partitioned writes keep the partition clustering and sort within it.
    // Entries may carry a transform / direction / null order
    // ([[SortOrders]] grammar — full Iceberg sort-order fidelity).
    val sortCols = m.properties.get("write.sort-order").toSeq
      .flatMap(SortOrders.parse).map { sf =>
        val fld = sch.fieldByName(sf.column)
        SortOrders.orderCol(sf, col(fld.physName), fld.dtype)
      }
    // write.parquet.bloom-filter-enabled.column.<name>=true (Iceberg's
    // property shape) → per-column parquet bloom filters. The row-group
    // complement to min/max skipping: point lookups on high-cardinality
    // UNSORTED columns (ids, uuids) — where min/max spans everything — get
    // row-group-level pruning from any parquet reader, no table-format
    // machinery needed at read time.
    val bloomKey = "write.parquet.bloom-filter-enabled.column."
    val writeOpts = m.properties.collect {
      case (k, v) if k.startsWith(bloomKey) =>
        s"parquet.bloom.filter.enabled#${sch.fieldByName(k.stripPrefix(bloomKey)).physName}" -> v
    }
    val arranged =
      if (spec.fields.isEmpty) {
        if (sortCols.isEmpty) phys
        else targetFiles.fold(phys.repartitionByRange(sortCols: _*))(
            n => phys.repartitionByRange(n, sortCols: _*))
          .sortWithinPartitions(sortCols: _*)
      } else
        // cluster rows by partition value first: without this, every input
        // partition writes a sliver of every partition value (N_input ×
        // N_values tiny files — metadata and read-path poison at scale);
        // with it, file count ≈ distinct partition values. The sort groups
        // each task's rows by tuple, so a task keeps one file open.
        spec.fields.foldLeft(phys) { (d, sf) =>
          d.withColumn("_p_" + sf.name, transformExpr(sf, col(sch.byId(sf.sourceId).physName)))
        }.repartition(partCols: _*).sortWithinPartitions(partCols ++ sortCols: _*)
    // stamp the data sequence from the op's loaded metadata; rebasing
    // commit paths re-stamp from the winner's state (see nextSeq).
    // nextSeq walks the whole manifest log — evaluate once, not per file
    val sq = nextSeq(m)
    TaskWriter.write(arranged, new Path(location, "data").toString,
      spec.fields.map(_.name), writeOpts)
      .map(_.dataFile(schemaId, spec.specId).copy(seq = sq))
  }

  /** INSERT/append (README.md:1136–1138): new files + add-files snapshot.
    * Missing columns with defaults are filled at write; other missing
    * columns become null. */
  def append(df: DataFrame): Unit = {
    val m = meta
    val files = writeFiles(alignToSchema(df, m), m, m.currentSchemaId, m.defaultSpec)
    // add-files commits rebase cleanly: the files stay valid under any
    // concurrent commit (their schemaId stays in the schema list), so a
    // conflict just replays the snapshot build on the winner's state
    commitWithRetry { cur =>
      val snap = cur.currentSnapshot
      val sq = nextSeq(cur) // hoisted: O(manifest) once, not once per file
      val stamped = files.map(_.copy(seq = sq))
      (newSnapshotDL(cur, "append",
        snap.map(_.files).getOrElse(FileListing.empty).append(stamped),
        snap.map(_.deletes).getOrElse(DeleteListing.empty)),
        s"append ${files.map(_.rows).sum} rows")
    }
    autoMaintain()
  }

  /** Idempotent streaming append: commits `df` AND records `batchId` in the
    * table properties inside the SAME atomic commit; a batch id at or below
    * the recorded one is a replay (foreachBatch restart) and becomes a
    * no-op. This upgrades foreachBatch's at-least-once to exactly-once per
    * batch — the Iceberg streaming-writer pattern. */
  def appendIfNewBatch(batchId: Long, df: DataFrame): Boolean = {
    val key = "streaming.last-committed-batch-id"
    val m = meta
    if (m.properties.get(key).exists(_.toLong >= batchId)) return false
    val files = writeFiles(alignToSchema(df, m), m, m.currentSchemaId, m.defaultSpec)
    try {
      commitWithRetry { cur =>
        // authoritative replay check INSIDE the retry loop: losing the race
        // aborts the commit entirely (no no-op version file) and the loser
        // proactively deletes its just-written files instead of stranding
        // them until the orphan sweep
        if (cur.properties.get(key).exists(_.toLong >= batchId))
          throw new IceLite.BatchReplayedException(s"batch $batchId already committed")
        val snap = cur.currentSnapshot
        val sq = nextSeq(cur) // hoisted: O(manifest) once, not once per file
        (newSnapshotDL(cur, "append",
          snap.map(_.files).getOrElse(FileListing.empty).append(files.map(_.copy(seq = sq))),
          snap.map(_.deletes).getOrElse(DeleteListing.empty))
          .copy(properties = cur.properties + (key -> batchId.toString)),
          s"append batch $batchId: ${files.map(_.rows).sum} rows")
      }
      autoMaintain()
      true
    } catch {
      case _: IceLite.BatchReplayedException =>
        val f = fs(spark, location)
        files.foreach(df0 => f.delete(new Path(df0.path), false))
        false
    }
  }

  /** Driver-side plan for the DSv2 STREAMING SINK's executor writers
    * ([[graft.icelite.connector.IceLiteStreamingWrite]]): the same
    * alignment rule as [[alignToSchema]] + [[writeFiles]] — input columns
    * matched by name, cast to storage types under physical `f<id>` names,
    * omitted columns filled with the V3 write-default — plus the default
    * spec's partition transforms, all RESOLVED through Catalyst analysis
    * over an empty probe frame and BOUND to the input attribute order, so
    * the executors evaluate them without a SparkSession. Pinned at query
    * start: a mid-stream schema change doesn't shift rows mid-epoch (the
    * pinned schemaId stays in the schema list; readers resolve per file). */
  private[icelite] def planStreamingWrite(
      inputSchema: StructType): IceLite.StreamWritePlan = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeSeq, BindReferences, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val m = meta
    val sch = m.currentSchema
    val spec = m.defaultSpec
    val probe = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), inputSchema)
    def sourceCol(fld: Field): Column =
      if (probe.columns.contains(fld.name))
        convertTo(col(fld.name), fld, Some(probe.schema(fld.name).dataType))
      else fld.writeFill.map(d => expr(d).cast(fld.sparkDdl))
        .getOrElse(lit(null).cast(fld.sparkDdl))
    val physCols = sch.fields.map(fld => sourceCol(fld).as(fld.physName))
    val partCols = spec.fields.map { sf =>
      val srcF = sch.byId(sf.sourceId)
      // cast-to-string mirrors what partitionBy renders into dir names on
      // the batch path, so both writers bucket values into the SAME
      // partition spellings (pruning compares these strings)
      transformExpr(sf, sourceCol(srcF)).cast("string").as("_p_" + sf.name)
    }
    val analyzed = probe.select(physCols ++ partCols: _*).queryExecution.analyzed
    val (projList, childOut) = analyzed match {
      case p: Project => (p.projectList, p.child.output)
      case other => sys.error(s"unexpected streaming-write plan shape: ${other.nodeName}")
    }
    val bound = projList.map(e =>
      BindReferences.bindReference(e: Expression, AttributeSeq(childOut)))
    val physSchema = StructType(sch.fields.map(f =>
      StructField(f.physName, DataType.fromDDL(f.sparkDdl), nullable = true)))
    // rows arrive unclustered: the writer fans out, one open file per
    // partition tuple the task sees (auto-compaction folds the small
    // files behind the commit)
    IceLite.StreamWritePlan(m.currentSchemaId, spec.specId,
      TaskWriter.layout(spark, new Path(location, "data").toString, physSchema,
        bound.take(sch.fields.size), bound.drop(sch.fields.size),
        spec.fields.map(_.name), clustered = false))
  }

  /** Commit the parquet files one streaming epoch's tasks wrote as an
    * append snapshot, exactly once: the epoch ledger (`key` → last
    * committed epoch id) advances INSIDE the same atomic commit, so a
    * Spark-replayed epoch (restart between the table commit and the
    * checkpoint commit) detects the replay and deletes its duplicate
    * files instead of double-appending — [[appendIfNewBatch]]'s
    * protocol, driven from the DSv2 StreamingWrite commit hook. The tasks
    * already reported each file's entry; nothing is read or moved here.
    * Returns false on replay. */
  private[icelite] def commitStreamEpoch(key: String, epochId: Long,
      written: Seq[WrittenFile], schemaId: Int, specId: Int): Boolean = {
    val f = fs(spark, location)
    val files = written.map(_.dataFile(schemaId, specId))
    val m = meta
    if (m.properties.get(key).exists(_.toLong >= epochId)) {
      files.foreach(d => f.delete(new Path(d.path), false))
      return false
    }
    if (files.isEmpty) return true // empty epoch: no snapshot; a replay is vacuous
    // UPSERT mode (Iceberg's `write.upsert.enabled`): each epoch also
    // writes EQUALITY deletes on the declared key columns, so a key's
    // newer version retires every older row merge-on-read — the
    // [[upsertEqIfNewBatch]] CDC shape, driven from the DSv2 sink. Both
    // carry the SAME data sequence, so an epoch's deletes never touch its
    // own rows (eq-deletes apply strictly below their seq) — each epoch
    // must carry at most one row per key, the CDC contract. O(batch) per
    // epoch: no target scan, no rewrite.
    val upsertKeys: Seq[Field] =
      if (m.properties.get("write.upsert.enabled").exists(_.toBoolean))
        m.properties.get("write.upsert.key-columns")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(sys.error(
            "write.upsert.enabled needs write.upsert.key-columns (csv of key fields)"))
          .map(m.currentSchema.fieldByName)
      else Seq()
    // the CDC contract, ENFORCED: duplicate keys inside one epoch are
    // unordered (the sink sees rows, not commit attribution), so applying
    // them would keep an arbitrary subset — refuse loudly and tell the
    // operator how to bound epochs to one source commit instead
    // key-column reads over files THIS epoch just wrote (current-schema
    // phys names by construction): an explicit schema both skips the
    // footer schema-inference job spark.read.parquet schedules per call
    // (two calls per epoch — a steady per-micro-batch tax) and prunes the
    // read to the key columns
    def epochKeyRead(): DataFrame = spark.read
      .schema(StructType(upsertKeys.map(fl =>
        StructField(fl.physName, DataType.fromDDL(fl.sparkDdl), nullable = true))))
      .parquet(files.map(_.path): _*)
    val dels: Seq[DeleteFile] =
      if (upsertKeys.isEmpty) Seq()
      else writeEqDeleteFiles(
        epochKeyRead()
          .select(upsertKeys.map(fl => col(fl.physName).as(fl.name)): _*),
        upsertKeys)
    def discardAll(): Unit =
      (files.map(_.path) ++ dels.map(_.path)).foreach(p => f.delete(new Path(p), false))
    // the CDC "at most one row per key per epoch" check, for FREE from
    // counts already in hand: writeEqDeleteFiles writes DISTINCT keys
    // (null-safe, like the groupBy it replaces) and reports their count
    // from its own footer, while the epoch's total rows come from the
    // data files' footers — distinct keys < rows ⟺ some key repeats. The
    // standalone groupBy/count job this replaces was one extra scheduled
    // Spark job per micro-batch, a steady per-epoch tax (guide §1.2
    // step 1; the error contract is unchanged).
    if (upsertKeys.nonEmpty && dels.map(_.rows).sum < files.map(_.rows).sum) {
      discardAll()
      sys.error(s"icelite streaming upsert: epoch $epochId carries more than " +
        "one row for a key — versions inside one epoch are unordered and " +
        "cannot upsert deterministically; bound each micro-batch to one " +
        "source commit (max-snapshots-per-trigger=1) or dedup upstream")
    }
    try {
      commitWithRetry { cur =>
        if (cur.properties.get(key).exists(_.toLong >= epochId))
          throw new IceLite.BatchReplayedException(s"epoch $epochId already committed")
        val snap = cur.currentSnapshot
        val sq = nextSeq(cur) // hoisted: O(manifest) once, not once per file
        (newSnapshotDL(cur, if (dels.isEmpty) "append" else "overwrite",
          snap.map(_.files).getOrElse(FileListing.empty).append(files.map(_.copy(seq = sq))),
          snap.map(_.deletes).getOrElse(DeleteListing.empty)
            .append(dels.map(_.copy(seq = sq))))
          .copy(properties = cur.properties + (key -> epochId.toString)),
          s"stream epoch $epochId: ${files.map(_.rows).sum} rows")
      }
      autoMaintain() // streaming ingest is the small-file case auto-compaction exists for
      true
    } catch {
      case _: IceLite.BatchReplayedException =>
        discardAll()
        false
    }
  }

  /** Idempotent streaming upsert via EQUALITY deletes: [[upsertEq]] with
    * the same batch-id protocol as [[appendIfNewBatch]]. The CDC-sink
    * shape for 100 TB tables — per-batch cost is O(batch), no target scan
    * or rewrite (contrast [[mergeIfNewBatch]], which CoW-rewrites every
    * matched file), and a restart-replayed batch is a clean no-op. */
  def upsertEqIfNewBatch(batchId: Long, rows: DataFrame, keyCols: Seq[String]): Boolean = {
    val key = "streaming.last-committed-batch-id"
    val m = meta
    if (m.properties.get(key).exists(_.toLong >= batchId)) return false
    val fields = keyCols.map(m.currentSchema.fieldByName)
    val files = writeFiles(alignToSchema(rows, m), m, m.currentSchemaId, m.defaultSpec)
    if (files.isEmpty) return true // empty batch: vacuous success, no commit
    // explicit key schema: no footer-inference job, key columns only (the
    // files were written by THIS batch under the current schema)
    val dels = writeEqDeleteFiles(
      spark.read
        .schema(StructType(fields.map(fl =>
          StructField(fl.physName, DataType.fromDDL(fl.sparkDdl), nullable = true))))
        .parquet(files.map(_.path): _*)
        .select(fields.map(f => col(f.physName).as(f.name)): _*),
      fields)
    try {
      commitWithRetry { cur =>
        if (cur.properties.get(key).exists(_.toLong >= batchId))
          throw new IceLite.BatchReplayedException(s"batch $batchId already committed")
        val cs = cur.currentSnapshot
        val sq = nextSeq(cur)
        (newSnapshotDL(cur, "overwrite",
          cs.map(_.files).getOrElse(FileListing.empty).append(files.map(_.copy(seq = sq))),
          cs.map(_.deletes).getOrElse(DeleteListing.empty)
            .append(dels.map(_.copy(seq = sq))))
          .copy(properties = cur.properties + (key -> batchId.toString)),
          s"upsert (eq) batch $batchId: ${files.map(_.rows).sum} rows")
      }
      autoMaintain()
      true
    } catch {
      case _: IceLite.BatchReplayedException =>
        // this batch's files only, one by one: they sit beside the
        // table's committed files in data/ and deletes/
        val f = fs(spark, location)
        (files.map(_.path) ++ dels.map(_.path)).foreach(p => f.delete(new Path(p), false))
        false
    }
  }

  /** Convert a source column to `fld`'s STORAGE representation — the ONE
    * shared rule for every target-schema alignment (append/overwrite,
    * MERGE source alignment, UPDATE/MERGE assignment values, eq-delete key
    * writes): a Spark TIMESTAMP feeding a TIMESTAMP_NS field converts via
    * unix_micros×1000 — a bare cast to the BIGINT carrier would yield epoch
    * SECONDS, silently corrupting the value by 1e9. A LONG source is taken
    * as already-exact nanos; everything else is a plain storage-type cast.
    * `srcType` is the column's ANALYZED type (from the frame schema, or
    * [[resolvedType]] for free-standing assignment Columns). */
  private def convertTo(c: Column, fld: Field,
      srcType: Option[DataType]): Column =
    if (fld.dtype.equalsIgnoreCase("TIMESTAMP_NS") &&
      srcType.contains(org.apache.spark.sql.types.TimestampType))
      unix_micros(c) * 1000L
    else c.cast(fld.sparkDdl)

  /** Analyzed Spark type of `c` over `df` — analysis only, no job. None
    * when the column doesn't resolve (caller falls back to a plain cast). */
  private def resolvedType(df: DataFrame, c: Column): Option[DataType] =
    scala.util.Try(df.select(c).schema.head.dataType).toOption

  private def alignToSchema(df: DataFrame, m: TableMetadata): DataFrame = {
    val sch = m.currentSchema
    df.select(sch.fields.map { fld =>
      if (df.columns.contains(fld.name))
        convertTo(col(fld.name), fld, Some(df.schema(fld.name).dataType)).as(fld.name)
      // omitted column: writers materialize the V3 write-default
      // (falling back to the add-time initial-default, per spec)
      else fld.writeFill.map(d => expr(d).cast(fld.sparkDdl)).getOrElse(lit(null).cast(fld.sparkDdl)).as(fld.name)
    }: _*)
  }

  // ---------------------------------------------------------------- reading

  /** Scan one schema-homogeneous group of files, projecting physical
    * field-id columns to the CURRENT schema: present → rename+cast (handles
    * rename + type widening), absent → default or null (metadata-only adds,
    * README.md:1159–1166). `nameMapped` groups (ADOPTED foreign Iceberg
    * files, [[IceLite.adopt]]) store the schema's LOGICAL names instead of
    * `f<id>` — same projection, addressed through the file schema's names
    * (pinned at adoption, so later renames still resolve by field id). */
  private def scanGroup(
      m: TableMetadata, files: Seq[DataFile], fileSchemaId: Int, lineage: Boolean,
      proj: TableSchema, nameMapped: Boolean = false,
      rowLineage: Boolean = false): DataFrame = {
    val fsch = m.schema(fileSchemaId)
    val stored = (fl: Field) => if (nameMapped) fl.name else fl.physName
    // V3 row lineage: rewritten files carry materialized `_row_id` /
    // `_last_updated_sequence_number` parquet columns; reading them on
    // files that lack them yields nulls, which the inheritance rule in
    // readRowLineage fills (firstRowId + pos / the file's seq)
    val matFields =
      if (rowLineage) Seq(
        StructField(IceLite.RowIdCol, DataType.fromDDL("bigint"), nullable = true),
        StructField(IceLite.LastUpdatedCol, DataType.fromDDL("bigint"), nullable = true))
      else Seq()
    val physSchema = StructType(fsch.fields.map(fl =>
      StructField(stored(fl), DataType.fromDDL(fl.sparkDdl), nullable = true)) ++ matFields)
    val base = spark.read.schema(physSchema).parquet(files.map(_.path): _*)
    val cols = proj.fields.map { fld =>
      if (fsch.hasId(fld.id)) col(stored(fsch.byId(fld.id))).cast(fld.sparkDdl).as(fld.name)
      else fld.defaultSql.map(d => expr(d).cast(fld.sparkDdl))
        .getOrElse(lit(null).cast(fld.sparkDdl)).as(fld.name)
    }
    val lin =
      if (lineage) Seq(
        col("_metadata.file_path").as("_file"),
        col("_metadata.row_index").as("_pos"))
      else Seq()
    val mat = matFields.map(f => col(f.name))
    base.select(lin ++ mat ++ cols: _*)
  }

  private def scanSnapshot(m: TableMetadata, snap: Snapshot, lineage: Boolean,
      prune: Map[String, String] => Boolean,
      statFilters: Seq[Stats.StatFilter] = Seq(),
      // time travel projects through the SNAPSHOT's schema (Iceberg's
      // snapshot-scoped-schema semantics); live reads use the current one
      snapshotSchema: Boolean = false,
      // surface materialized V3 lineage parquet columns (readRowLineage)
      rowLineage: Boolean = false): DataFrame = {
    val proj =
      if (snapshotSchema && snap.schemaId >= 0) m.schema(snap.schemaId)
      else m.currentSchema
    // two-level pruning, driver-side against metadata only: manifest
    // CHUNKS are discarded against their partition/stat summaries first
    // (skipped chunks are never parsed — candidates()), then the surviving
    // chunks' entries are pruned file-by-file on partition values +
    // per-file column stats. Filters name columns of `proj`, so a
    // time-travel filter resolves through the snapshot's own schema
    val files = snap.files.candidates(proj, prune, statFilters).filter(df =>
      prune(df.partition) && statFilters.forall(flt =>
        Stats.mayContain(df, m.schema(df.schemaId), proj, flt)))
    maxPlannedFiles.updateAndGet(prev => math.max(prev, files.size))
    if (files.isEmpty) {
      val empty = StructType(proj.fields.map(f =>
        StructField(f.name, DataType.fromDDL(f.sparkDdl), nullable = true)))
      val lin = if (lineage)
        StructType(Seq(StructField("_file", DataType.fromDDL("string")),
          StructField("_pos", DataType.fromDDL("bigint")))) else StructType(Seq())
      val mat = if (rowLineage)
        StructType(Seq(StructField(IceLite.RowIdCol, DataType.fromDDL("bigint")),
          StructField(IceLite.LastUpdatedCol, DataType.fromDDL("bigint"))))
        else StructType(Seq())
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(lin ++ mat ++ empty))
    }
    // delete-manifest pruning: chunks whose summaries cannot apply to the
    // planned files (all-eq at or below every planned seq, or a pos path
    // range missing every planned path) are never parsed — candidates()
    val (eqDels, posDels) = snap.deletes.candidates(files).partition(_.kind == "eq")
    val needLineage = lineage || posDels.nonEmpty || eqDels.nonEmpty
    val unioned = files.groupBy(f => (f.schemaId, f.nameMapped)).toSeq.sortBy(_._1)
      .map { case ((sid, nm), fs0) =>
        scanGroup(m, fs0, sid, needLineage, proj, nm, rowLineage) }
      .reduce(_ unionAll _)
    // merge-on-read: positional deletes applied as a BROADCAST per-file
    // position filter inside the scan — the data side never joins or
    // shuffles (the scale-killer a global (_file,_pos) anti-join becomes at
    // 100 TB). The broadcast is a DeleteIndex holding only the snapshot's
    // delete-file PATHS — O(delete files) driver memory, no Spark job at
    // plan time; each scan task lazily loads the sorted position array for
    // its own data files executor-side (file_path predicate pushed to the
    // delete parquets' row groups — they are written sorted by file_path).
    // Each data row then does a codegen'd memoized binary search
    // (functions.PositionLive — keeps the vectorized scan inside one
    // whole-stage-codegen span, where a UDF would cut it). The index makes
    // each task's `_metadata.file_path` canonical once per file, behind its
    // memo, so no per-row path work happens. At extreme delete densities
    // the arrays would be compressed bitmaps (Iceberg's puffin DVs) — same
    // shape — and compaction materializes deletes to keep them bounded.
    val afterPos =
      if (posDels.isEmpty) unioned
      else {
        val bc = spark.sparkContext.broadcast(
          DeleteIndex.build(posDels, spark))
        unioned.filter(org.apache.spark.sql.graft.SparkShims.columnOf(
          graft.functions.PositionLive(
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("_file"),
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("_pos"), bc)))
      }
    // equality deletes: an eq delete at sequence S removes matching rows
    // from data files with seq < S only — rows re-inserted AFTER the
    // delete (higher seq) survive. ONE null-safe anti-join per DISTINCT
    // equality_ids set (the spec matches NULL keys to NULL): the keys of
    // all the set's delete files union, each carrying its delete's
    // sequence, reduced to the max per key — a row is deleted ⟺ some
    // matching delete has row.seq < delete.seq ⟺ row.seq < max matching
    // seq. Plan depth is O(distinct key sets) however many delete commits
    // the table accumulated. Each row's data sequence comes from the
    // codegen'd per-file lookup (functions.FileLineage), and the key side
    // is BROADCAST — eq delete files are key-only and small by contract —
    // so the 100 TB data side neither joins a lookup table nor shuffles.
    val afterDeletes =
      if (eqDels.isEmpty) afterPos
      else {
        val index = lineageIndex(files)
        val withSeq = afterPos.withColumn("_iseq", coalesce(
          org.apache.spark.sql.graft.SparkShims.columnOf(graft.functions.FileLineage(
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("_file"), index,
            graft.functions.LineageIndex.Sequence)),
          // an unresolved sequence would silently resurrect deleted rows
          raise_error(concat(lit("data file sequence unresolved for "), col("_file")))
            .cast("bigint")))
        eqDels.groupBy(_.eqFieldIds.sorted).toSeq.sortBy(_._1.mkString(","))
          .foldLeft(withSeq) { case (d, (ids, dels)) =>
            val fields = ids.map { id =>
              require(proj.hasId(id), s"equality delete ${dels.head.path} keys field " +
                s"$id, which schema ${proj.schemaId} does not declare")
              proj.byId(id)
            }
            val keys = dels.sortBy(_.path)
              .map(del => eqKeys(del, fields).withColumn("_dseq", lit(del.seq)))
              .reduce(_ unionByName _)
              .groupBy(fields.map(f => col(s"_k_${f.name}")): _*)
              .agg(max("_dseq").as("_dseq"))
            val cond = fields.map(f => d(f.name) <=> keys(s"_k_${f.name}"))
              .reduce(_ && _) && d("_iseq") < keys("_dseq")
            d.join(broadcast(keys), cond, "left_anti")
          }
          .drop("_iseq")
      }
    if (lineage) afterDeletes else afterDeletes.drop("_file", "_pos")
  }

  /** The key columns of one equality-delete file as `_k_<name>`, cast to
    * `fields`' types. A key column resolves by the file's parquet field id
    * (Iceberg's rule: the key survives a rename after the delete was
    * written), else by IceLite's physical `f<id>` name, else by the
    * logical name (id-less foreign writers). The explicit schema comes
    * from one memoized footer read, so no schema-inference job runs. */
  private def eqKeys(del: DeleteFile, fields: Seq[Field]): DataFrame = {
    val (byId, fileSchema) = IcebergInterop.parquetFooterSchema(
      del.path, spark.sessionState.newHadoopConf())
    val stored = fileSchema.fieldNames.toSet
    spark.read.schema(fileSchema).parquet(del.path)
      .select(fields.map { f =>
        val c = byId.getOrElse(f.id, if (stored(f.physName)) f.physName else f.name)
        col(c).cast(f.sparkDdl).as(s"_k_${f.name}")
      }: _*)
  }

  /** Per-file `(firstRowId, seq)` for [[graft.functions.FileLineage]],
    * one entry per file under its canonical path. */
  private def lineageIndex(files: Seq[DataFile])
      : org.apache.spark.broadcast.Broadcast[graft.functions.LineageIndex] =
    spark.sparkContext.broadcast(new graft.functions.LineageIndex(
      files.map(f => f.path -> Array(f.firstRowId.getOrElse(-1L), f.seq)).toMap))

  /** Read the current snapshot (optionally manifest-pruned by partition
    * values — the pruning happens on the driver against metadata, so a
    * pruned read never even lists the excluded files). */
  def read(prune: Map[String, String] => Boolean = _ => true,
      statFilters: Seq[Stats.StatFilter] = Seq()): DataFrame =
    readAt(meta, prune, statFilters)

  /** [[read]] against a CALLER-PINNED metadata — multi-step consumers
    * (the Iceberg export, which writes a manifest FROM the same state it
    * reads data from) pin one versionedMeta and pass it through, so a
    * commit landing mid-operation cannot split what they see. */
  private[icelite] def readAt(m: TableMetadata,
      prune: Map[String, String] => Boolean = _ => true,
      statFilters: Seq[Stats.StatFilter] = Seq()): DataFrame =
    m.currentSnapshot match {
      case Some(s) => scanSnapshot(m, s, lineage = false, prune, statFilters)
      case None    => scanSnapshot(m, Snapshot(0, None, 0, "empty", Seq(), Seq()),
        lineage = false, prune, statFilters)
    }

  /** Iceberg V3 row lineage: the current snapshot plus `_row_id` (a
    * stable per-row identity assigned as a disjoint block per data file
    * at commit, preserved by MoR deletes for free — the file is untouched
    * — and by materializing rewrites) and `_last_updated_sequence_number`
    * (the data sequence of the commit that last produced the row). The
    * V3 inheritance rule: a MATERIALIZED parquet value wins; a null
    * materialized value, or a file never rewritten, inherits
    * `firstRowId + row position` / the file's own sequence. Files
    * written before lineage tracking surface null `_row_id`.
    *
    * Scale shape: the per-file constants ride a broadcast variable that a
    * codegen'd lookup expression ([[graft.functions.FileLineage]]) probes
    * with the scan's `_metadata.file_path` — O(data files) driver
    * metadata, no Spark job to ship it, and the 100 TB data side neither
    * joins, shuffles nor leaves whole-stage codegen. */
  def readRowLineage(): DataFrame = {
    val m = meta
    m.currentSnapshot match {
      case None =>
        val outCols = m.currentSchema.fields.map(f => col(f.name)) ++
          Seq(col(IceLite.RowIdCol), col(IceLite.LastUpdatedCol))
        scanSnapshot(m, Snapshot(0, None, 0, "empty", Seq(), Seq()),
          lineage = true, _ => true, rowLineage = true).select(outCols: _*)
      case Some(snap) => readRowLineageAt(m, snap)
    }
  }

  /** [[readRowLineage]] against a pinned (metadata, snapshot) — also the
    * SOURCE for materializing rewrites (compaction reads this and writes
    * the two lineage columns into its output parquet verbatim) and for
    * the lineage-bearing Iceberg export ([[IcebergExport]]). */
  private[icelite] def readRowLineageAt(m: TableMetadata, snap: Snapshot,
      statFilters: Seq[Stats.StatFilter] = Seq(),
      // keep `_file`/`_pos` too (MoR update needs them for its deletes)
      keepFilePos: Boolean = false,
      // project through the snapshot's own schema (time-travel exports)
      snapshotSchema: Boolean = false): DataFrame = {
    val proj =
      if (snapshotSchema && snap.schemaId >= 0) m.schema(snap.schemaId)
      else m.currentSchema
    val outCols = proj.fields.map(f => col(f.name)) ++
      Seq(col(IceLite.RowIdCol), col(IceLite.LastUpdatedCol)) ++
      (if (keepFilePos) Seq(col("_file"), col("_pos")) else Seq())
    // lineage-less snapshot (pre-lineage table, REST-only writer): every
    // id is null by definition — skip the broadcast lookup AND the
    // materialized-column scan entirely; the m.nextRowId > 0 short-circuit
    // means the listing is only forced on genuinely lineage-less tables
    if (m.nextRowId == 0 && !snap.dataFiles.exists(f =>
        f.firstRowId.isDefined || f.materializedLineage)) {
      val df = scanSnapshot(m, snap, lineage = keepFilePos, _ => true,
        statFilters, snapshotSchema = snapshotSchema)
      return df.select(proj.fields.map(f => col(f.name)) ++
        Seq(lit(null).cast("bigint").as(IceLite.RowIdCol),
          lit(null).cast("bigint").as(IceLite.LastUpdatedCol)) ++
        (if (keepFilePos) Seq(col("_file"), col("_pos")) else Seq()): _*)
    }
    val df = scanSnapshot(m, snap, lineage = true, _ => true, statFilters,
      snapshotSchema = snapshotSchema, rowLineage = true)
    val index = lineageIndex(snap.dataFiles)
    def lineageOf(slot: Int): Column =
      org.apache.spark.sql.graft.SparkShims.columnOf(graft.functions.FileLineage(
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("_file"), index, slot))
    df.withColumn(IceLite.RowIdCol, coalesce(col(IceLite.RowIdCol),
        lineageOf(graft.functions.LineageIndex.FirstRowId) + col("_pos")))
      .withColumn(IceLite.LastUpdatedCol, coalesce(col(IceLite.LastUpdatedCol),
        lineageOf(graft.functions.LineageIndex.Sequence)))
      .select(outCols: _*)
  }

  /** Time travel: VERSION AS OF (README.md:1007). */
  def readAsOf(snapshotId: Long): DataFrame = readAsOfAt(meta, snapshotId)

  /** [[readAsOf]] against a caller-pinned metadata — see [[readAt]]. */
  private[icelite] def readAsOfAt(m: TableMetadata, snapshotId: Long): DataFrame =
    readSnapshotAt(m, Some(m.snapshot(snapshotId)))

  /** Time travel: TIMESTAMP AS OF (README.md:1010) — latest snapshot ≤ ts. */
  def readAsOfTimestamp(ms: Long): DataFrame = {
    val m = meta
    readSnapshotAt(m, Some(m.snapshotAt(ms)))
  }

  /** One snapshot of a caller-pinned metadata, manifest-pruned by
    * `statFilters`: the current snapshot (`asOf = None`) through the
    * current schema, or a time-travel snapshot through its own schema.
    * The SQL scan ([[connector.IceLiteScan]]) reads through here. */
  private[icelite] def readSnapshotAt(m: TableMetadata, asOf: Option[Snapshot],
      statFilters: Seq[Stats.StatFilter] = Seq()): DataFrame = asOf match {
    case None       => readAt(m, statFilters = statFilters)
    case Some(snap) => scanSnapshot(m, snap, lineage = false, _ => true,
      statFilters, snapshotSchema = true)
  }

  private def readWithLineage(m: TableMetadata, snap: Snapshot): DataFrame =
    scanSnapshot(m, snap, lineage = true, _ => true)

  /** Incremental (CDC-style) read: rows ADDED between two snapshots — the
    * files present in `toSnapshot` but not in `fromSnapshot` (Iceberg's
    * incremental append scan). Metadata-only planning: the file-set diff
    * is computed on the driver from the two manifests; only the added
    * files are scanned, so consuming a day of appends on a 100 TB table
    * reads a day of data. Positional deletes recorded by `toSnapshot`
    * still apply (a row appended then MoR-deleted within the range does
    * not surface). */
  def readAppendedBetween(fromSnapshotId: Long, toSnapshotId: Long): DataFrame =
    readAppendedBetweenAt(meta, fromSnapshotId, toSnapshotId)

  /** [[readAppendedBetween]] against a caller-pinned metadata — see
    * [[readAt]]. */
  private[icelite] def readAppendedBetweenAt(m: TableMetadata,
      fromSnapshotId: Long, toSnapshotId: Long,
      rowLineage: Boolean = false): DataFrame = {
    require(fromSnapshotId <= toSnapshotId,
      s"from $fromSnapshotId must be <= to $toSnapshotId")
    val from = m.snapshot(fromSnapshotId)
    val to = m.snapshot(toSnapshotId)
    val before = from.dataFiles.map(_.path).toSet
    // every snapshot in the range must only ADD files (append, MoR delete,
    // metadata DDL): a CoW rewrite / compaction / rollback in the range
    // re-adds carried rows as "new" files, which is not "appended rows" —
    // fail loudly instead of surfacing duplicates (Iceberg's incremental
    // append scan makes the same refusal).
    var prev = before
    m.snapshots.filter(s => s.id > fromSnapshotId && s.id <= toSnapshotId)
      .sortBy(_.id).foreach { s =>
        val cur = s.dataFiles.map(_.path).toSet
        require(prev.subsetOf(cur),
          s"incremental read across snapshot ${s.id} (${s.operation}) is ambiguous: " +
            "it rewrote or removed files; read full snapshots instead")
        prev = cur
      }
    val added = to.dataFiles.filterNot(f => before.contains(f.path))
    if (rowLineage) readRowLineageAt(m, to.copy(dataFiles = added))
    else scanSnapshot(m, to.copy(dataFiles = added), lineage = false, _ => true)
  }

  /** CDC changelog read (Iceberg's `create_changelog_view`): the row-level
    * changes between two snapshots as table columns + `_change_type`
    * ('insert' | 'delete'; an update surfaces as its delete+insert pair)
    * + `_commit_version` (the snapshot that made the change).
    *
    * Planning is metadata-only: each snapshot step diffs FILE SETS on the
    * driver, and only changed files are ever scanned — consuming a day of
    * commits on a 100 TB table reads the day's churn, not the table.
    * Per step:
    *  - pure "replace" snapshots (compaction / z-order) are skipped — a
    *    physical rewrite is not a logical change;
    *  - added-file rows vs removed-file rows go through null-safe
    *    full-row anti-joins so carried rows cancel (a CoW rewrite re-adds
    *    every kept row; only genuinely changed rows surface). The joins
    *    are scoped to the step's changed files only;
    *  - newly added MoR delete files surface the deleted rows by scanning
    *    the surviving files with the step's NEW delete index inverted
    *    (rows that stop being live are the deletes) — no data rewrite was
    *    ever done, and none is needed to report the change.
    *
    * Expired intermediate snapshots degrade gracefully: steps diff against
    * the latest surviving predecessor, preserving net-change semantics.
    * Caveat (shared with set-based CDC generally): rows fully identical
    * across ALL columns collapse in the anti-join diff, so multiplicity
    * changes of exact duplicates under CoW are not individually reported.
    *
    * `rowLineage = true` (Iceberg V3): every change row also carries
    * (`_row_id`, `_last_updated_sequence_number`), so an UPDATE's
    * delete+insert pair shares a stable `_row_id` — consumers pair
    * updates by row identity instead of delete+insert value heuristics.
    * The anti-join diff then cancels on identity too, so exact-duplicate
    * rows (distinct `_row_id`s) no longer collapse — the caveat above
    * disappears in lineage mode. */
  def readChangesBetween(fromSnapshotId: Long, toSnapshotId: Long,
      rowLineage: Boolean = false): DataFrame = {
    require(fromSnapshotId <= toSnapshotId,
      s"from $fromSnapshotId must be <= to $toSnapshotId")
    val m = meta
    val names = m.currentSchema.fields.map(_.name).toSeq
    val steps = m.snapshots
      .filter(s => s.id > fromSnapshotId && s.id <= toSnapshotId).sortBy(_.id)
    // from=0 (or an expired id) means "since before the first surviving
    // snapshot": diff starts from an empty base
    var base = m.snapshots.find(_.id == fromSnapshotId).getOrElse(
      Snapshot(fromSnapshotId, None, 0, "empty", Seq(), Seq()))
    val parts = steps.flatMap { cur =>
      val out =
        if (cur.operation == "replace") Seq() // compaction/z-order: no logical change
        else stepChanges(m, base, cur, names, rowLineage)
      base = cur
      out
    }
    if (parts.isEmpty) {
      val st = StructType(m.currentSchema.fields.map(f =>
        StructField(f.name, DataType.fromDDL(f.sparkDdl), nullable = true)) ++
        (if (rowLineage)
          Seq(StructField(IceLite.RowIdCol, DataType.fromDDL("bigint")),
            StructField(IceLite.LastUpdatedCol, DataType.fromDDL("bigint")))
         else Seq()) ++
        Seq(StructField("_change_type", DataType.fromDDL("string")),
          StructField("_commit_version", DataType.fromDDL("bigint"))))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
    } else parts.reduce(_ unionAll _)
  }

  /** One changelog step: net changes prev → cur (see readChangesBetween). */
  private def stepChanges(m: TableMetadata, prev: Snapshot, cur: Snapshot,
      names: Seq[String], rowLineage: Boolean = false): Seq[DataFrame] = {
    val prevSet = prev.dataFiles.map(_.path).toSet
    val curSet = cur.dataFiles.map(_.path).toSet
    val added = cur.dataFiles.filterNot(f => prevSet(f.path))
    val removed = prev.dataFiles.filterNot(f => curSet(f.path))
    // lineage mode: diff and stamp over the V3 identity columns too
    val outCols =
      if (rowLineage) names ++ Seq(IceLite.RowIdCol, IceLite.LastUpdatedCol)
      else names
    def scan(sn: Snapshot): DataFrame =
      if (rowLineage) readRowLineageAt(m, sn)
      else scanSnapshot(m, sn, lineage = false, _ => true)
    val addedDf = if (added.isEmpty) None
      else Some(scan(cur.copy(dataFiles = added)))
    val removedDf = if (removed.isEmpty) None
      else Some(scan(prev.copy(dataFiles = removed)))
    val (ins, del) = (addedDf, removedDf) match {
      case (Some(a), Some(r)) =>
        // CoW rewrite: carried rows appear on both sides — cancel them with
        // null-safe full-row anti-joins, scoped to this step's files only.
        // In lineage mode identity+stamp join the condition, so an
        // updated row (same _row_id, new _last_updated) survives both
        // sides while carried rows (identical throughout) cancel.
        def diff(l: DataFrame, rt: DataFrame) =
          l.join(rt, outCols.map(n => l(n) <=> rt(n)).reduce(_ && _), "left_anti")
        (Some(diff(a, r)), Some(diff(r, a)))
      case _ => (addedDf, removedDf)
    }
    // merge-on-read: delete files added this step kill rows in SURVIVING
    // data files — scan those as of prev, keep rows the new index marks dead
    val prevDel = prev.deleteFiles.map(_.path).toSet
    val newDel = cur.deleteFiles.filterNot(d => prevDel(d.path))
    val (newEqDel, newPosDel) = newDel.partition(_.kind == "eq")
    val common = cur.dataFiles.filter(f => prevSet(f.path))
    val morDel =
      if (newPosDel.isEmpty || common.isEmpty) None
      else {
        val visPrev =
          if (rowLineage) readRowLineageAt(m, prev.copy(dataFiles = common),
            keepFilePos = true)
          else scanSnapshot(m, prev.copy(dataFiles = common),
            lineage = true, _ => true)
        val bc = spark.sparkContext.broadcast(
          DeleteIndex.build(newPosDel, spark))
        Some(visPrev.filter(!org.apache.spark.sql.graft.SparkShims.columnOf(
          graft.functions.PositionLive(
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("_file"),
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("_pos"), bc)))
          .drop("_file", "_pos"))
      }
    // equality deletes added this step kill PREV-visible rows of carried
    // files with a lower seq that match the key set. Visibility is "as of
    // prev" (prev's own deletes still apply), so a row already dead before
    // this step is not re-reported. If several eq deletes land in one step
    // (only possible when intermediate snapshots were expired), a row
    // matched by more than one is reported once per matching delete.
    val eqDel = newEqDel.flatMap { d =>
      val appl = common.filter(_.seq < d.seq)
      if (appl.isEmpty) None
      else {
        val fields = d.eqFieldIds.map(m.currentSchema.byId)
        val keys = eqKeys(d, fields).distinct()
        // null-safe: mirrors the read path — the changelog reports the
        // same NULL-keyed rows as deleted that the read drops
        val visible = scan(prev.copy(dataFiles = appl))
        val cond = fields.map(f => visible(f.name) <=> col(s"_k_${f.name}")).reduce(_ && _)
        Some(visible.join(broadcast(keys), cond, "left_semi"))
      }
    }
    def stamp(df: DataFrame, kind: String): DataFrame =
      df.select(outCols.map(col): _*)
        .withColumn("_change_type", lit(kind))
        .withColumn("_commit_version", lit(cur.id))
    (del.toSeq ++ morDel.toSeq ++ eqDel).map(stamp(_, "delete")) ++
      ins.toSeq.map(stamp(_, "insert"))
  }

  // ---------------------------------------------------------------- DML

  /** UPDATE … SET … WHERE (README.md:954–956), copy-on-write: only files
    * containing matching rows are rewritten; untouched files carry over. */
  def update(cond: Column, assignments: Map[String, Column]): Unit = {
    val (v, m) = versionedMeta
    if (m.properties.getOrElse("write.update.mode", "copy-on-write") == "merge-on-read")
      updateMor(m, cond, assignments)
    else updateCow(v, m, cond, assignments)
    autoMaintain()
  }

  /** Merge-on-read UPDATE (Iceberg v2 `write.update.mode=merge-on-read`):
    * ONE commit carries (a) position-delete entries for every matched row
    * and (b) new data files holding the matched rows with assignments
    * applied — write cost is O(matched rows), never O(touched file
    * bytes), the same promise as [[deleteMor]] extended to updates (a
    * CoW update of 1 row in a 1 GB file rewrites the GB; this writes two
    * tiny files). The read path needs nothing new: positions mask the old
    * versions, the appended files carry the new ones. Concurrency posture
    * extends deleteMor's: positions reference files of the scanned
    * snapshot, so the commit re-verifies they are still live — AND that no
    * NEW delete files (position or equality) landed since the scan.
    * Without the second check an update racing a MoR DELETE on
    * overlapping rows would re-append updated copies of rows the delete
    * removed (resurrection): the delete's positions mask only the OLD
    * copies, never the update's fresh files. Iceberg's MoR update
    * validation (validateNoNewDeleteFiles) aborts for the same reason.
    * Either conflict aborts and deletes the files it wrote. */
  private def updateMor(m: TableMetadata, cond: Column,
      assignments: Map[String, Column]): Unit = {
    val snap = m.currentSnapshot.getOrElse(return)
    // V3 row lineage: the re-appended updated copies keep their `_row_id`
    // (materialized) and null `_last_updated_sequence_number` so the
    // inheritance rule stamps them with the update commit's sequence
    val df = readRowLineageAt(m, snap,
      IceLite.statFiltersFromCondition(cond), keepFilePos = true)
    val matched = df.filter(cond).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val pos0 = matched
        .select(canonicalCol("_file", IceLite.canonicalUri).as("file_path"), col("_pos").as("pos"))
      // same observe-on-the-write-pass shape as deleteMor: the touched
      // set for rebase validation rides the delete write, no second read
      val obs = org.apache.spark.sql.Observation(s"mor-upd-${UUID.randomUUID()}")
      val pos = pos0.observe(obs, collect_set(col("file_path")).as("touched"))
      val dels = writePosDeleteFiles(pos, m)
      if (dels.isEmpty) return
      // every matched row satisfies cond — apply assignments directly
      val rewritten = matched.select(m.currentSchema.fields.map { fld =>
        assignments.get(fld.name)
          .map(a => convertTo(a, fld, resolvedType(matched, a)).as(fld.name))
          .getOrElse(col(fld.name))
      } ++ Seq(col(IceLite.RowIdCol),
        lit(null).cast("bigint").as(IceLite.LastUpdatedCol)): _*)
      val newFiles = writeFiles(rewritten, m, m.currentSchemaId, m.defaultSpec,
        extraPhysCols = Seq(IceLite.RowIdCol, IceLite.LastUpdatedCol))
        .map(_.copy(materializedLineage = true))
      val touchedPaths = IceLite.observedPaths(obs, "touched")
        .getOrElse(referencedDataPaths(dels))
      val scannedDeletes = snap.deleteFiles.map(_.path).toSet
      val scannedDelRefs = snap.deletes.manifests.map(_.path).toSet
      try commitWithRetry { cur =>
        val cs = cur.currentSnapshot.getOrElse(sys.error("table emptied concurrently"))
        val live = cs.dataFiles.map(_.path).toSet
        if (!touchedPaths.subsetOf(live))
          throw new IceLite.ConcurrentRewriteException(
            "merge-on-read update conflicts with a concurrent rewrite: " +
              "referenced data files were replaced; re-run the update")
        // a concurrent DELETE that added delete files since the scan may
        // cover rows this update re-appends as fresh copies the delete's
        // positions can never mask — resurrection; abort conservatively
        if (hasNewDeletesSince(cs, scannedDelRefs, scannedDeletes))
          throw new IceLite.ConcurrentRewriteException(
            "merge-on-read update conflicts with concurrent deletes: new " +
              "delete files appeared since the scanned snapshot; re-run the update")
        val sq = nextSeq(cur)
        (newSnapshotDL(cur, "update",
          cs.files.append(newFiles.map(_.copy(seq = sq))),
          cs.deletes.append(dels.map(_.copy(seq = sq)))),
          s"update (mor) ${dels.map(_.rows).sum} positions")
      } catch {
        case e: IceLite.ConcurrentRewriteException =>
          // stale positions must never commit
          val f = fs(spark, location)
          (dels.map(_.path) ++ newFiles.map(_.path)).foreach(p => f.delete(new Path(p), false))
          throw e
      }
    } finally matched.unpersist()
  }

  private def updateCow(v: Int, m: TableMetadata, cond: Column,
      assignments: Map[String, Column]): Unit = {
    val snap = m.currentSnapshot.getOrElse(return)
    // touched-file discovery scans only files whose stats admit the
    // condition (conservative manifest pruning; cond is re-applied anyway)
    val filters = IceLite.statFiltersFromCondition(cond)
    val df = scanSnapshot(m, snap, lineage = true, _ => true, filters)
    val touched = df.filter(cond).select("_file").distinct().collect()
      .map(r => IceLite.canonicalUri(r.getString(0))).toSet
    if (touched.isEmpty) return
    // hit resolution goes through the SAME pruned candidate set the scan
    // used (cache hits), never snap.dataFiles — forcing the full file
    // table here would undo the chunk-scoped CoW on a 10M-file table
    val hit = touchedFiles(snap.files.candidates(m.currentSchema, _ => true, filters), touched)
    // V3 row lineage: carried AND updated rows keep their `_row_id` (the
    // row's identity survives an update — that's what lineage is for);
    // updated rows null their `_last_updated_sequence_number` so the
    // inheritance rule re-stamps them with THIS commit's sequence
    val hitDf = readRowLineageAt(m, snap.copy(dataFiles = hit))
    val rewritten = hitDf.select(m.currentSchema.fields.map { fld =>
      assignments.get(fld.name)
        .map(a => when(cond, convertTo(a, fld, resolvedType(hitDf, a)))
          .otherwise(col(fld.name)).as(fld.name))
        .getOrElse(col(fld.name))
    } ++ Seq(col(IceLite.RowIdCol),
      when(coalesce(cond, lit(false)), lit(null))
        .otherwise(col(IceLite.LastUpdatedCol)).as(IceLite.LastUpdatedCol)): _*)
    val newFiles = writeFiles(rewritten, m, m.currentSchemaId, m.defaultSpec,
      extraPhysCols = Seq(IceLite.RowIdCol, IceLite.LastUpdatedCol))
      .map(_.copy(materializedLineage = true))
    commitCowRewrite(v, m, snap, touched, newFiles,
      IceLite.statFiltersFromCondition(cond), "update", s"update rewrote ${hit.size} files")
  }

  /** The entries of the files a copy-on-write scan `touched`; a touched
    * file without one would have its rows silently skipped. */
  private def touchedFiles(candidates: Seq[DataFile], touched: Set[String]): Seq[DataFile] = {
    val hit = candidates.filter(f => touched.contains(f.path))
    val missing = touched -- hit.map(_.path)
    require(missing.isEmpty,
      s"icelite: scanned files with no manifest entry: ${missing.take(3).mkString(", ")}")
    hit
  }

  /** DELETE WHERE — copy-on-write (README.md:959–960) or merge-on-read
    * deletion vectors (README.md:1111–1121) per
    * `write.delete.mode` (README.md:1113, M18). */
  def delete(cond: Column): Unit = {
    val (v, m) = versionedMeta
    if (m.properties.getOrElse("write.delete.mode", "copy-on-write") == "merge-on-read")
      deleteMor(m, cond)
    else deleteCow(v, m, cond)
    autoMaintain()
  }

  private def deleteCow(v: Int, m: TableMetadata, cond: Column): Unit = {
    val snap = m.currentSnapshot.getOrElse(return)
    val filters = IceLite.statFiltersFromCondition(cond)
    val df = scanSnapshot(m, snap, lineage = true, _ => true, filters)
    val touched = df.filter(cond).select("_file").distinct().collect()
      .map(r => IceLite.canonicalUri(r.getString(0))).toSet
    if (touched.isEmpty) return
    // pruned candidates, not snap.dataFiles — see updateCow
    val hit = touchedFiles(snap.files.candidates(m.currentSchema, _ => true, filters), touched)
    // V3 row lineage: the surviving (carried) rows keep their ids —
    // materialized into the rewritten files
    val hitDf = readRowLineageAt(m, snap.copy(dataFiles = hit))
    // SQL DELETE removes only rows where cond is TRUE; a NULL condition
    // (three-valued logic) KEEPS the row, so the kept-rows filter must be
    // NOT(coalesce(cond, false)) — a bare !cond maps NULL→NULL and would
    // silently drop NULL-condition rows from the rewritten files.
    val newFiles = writeFiles(
      hitDf.filter(!coalesce(cond, lit(false))), m, m.currentSchemaId, m.defaultSpec,
      extraPhysCols = Seq(IceLite.RowIdCol, IceLite.LastUpdatedCol))
      .map(_.copy(materializedLineage = true))
    commitCowRewrite(v, m, snap, touched, newFiles,
      IceLite.statFiltersFromCondition(cond), "delete", s"delete (cow) rewrote ${hit.size} files")
  }

  /** Merge-on-read DELETE: write (file, pos) tuples — no data rewrite; the
    * read path filters them out with a broadcast per-file position set.
    * Exactly the V3 deletion-vector promise: delete cost is proportional to
    * deleted rows, not file sizes. */
  /** Write one (file_path, pos) position-delete set under deletes/.
    * Globally sorted by (file_path, pos): a scan task resolving its own
    * file's positions (DeleteIndex) prunes to the row groups covering
    * that file via parquet min/max stats, and the loaded runs are sorted.
    * Returns one manifest entry per written file (none when no positions
    * matched).
    *
    * `write.delete.vector.enabled=true` switches the carrier to bitmap
    * DELETION VECTORS — the V3 representation the reference describes
    * (README.md:1098–1108): per-data-file `deletion-vector-v1` blobs in
    * Puffin containers ([[PuffinDv]], the Iceberg-V3 wire format, readable
    * by real V3 readers), written executor-side (positions repartitioned
    * by data file, one container per non-empty task). Contiguous ranges,
    * the ones predicates actually kill, serialize as roaring run
    * containers, so they cost O(runs) on disk. Readers dispatch on the
    * extension, so parquet and Puffin deletes coexist in one snapshot and
    * toggling the property migrates a table live. */
  private def writePosDeleteFiles(pos: DataFrame,
      m: TableMetadata): Seq[DeleteFile] =
    if (m.properties.get("write.delete.vector.enabled").contains("true"))
      writeDeleteVectors(pos)
    else
      // hash-cluster by data file + sort within, NOT a global sort: a
      // global sort schedules a range-sampling job per delete (a steady
      // per-DML tax), while hash clustering keeps each data file's
      // positions WHOLE in one part (range boundaries can split a file)
      // with the same sorted-run / row-group-pruning property DeleteIndex
      // reads through — part path ranges may overlap across parts, which
      // costs at most an extra min/max stat check per lookup, never a
      // correctness difference
      writeDeleteParquet(pos.repartition(col("file_path"))
        .sortWithinPartitions("file_path", "pos"))

  /** DV write path: per-file sorted positions → roaring blobs, one
    * `.puffin` container per non-empty task partition. Distributed —
    * positions never collect to the
    * driver; the driver sees only per-file (container, file, count)
    * summaries, O(touched files).
    * `numParts` pins the container count (the delete-file rewrite's
    * merge target); DML paths default to the session shuffle
    * parallelism. */
  private def writeDeleteVectors(pos: DataFrame,
      numParts: Option[Int] = None): Seq[DeleteFile] = {
    val outStr = new Path(location, "deletes").toString
    val confB = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    import spark.implicits._
    // one shuffle keyed on the data file: each task owns whole files and
    // emits their blobs into its own container
    val posTyped = pos
      .select(col("file_path").cast("string"), col("pos").cast("long"))
      .as[(String, Long)]
    val summaries: Array[(String, String, Long)] = numParts
      .fold(posTyped.repartition(col("file_path")))(n =>
        posTyped.repartition(n, col("file_path")))
      .mapPartitions { it =>
        val byFile = scala.collection.mutable.LinkedHashMap[String,
          scala.collection.mutable.ArrayBuilder.ofLong]()
        it.foreach { case (fp, p) =>
          byFile.getOrElseUpdate(fp, new scala.collection.mutable.ArrayBuilder.ofLong) += p
        }
        if (byFile.isEmpty) Iterator.empty
        else {
          val entries = byFile.toSeq.sortBy(_._1).map { case (fp, b) =>
            val arr = b.result(); java.util.Arrays.sort(arr)
            fp -> arr
          }
          val p = new Path(outStr, s"dv-${UUID.randomUUID()}${PuffinDv.Ext}")
          val written = PuffinDv.write(p, entries, confB.value)
          written.iterator.map(bm => (p.toString, bm.refDataFile, bm.cardinality))
        }
      }.collect()
    summaries.groupBy(_._1).toSeq.sortBy(_._1).map { case (dvPath, es) =>
      val paths = es.map(_._2)
      DeleteFile(IceLite.canonicalPath(dvPath), es.map(_._3).sum, kind = "pos",
        pathLo = Some(paths.min), pathHi = Some(paths.max))
    }
  }

  /** Write an already-arranged (file_path, pos) frame under `deletes/`
    * through the one [[TaskWriter]]: one file per non-empty task, each
    * reporting its row count and its `file_path` range, harvested from
    * the footer it just wrote — the delete-manifest pruning summary (the
    * rows are canonical, so planning compares the bounds against
    * DataFile paths directly). Callers choose the arrangement: DML paths
    * cluster by data file and sort within, so DeleteIndex's per-data-file
    * predicate prunes to contiguous row groups; the delete-file rewrite
    * range-partitions itself. */
  private def writeDeleteParquet(pos: DataFrame): Seq[DeleteFile] =
    TaskWriter.write(pos, new Path(location, "deletes").toString).map(w =>
      DeleteFile(w.path, w.rows, pathLo = w.pathBounds.map(_._1), pathHi = w.pathBounds.map(_._2)))

  private def deleteMor(m: TableMetadata, cond: Column): Unit = {
    val snap = m.currentSnapshot.getOrElse(return)
    val df = scanSnapshot(m, snap, lineage = true, _ => true,
      IceLite.statFiltersFromCondition(cond))
    val pos0 = df.filter(cond)
      .select(canonicalCol("_file", IceLite.canonicalUri).as("file_path"), col("_pos").as("pos"))
    // observe the touched data-file set ON the delete-write pass itself —
    // the validation input rides the job that must run anyway instead of
    // a second read over the just-written delete files (one fewer
    // scheduled job per MoR delete); referencedDataPaths stays as the
    // fallback if the observation doesn't materialize
    val obs = org.apache.spark.sql.Observation(s"mor-del-${UUID.randomUUID()}")
    val pos = pos0.observe(obs, collect_set(col("file_path")).as("touched"))
    val files = writePosDeleteFiles(pos, m)
    if (files.isEmpty) return
    // The positions reference specific data files of the scanned snapshot.
    // A rebase is only sound while those files are still live: a concurrent
    // CoW rewrite / compaction / rollback replaces them, and attaching the
    // stale positions would make this "successful" delete a silent no-op
    // (the read path ignores positions for unknown files). Harvest the
    // touched paths from the write pass's observation (metadata-scale) and
    // verify them inside every retry attempt.
    val touchedPaths = IceLite.observedPaths(obs, "touched")
      .getOrElse(referencedDataPaths(files))
    try commitWithRetry { cur =>
      val cs = cur.currentSnapshot.getOrElse(sys.error("table emptied concurrently"))
      val live = cs.dataFiles.map(_.path).toSet
      if (!touchedPaths.subsetOf(live))
        throw new IceLite.ConcurrentRewriteException(
          "merge-on-read delete conflicts with a concurrent rewrite: " +
            "referenced data files were replaced; re-run the delete")
      (newSnapshotDL(cur, "delete", cs.files, cs.deletes.append(files)),
        s"delete (mor) ${files.map(_.rows).sum} positions")
    } catch {
      case e: IceLite.ConcurrentRewriteException =>
        // the positions are stale; never commit them
        val f = fs(spark, location)
        files.foreach(d => f.delete(new Path(d.path), false))
        throw e
    }
  }

  /** Data-file paths a set of position-delete files references — the
    * MoR rebase-validation input. Dispatches on the carrier: Puffin
    * containers answer from their footer (driver-side, O(footer)); parquet
    * deletes from a column-pruned distinct scan. */
  private def referencedDataPaths(dels: Seq[DeleteFile]): Set[String] = {
    val (dv, pq) = dels.map(_.path).partition(IceLite.isDvPath)
    val conf = spark.sessionState.newHadoopConf()
    val fromDv = dv.flatMap(p =>
      PuffinDv.blobs(new Path(p), conf).map(_.refDataFile))
    val fromPq =
      if (pq.isEmpty) Seq()
      else spark.read.schema("file_path STRING, pos BIGINT")
        .parquet(pq: _*)
        .select("file_path").distinct().collect().map(_.getString(0)).toSeq
    (fromDv ++ fromPq).toSet
  }

  /** Path column `c` made canonical by `canon`, once per run of equal
    * paths ([[graft.functions.CanonicalPath]]). */
  private def canonicalCol(c: String, canon: String => String): Column =
    org.apache.spark.sql.graft.SparkShims.columnOf(graft.functions.CanonicalPath(
      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(c), canon))

  /** (file_path, pos) rows of a mixed parquet/Puffin position-delete set
    * — what the delete-file rewrite merges — with every stored path made
    * canonical, so foreign and native rows for one data file merge.
    * Puffin containers expand executor-side (one task per container). */
  private def posDeleteRows(dels: Seq[DeleteFile]): DataFrame = {
    import spark.implicits._
    val (dv, pq) = dels.map(_.path).partition(IceLite.isDvPath)
    val confB = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val pqDf =
      if (pq.isEmpty) None
      else Some(spark.read.schema("file_path STRING, pos BIGINT").parquet(pq: _*))
    val dvDf =
      if (dv.isEmpty) None
      else Some(spark.createDataset(dv).repartition(math.max(1, dv.size))
        .flatMap(p => PuffinDv.expand(new Path(p), confB.value))
        .toDF("file_path", "pos"))
    (pqDf.toSeq ++ dvDf.toSeq).reduce(_ unionByName _)
      .select(canonicalCol("file_path", IceLite.canonicalPath).as("file_path"), col("pos"))
  }

  /** Write one equality-delete key set under deletes/ (physical `f<id>`
    * column names, distinct keys). Returns one manifest entry per written
    * parquet part, seq left 0 — the COMMIT lambda stamps it. */
  private def writeEqDeleteFiles(keys: DataFrame, fields: Seq[Field]): Seq[DeleteFile] = {
    val phys = keys.distinct()
      .select(fields.map(f => convertTo(col(f.name), f,
        scala.util.Try(keys.schema(f.name).dataType).toOption).as(f.physName)): _*)
    // key sets are broadcast at read — they are small by contract, and one
    // file keeps the read-side group count at one per delete commit
    TaskWriter.write(phys.coalesce(1), new Path(location, "deletes").toString)
      .map(w => DeleteFile(w.path, w.rows, "eq", fields.map(_.id)))
  }

  /** Merge-on-read equality DELETE: drop every row whose key columns match
    * a row of `keys` — WITHOUT scanning the table (contrast [[deleteMor]],
    * which runs the predicate over the data to find positions). Cost is
    * O(keys) at write; the read path anti-joins the broadcast key set
    * against data files with a LOWER sequence number only, so rows
    * re-inserted after the delete are untouched. This is the delete shape
    * a high-rate CDC/streaming pipeline needs at 100 TB: delete latency
    * independent of table size. Commits rebase freely: content-addressed
    * deletes reference no file, so no ConcurrentRewrite check is needed. */
  def deleteEq(keys: DataFrame): Unit = {
    val m = meta
    val fields = keys.columns.toSeq.map(m.currentSchema.fieldByName)
    require(fields.nonEmpty, "equality delete needs at least one key column")
    // check BEFORE writing the key files — erroring after would leak them
    // until the orphan sweep (the commit lambda still re-checks, for a
    // table concurrently rolled back to empty)
    require(m.currentSnapshot.nonEmpty, "cannot delete from an empty table")
    val dels = writeEqDeleteFiles(keys, fields)
    if (dels.isEmpty) return
    commitWithRetry { cur =>
      val cs = cur.currentSnapshot.getOrElse(sys.error("cannot delete from an empty table"))
      val s = nextSeq(cur)
      (newSnapshotDL(cur, "delete", cs.files, cs.deletes.append(dels.map(_.copy(seq = s)))),
        s"delete (eq) ${dels.map(_.rows).sum} keys on ${fields.map(_.name).mkString(",")}")
    }
    autoMaintain()
  }

  /** Streaming-style upsert: ONE commit that equality-deletes the source
    * keys and appends the source rows. Delete and new files share a
    * sequence number — the delete applies to strictly-older files only,
    * never to the rows it rides with (Iceberg v2 upsert semantics, what
    * Flink's upsert writer emits per checkpoint). No target scan, no
    * join: upsert cost is O(source) regardless of table size — the MERGE
    * alternative reads and rewrites every matched file. Source rows are
    * appended as-is; a key appearing twice in `rows` lands twice (dedup
    * upstream if the source is not key-unique). */
  def upsertEq(rows: DataFrame, keyCols: Seq[String]): Unit = {
    val m = meta
    val fields = keyCols.map(m.currentSchema.fieldByName)
    require(fields.nonEmpty, "upsert needs at least one key column")
    val files = writeFiles(alignToSchema(rows, m), m, m.currentSchemaId, m.defaultSpec)
    if (files.isEmpty) return // empty source: nothing to delete or add
    // derive the delete keys from the files just written, not from `rows`:
    // the source lineage (often an expensive query) is computed ONCE; the
    // key read-back is a column-pruned scan of the new parquet only.
    // Explicit key schema (the files were written by THIS call under the
    // current schema): no footer-inference job — same fix as
    // upsertEqIfNewBatch's epoch reads
    val dels = writeEqDeleteFiles(
      spark.read
        .schema(StructType(fields.map(fl =>
          StructField(fl.physName, DataType.fromDDL(fl.sparkDdl), nullable = true))))
        .parquet(files.map(_.path): _*)
        .select(fields.map(f => col(f.physName).as(f.name)): _*),
      fields)
    commitWithRetry { cur =>
      val cs = cur.currentSnapshot
      val s = nextSeq(cur)
      (newSnapshotDL(cur, "overwrite",
        cs.map(_.files).getOrElse(FileListing.empty).append(files.map(_.copy(seq = s))),
        cs.map(_.deletes).getOrElse(DeleteListing.empty).append(dels.map(_.copy(seq = s)))),
        s"upsert (eq) ${files.map(_.rows).sum} rows on ${keyCols.mkString(",")}")
    }
    autoMaintain()
  }

  /** MERGE INTO … ON key WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED
    * THEN INSERT * (README.md:963–967). ANSI semantics: a target row
    * matching >1 source rows is an error. CoW: rewrites only files holding
    * matched rows; inserts append.
    *
    * Job shape: the plan follows the source's form. A source whose rows
    * already sit on the driver (its optimized plan is a local relation —
    * a SQL `USING view` over local rows, `Seq.toDF` — within
    * `spark.sql.autoBroadcastJoinThreshold`) is collected with no job and
    * planned on the driver: the duplicate check, the key range and the
    * insert set need no job, discovery is one exchange-free key-filtered
    * scan, and the rewrite joins the hit files with the local source —
    * four jobs for a small MERGE into a partitioned table, nothing
    * cached. Any other source keeps the distributed plan: the source and
    * the target's (key, _file)
    * projection are cached (at 100 TB two columns wide, spilling to
    * disk), one small agg over the cached source serves the duplicate
    * check and the key range, and discovery and the insert anti-join
    * reuse both caches. The commit note names the plan that ran. */
  def merge(source: DataFrame, key: String): Unit = { mergeImpl(source, key, None); () }

  /** Idempotent streaming upsert: MERGE whose commit also records
    * `batchId` in the table properties — a replayed foreachBatch id is
    * detected and skipped, upgrading restart-replayed micro-batch upserts
    * to exactly-once (the MERGE sibling of [[appendIfNewBatch]]). Returns
    * false when the batch was already merged. */
  def mergeIfNewBatch(batchId: Long, source: DataFrame, key: String): Boolean =
    mergeImpl(source, key, Some(batchId))

  private def mergeImpl(source: DataFrame, key: String, batchId: Option[Long]): Boolean = {
    // the reference shape — SET * / INSERT * — expressed as clauses over
    // the general machinery (source pre-aligned to the target schema so
    // star expansion is exact)
    val sch = meta.currentSchema
    val srcAligned = source.select(sch.fields.map(f =>
      convertTo(col(f.name), f,
        scala.util.Try(source.schema(f.name).dataType).toOption).as(f.name)): _*)
    val matched = Seq(IceLite.MergeUpdate(None,
      sch.fields.filter(_.name != key).map(f => f.name -> col(s"_s_${f.name}")).toMap))
    val notMatched = Seq(IceLite.MergeInsert(None,
      sch.fields.map(f => f.name -> col(s"_s_${f.name}")).toMap))
    mergeClausesImpl(srcAligned, key, key, matched, notMatched, Seq(), batchId)
  }

  /** General MERGE: differing key names, conditional matched / not-matched
    * clauses, DELETE actions, and WHEN NOT MATCHED BY SOURCE. Clause
    * conditions and assignment values are Columns over the joined frame:
    * target columns by their own names, source columns prefixed `_s_`.
    * Clauses apply first-match-wins per row (ANSI MERGE); a matched row no
    * clause applies to is kept unchanged.
    *
    * Scale shape (same as the star-action path, driver or distributed by
    * source form — see [[merge]]): discovery finds the files holding
    * matched rows, only those are rewritten (CoW); untouched files carry
    * over by reference. WHEN NOT MATCHED BY SOURCE inspects every target
    * row, so it rewrites all files — that is its semantics, not an
    * implementation shortcut. A MERGE with only NOT MATCHED clauses
    * changes no target row, so it rewrites no file and commits the
    * inserts alone. */
  def mergeClauses(source: DataFrame, targetKey: String, sourceKey: String,
      matched: Seq[IceLite.MergeClause], notMatched: Seq[IceLite.MergeInsert],
      notMatchedBySource: Seq[IceLite.MergeClause] = Seq()): Unit = {
    mergeClausesImpl(source, targetKey, sourceKey, matched, notMatched, notMatchedBySource, None)
    ()
  }

  private def mergeClausesImpl(source: DataFrame, targetKey: String, sourceKey: String,
      matched: Seq[IceLite.MergeClause], notMatched: Seq[IceLite.MergeInsert],
      notMatchedBySource: Seq[IceLite.MergeClause], batchId: Option[Long]): Boolean = {
    require(matched.forall(!_.isInstanceOf[IceLite.MergeInsert]),
      "MERGE: INSERT is not a matched action")
    require(notMatchedBySource.forall(!_.isInstanceOf[IceLite.MergeInsert]),
      "MERGE: INSERT is not a not-matched-by-source action")
    val bkey = "streaming.last-merged-batch-id"
    val (v, m) = versionedMeta
    if (batchId.exists(b => m.properties.get(bkey).exists(_.toLong >= b))) return false
    def withBatch(nm: TableMetadata): TableMetadata =
      batchId.fold(nm)(b => nm.copy(properties = nm.properties + (bkey -> b.toString)))
    val sch = m.currentSchema
    val srcPrefixed = source.select(source.columns.map(c => col(c).as(s"_s_$c")): _*)
    val sKey = col(s"_s_$sourceKey")
    // `lin = true` appends the two V3 lineage columns (null when the
    // frame lacks them — inserts inherit fresh ids from the file block)
    def aligned(df: DataFrame, lin: Boolean = false): DataFrame = {
      val has = df.columns.contains(IceLite.RowIdCol)
      def linCol(c: String) =
        (if (has) col(c) else lit(null).cast("bigint")).as(c)
      val linCols =
        if (lin) Seq(linCol(IceLite.RowIdCol), linCol(IceLite.LastUpdatedCol))
        else Seq()
      df.select(sch.fields.map(f =>
        convertTo(col(f.name), f,
          scala.util.Try(df.schema(f.name).dataType).toOption).as(f.name)) ++
        linCols: _*)
    }
    // first applicable insert clause per unmatched source row (none → no insert)
    def insertRows(candidates: DataFrame): Option[DataFrame] =
      if (notMatched.isEmpty) None
      else {
        val iAct = notMatched.zipWithIndex.foldRight(lit(-1)) { case ((cl, i), els) =>
          when(cl.condition.getOrElse(lit(true)), lit(i)).otherwise(els) }
        val withAct = candidates.withColumn("_act", iAct).filter(col("_act") >= 0)
        Some(withAct.select(sch.fields.map { f =>
          val fallback: Column = f.writeFill.map(d => expr(d)).getOrElse(lit(null))
          notMatched.zipWithIndex.foldRight(fallback) { case ((cl, i), els) =>
            cl.assignments.get(f.name)
              .map(a => when(col("_act") === i, a).otherwise(els)).getOrElse(els)
          }.as(f.name)
        }: _*))
      }
    // the ANSI cardinality check (a target row matching >1 source rows is
    // an error whenever a matched clause could fire); null keys count as
    // one group
    def rejectDuplicates(found: Boolean): Unit =
      if (matched.nonEmpty && found) sys.error(s"MERGE: duplicate source rows on key $sourceKey")
    // an insert-only MERGE changes no target row: it replaces no file
    val insertOnly = matched.isEmpty && notMatchedBySource.isEmpty
    // Iceberg-style dynamic discovery pruning: a matched target row's key
    // necessarily lies inside [min, max] of the SOURCE keys (the small
    // side of a MERGE by construction), and a target row OUTSIDE that
    // range can neither match a source row nor change the unmatched-source
    // insert set. So on a key-sorted/clustered table a narrow-band MERGE
    // scans O(matching files), not O(table), during discovery. NOT
    // MATCHED BY SOURCE inspects every target row — no pruning.
    def keyRangeOf(bounds: Option[(Any, Any)]): Seq[Stats.StatFilter] =
      bounds.filter(_ => notMatchedBySource.isEmpty).toSeq.flatMap { case (lo, hi) =>
        IceLite.statFiltersFromCondition(col(targetKey) >= lit(lo) && col(targetKey) <= lit(hi))
      }
    def mergeIntoEmpty(src: DataFrame): Unit = { // only insert clauses can fire
      val rows = insertRows(src).map(aligned(_))
        .getOrElse(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(sch.fields.map(f => StructField(f.name, DataType.fromDDL(f.sparkDdl))))))
      val newFiles = writeFiles(rows, m, m.currentSchemaId, m.defaultSpec)
      commitFrom(v, withBatch(newSnapshot(m, "merge", newFiles, Seq())),
        s"merge into empty table: ${newFiles.map(_.rows).sum} inserts")
    }
    // rewrite the `touched` files joined with `src`, add the insert rows,
    // commit as one validated copy-on-write rewrite
    def rewriteAndCommit(snap: Snapshot, touched: Set[String], src: DataFrame,
        inserts: Option[DataFrame], keyRange: Seq[Stats.StatFilter], plan: String): Unit = {
      // pruned candidates when the key range scoped discovery — forcing
      // snap.dataFiles would undo chunk-scoped CoW (the NOT MATCHED BY
      // SOURCE branch reads every file by semantics)
      val hit =
        if (touched.isEmpty) Seq()
        else touchedFiles(
          if (notMatchedBySource.nonEmpty) snap.dataFiles
          else snap.files.candidates(m.currentSchema, _ => true, keyRange), touched)
      val rewritten = if (hit.isEmpty) None else {
        // V3 row lineage rides the rewrite: kept rows keep both columns,
        // updated rows keep `_row_id` (the row's identity survives its
        // update) and re-stamp `_last_updated_sequence_number` via
        // null-inheritance, inserts start fresh
        val hitDf = readRowLineageAt(m, snap.copy(dataFiles = hit))
        val joined = hitDf.join(src, col(targetKey) === sKey, "left_outer")
        val matchedFlag = sKey.isNotNull // equi-join: non-null iff matched
        // first-match-wins clause index per row; matched clauses count
        // from 0, not-matched-by-source from 1000, -1 = keep unchanged
        val mAct = matched.zipWithIndex.foldRight(lit(-1)) { case ((cl, i), els) =>
          when(cl.condition.getOrElse(lit(true)), lit(i)).otherwise(els) }
        val nAct = notMatchedBySource.zipWithIndex.foldRight(lit(-1)) { case ((cl, i), els) =>
          when(cl.condition.getOrElse(lit(true)), lit(1000 + i)).otherwise(els) }
        val withAct = joined.withColumn("_act",
          when(matchedFlag, mAct).otherwise(nAct))
        val delIdx: Seq[Int] =
          matched.zipWithIndex.collect { case (_: IceLite.MergeDelete, i) => i } ++
            notMatchedBySource.zipWithIndex.collect { case (_: IceLite.MergeDelete, i) => 1000 + i }
        val kept = if (delIdx.isEmpty) withAct
          else withAct.filter(!col("_act").isInCollection(delIdx))
        val updates: Seq[(IceLite.MergeUpdate, Int)] =
          matched.zipWithIndex.collect { case (u: IceLite.MergeUpdate, i) => (u, i) } ++
            notMatchedBySource.zipWithIndex.collect { case (u: IceLite.MergeUpdate, i) => (u, 1000 + i) }
        // assignment values convert at the point of use (convertTo):
        // a TIMESTAMP assigned to a TIMESTAMP_NS field must land as
        // nanos BEFORE the when() merges it with the BIGINT target
        // column (type coercion would otherwise corrupt or fail)
        Some(aligned(kept.select(sch.fields.map { f =>
          updates.foldRight(col(f.name)) { case ((u, i), els) =>
            u.assignments.get(f.name)
              .map(a => when(col("_act") === i,
                convertTo(a, f, resolvedType(kept, a))).otherwise(els)).getOrElse(els)
          }.as(f.name)
        } ++ Seq(col(IceLite.RowIdCol),
          when(col("_act") === -1, col(IceLite.LastUpdatedCol))
            .otherwise(lit(null)).as(IceLite.LastUpdatedCol)): _*), lin = true))
      }
      val newFiles = (rewritten ++ inserts.map(aligned(_, lin = true)))
        .reduceOption(_ unionByName _)
        .fold(Seq.empty[DataFile])(out =>
          writeFiles(out, m, m.currentSchemaId, m.defaultSpec,
            extraPhysCols = Seq(IceLite.RowIdCol, IceLite.LastUpdatedCol))
            .map(_.copy(materializedLineage = true)))
      commitCowRewrite(v, m, snap, touched, newFiles, keyRange, "merge",
        s"merge rewrote ${hit.size} files ($plan plan)", withBatch)
    }
    mergeKeyTypeOnDriver(srcPrefixed, sKey, sch, targetKey) match {
      case Some(keyType) =>
        // driver plan: the source's local rows are collected (no job),
        // with the key cast to the type the join compares in
        val keyCol = "_merge_key"
        val keyed = srcPrefixed.withColumn(keyCol, sKey.cast(keyType))
        val rows = keyed.collect()
        val ki = keyed.schema.fieldIndex(keyCol)
        // one partition: a local relation scans in up to one partition per
        // core, and the insert rows would land as that many tiny files
        def local(rs: Array[org.apache.spark.sql.Row]): DataFrame = spark
          .createDataFrame(java.util.Arrays.asList(rs: _*), keyed.schema).drop(keyCol)
          .coalesce(1)
        val keys = rows.map(_.get(ki))
        rejectDuplicates(keys.distinct.length < keys.length)
        val present = keys.filter(_ != null).distinct
        // the key range in Spark's order: strings compare as UTF-8 bytes,
        // which differs from Java's UTF-16 order past the BMP
        val ord: Ordering[Any] = keyType match {
          case _: org.apache.spark.sql.types.StringType => (a, b) =>
            org.apache.spark.unsafe.types.UTF8String.fromString(a.toString)
              .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b.toString))
          case _ => (a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b)
        }
        m.currentSnapshot match {
          case None => mergeIntoEmpty(local(rows))
          case Some(snap) =>
            val keyRange = keyRangeOf(
              if (present.isEmpty) None else Some((present.min(ord), present.max(ord))))
            // discovery: one exchange-free scan of the key-range-pruned
            // candidates (merge-on-read deletes applied) for the target
            // rows whose key is a source key → (file, key) pairs. Needed
            // for the touched files and for the insert set.
            val needPairs = present.nonEmpty &&
              (notMatched.nonEmpty || (!insertOnly && notMatchedBySource.isEmpty))
            val tKey = col(targetKey).cast(keyType)
            val pairs =
              if (!needPairs) Array.empty[org.apache.spark.sql.Row]
              else scanSnapshot(m, snap, lineage = true, _ => true, keyRange)
                .filter(tKey.isin(present.toIndexedSeq: _*))
                .select(col("_file"), tKey).collect()
            val touched =
              if (insertOnly) Set[String]()
              else if (notMatchedBySource.nonEmpty) snap.dataFiles.map(_.path).toSet
              else pairs.map(r => IceLite.canonicalUri(r.getString(0))).toSet
            // source rows with a null key or matching NO target row → insert candidates
            val matchedKeys = pairs.map(_.get(1)).toSet
            val unmatched = rows.filter(r => r.isNullAt(ki) || !matchedKeys.contains(r.get(ki)))
            val inserts = if (unmatched.isEmpty) None else insertRows(local(unmatched))
            rewriteAndCommit(snap, touched, local(rows), inserts, keyRange, "driver")
        }
      case None =>
        val src = srcPrefixed.persist(StorageLevel.MEMORY_AND_DISK)
        try {
          // ONE pass over the persisted source serves both the duplicate
          // check and the discovery key range
          val srcAgg = src.groupBy(sKey.as("_k")).agg(count(lit(1)).as("_c"))
            .agg(max(col("_c")),
              org.apache.spark.sql.functions.min(col("_k")).as("_kmin"),
              org.apache.spark.sql.functions.max(col("_k")).as("_kmax"))
            .head
          rejectDuplicates(!srcAgg.isNullAt(0) && srcAgg.getLong(0) > 1)
          m.currentSnapshot match {
            case None => mergeIntoEmpty(src)
            case Some(snap) =>
              val keyRange = keyRangeOf(
                if (srcAgg.isNullAt(1)) None else Some((srcAgg.get(1), srcAgg.get(2))))
              val tgtKeys = scanSnapshot(m, snap, lineage = true, _ => true, keyRange)
                .select(col(targetKey), col("_file")).persist(StorageLevel.MEMORY_AND_DISK)
              try {
                val touched =
                  if (insertOnly) Set[String]()
                  else if (notMatchedBySource.nonEmpty) snap.dataFiles.map(_.path).toSet
                  else tgtKeys.join(src.select(sKey.as("_sk")), col(targetKey) === col("_sk"), "left_semi")
                    .select("_file").distinct().collect().map(r => IceLite.canonicalUri(r.getString(0))).toSet
                // source rows matching NO target row anywhere → insert candidates
                val inserts = insertRows(src.join(
                  tgtKeys.select(col(targetKey).as("_tk")), sKey === col("_tk"), "left_anti"))
                rewriteAndCommit(snap, touched, src, inserts, keyRange, "distributed")
              } finally tgtKeys.unpersist()
          }
        } finally src.unpersist()
    }
    autoMaintain()
    true
  }

  /** The type a MERGE's key equality compares in, when the MERGE may be
    * planned on the driver; None selects the distributed plan. The
    * source's optimized plan must be a local relation, so collecting it
    * runs no job and copies rows the driver already holds, and its size
    * estimate must be within `spark.sql.autoBroadcastJoinThreshold` (-1
    * turns the driver plan off, as it turns off broadcast joins). A file
    * or computed source always takes the distributed plan, however small:
    * the driver plan is measured only on local rows. The compared type
    * must have exact value equality and ordering on the JVM: integral,
    * decimal, date, timestamp and binary-collated string keys. The type comes from analyzing the
    * join's own key equality, so the driver compares exactly what the
    * join would. */
  private def mergeKeyTypeOnDriver(src: DataFrame, sKey: Column, sch: TableSchema,
      targetKey: String): Option[DataType] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, EqualTo}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
    import org.apache.spark.sql.types._
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val field = scala.util.Try(sch.fieldByName(targetKey)).toOption
    val plan = src.queryExecution.optimizedPlan
    if (field.isEmpty || threshold < 0 || !plan.isInstanceOf[LocalRelation] ||
        plan.stats.sizeInBytes > BigInt(threshold)) None
    else (src.select((lit(null).cast(field.get.sparkDdl) === sKey).as("_eq"))
        .queryExecution.analyzed match {
      case Project(Seq(Alias(EqualTo(l, _), _)), _) => Some(l.dataType)
      case _ => None
    }).filter {
      case ByteType | ShortType | IntegerType | LongType | _: DecimalType |
          DateType | TimestampType | TimestampNTZType => true
      case s: StringType => s == StringType // default (UTF8_BINARY) collation
      case _ => false
    }
  }

  /** INSERT OVERWRITE: replace the whole table content in one snapshot.
    * Strict alignment: overwrite REPLACES all data, so a source missing a
    * schema column (typo, dropped projection) is an error — silently
    * null-filling it (append's lenient behavior) would corrupt the whole
    * table in one commit. Columns with declared defaults still fill. */
  def overwrite(df: DataFrame): Unit = {
    val (v, m) = versionedMeta
    val missing = m.currentSchema.fields
      .filter(f => !df.columns.contains(f.name) && f.writeFill.isEmpty)
    require(missing.isEmpty,
      s"overwrite source is missing schema columns without defaults: ${missing.map(_.name).mkString(", ")}")
    val files = writeFiles(alignToSchema(df, m), m, m.currentSchemaId, m.defaultSpec)
    commitFrom(v, newSnapshot(m, "overwrite", files, Seq()),
      s"overwrite with ${files.map(_.rows).sum} rows")
    autoMaintain()
  }

  // ------------------------------------------------------------ DDL / evolution

  /** ADD COLUMN [DEFAULT] (README.md:976, 1159–1166) — metadata-only; old
    * files read the default (or null) without any rewrite. Per the V3
    * spec, ADD COLUMN DEFAULT sets BOTH `initial-default` (the immutable
    * read fill, `defaultSql`) and the write default — here the write
    * default inherits `defaultSql` until [[setWriteDefault]] diverges it. */
  def addColumn(name: String, dtype: String, defaultSql: Option[String] = None,
      writeDefaultSql: Option[String] = None): Unit =
    commitWithRetry { m =>
      val sch = m.currentSchema
      require(!sch.fields.exists(_.name == name), s"column $name exists")
      val fid = m.lastFieldId + 1
      val next = sch.copy(
        schemaId = m.schemas.map(_.schemaId).max + 1,
        fields = sch.fields :+ Field(fid, name, dtype, defaultSql, writeDefaultSql))
      (m.copy(lastFieldId = fid, currentSchemaId = next.schemaId, schemas = m.schemas :+ next),
        s"add column $name $dtype${defaultSql.map(d => s" default $d").getOrElse("")}")
    }

  /** ALTER COLUMN SET DEFAULT — V3 `write-default`: changes the value new
    * writes materialize for an omitted column. Metadata-only, and ONLY
    * the write side: `initial-default` (the read fill for pre-add files)
    * is immutable per the spec, so existing files' reads are untouched.
    * Pass the SQL literal `"null"` for DROP DEFAULT.
    *
    * The default must be a FOLDABLE LITERAL (optionally cast/negated):
    * the fill resolves against each incoming DataFrame at write time and
    * serializes through [[IcebergExport.writeDefaultJson]] on export, so
    * a column reference would silently read a source column and a
    * non-deterministic call (now()) would fill different values per
    * write and be dropped at the export boundary — both rejected here
    * instead of diverging later. */
  def setWriteDefault(name: String, sql: String): Unit =
    commitWithRetry { m =>
      val sch = m.currentSchema
      val fld = sch.fieldByName(name)
      require(IceLite.isFoldableLiteral(spark, sql),
        s"write default for $name must be a literal, got: $sql")
      expr(sql).cast(fld.sparkDdl) // validate the literal parses + casts
      val next = sch.copy(
        schemaId = m.schemas.map(_.schemaId).max + 1,
        fields = sch.fields.map(f =>
          if (f.id == fld.id) f.copy(writeDefaultSql = Some(sql)) else f))
      (m.copy(currentSchemaId = next.schemaId, schemas = m.schemas :+ next),
        s"set write default $name = $sql")
    }

  /** ALTER COLUMN TYPE — metadata-only; old files cast up at read via the
    * field-id projection. Only lossless widenings are allowed, comparing
    * FULL parameterized types: INT→BIGINT / FLOAT→DOUBLE, DECIMAL(p,s)→
    * DECIMAL(p',s') with p'-s' ≥ p-s and s' ≥ s (every old value fits),
    * VARCHAR(n)→VARCHAR(n≥)|STRING. Narrowing is rejected — it would
    * silently null out overflowing old values via the read-path cast. */
  def updateColumnType(name: String, newType: String): Unit = {
    val (v, m) = versionedMeta
    val sch = m.currentSchema
    val fld = sch.fieldByName(name)
    require(IceLite.isWidening(fld.dtype, newType),
      s"cannot narrow ${fld.dtype} to $newType")
    val next = sch.copy(
      schemaId = m.schemas.map(_.schemaId).max + 1,
      fields = sch.fields.map(f => if (f.id == fld.id) f.copy(dtype = newType) else f))
    commitFrom(v, m.copy(currentSchemaId = next.schemaId, schemas = m.schemas :+ next),
      s"widen $name ${fld.dtype} -> $newType")
  }

  /** RENAME COLUMN (README.md:979) — metadata-only via field ids. */
  def renameColumn(from: String, to: String): Unit =
    commitWithRetry { m =>
      val sch = m.currentSchema
      val fld = sch.fieldByName(from)
      val next = sch.copy(
        schemaId = m.schemas.map(_.schemaId).max + 1,
        fields = sch.fields.map(f => if (f.id == fld.id) f.copy(name = to) else f))
      (m.copy(currentSchemaId = next.schemaId, schemas = m.schemas :+ next),
        s"rename $from -> $to")
    }

  /** ALTER TABLE … DROP COLUMN — metadata-only, like every IceLite DDL:
    * the field leaves the CURRENT schema; data files keep their physical
    * column (scans project by field id, so the dropped column is simply
    * never read) and historical snapshots read through their own schema
    * unchanged. The field id is never reused (`lastFieldId` is monotone),
    * so a later ADD COLUMN with the same name is a NEW field — old files'
    * orphaned values can never bleed into it. Refused for partition-source
    * and sort-order columns (their transforms would dangle). */
  def dropColumn(name: String): Unit =
    commitWithRetry { m =>
      val sch = m.currentSchema
      val fld = sch.fieldByName(name)
      require(sch.fields.size > 1, s"cannot drop the only column $name")
      require(!m.specs.exists(_.fields.exists(_.sourceId == fld.id)),
        s"$name is a partition source column; evolve the partition spec first")
      require(!m.properties.get("write.sort-order").exists(
        SortOrders.columns(_).contains(name)),
        s"$name is in the declared sort order; clear it first")
      // any RETAINED snapshot, not just the current one: time travel would
      // re-apply the eq delete through the current schema, where the
      // dropped field no longer resolves. Compact materializes the delete;
      // expire ages the old snapshots out — then the drop is safe.
      // eqFieldIdSet reads delete-chunk summaries + inline tail — the
      // guard never forces a delete manifest load
      require(!m.snapshots.exists(_.deletes.eqFieldIdSet.contains(fld.id)),
        s"$name keys an equality delete in a retained snapshot; " +
          "compact, then expire those snapshots first")
      val next = sch.copy(
        schemaId = m.schemas.map(_.schemaId).max + 1,
        fields = sch.fields.filterNot(_.id == fld.id))
      // drop the column's bloom-filter property in the same commit: left
      // behind, its fieldByName lookup in writeFiles would fail every
      // subsequent append/update/compact until manually unset
      val bloomProp = s"write.parquet.bloom-filter-enabled.column.$name"
      (m.copy(currentSchemaId = next.schemaId, schemas = m.schemas :+ next,
        properties = m.properties - bloomProp),
        s"drop column $name")
    }

  /** ALTER TABLE … ADD PARTITION FIELD (README.md:991–992): future writes
    * use the new spec; existing files keep theirs (per-file specId). */
  def setPartitionSpec(fields: Seq[(String, String)]): Unit =
    commitWithRetry { m =>
      val sch = m.currentSchema
      val specId = m.specs.map(_.specId).max + 1
      val sfs = fields.map { case (srcName, transform) =>
        val f = sch.fieldByName(srcName)
        SpecField(f.id, transform, IceLite.specFieldName(srcName, transform))
      }
      (m.copy(defaultSpecId = specId, specs = m.specs :+ PartitionSpec(specId, sfs)),
        s"set partition spec ${fields.mkString(",")}")
    }

  /** WRITE ORDERED BY — declare the table's sort order. Applies to every
    * subsequent write ([[writeFiles]] range-clusters + sorts on these
    * columns), so file-level min/max stats become an index over the sort
    * key: at 100 TB a point/range filter on the sort key plans down to a
    * handful of files instead of a full scan. Existing files are untouched
    * (re-cluster them with [[compact]]).
    *
    * Entries follow the [[SortOrders]] grammar — a bare column name, or
    * `truncate[4](code) desc nulls-last`-style transform/direction/null
    * order (full Iceberg sort-order expressiveness). */
  def setSortOrder(cols: Seq[String]): Unit =
    commitWithRetry { m =>
      val parsed = SortOrders.parse(cols.mkString(","))
      // validate against live schema + transforms, RESOLVED through
      // analysis — `day(a_bigint)` must fail this DDL, not the next write
      SortOrders.validate(spark, parsed, c => {
        val fld = m.currentSchema.fieldByName(c); (fld.physName, fld.dtype) })
      // a linear order supersedes any standing z-order hint (the
      // clusterings conflict — compactZOrder refuses the reverse)
      (m.copy(properties = m.properties - "write.zorder-by" +
        ("write.sort-order" -> SortOrders.render(parsed))),
        s"set sort order ${SortOrders.render(parsed)}")
    }

  /** SET TBLPROPERTIES (README.md:1113–1114). */
  def setProperties(props: Map[String, String]): Unit =
    commitWithRetry { m =>
      (m.copy(properties = m.properties ++ props),
        s"set properties ${props.keys.toSeq.sorted.mkString(",")}")
    }

  // ------------------------------------------------------------ maintenance

  /** Post-commit auto-maintenance (Iceberg-style table-property policies):
    * every successful DML commit checks the thresholds and runs the
    * corresponding maintenance exactly once per crossing —
    *  - `maintenance.auto.rewrite-deletes.file-threshold` = N: when the
    *    current snapshot carries ≥ N position-delete files, merge them
    *    ([[rewritePositionDeletes]] with the threshold as its no-op floor,
    *    so a racing writer's rebuilt attempt no-ops after the winner);
    *  - `maintenance.auto.compact.file-threshold` = N (+
    *    `maintenance.auto.compact.target-files`, default 8): when the data
    *    file count reaches N, compact.
    * Maintenance commits are `replace` snapshots — changelog-silent by the
    * existing CDC rule. Advisory by design: the triggering DML has already
    * committed, so a maintenance race (another writer compacted first, a
    * collision with a concurrent append) is swallowed — the next crossing
    * commit re-triggers. */
  private def autoMaintain(): Unit =
    try {
      val m = meta
      m.properties.get("maintenance.auto.rewrite-deletes.file-threshold")
        .map(_.toInt).foreach { thr =>
          // summary counts — the threshold check loads no delete chunk
          val n = m.currentSnapshot.map(_.deletes.posFileCount).getOrElse(0L)
          // clamp: rewritePositionDeletes requires minFiles >= 2, so a
          // threshold of 1 means "merge whenever 2+ files exist" instead of
          // throwing into the advisory catch on every commit
          if (n >= thr) { rewritePositionDeletes(1, minFiles = math.max(2, thr)); () }
        }
      m.properties.get("maintenance.auto.compact.file-threshold")
        .map(_.toInt).foreach { thr =>
          // load + threshold re-check + one-shot compact, RETRIED on a
          // commit collision: a racing writer's commit (append, another
          // policy's commit, a skip-trace) must not permanently cancel
          // this crossing's compaction. Exactly-once still holds — after
          // the winner's compaction the re-check is below threshold and
          // the loser no-ops.
          var attempts = 0
          var done = false
          while (!done) {
            attempts += 1
            val (v, cur) = versionedMeta
            val snap = cur.currentSnapshot
            if (!snap.exists(_.files.fileCount >= thr)) done = true
            else {
              val target = cur.properties
                .getOrElse("maintenance.auto.compact.target-files", "8").toInt
              try { compactFrom(v, cur, target); done = true }
              catch {
                case e @ (_: java.io.IOException | _: IceLite.CommitSupersededException) =>
                  if (attempts >= 3) throw e
                  Thread.sleep(30L + scala.util.Random.nextInt(50))
              }
            }
          }
        }
    } catch {
      // advisory: the triggering DML already committed — a maintenance
      // failure (lost race, exhausted retries) must not fail the caller.
      // The skip is surfaced as an OBSERVABLE table-metadata trace, not
      // just a stderr line a production operator would never see.
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[icelite] auto-maintenance skipped: ${e.getMessage}")
        recordMaintenanceSkip(e)
    }

  /** Best-effort `maintenance.last-skip` property commit (timestamped
    * reason) so a skipped advisory maintenance is visible in the table
    * metadata and its history log; a failure of the trace commit itself
    * degrades back to stderr — never to the DML caller. */
  private def recordMaintenanceSkip(e: Throwable): Unit =
    try commitWithRetry({ m =>
      (m.copy(properties = m.properties + ("maintenance.last-skip" ->
        s"${System.currentTimeMillis()}: ${Option(e.getMessage).getOrElse(e.getClass.getName)}")),
        s"auto-maintenance skipped: ${Option(e.getMessage).getOrElse(e.getClass.getName)}")
    }, retries = 2)
    catch {
      case scala.util.control.NonFatal(e2) =>
        System.err.println(s"[icelite] could not record maintenance skip: ${e2.getMessage}")
    }

  /** rewrite_data_files (README.md:1022): many small files → `target`
    * files. Logical content unchanged; MoR deletes are materialized. */
  def compact(target: Int): Unit = {
    val (v, m) = versionedMeta
    compactFrom(v, m, target)
  }

  private def compactFrom(v: Int, m: TableMetadata, target: Int): Unit = {
    val snap = m.currentSnapshot.getOrElse(return)
    // with a declared sort order, writeFiles range-clusters into `target`
    // files itself — repartitioning here too would just add a second
    // shuffle (and destroy the range clustering)
    // V3 row lineage: a compaction CARRIES rows, so their ids must
    // survive — the source read computes each row's id/last-updated and
    // the rewrite MATERIALIZES both as parquet columns (never-assigned
    // rows carry null and pick up fresh ids from the new file's block)
    val df0 = readRowLineageAt(m, snap)
    val df = if (m.properties.contains("write.sort-order")) df0 else df0.repartition(target)
    val newFiles = writeFiles(df, m, m.currentSchemaId, m.defaultSpec,
      targetFiles = Some(target),
      extraPhysCols = Seq(IceLite.RowIdCol, IceLite.LastUpdatedCol))
      .map(_.copy(materializedLineage = true))
    commitFrom(v, newSnapshot(m, "replace", newFiles, Seq()),
      s"compact ${snap.dataFiles.size} -> ${newFiles.size} files")
  }

  /** rewrite_position_delete_files (Iceberg's maintenance procedure;
    * README.md:1105–1121 motivates keeping the MoR read side cheap): merge
    * the snapshot's accumulated position-delete files into `target`
    * range-partitioned, internally-sorted files and drop DANGLING entries —
    * positions naming data files no longer live (a CoW rewrite replaces
    * the files it touches, stranding their recorded positions; harmless to
    * reads but carried forever otherwise). Data files are untouched, so
    * the cost is O(delete rows), not O(table) — the cheap counterpart to
    * [[compact]] when delete files pile up (MorDeleteLoadSpec measures the
    * per-scan probe overhead this collapses). Equality deletes are left in
    * place: their seq binds them to commit order, and Iceberg's procedure
    * likewise scopes to position deletes.
    *
    * Safe to merge because position deletes apply to the exact rows they
    * name regardless of seq ([[DeleteFile]] contract). The merged files
    * keep the max merged seq so sequence bookkeeping stays monotone.
    * Commit is optimistic-retry: on collision the merge is rebuilt against
    * the winner's metadata (a racing MoR delete's new file joins the next
    * attempt's input), and an abandoned attempt's parquet is a reclaimable
    * orphan. The referenced-file distinct is driver-side but bounded by
    * the live data-file count (metadata scale), same as DML planning. */
  def rewritePositionDeletes(target: Int = 1, minFiles: Int = 2): Boolean = {
    require(target >= 1, "target file count must be >= 1")
    require(minFiles >= 2, "a rewrite below 2 input files merges nothing")
    // the no-op check lives INSIDE the retry lambda: a racing compaction
    // can clear the delete files between a pre-check and the commit, and
    // the rebase must then bail (no empty commit) instead of merging air.
    // Auto-maintenance passes its threshold as minFiles, so a racing
    // trigger whose rebuilt attempt finds the winner already merged
    // no-ops instead of re-rewriting one file (exactly-once per crossing).
    object Noop extends Exception
    try {
      commitWithRetry { m =>
        val snap = m.currentSnapshot.getOrElse(throw Noop)
        // summary pre-check before forcing any delete chunk
        if (snap.deletes.posFileCount < minFiles) throw Noop
        val (eqDels, posDels) = snap.deleteFiles.partition(_.kind == "eq")
        if (posDels.size < minFiles) throw Noop
        // persist across the two passes (dangling scan + merged write): at
        // high delete-FILE counts the dominant cost is re-opening thousands
        // of tiny parquets, not the rows themselves. posDeleteRows expands
        // Puffin containers too, so the rewrite can MATERIALIZE deletion
        // vectors into the canonical merged parquet — the maintenance path
        // from either carrier to the other.
        val raw = posDeleteRows(posDels)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // dangling filter: subtract the rows of files no longer live with
        // a literal list (O(files)); posDeleteRows made the paths canonical
        val live = snap.dataFiles.map(_.path).toSet
        val dangling = raw.select("file_path").distinct().collect()
          .map(_.getString(0)).filterNot(live.contains)
        val kept = (if (dangling.isEmpty) raw
                    else raw.filter(!col("file_path").isInCollection(dangling)))
          .dropDuplicates("file_path", "pos")
          .repartitionByRange(target, col("file_path"), col("pos"))
          .sortWithinPartitions("file_path", "pos")
        // the rewrite HONORS the table's chosen carrier: a DV-enabled
        // table merges into `target` DV containers, others into the
        // canonical merged parquet
        val files =
          try {
            if (m.properties.get("write.delete.vector.enabled").contains("true"))
              writeDeleteVectors(kept, numParts = Some(target))
            else writeDeleteParquet(kept)
          } finally raw.unpersist()
        val sq = posDels.map(_.seq).max
        (newSnapshotL(m, "replace", snap.files,
          eqDels ++ files.map(_.copy(seq = sq))),
          s"rewrite ${posDels.size} position delete files -> ${files.size}" +
            (if (dangling.nonEmpty) s" (${dangling.length} dangling refs dropped)" else ""))
      }
      true // committed a rewrite snapshot
    } catch { case Noop => false }
  }

  /** Z-ORDER rewrite: cluster on the interleaved bit pattern of two
    * columns' equal-frequency bucket ranks, so BOTH dimensions' min/max
    * stats stay narrow per file — a predicate on either column (or both)
    * prunes files, where a plain sort order only serves its leading column.
    * Scale shape: both columns' quantile boundaries come from ONE
    * distributed sketch pass (multi-column approxQuantile — driver holds
    * 2×63 doubles), the bucket
    * mapping + bit interleave are narrow per-row arithmetic (codegen'd
    * shift/mask ops), and the write is one range shuffle on the z-value.
    * Two columns; more would interleave with stride N the same way. */
  def compactZOrder(target: Int, c1: String, c2: String): Unit = {
    val (v, m) = versionedMeta
    val snap = m.currentSnapshot.getOrElse(return)
    Seq(c1, c2).foreach(m.currentSchema.fieldByName)
    require(!m.properties.contains("write.sort-order"),
      "table declares a linear sort order; drop it before z-ordering (the clusterings conflict)")
    // row-lineage-carrying read: the z-order rewrite materializes ids
    val df0 = readRowLineageAt(m, snap)
    // 64 equal-frequency buckets per column (6 bits): robust to skew,
    // unlike equal-width bucketing; small enough that the comparison chain
    // stays comfortably inside one codegen'd method
    val probs = (1 to 63).map(_ / 64.0).toArray
    // ONE multi-column sketch pass: both dimensions' boundaries from a
    // single scan (nulls are ignored per column) — a rewrite that by
    // definition reads the whole table must not read it twice more first
    val allBounds = df0
      .select(col(c1).cast("double").as("_zc1"), col(c2).cast("double").as("_zc2"))
      .stat.approxQuantile(Array("_zc1", "_zc2"), probs, 0.001)
    def bucketExpr(c: String, rawBounds: Array[Double]): Column = {
      val bounds = rawBounds.distinct.sorted
      // bucket = #boundaries below the value, as ONE codegen'd expression
      // (binary search over a referenced double[]). The equivalent fold of
      // 63 chained when(v > b, 1) additions builds a ~130-node tree whose
      // optimize+Janino cost is seconds of driver time in EVERY stage that
      // evaluates the z-value (range sampling, then the write).
      org.apache.spark.sql.graft.SparkShims.columnOf(
        graft.functions.QuantileBucket(
          org.apache.spark.sql.graft.SparkShims.toExpression(
            col(c).cast("double")), bounds))
    }
    // spread 8 bits to even positions (morton magic numbers), interleave
    def spread(x: Column): Column = {
      val a = (x.bitwiseOR(shiftleft(x, 4))).bitwiseAND(lit(0x0F0F))
      val b = (a.bitwiseOR(shiftleft(a, 2))).bitwiseAND(lit(0x3333))
      (b.bitwiseOR(shiftleft(b, 1))).bitwiseAND(lit(0x5555))
    }
    val z = spread(bucketExpr(c1, allBounds(0)))
      .bitwiseOR(shiftleft(spread(bucketExpr(c2, allBounds(1))), 1))
    val clustered = df0.withColumn("_z", z)
      .repartitionByRange(target, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
    val newFiles = writeFiles(clustered, m, m.currentSchemaId, m.defaultSpec,
      extraPhysCols = Seq(IceLite.RowIdCol, IceLite.LastUpdatedCol))
      .map(_.copy(materializedLineage = true))
    // stamp the clustering hint: the Iceberg sort-order spec cannot
    // express a space-filling curve, so the z-order columns persist as a
    // table property — durable across reloads and carried by export/adopt
    commitFrom(v, newSnapshot(m, "replace", newFiles, Seq())
      .copy(properties = m.properties + ("write.zorder-by" -> s"$c1,$c2")),
      s"z-order rewrite on ($c1, $c2): ${snap.dataFiles.size} -> ${newFiles.size} files")
  }

  /** rollback_to_snapshot (README.md:1013): pointer swap via a NEW snapshot
    * whose file set is the target's — history preserved. */
  def rollbackTo(snapshotId: Long): Unit =
    commitWithRetry { m =>
      val tgt = m.snapshot(snapshotId)
      (newSnapshotDL(m, "rollback", tgt.files, tgt.deletes),
        s"rollback to $snapshotId")
    }

  /** expire_snapshots(older_than) (README.md:1025): drop old snapshots
    * (always keeping the current one), COMMIT the trimmed metadata FIRST,
    * and only then physically delete files no live snapshot references —
    * a failed commit can never leave live metadata pointing at deleted
    * files (worst case: the files linger as orphans for the next
    * removeOrphanFiles pass). */
  def expireSnapshots(olderThanMs: Long): Unit = {
    val m0 = meta
    val cur0 = m0.currentSnapshotId.getOrElse(return)
    if (!m0.snapshots.exists(s => s.timestampMs < olderThanMs && s.id != cur0)) return
    var toDelete: Seq[String] = Seq()
    var manifestsToDelete: Seq[String] = Seq()
    commitWithRetry { m =>
      val curId = m.currentSnapshotId.getOrElse(sys.error("empty table"))
      // every named ref's head stays live no matter its age — expiring a
      // branch head would silently truncate staged-but-unpublished work
      val pinned = m.refs.values.map(_.snapshotId).toSet + curId
      val (dead, live) = m.snapshots.partition(s =>
        s.timestampMs < olderThanMs && !pinned.contains(s.id))
      if (dead.isEmpty) { toDelete = Seq(); manifestsToDelete = Seq(); (m, "expire 0 snapshots") }
      else {
        val liveFiles = live.flatMap(s => s.dataFiles.map(_.path) ++ s.deleteFiles.map(_.path))
          .toSet
        toDelete = dead.flatMap(s => s.dataFiles.map(_.path) ++ s.deleteFiles.map(_.path))
          .filterNot(liveFiles.contains).distinct
        // manifest chunks (data AND delete) referenced ONLY by dead
        // snapshots go too — ref paths come from the listings, no chunk
        // load needed
        val liveManifests = live.flatMap(s =>
          s.files.manifests.map(_.path) ++
            s.deletes.manifests.map(_.path)).toSet
        manifestsToDelete = dead.flatMap(s =>
          s.files.manifests.map(_.path) ++ s.deletes.manifests.map(_.path))
          .filterNot(liveManifests.contains).distinct
        // adopted foreign-snapshot mappings whose native target just
        // expired go too: left behind they resolve `VERSION AS OF
        // <foreign id>` to a missing snapshot with a confusing indirect
        // error, and the property map of a long-lived adopted table
        // grows stale entries forever
        val liveIds = live.map(_.id).toSet
        val props = m.properties.filterNot { case (k, v) =>
          k.startsWith(TableMetadata.ForeignSnapshotProp) &&
            v.toLongOption.exists(nid => !liveIds.contains(nid))
        }
        (m.copy(snapshots = live, properties = props),
          s"expire ${dead.size} snapshots")
      }
    }
    val f = fs(spark, location)
    toDelete.foreach(p => f.delete(new Path(p), false))
    manifestsToDelete.foreach(p => store.delete(new Path(p)))
  }

  /** remove_orphan_files (README.md:1028): FS listing ∖ referenced files,
    * restricted to files OLDER than the grace threshold (default 3 h) — an
    * in-flight write whose tasks have written files into data/ but whose
    * commit has not landed yet must never be reclaimed (the same guard as Iceberg's
    * remove_orphan_files `older_than`). That holds only while the write,
    * from its first task to its commit, is shorter than the grace period:
    * a threshold later than a running write's start (a write longer than
    * the default, or an explicit near-now threshold) can delete files
    * that write then commits, leaving the commit with missing files. */
  def removeOrphanFiles(
      olderThanMs: Long = System.currentTimeMillis() - IceLite.OrphanGraceMs): Seq[String] = {
    val m = meta
    // a listing is canonical; stored paths are made so to compare (an
    // adopted delete file keeps its foreign spelling)
    val referenced = m.snapshots
      .flatMap(s => s.dataFiles.map(_.path) ++ s.deleteFiles.map(_.path))
      .map(IceLite.canonicalPath).toSet
    val f = fs(spark, location)
    val removed = scala.collection.mutable.ArrayBuffer[String]()
    for (dir <- Seq("data", "deletes")) {
      val d = new Path(location, dir)
      if (f.exists(d)) {
        val it = f.listFiles(d, true)
        while (it.hasNext) {
          val st = it.next()
          if (st.isFile && !referenced.contains(st.getPath.toString) &&
            st.getModificationTime < olderThanMs) {
            f.delete(st.getPath, false)
            removed += st.getPath.toString
          }
        }
      }
    }
    // manifest chunks stranded by collided commit attempts: same sweep,
    // referenced-set = every snapshot's manifest refs (paths only),
    // data and delete manifests alike
    val refManifests = m.snapshots.flatMap(s =>
      s.files.manifests.map(_.path) ++
        s.deletes.manifests.map(_.path)).map(IceLite.canonicalPath).toSet
    val mfDir = new Path(location, "metadata/manifests")
    if (f.exists(mfDir)) {
      val it = f.listFiles(mfDir, false)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && !refManifests.contains(st.getPath.toString) &&
          st.getModificationTime < olderThanMs) {
          f.delete(st.getPath, false)
          removed += st.getPath.toString
        }
      }
    }
    removed.toSeq
  }

  // ------------------------------------------------------------ refs (branches / tags)

  /** CREATE BRANCH — a movable named head for write-audit-publish staging:
    * writers land commits on the branch while readers of the table (and of
    * "main") never see them until [[fastForward]] publishes. Snapshots are
    * shared with the main log (branching is metadata-only — zero data copy,
    * exactly Iceberg's branch model). */
  def createBranch(name: String, fromSnapshotId: Option[Long] = None): Unit =
    commitWithRetry { m =>
      IceLite.validateRefName(name)
      require(!m.refs.contains(name), s"ref $name already exists")
      val base = fromSnapshotId.orElse(m.currentSnapshotId)
        .getOrElse(sys.error("cannot branch an empty table"))
      m.snapshot(base) // existence check
      (m.copy(refs = m.refs + (name -> Ref(base, "branch"))), s"create branch $name at $base")
    }

  /** CREATE TAG — an immutable named pin (release audit points). */
  def createTag(name: String, snapshotId: Long): Unit =
    commitWithRetry { m =>
      IceLite.validateRefName(name)
      require(!m.refs.contains(name), s"ref $name already exists")
      m.snapshot(snapshotId)
      (m.copy(refs = m.refs + (name -> Ref(snapshotId, "tag"))), s"create tag $name at $snapshotId")
    }

  def dropRef(name: String): Unit =
    commitWithRetry { m =>
      require(m.refs.contains(name), s"no ref $name")
      (m.copy(refs = m.refs - name), s"drop ref $name")
    }

  /** Read a named ref ("main" = the published table).
    *
    * Schema resolution mirrors the refs' semantics: a TAG is an immutable
    * historical pin, so it reads through its snapshot's own schema —
    * exactly like [[readAsOf]] time travel (DDL on main after the tag
    * must not reshape what the tag shows). A BRANCH is a moving write
    * target that will be published onto main, so it reads through the
    * CURRENT table schema (matching Iceberg's branch-read behavior —
    * staged rows are audited in the shape they will land in). */
  def readRef(name: String): DataFrame =
    if (name == "main") read()
    else {
      val m = meta
      val ref = m.refs.getOrElse(name, sys.error(s"no ref $name"))
      scanSnapshot(m, m.snapshot(ref.snapshotId), lineage = false, _ => true,
        snapshotSchema = ref.refType == "tag")
    }

  /** Append onto a BRANCH head: main (and every other ref) is untouched —
    * the staging half of write-audit-publish. Same add-files rebase story
    * as [[append]], so concurrent main-branch commits interleave safely. */
  def appendToBranch(branch: String, df: DataFrame): Unit = {
    val m0 = meta
    val files = writeFiles(alignToSchema(df, m0), m0, m0.currentSchemaId, m0.defaultSpec)
    commitWithRetry { cur =>
      val ref = cur.refs.getOrElse(branch, sys.error(s"no branch $branch"))
      require(ref.refType == "branch", s"$branch is a tag; tags are immutable")
      val head = cur.snapshot(ref.snapshotId)
      val sq = nextSeq(cur) // hoisted: O(manifest) once, not once per file
      val snap = new Snapshot(nextSnapshotId(cur), Some(head.id), System.currentTimeMillis(),
        "append", head.files.append(files.map(_.copy(seq = sq))), head.deletes,
        cur.currentSchemaId)
      (cur.copy(snapshots = cur.snapshots :+ snap,
        refs = cur.refs + (branch -> ref.copy(snapshotId = snap.id))),
        s"append ${files.map(_.rows).sum} rows to branch $branch")
    }
  }

  /** Publish a branch: fast-forward main to the branch head — the publish
    * half of write-audit-publish. Requires main's current snapshot to be an
    * ancestor of the branch head (pointer swap only, no merge): if main
    * advanced independently since the branch was cut, the publish is
    * rejected and the auditor must re-stage on a fresh branch. */
  def fastForward(branch: String): Unit =
    commitWithRetry { m =>
      val ref = m.refs.getOrElse(branch, sys.error(s"no branch $branch"))
      require(ref.refType == "branch", s"cannot fast-forward to tag $branch")
      val target = m.snapshot(ref.snapshotId)
      val mainId = m.currentSnapshotId.getOrElse(sys.error("empty table"))
      // walk the parent chain from the branch head back to main's snapshot
      var cur: Option[Long] = Some(target.id)
      var isAncestor = false
      while (cur.isDefined && !isAncestor) {
        if (cur.get == mainId) isAncestor = true
        else cur = m.snapshots.find(_.id == cur.get).flatMap(_.parentId)
      }
      require(isAncestor,
        s"main ($mainId) is not an ancestor of branch $branch (${target.id}): " +
          "main advanced since the branch was cut; re-stage and re-audit")
      (m.copy(currentSnapshotId = Some(target.id)),
        s"fast-forward main to branch $branch (${target.id})")
    }

  /** `SELECT * FROM t.refs` — named refs plus the implicit main branch. */
  def refsDf: DataFrame = {
    import spark.implicits._
    val m = meta
    (m.currentSnapshotId.map(id => ("main", "branch", id)).toSeq ++
      m.refs.toSeq.sortBy(_._1).map { case (n, r) => (n, r.refType, r.snapshotId) })
      .toDF("name", "type", "snapshot_id")
  }

  // ------------------------------------------------------------ metadata tables

  /** `SELECT * FROM t.snapshots` (README.md:1004). */
  def snapshotsDf: DataFrame = {
    import spark.implicits._
    meta.snapshots.map(s => (
      s.id, s.parentId.getOrElse(-1L), new java.sql.Timestamp(s.timestampMs), s.operation,
      s.files.fileCount, s.deletes.fileCount, s.totalRows))
      .toDF("snapshot_id", "parent_id", "committed_at", "operation",
        "data_files", "delete_files", "total_rows")
  }

  /** `SELECT * FROM t.history` (README.md:982) — the metadata/DDL log. */
  def historyDf: DataFrame = {
    import spark.implicits._
    meta.metadataLog.map(e => (e.version.toLong, new java.sql.Timestamp(e.timestampMs), e.note))
      .toDF("version", "made_at", "note")
  }

  /** `SELECT * FROM t.partitions` (README.md:995). */
  def partitionsDf: DataFrame = {
    import spark.implicits._
    val cur = meta.currentSnapshot.map(_.dataFiles).getOrElse(Seq())
    cur.groupBy(f => (f.specId, f.partition.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("/")))
      .map { case ((specId, part), fs0) =>
        (if (part.isEmpty) "<unpartitioned>" else part, specId, fs0.size.toLong, fs0.map(_.rows).sum)
      }.toSeq.sortBy(r => (r._2, r._1))
      .toDF("partition", "spec_id", "file_count", "row_count")
  }

  /** `SELECT * FROM t.files` — current data file manifest. */
  def filesDf: DataFrame = {
    import spark.implicits._
    meta.currentSnapshot.map(_.dataFiles).getOrElse(Seq())
      .map(f => (f.path, f.rows, f.schemaId, f.specId,
        f.partition.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("/"),
        f.firstRowId, f.materializedLineage))
      .toDF("path", "rows", "schema_id", "spec_id", "partition",
        "first_row_id", "materialized_lineage")
  }
}

object IceLite {
  private[icelite] val HINT = "version-hint.text"
  /** Iceberg V3 row-lineage column names (the spec's reserved metadata
    * columns) — surfaced by [[IceLiteTable.readRowLineage]] and written
    * as MATERIALIZED parquet columns by row-carrying rewrites. */
  val RowIdCol = "_row_id"
  val LastUpdatedCol = "_last_updated_sequence_number"

  /** Internal property: lowest version file not yet confirmed pruned —
    * the version-file prune's resumable low-water mark. */
  private[icelite] val PruneFloorProp = "metadata.prune-low-water"

  /** What the DSv2 streaming sink's tasks need, planned once on the
    * driver ([[IceLiteTable.planStreamingWrite]]): the pinned schema and
    * spec ids the epoch's entries carry, and the [[TaskWriter]] layout
    * whose bound, SparkSession-free expressions map an input row to the
    * physical storage columns and the partition-value strings. */
  final case class StreamWritePlan(schemaId: Int, specId: Int, layout: WriteLayout)

  /** Is this position-delete file a Puffin deletion-vector container
    * (otherwise it is parquet)? A `.ildv` container, the RLE carrier
    * earlier IceLite builds wrote, is refused by name here rather than
    * handed to the parquet reader; every carrier dispatch goes through
    * this check. */
  private[icelite] def isDvPath(p: String): Boolean = {
    require(!p.endsWith(".ildv"),
      s"unsupported deletion-vector container $p: .ildv is not read; " +
        "IceLite reads Puffin (.puffin) DVs and parquet position deletes")
    p.endsWith(PuffinDv.Ext)
  }

  /** Spec-field name for a (source, transform) pair. The name reaches
    * the partition DIRECTORY names of the Iceberg export's data files;
    * Spark %-escapes partition VALUES but not keys, so glob
    * metacharacters in a transform spelling (bucket[4] → "[4]") would
    * poison every later spark.read of the written files — sanitize the
    * transform part to path-safe characters (bucket[4] → bucket_4). */
  private[icelite] def specFieldName(src: String, transform: String): String =
    s"${src}_${transform.replaceAll("[^A-Za-z0-9_]+", "_").stripSuffix("_")}"

  /** One lowered MERGE clause ([[IceLiteTable.mergeClauses]]). Conditions
    * and assignment values are Columns over the joined row: target columns
    * by their own names, source columns prefixed `_s_`. */
  sealed trait MergeClause { def condition: Option[Column] }
  /** WHEN [NOT] MATCHED [BY SOURCE] [AND cond] THEN UPDATE SET ... */
  final case class MergeUpdate(condition: Option[Column],
      assignments: Map[String, Column]) extends MergeClause
  /** WHEN [NOT] MATCHED [BY SOURCE] [AND cond] THEN DELETE */
  final case class MergeDelete(condition: Option[Column]) extends MergeClause
  /** WHEN NOT MATCHED [AND cond] THEN INSERT ... (unassigned columns take
    * their declared default, else null) */
  final case class MergeInsert(condition: Option[Column],
      assignments: Map[String, Column]) extends MergeClause

  /** Grace period for removeOrphanFiles: younger files may belong to an
    * in-flight (not yet committed) write and are never reclaimed. */
  val OrphanGraceMs: Long = 3L * 3600 * 1000

  /** Is `sql` a foldable literal (optionally cast / negated)? The shape
    * [[IceLiteTable.setWriteDefault]] accepts: a column reference would
    * resolve against each incoming DataFrame and a non-deterministic
    * call would fill differently per write — neither is a DEFAULT. */
  private[icelite] def isFoldableLiteral(spark: SparkSession, sql: String): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal, UnaryMinus}
    def literalShape(e: Expression): Boolean = e match {
      case _: Literal => true
      case c: Cast => literalShape(c.child)
      case u: UnaryMinus => literalShape(u.child)
      case _ => false
    }
    scala.util.Try(
      literalShape(spark.sessionState.sqlParser.parseExpression(sql)))
      .getOrElse(false)
  }

  private[icelite] def validateRefName(name: String): Unit = {
    require(name != "main", "main is the implicit published branch")
    require(name.nonEmpty && name.matches("[A-Za-z0-9._-]+"), s"invalid ref name '$name'")
  }

  /** Thrown when a commit's version file was quarantine-stepped by another
    * writer before the hint swap — the commit did NOT take effect. */
  final class CommitSupersededException(msg: String) extends RuntimeException(msg)

  /** Thrown when a rebase would attach intent (e.g. MoR delete positions)
    * that references data files a concurrent commit replaced — the caller
    * must re-run the operation against the new table state. */
  final class ConcurrentRewriteException(msg: String) extends RuntimeException(msg)

  /** Thrown inside the retry loop when another writer already committed the
    * same streaming batch — the append aborts without a commit. */
  private[icelite] final class BatchReplayedException(msg: String) extends RuntimeException(msg)

  private[icelite] def fs(spark: SparkSession, location: String): FileSystem = {
    val f = new Path(location).getFileSystem(spark.sessionState.newHadoopConf())
    // a scheme-less path is canonically a local file (canonicalPath)
    require(new Path(location).toUri.getScheme != null || f.getUri.getScheme == "file",
      s"icelite: location '$location' has no scheme but fs.defaultFS is ${f.getUri}; name its scheme")
    f
  }

  /** The one spelling IceLite keys a file by: the qualified Hadoop `Path`
    * string (`file:/tmp/a table é/t/data/x.parquet`). Paths are made
    * canonical where they enter metadata or a lookup, and compared
    * exactly after that. `canonicalPath` takes a Hadoop path string (as
    * IceLite and Iceberg store them); `canonicalUri` a URI-encoded one (as
    * Spark renders `_metadata.file_path`: `file:/a%20b`, `file:///a`),
    * which must never go through `new Path(String)`. A scheme-less path
    * is a local file, whatever `fs.defaultFS` says (a table on another
    * file system names its scheme in its location; [[fs]] refuses one
    * that doesn't); a string naming no absolute path throws, naming it. */
  def canonicalPath(p: String): String = canonical(p, new Path(p))

  def canonicalUri(u: String): String = canonical(u, new Path(new java.net.URI(u)))

  private def canonical(raw: String, parse: => Path): String = {
    val u = (try parse catch {
      case e @ (_: IllegalArgumentException | _: java.net.URISyntaxException) =>
        throw new IllegalArgumentException(s"icelite: cannot make '$raw' a canonical path", e)
    }).toUri
    require(u.getPath != null && u.getPath.startsWith("/"),
      s"icelite: cannot make '$raw' a canonical path: not absolute")
    new Path(Option(u.getScheme).getOrElse("file"), u.getAuthority, u.getPath).toString
  }

  /** Do recorded position-delete `file_path` bounds bound canonical paths?
    * Bounds recorded before paths were canonical are scheme-less. */
  def canonicalBounds(lo: Option[String], hi: Option[String]): Boolean =
    Seq(lo, hi).forall(_.exists(b => scala.util.Try(canonicalPath(b)).toOption.contains(b)))

  /** Path set from a completed query Observation (the MoR DML
    * validation input, harvested on the delete-write pass itself, whose
    * paths are already canonical). None when the metric didn't
    * materialize — callers fall back to reading the written delete files;
    * never silently empty. */
  private[icelite] def observedPaths(obs: org.apache.spark.sql.Observation,
      key: String): Option[Set[String]] =
    try obs.getAsJava.get(key) match {
      case s: scala.collection.Seq[_] => Some(s.map(_.toString).toSet)
      case a: Array[_] => Some(a.map(_.toString).toSet)
      case l: java.util.List[_] =>
        Some(scala.jdk.CollectionConverters.ListHasAsScala(l).asScala
          .map(_.toString).toSet)
      case _ => None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Forward-only hint swap for commits: re-reads the hint at the LAST
    * instant before the rename and aborts with [[CommitSupersededException]]
    * if it already reached `v` — a writer that was quarantine-stepped while
    * paused (GC, slow FS) between creating its version file and swapping the
    * hint almost always observes the step here and retries instead of
    * regressing the table to a version that omits the winner's commit. The
    * residual window is a second multi-minute stall between this re-read and
    * the rename — two independent quarantine-length stalls in a row — which a
    * plain check-at-entry would leave open for the whole commit duration. */
  private[icelite] def swapHintForward(st: CommitStore, hint: Path, v: Int): Unit = {
    val hintNow = st.readString(hint).trim.toInt
    if (hintNow >= v)
      throw new CommitSupersededException(
        s"commit at v$v superseded: hint already at v$hintNow (stepped over as orphan); re-run")
    st.replace(hint, v.toString)
  }

  /** tmp-write + rename — the atomic pointer swap that gives ACID commits
    * (the reference's catalog-pointer-swap, README.md:511–529). */
  /** Conservative translation of a DML condition into manifest stat
    * filters: top-level AND conjuncts of `<column> <cmp> <literal>` become
    * [[Stats.StatFilter]]s; everything else is ignored (the full condition
    * is always re-applied on the scan). Lets a CoW UPDATE/DELETE whose
    * predicate excludes most files skip SCANNING them during touched-file
    * discovery — at 100 TB the difference between reading one partition
    * and reading the table to find one partition. */
  def statFiltersFromCondition(cond: Column): Seq[Stats.StatFilter] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
    def name(e: Expression): Option[String] = e match {
      case u: UnresolvedAttribute => Some(u.nameParts.last)
      case a: Attribute           => Some(a.name)
      case _                      => None
    }
    def domainValue(l: Literal): Option[Any] = l.value match {
      case null                                    => None
      case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
      case i: java.lang.Integer if l.dataType.typeName == "date" =>
        Some(java.time.LocalDate.ofEpochDay(i.longValue))
      case other                                   => Some(other)
    }
    // (attr cmp literal) / (literal cmp attr) → one stat filter; the `flip`
    // constructor handles literal-on-the-left
    def cmp(l: Expression, r: Expression,
        mk: (String, Any) => Stats.StatFilter,
        flip: (String, Any) => Stats.StatFilter): Seq[Stats.StatFilter] = (l, r) match {
      case (a, lit: Literal) => (for (n <- name(a); v <- domainValue(lit)) yield mk(n, v)).toSeq
      case (lit: Literal, a) => (for (n <- name(a); v <- domainValue(lit)) yield flip(n, v)).toSeq
      case _                 => Seq()
    }
    def walk(e: Expression): Seq[Stats.StatFilter] = e match {
      case And(a, b)                    => walk(a) ++ walk(b)
      case EqualTo(l, r)                => cmp(l, r, Stats.Eq, Stats.Eq)
      case GreaterThan(l, r)            => cmp(l, r, Stats.Gt, Stats.Lt)
      case GreaterThanOrEqual(l, r)     => cmp(l, r, Stats.Ge, Stats.Le)
      case LessThan(l, r)               => cmp(l, r, Stats.Lt, Stats.Gt)
      case LessThanOrEqual(l, r)        => cmp(l, r, Stats.Le, Stats.Ge)
      // Column DSL conditions surface as unresolved function calls
      // ("=", "<", "and", …) until analysis — same shapes, by name
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.arguments.size == 2 =>
        val (l, r) = (f.arguments.head, f.arguments(1))
        f.nameParts.last match {
          case "and"      => walk(l) ++ walk(r)
          case "=" | "==" => cmp(l, r, Stats.Eq, Stats.Eq)
          case ">"        => cmp(l, r, Stats.Gt, Stats.Lt)
          case ">="       => cmp(l, r, Stats.Ge, Stats.Le)
          case "<"        => cmp(l, r, Stats.Lt, Stats.Gt)
          case "<="       => cmp(l, r, Stats.Le, Stats.Ge)
          case _          => Seq()
        }
      case _ => Seq()
    }
    try walk(org.apache.spark.sql.graft.SparkShims.toExpression(cond))
    catch { case _: Exception => Seq() }
  }

  /** Lossless type widening check over FULL parameterized types.
    * DECIMAL(p,s)→DECIMAL(p',s'): needs s'≥s (no fraction digits lost) and
    * p'-s' ≥ p-s (no integer digits lost). VARCHAR(n)→VARCHAR(n'≥n)|STRING.
    * CHAR likewise. Unparameterized same-type is always fine. */
  private[icelite] def isWidening(from: String, to: String): Boolean = {
    val f = from.toUpperCase.replaceAll("\\s", "")
    val t = to.toUpperCase.replaceAll("\\s", "")
    if (f == t) return true
    def base(x: String) = x.takeWhile(_.isLetter)
    def params(x: String): Seq[Int] =
      if (!x.contains("(")) Seq()
      else x.dropWhile(_ != '(').stripPrefix("(").stripSuffix(")").split(",").toSeq.map(_.trim.toInt)
    (base(f), base(t)) match {
      case ("SMALLINT", "INT" | "BIGINT") => true
      case ("INT" | "INTEGER", "BIGINT")  => true
      case ("FLOAT", "DOUBLE")            => true
      case ("DECIMAL" | "NUMERIC", "DECIMAL" | "NUMERIC") =>
        (params(f), params(t)) match {
          case (Seq(p1, s1), Seq(p2, s2)) => s2 >= s1 && (p2 - s2) >= (p1 - s1)
          case (Seq(p1), Seq(p2))         => p2 >= p1
          case _                          => f == t
        }
      case ("VARCHAR" | "CHAR", "STRING") => true
      case ("VARCHAR", "VARCHAR") | ("CHAR", "CHAR") =>
        (params(f), params(t)) match {
          case (Seq(n1), Seq(n2)) => n2 >= n1
          case _                  => f == t
        }
      case _ => false
    }
  }

  /** CREATE TABLE (README.md:944–951). `schema` = (name, sparkDdlType).
    * `partition` = (sourceColumn, transform). */
  def create(
      spark: SparkSession, location: String,
      schema: Seq[(String, String)],
      partition: Seq[(String, String)] = Seq(),
      properties: Map[String, String] = Map()): IceLiteTable = {
    val f = fs(spark, location)
    val metaDir = new Path(location, "metadata")
    require(!f.exists(new Path(metaDir, HINT)), s"table exists at $location")
    f.mkdirs(metaDir)
    val fields = schema.zipWithIndex.map { case ((n, t), i) => Field(i + 1, n, t, None) }
    val sch = TableSchema(0, fields)
    val sfs = partition.map { case (srcName, transform) =>
      val fld = sch.fieldByName(srcName)
      SpecField(fld.id, transform, specFieldName(srcName, transform))
    }
    val m = TableMetadata(
      location = location,
      lastFieldId = fields.size,
      currentSchemaId = 0,
      schemas = Seq(sch),
      defaultSpecId = 0,
      specs = Seq(PartitionSpec(0, sfs)),
      properties = properties,
      currentSnapshotId = None,
      snapshots = Seq(),
      metadataLog = Seq(MetadataLogEntry(1, System.currentTimeMillis(), "create table")))
    val st = new HadoopCommitStore(f)
    st.createExclusive(new Path(metaDir, "v1.json"), MetaJson.toJson(m))
    st.replace(new Path(metaDir, HINT), "1")
    new IceLiteTable(spark, location)
  }

  /** ADOPT (migrate-in) a real Apache Iceberg table as a live IceLite
    * table — the reverse of [[IcebergExport]] and the shape of Iceberg's
    * own `migrate` action: the foreign table's CURRENT data files are
    * registered in place (zero data movement), its schema becomes the
    * IceLite schema with FIELD IDS preserved, and the lineage continues
    * with ordinary IceLite commits (append, MoR delete, compaction —
    * which rewrites adopted files into native form as a side effect).
    * Adopted files are [[DataFile.nameMapped]]: they keep their logical
    * column names and the scan resolves them through the schema they
    * were WRITTEN under by field id, so both foreign mid-history
    * evolution and post-adoption renames stay metadata-only.
    *
    * Partition tuples re-encode into IceLite's transform encodings where
    * the mapping is exact (identity / year / month / day); `bucket[N]`
    * values hash differently (Iceberg murmur3 vs IceLite xxhash64), so
    * the spec LIFTS to `mbucket[N]` — the Iceberg-spec murmur3 transform
    * ([[graft.functions.IcebergBucket]]) — and the foreign tuples stay
    * TRUE: pruning is exact, native appends land in the same buckets,
    * and export re-emits spec-true `bucket[N]`.
    *
    * Foreign MERGE-ON-READ deletes CARRY IN (reference deletion-vector
    * promise, /root/reference/README.md:1096–1121): position-delete
    * parquet, Puffin DVs and equality deletes all register in place —
    * adoption moves no data. Equality deletes keep their data sequence
    * (the v2 seq-scoping rule holds across the boundary), and the scan
    * resolves their key columns by parquet field id, else by name.
    *
    * The translation is [[IcebergInterop.toTableMetadata]], the same one
    * [[IcebergInterop.read]] scans; adoption walks the history through
    * it and commits the result.
    *
    * Foreign HISTORY adopts too (time travel is the tutorial's
    * centerpiece, README.md:1000–1015): every foreign snapshot
    * registers parent-chained — including SCHEMA-EVOLVED lineages
    * (every foreign schema registers under its own schema-id; each
    * historical file and snapshot resolves through its write schema) —
    * so `VERSION AS OF` a pre-adoption id keeps serving, with random
    * foreign ids remapped to a dense native sequence (recorded in
    * table properties for foreign-id lookup).
    *
    * Scope (refused loudly otherwise): every live file's write schema
    * must still be declared in the metadata — compact the source first.
    * `location` hosts the IceLite metadata; passing the foreign table's
    * own location gives an in-place migrate (Iceberg's
    * `vN.metadata.json` and IceLite's `vN.json` + hint do not
    * collide). */
  def adopt(spark: SparkSession, metadataJson: String, location: String): IceLiteTable = {
    val conf = spark.sessionState.newHadoopConf()
    val ice = IcebergInterop.loadMeta(metadataJson, conf)
    val snap = ice.currentSnapshotId.flatMap(id => ice.snapshots.find(_.id == id))
      .getOrElse(sys.error(s"iceberg adopt: no current snapshot in $metadataJson"))
    val f = fs(spark, location)
    require(!f.exists(new Path(new Path(location, "metadata"), HINT)),
      s"table exists at $location")
    val readSchemaId = IcebergInterop.currentReadSchemaId(ice, snap)
    // one manifest cache across the whole history walk: snapshot k's
    // manifest list references manifests 1..k in the delta shape, so an
    // uncached walk would re-parse each manifest O(snapshots) times
    val manifestCache = scala.collection.mutable.Map[String,
      Seq[org.apache.avro.generic.GenericRecord]]()
    def inventory(s: IcebergInterop.IceSnapshot) =
      s -> IcebergInterop.fileInventory(ice, s, conf, manifestCache)
    val head = inventory(snap)
    def headOnly = IcebergInterop.toTableMetadata(spark, ice, Seq(head), readSchemaId,
      lenient = false)
    // HISTORY: real Iceberg writers mint RANDOM snapshot ids, and real
    // histories contain compactions / overwrites / MoR deletes — so the
    // walk must not require monotone ids or pure appends. Every foreign
    // snapshot registers its COMPLETE file + delete set (IceLite
    // snapshots store full file lists, so replace/overwrite/delete points
    // are representable as-is). A current snapshot that is NOT the
    // commit-order tip (a rolled-back foreign head, or branch commits
    // staged above the published head) adopts its PREFIX: adopting
    // "future" points above a rollback would resurrect exactly what the
    // foreign writer rolled back. Non-monotone ids remap below to a dense
    // 1..N in commit order — collision-free ONLY because every foreign id
    // exceeds N (64-bit random ids); a foreign id inside 1..N would be
    // ambiguous (native wins in snapshot()), so that shape keeps the head
    // only, as does a history snapshot that fails to parse or references
    // a write schema the metadata no longer declares.
    val chain = {
      val ordered = ice.snapshots.sortBy(s =>
        (s.sequenceNumber.getOrElse(Long.MinValue), s.timestampMs, s.id))
      ordered.take(ordered.indexWhere(_.id == snap.id) + 1)
    }
    val ids = chain.map(_.id)
    val monotone = ids == ids.sorted && ids.distinct.size == ids.size
    val translated =
      if (chain.size < 2 || (!monotone && ids.min <= chain.size)) headOnly
      else scala.util.Try(IcebergInterop.toTableMetadata(spark, ice,
        chain.init.map(inventory) :+ head, readSchemaId, lenient = false))
        .getOrElse(headOnly)
    // Native id plan. Monotone-in-commit-order foreign ids keep serving
    // VERBATIM (our own exports, sequential writers) — no remap, no
    // lookup indirection. Non-monotone (random) ids remap to a dense
    // 1..N in commit order, recorded per snapshot in table properties so
    // `VERSION AS OF <foreign id>` still serves.
    val adopted = translated.snapshots
    val keepIds = monotone || adopted.size == 1
    val nativeIds: Seq[Long] =
      if (keepIds) adopted.map(_.id) else (1L to adopted.size.toLong)
    // the foreign operation labels (append/replace/overwrite/delete) are
    // native labels too, so e.g. the changelog keeps skipping pure
    // "replace" (compaction) points. Foreign branch structure is
    // linearized — each snapshot's FILE SET is exact, so time travel to
    // any foreign id is exact; only fabricated parent edges differ.
    val snapshots = adopted.zip(nativeIds).zipWithIndex.map { case ((s, nid), i) =>
      s.copy(id = nid, parentId = if (i == 0) None else Some(nativeIds(i - 1)))
    }
    val sch = translated.currentSchema
    val foreignIdProps =
      if (keepIds) Map.empty[String, String]
      else adopted.zip(nativeIds).map { case (s, nid) =>
        s"${TableMetadata.ForeignSnapshotProp}${s.id}" -> nid.toString }.toMap
    // foreign branches/tags survive the migrate: each ref's snapshot id
    // maps through the same remap and registers as a NATIVE ref (branch
    // = movable head, tag = schema-pinned pin — readRef's semantics).
    // Refs at snapshots the walk dropped (head-only degrade) and names
    // IceLite cannot spell are dropped — a ref that cannot be
    // represented beats one that points at the wrong snapshot.
    val nativeIdByForeign: Map[Long, Long] = adopted.map(_.id).zip(nativeIds).toMap
    val adoptedRefs: Map[String, Ref] = ice.refs.flatMap { case (name, r) =>
      nativeIdByForeign.get(r.snapshotId).flatMap { nid =>
        if (scala.util.Try(IceLite.validateRefName(name)).isSuccess)
          Some(name -> Ref(nid, if (r.refType == "tag") "tag" else "branch"))
        else None
      }
    }
    // clustering hints cross the boundary: the foreign DEFAULT sort
    // order becomes the declared write.sort-order with FULL fidelity —
    // transform (bucket[N] lifts onto mbucket[N], the murmur3 hash the
    // foreign layout actually used, exactly as partition tuples do),
    // direction and null order all carry — so native writes keep the
    // foreign clustering and file min/max pruning keeps serving. An
    // order containing a transform IceLite cannot apply drops WHOLE
    // (a partial order would cluster the wrong way). A foreign z-order
    // hint travels as the same table property export emits.
    val sortProp = {
      def nativeTransform(t: String): Option[String] = t match {
        case "identity" | "year" | "month" | "day" => Some(t)
        case tr if tr.startsWith("truncate[") && tr.endsWith("]") => Some(tr)
        case tr if tr.startsWith("bucket[") && tr.endsWith("]") => Some("m" + tr)
        case _ => None
      }
      val fields = ice.sortOrder.map { f =>
        if (!sch.hasId(f.sourceId)) None
        else nativeTransform(f.transform).map(nt => SortField(
          sch.byId(f.sourceId).name, nt,
          f.direction == "desc", f.nullOrder == "nulls-last"))
      }
      if (fields.nonEmpty && fields.forall(_.isDefined)) {
        val fs = fields.flatten
        // the order VALIDATES at adoption (setSortOrder's analysis
        // check): a foreign transform the declared column type cannot
        // satisfy (`day(a_bigint)`) drops the order WHOLE here — the
        // existing drop-whole policy — instead of failing the first
        // native write
        val applies = scala.util.Try(SortOrders.validate(spark, fs,
          c => { val fl = sch.fieldByName(c); (fl.physName, fl.dtype) })).isSuccess
        if (applies) Map("write.sort-order" -> SortOrders.render(fs))
        else Map.empty[String, String]
      } else Map.empty[String, String]
    }
    val zorderProp =
      if (sortProp.nonEmpty) Map.empty[String, String] // clusterings conflict
      else ice.properties.get("write.zorder-by")
        .filter(csv => csv.split(",").map(_.trim)
          .forall(c => sch.fields.exists(_.name == c)))
        .map("write.zorder-by" -> _).toMap
    val m = translated.copy(
      location = location,
      properties = Map("adopted.from" -> metadataJson) ++ foreignIdProps ++
        sortProp ++ zorderProp,
      currentSnapshotId = Some(snapshots.last.id),
      snapshots = snapshots,
      metadataLog = Seq(MetadataLogEntry(1, System.currentTimeMillis(),
        s"adopt iceberg table ($metadataJson)")),
      refs = adoptedRefs)
    val metaDir = new Path(location, "metadata")
    f.mkdirs(metaDir)
    val st = new HadoopCommitStore(f)
    st.createExclusive(new Path(metaDir, "v1.json"), MetaJson.toJson(m))
    st.replace(new Path(metaDir, HINT), "1")
    new IceLiteTable(spark, location)
  }

  /** CREATE TABLE AS the schema of an existing DataFrame. */
  def createFrom(
      spark: SparkSession, location: String, like: DataFrame,
      partition: Seq[(String, String)] = Seq(),
      properties: Map[String, String] = Map()): IceLiteTable =
    create(spark, location,
      like.schema.fields.toSeq.map(f => f.name -> f.dataType.sql),
      partition, properties)

  def load(spark: SparkSession, location: String): IceLiteTable =
    new IceLiteTable(spark, location)
}
