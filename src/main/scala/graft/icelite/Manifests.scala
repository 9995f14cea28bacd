package graft.icelite

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path

/** Chunked manifest metadata — the indirection that takes IceLite's file
  * tracking from "one driver-parsed JSON" to Iceberg's manifest-list shape
  * (/root/reference/README.md:520–529 "efficient metadata" promise).
  *
  * A snapshot no longer inlines its full file set into `vN.json`. Instead
  * it holds a [[FileListing]]: a list of [[ManifestRef]]s — pointers to
  * immutable side manifest files, each covering a bounded chunk of
  * [[DataFile]] entries — plus a small inline tail of not-yet-chunked
  * files. The manifest list entry carries PRUNING SUMMARIES (the distinct
  * partition tuples and per-field aggregated min/max of its chunk), so
  * read planning discards whole manifests against the summaries BEFORE
  * loading a single file entry: on a 10M-file table a partition- or
  * stat-selective read parses O(surviving chunks), not O(all files).
  *
  * Commit cost is O(changed files), not O(table): an append reuses every
  * parent manifest by reference and spills only its own new tail; a CoW
  * rewrite reuses each parent manifest whose chunk survived intact and
  * rewrites only the chunks it touched ([[ManifestIO.spill]]).
  *
  * Manifest chunks are immutable create-once avro files ([[ManifestCodec]],
  * Iceberg's own manifest format) written through the table's Hadoop
  * FileSystem, so they ride the same object-store portability as data
  * files; only the version files go through the [[CommitStore]].
  */
final case class ManifestRef(
    path: String, fileCount: Long, rowCount: Long, maxSeq: Long,
    /** Distinct partition tuples of the chunk's files; None = too many
      * distinct tuples to summarize (pruning degrades to "keep"). */
    partitions: Option[Seq[Map[String, String]]],
    /** Per-field-id aggregated min/max across the chunk. A field appears
      * ONLY if every file in the chunk has stats for it AND every file's
      * schema contains it (absent ⇒ conservative keep at planning). */
    stats: Map[Int, ColumnStats])

/** A snapshot's data-file set: manifest chunk refs + an inline tail.
  * Entry loading is lazy and memoized — planning against the summaries
  * ([[candidates]]) touches only surviving chunks; [[fileCount]],
  * [[totalRows]] and [[maxSeq]] come from the summaries for free. */
final class FileListing private (
    val manifests: Seq[ManifestRef],
    val tail: Seq[DataFile],
    io: ManifestIO) {

  /** Every file entry — forces all manifest chunks (memoized). Metadata
    * maintenance (expire, orphans) and CoW planning use this; pruned reads
    * go through [[candidates]] and never force skipped chunks. */
  lazy val all: Seq[DataFile] = manifests.flatMap(io.read) ++ tail

  /** Same listing plus `fs` appended to the inline tail — parent manifests
    * carry over BY REFERENCE, so building an append snapshot on a 10M-file
    * table touches no existing chunk. */
  def append(fs: Seq[DataFile]): FileListing = new FileListing(manifests, tail ++ fs, io)

  def withIo(nio: ManifestIO): FileListing = new FileListing(manifests, tail, nio)

  /** Entries ADDED relative to `parent`'s listing — O(changed chunks +
    * both tails), never O(table): chunk refs carry by path identity and
    * are immutable, so only chunks ABSENT from the parent need their
    * entries read. Two chunk-churn shapes contribute OLD entries to new
    * chunks and must subtract out: a commit-time spill of the parent's
    * tail (excluded by the parent-tail set), and HEAD-snapshot
    * consolidation merging undersized chunks (its merged entries are
    * exactly the entries of the parent chunks the child DROPPED — read
    * those removed chunks and exclude them; steady-state appends remove
    * none, so the extra reads cost only on consolidation commits, and
    * then only the consolidated portion). No sequence-number assumptions
    * — adopted v1 lineages carry seq 0 throughout and must still diff
    * exactly. The streaming source's per-commit delta is built on this —
    * a poll of a 100 TB table reads the increment's manifests, never the
    * full file list. Only sound for lineages where the parent's files
    * carry over (append/delete/spill/consolidate), i.e. not across
    * `replace`. */
  def addedSince(parent: FileListing): Seq[DataFile] = {
    val pRefs = parent.manifests.map(_.path).toSet
    val childRefs = manifests.map(_.path).toSet
    val removedParentChunks = parent.manifests.filterNot(r => childRefs(r.path))
    val pFiles = (parent.tail ++ removedParentChunks.flatMap(io.read)).map(_.path).toSet
    val fromNewChunks = manifests.filterNot(r => pRefs(r.path)).flatMap(io.read)
    (fromNewChunks ++ tail).filterNot(f => pFiles(f.path))
  }

  def fileCount: Long = manifests.map(_.fileCount).sum + tail.size
  def totalRows: Long = manifests.map(_.rowCount).sum + tail.map(_.rows).sum
  def maxSeq: Long =
    (manifests.map(_.maxSeq).iterator ++ tail.iterator.map(_.seq)).maxOption.getOrElse(0L)

  /** Candidate files for a scan: manifest-level pruning first (a chunk
    * whose partition summary has no tuple passing `prune`, or whose stat
    * summary refutes a filter, is skipped WITHOUT loading its entries),
    * then the surviving chunks' entries plus the tail. Callers re-apply
    * the same predicates per file — this is a superset, never a miss. */
  def candidates(schema: TableSchema, prune: Map[String, String] => Boolean,
      statFilters: Seq[Stats.StatFilter]): Seq[DataFile] = {
    val live = manifests.filter { r =>
      r.partitions.forall(_.exists(prune)) &&
        statFilters.forall(f => Stats.summaryMayContain(r.stats, schema, f))
    }
    live.flatMap(io.read) ++ tail
  }
}

object FileListing {
  val empty: FileListing = inline(Seq())
  def inline(fs: Seq[DataFile]): FileListing = new FileListing(Seq(), fs, null)
  def apply(manifests: Seq[ManifestRef], tail: Seq[DataFile], io: ManifestIO): FileListing =
    new FileListing(manifests, tail, io)
}

/** Delete-manifest list entry — the DELETE-side mirror of [[ManifestRef]]
  * (Iceberg carries data and delete manifests in the same manifest list).
  * Summaries serve three pruning/bookkeeping rules without a chunk load:
  *  - `maxSeq` vs the scan's min data seq: an all-eq chunk whose deletes
  *    are all at or below every planned file's sequence cannot apply;
  *  - `pathLo`/`pathHi` (aggregated canonical file_path bounds of the
  *    chunk's POSITION deletes): a scan whose planned data files all fall
  *    outside the range skips the chunk (None, or bounds recorded before
  *    paths were canonical ⇒ conservative keep);
  *  - `posCount` / `eqFieldIds`: maintenance thresholds and the
  *    drop-column eq-key guard read counts/ids from summaries alone. */
final case class DeleteManifestRef(
    path: String, fileCount: Long, rowCount: Long, maxSeq: Long,
    posCount: Long, eqFieldIds: Seq[Int],
    pathLo: Option[String], pathHi: Option[String])

/** A snapshot's delete-file set: delete manifest chunk refs + an inline
  * tail — [[FileListing]]'s shape applied to deletes, so a MoR-heavy
  * workload (thousands of position/eq delete files between maintenance
  * runs) cannot re-inflate the version file: the metadata carries refs +
  * summaries, commits append to the tail by reference, and the commit-time
  * spill chunks crossed-threshold tails exactly like data files. */
final class DeleteListing private (
    val manifests: Seq[DeleteManifestRef],
    val tail: Seq[DeleteFile],
    io: ManifestIO) {

  /** Every delete entry — forces all chunks (memoized). Maintenance
    * (rewrite, expire, orphans, changelog) uses this; scans go through
    * [[candidates]] and never force pruned chunks. */
  lazy val all: Seq[DeleteFile] = manifests.flatMap(io.readDeletes) ++ tail

  /** Same listing plus `fs` on the inline tail — parent chunks carry over
    * BY REFERENCE, so a MoR delete commit is O(new delete files). */
  def append(fs: Seq[DeleteFile]): DeleteListing =
    new DeleteListing(manifests, tail ++ fs, io)

  def fileCount: Long = manifests.map(_.fileCount).sum + tail.size
  def posFileCount: Long = manifests.map(_.posCount).sum + tail.count(_.kind == "pos")
  def maxSeq: Long =
    (manifests.iterator.map(_.maxSeq) ++ tail.iterator.map(_.seq)).maxOption.getOrElse(0L)
  /** Union of eq-delete key field ids — summaries + tail, no chunk load. */
  def eqFieldIdSet: Set[Int] =
    manifests.flatMap(_.eqFieldIds).toSet ++
      tail.filter(_.kind == "eq").flatMap(_.eqFieldIds)

  /** Delete files a scan over `planned` data files must consider: chunks
    * are pruned against their summaries first (an inapplicable-seq all-eq
    * chunk, or a pos chunk whose path range misses every planned file, is
    * skipped WITHOUT loading its entries). Superset, never a miss — the
    * read path re-scopes eq deletes per file seq and keys the position
    * index by exact file path anyway. */
  def candidates(planned: Seq[DataFile]): Seq[DeleteFile] = {
    if (manifests.isEmpty) return tail
    val minSeq = planned.iterator.map(_.seq).minOption.getOrElse(Long.MaxValue)
    val paths = planned.map(_.path).sorted.toIndexedSeq
    def intersects(lo: String, hi: String): Boolean = {
      var l = 0; var r = paths.length
      while (l < r) { val mid = (l + r) >>> 1; if (paths(mid) < lo) l = mid + 1 else r = mid }
      l < paths.length && paths(l) <= hi
    }
    val live = manifests.filter { ref =>
      val eqMayApply = (ref.fileCount - ref.posCount) > 0 && ref.maxSeq > minSeq
      val posMayApply = ref.posCount > 0 && (
        !IceLite.canonicalBounds(ref.pathLo, ref.pathHi) || // unknown: keep
          intersects(ref.pathLo.get, ref.pathHi.get))
      eqMayApply || posMayApply
    }
    live.flatMap(io.readDeletes) ++ tail
  }
}

object DeleteListing {
  val empty: DeleteListing = inline(Seq())
  def inline(fs: Seq[DeleteFile]): DeleteListing = new DeleteListing(Seq(), fs, null)
  def apply(manifests: Seq[DeleteManifestRef], tail: Seq[DeleteFile],
      io: ManifestIO): DeleteListing = new DeleteListing(manifests, tail, io)
}

/** Manifest chunk IO + the commit-time spill policy. One instance per
  * [[IceLiteTable]]; chunks are immutable, so the read cache never
  * invalidates. `readCount` instruments chunk loads for the pruning specs
  * (a pruned plan must load only surviving chunks). */
final class ManifestIO(location: String,
    conf: org.apache.hadoop.conf.Configuration =
      new org.apache.hadoop.conf.Configuration()) {
  val readCount = new AtomicLong(0)

  /** A chunk ref's path. A `.json` chunk, the text codec earlier IceLite
    * builds wrote, is refused by name rather than fed to the avro
    * reader. */
  private def chunkPath(ref: String): Path = {
    if (location == null) sys.error("manifest-backed metadata needs a table-bound ManifestIO")
    require(!ref.endsWith(".json"),
      s"unsupported manifest chunk $ref: JSON chunks are not read; IceLite manifest chunks are avro")
    new Path(ref)
  }

  /** Chunks written since last reset — the compaction/CoW specs assert a
    * commit re-chunks only what it must (no double spill). */
  val writeCount = new AtomicLong(0)

  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Seq[DataFile]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[DataFile]]): Boolean = size() > 128
    })

  def read(ref: ManifestRef): Seq[DataFile] = {
    val hit = cache.get(ref.path)
    if (hit != null) hit
    else {
      readCount.incrementAndGet()
      val fs = ManifestCodec.readData(chunkPath(ref.path), conf)
      cache.put(ref.path, fs)
      fs
    }
  }

  /** Delete-chunk loads since last reset — the delete-pruning specs'
    * instrument (a path/seq-pruned scan must load only surviving chunks). */
  val deleteReadCount = new AtomicLong(0)

  private val delCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Seq[DeleteFile]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[DeleteFile]]): Boolean = size() > 128
    })

  def readDeletes(ref: DeleteManifestRef): Seq[DeleteFile] = {
    val hit = delCache.get(ref.path)
    if (hit != null) hit
    else {
      deleteReadCount.incrementAndGet()
      val fs = ManifestCodec.readDeletes(chunkPath(ref.path), conf)
      delCache.put(ref.path, fs)
      fs
    }
  }

  /** Write one immutable DELETE manifest chunk with its summaries. */
  def writeDeletes(files: Seq[DeleteFile], m: TableMetadata): DeleteManifestRef = {
    writeCount.incrementAndGet()
    val p = new Path(new Path(location, "metadata/manifests"),
      s"dmf-${java.util.UUID.randomUUID()}.avro")
    ManifestCodec.writeDeletes(p, files, conf)
    val pos = files.filter(_.kind == "pos")
    // path-range summary only when EVERY pos file carries bounds —
    // partial bounds can't prune safely
    val bounds =
      if (pos.nonEmpty && pos.forall(f => f.pathLo.isDefined && f.pathHi.isDefined))
        (Some(pos.flatMap(_.pathLo).min), Some(pos.flatMap(_.pathHi).max))
      else (None, None)
    val ref = DeleteManifestRef(
      p.toString, files.size, files.map(_.rows).sum,
      files.map(_.seq).maxOption.getOrElse(0L), pos.size,
      files.filter(_.kind == "eq").flatMap(_.eqFieldIds).distinct.sorted,
      bounds._1, bounds._2)
    delCache.put(ref.path, files)
    ref
  }

  /** Write one immutable manifest chunk and compute its summaries. Avro
    * chunks ([[ManifestCodec]], Iceberg's own manifest format) are
    * data-plane files, referenced only by a version file committed after
    * the write, so a crashed attempt strands an orphan, never a torn
    * read. */
  def write(files: Seq[DataFile], m: TableMetadata): ManifestRef = {
    writeCount.incrementAndGet()
    val p = new Path(new Path(location, "metadata/manifests"),
      s"mf-${java.util.UUID.randomUUID()}.avro")
    ManifestCodec.writeData(p, files, conf)
    val distinctParts = files.map(_.partition).distinct
    val ref = ManifestRef(
      p.toString, files.size, files.map(_.rows).sum,
      files.map(_.seq).maxOption.getOrElse(0L),
      if (distinctParts.size <= 64) Some(distinctParts) else None,
      Stats.summarize(files, m))
    cache.put(ref.path, files)
    ref
  }

  /** Commit-time spill: chunk every snapshot whose inline tail crossed
    * `write.metadata.manifest.min-files` into side manifests of at most
    * `write.metadata.manifest.target-files` entries.
    *
    * Reuse rules keep commits O(changed files):
    *  - a listing that already has manifests (loaded snapshot, or an
    *    append built on one) keeps them by reference and spills only its
    *    tail;
    *  - a fully-inline listing (CoW rewrite, compaction) reuses each
    *    PARENT manifest whose entire chunk survived into the new file set
    *    and chunks only the remainder — so a CoW touching one chunk
    *    rewrites one chunk.
    * Chunks written by a commit attempt that later collides are orphans;
    * removeOrphanFiles reclaims them after the grace period. */
  def spill(m: TableMetadata): TableMetadata = {
    val minFiles = m.properties.getOrElse("write.metadata.manifest.min-files", "8").toInt
    if (minFiles <= 0) return m // chunking disabled by property
    val target = math.max(1,
      m.properties.getOrElse("write.metadata.manifest.target-files", "5000").toInt)
    val maxCount = math.max(1,
      m.properties.getOrElse("write.metadata.manifest.max-count", "32").toInt)
    val processed = scala.collection.mutable.Map[Long, Seq[ManifestRef]]()
    var changed = false
    val newSnaps = m.snapshots.map { s =>
      val l = s.files
      var out =
        if (l.tail.size < minFiles) l
        else if (l.manifests.nonEmpty) {
          changed = true
          FileListing(l.manifests ++ l.tail.grouped(target).map(write(_, m)).toSeq, Seq(), this)
        } else {
          changed = true
          val parentRefs = s.parentId.flatMap(processed.get).getOrElse(Seq())
          var remaining = l.tail.toSet
          val reused = parentRefs.filter { r =>
            // summary refutation BEFORE the read: a chunk larger than what
            // remains can't be fully contained — a full-table rewrite
            // (compaction, z-order) therefore reuses nothing without
            // loading a single parent chunk
            r.fileCount > 0 && r.fileCount <= remaining.size && {
              val fs = read(r)
              fs.forall(remaining.contains) && { remaining --= fs; true }
            }
          }
          val rest = l.tail.filter(remaining.contains)
          FileListing(reused ++ rest.grouped(target).map(write(_, m)).toSeq, Seq(), this)
        }
      // Undersized-chunk consolidation, HEAD snapshot only (history keeps
      // its immutable refs): an append-heavy table otherwise accumulates
      // one small chunk per commit forever — the manifest list in vN.json
      // and per-scan chunk loads growing O(commits) would erode the
      // O(surviving chunks) planning claim. Iceberg's merge-append rule.
      if (m.currentSnapshotId.contains(s.id) && out.manifests.size > maxCount) {
        out = FileListing(consolidate(out.manifests, target, m), out.tail, this)
        changed = true
      }
      processed(s.id) = out.manifests
      // delete tails get the SAME treatment (Iceberg's delete manifests):
      // a MoR-heavy run between maintenance passes must not re-inflate
      // the version file with thousands of inline delete entries
      val dl = s.deletes
      var dout =
        if (dl.tail.size < minFiles) dl
        else {
          changed = true
          DeleteListing(
            dl.manifests ++ dl.tail.grouped(target).map(writeDeletes(_, m)).toSeq,
            Seq(), this)
        }
      if (m.currentSnapshotId.contains(s.id) && dout.manifests.size > maxCount) {
        dout = DeleteListing(consolidateDeletes(dout.manifests, target, m), dout.tail, this)
        changed = true
      }
      val s2 = if (out eq l) s else s.withListing(out)
      if (dout eq dl) s2 else s2.withDeletes(dout)
    }
    if (changed) m.copy(snapshots = newSnaps) else m
  }

  /** [[consolidate]] for delete chunks. */
  private def consolidateDeletes(refs: Seq[DeleteManifestRef],
      target: Int, m: TableMetadata): Seq[DeleteManifestRef] = {
    val out = scala.collection.mutable.ArrayBuffer[DeleteManifestRef]()
    val run = scala.collection.mutable.ArrayBuffer[DeleteManifestRef]()
    var runCount = 0L
    def flush(): Unit = {
      if (run.size == 1) out += run.head
      else if (run.nonEmpty) out += writeDeletes(run.toSeq.flatMap(readDeletes), m)
      run.clear(); runCount = 0
    }
    refs.foreach { r =>
      if (r.fileCount >= target) { flush(); out += r }
      else {
        if (runCount + r.fileCount > target) flush()
        run += r; runCount += r.fileCount
      }
    }
    flush()
    out.toSeq
  }

  /** Merge runs of ADJACENT undersized chunks (combined fileCount ≤ target)
    * into full-size ones; full chunks pass through by reference. Reads only
    * the chunks it merges — O(merged small chunks), never O(table). Order
    * is preserved, so reuse-by-parent in later commits still matches. */
  private def consolidate(refs: Seq[ManifestRef], target: Int,
      m: TableMetadata): Seq[ManifestRef] = {
    val out = scala.collection.mutable.ArrayBuffer[ManifestRef]()
    val run = scala.collection.mutable.ArrayBuffer[ManifestRef]()
    var runCount = 0L
    def flush(): Unit = {
      if (run.size == 1) out += run.head
      else if (run.nonEmpty) out += write(run.toSeq.flatMap(read), m)
      run.clear(); runCount = 0
    }
    refs.foreach { r =>
      if (r.fileCount >= target) { flush(); out += r }
      else {
        if (runCount + r.fileCount > target) flush()
        run += r; runCount += r.fileCount
      }
    }
    flush()
    out.toSeq
  }
}

object ManifestIO {
  /** For pure-serde contexts (property tests, documents with no manifest
    * refs): forcing a manifest-backed listing without a real store is a
    * programming error, not a silent empty read. */
  val detached: ManifestIO = new ManifestIO(null)
}
