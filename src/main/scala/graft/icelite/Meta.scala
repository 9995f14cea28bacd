package graft.icelite

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import scala.jdk.CollectionConverters._

/** IceLite table metadata model (SURVEY.md §7.3).
  *
  * A from-scratch Spark-native mini-lakehouse in the shape the reference
  * tutorial teaches for Apache Iceberg (/root/reference/README.md:830–1029):
  * immutable parquet data files + a JSON metadata log of snapshots, with
  * field-id-based schemas (rename/add are metadata-only), partition specs
  * with transforms, snapshot isolation, and time travel. Metadata is
  * deliberately file-granular: each snapshot carries its full file manifest,
  * so reads resolve a snapshot without touching the filesystem beyond one
  * JSON file. Snapshots share a single file TABLE (format v2): each
  * distinct file entry is serialized once and snapshots reference it by
  * index, so metadata is O(unique files + snapshots), not
  * O(snapshots × files) — the property that keeps a long snapshot log on
  * a millions-of-files table loadable. At true 100 TB scale the file
  * table would additionally be chunked into side parquet (Iceberg's
  * manifest files); the protocol is the same, minus that one indirection.
  *
  * Columns are stored in parquet under physical names `f<fieldId>` — the
  * moral equivalent of Iceberg's parquet field-id metadata
  * (README.md:976–992 schema evolution promises). Rename = metadata map
  * change; no data file is ever rewritten for DDL.
  */
final case class Field(id: Int, name: String, dtype: String, defaultSql: Option[String],
    // V3 `write-default`: the value WRITERS materialize when an incoming
    // row omits the column (SQL column DEFAULT). Distinct from
    // `defaultSql` (the V3 `initial-default` READ fill for pre-add
    // files, immutable per spec). None = inherit `defaultSql` — the
    // spec's ADD COLUMN DEFAULT behavior, and what keeps pre-upgrade
    // metadata semantics unchanged. `ALTER COLUMN SET DEFAULT` stores a
    // new literal; DROP DEFAULT stores the SQL literal "null".
    writeDefaultSql: Option[String] = None) {
  /** The fill writers use for an omitted column. */
  def writeFill: Option[String] = writeDefaultSql.orElse(defaultSql)
  def physName: String = s"f$id"
  /** Spark-facing DDL type. Iceberg-V3 `TIMESTAMP_NS` (README.md:1173–1179)
    * is carried as a raw nanos-since-epoch BIGINT: Spark tops out at µs
    * precision, and the long carrier is lossless, orders identically, and
    * stat-prunes through the same long domain. Every cast / schema
    * construction goes through this; `dtype` stays the declared logical
    * type in metadata (so the intent survives in the table schema). */
  def sparkDdl: String = if (dtype.equalsIgnoreCase("TIMESTAMP_NS")) "BIGINT" else dtype
}

final case class TableSchema(schemaId: Int, fields: Seq[Field]) {
  def fieldByName(n: String): Field =
    fields.find(_.name == n).getOrElse(sys.error(s"no field $n in schema $schemaId"))
  def hasId(id: Int): Boolean = fields.exists(_.id == id)
  def byId(id: Int): Field = fields.find(_.id == id).get
}

/** transform ∈ identity | year | month | day | bucket[N] (README.md:991). */
final case class SpecField(sourceId: Int, transform: String, name: String)
final case class PartitionSpec(specId: Int, fields: Seq[SpecField])

/** Per-column min/max (stringified, field-id-keyed) harvested from the
  * parquet footer at write time — drives file-level data skipping at read
  * (the file-granularity analog of the row-group stats pruning the
  * reference teaches at README.md:327–346). */
final case class ColumnStats(min: String, max: String)

/** `seq` is the data sequence number (Iceberg v2): the commit-ordered
  * stamp deciding which equality deletes apply — an equality delete at
  * sequence S removes matching rows only from data files with seq < S.
  * 0 = pre-sequence legacy file (every delete applies).
  *
  * `nameMapped`: the file stores LOGICAL column names instead of
  * IceLite's physical `f<fieldId>` — the shape of ADOPTED foreign
  * Iceberg data files ([[IceLite.adopt]], Iceberg's own `migrate`
  * keeps files in place the same way). The scan resolves such files
  * through their schema's field names; native writes stay physical.
  *
  * `path` is canonical ([[IceLite.canonicalPath]]): made so where a file
  * enters metadata and again where stored metadata is decoded, so a
  * table written with scheme-less paths meets the same keys. */
final case class DataFile(
    path: String, rows: Long, schemaId: Int, specId: Int,
    partition: Map[String, String],
    stats: Map[Int, ColumnStats] = Map(),
    seq: Long = 0,
    nameMapped: Boolean = false,
    // Iceberg V3 row lineage: this file's rows own ids
    // [firstRowId, firstRowId + rows) unless a materialized `_row_id`
    // column overrides per row (rewritten files carry their rows' ORIGINAL
    // ids that way). None = written before lineage was tracked.
    firstRowId: Option[Long] = None,
    // the file's parquet carries materialized `_row_id` /
    // `_last_updated_sequence_number` columns (null entries fall back to
    // firstRowId + pos / the file's seq, per the V3 inheritance rule)
    materializedLineage: Boolean = false)

/** Delete file, two kinds (Iceberg v2 row-level deletes):
  *  - `kind="pos"`: parquet of (file_path STRING, pos BIGINT) pairs — the
  *    V3 deletion-vector mechanism (README.md:1105–1121); applies to the
  *    exact rows it names, regardless of seq.
  *  - `kind="eq"`: parquet of key values (physical `f<id>` columns listed
  *    in `eqFieldIds`); removes ALL matching rows from data files with
  *    seq < this file's seq. The content-addressed delete streaming
  *    upserts need — no scan at delete time.
  * `pathLo`/`pathHi` (pos only): canonical min/max of the referenced
  * `file_path` column, harvested from the delete parquet's own footer at
  * write — the delete-side pruning summary (a scan whose planned data
  * files all fall outside the range never loads the delete chunk). */
final case class DeleteFile(path: String, rows: Long,
    kind: String = "pos", eqFieldIds: Seq[Int] = Seq(), seq: Long = 0,
    pathLo: Option[String] = None, pathHi: Option[String] = None)

/** `schemaId` records the table's CURRENT schema at commit time (-1 =
  * pre-upgrade legacy snapshot → read through the live schema). Time
  * travel projects through it, so `VERSION AS OF` shows the columns the
  * table had then — Iceberg's snapshot-scoped-schema semantics.
  *
  * Data files live behind a [[FileListing]] and delete files behind a
  * [[DeleteListing]] (inline tail + chunked manifest refs each):
  * `dataFiles`/`deleteFiles` force the full sets, while planning-side
  * callers use the listings' `candidates` so summary-pruned chunks are
  * never loaded — Iceberg's manifest list carrying both data and delete
  * manifests (README.md:520–529 "efficient metadata"). */
final class Snapshot(
    val id: Long, val parentId: Option[Long], val timestampMs: Long,
    val operation: String, val files: FileListing,
    val deletes: DeleteListing, val schemaId: Int) {

  /** Source-compatible secondary constructor: an inline delete set. */
  def this(id: Long, parentId: Option[Long], timestampMs: Long, operation: String,
      files: FileListing, deleteFiles: Seq[DeleteFile], schemaId: Int) =
    this(id, parentId, timestampMs, operation, files,
      DeleteListing.inline(deleteFiles), schemaId)

  /** Full file set — forces every manifest chunk (memoized in the IO). */
  def dataFiles: Seq[DataFile] = files.all
  /** Full delete set — forces every delete manifest chunk (memoized). */
  def deleteFiles: Seq[DeleteFile] = deletes.all
  /** From manifest summaries — no chunk load. */
  def totalRows: Long = files.totalRows

  /** Source-compatible case-class-style copy; `dataFiles`/`deleteFiles` =
    * <seq> swaps in an inline listing, omitting keeps the lazy listing. */
  def copy(id: Long = id, parentId: Option[Long] = parentId,
      timestampMs: Long = timestampMs, operation: String = operation,
      dataFiles: Seq[DataFile] = null, deleteFiles: Seq[DeleteFile] = null,
      schemaId: Int = schemaId): Snapshot =
    new Snapshot(id, parentId, timestampMs, operation,
      if (dataFiles == null) files else FileListing.inline(dataFiles),
      if (deleteFiles == null) deletes else DeleteListing.inline(deleteFiles),
      schemaId)

  def withListing(l: FileListing): Snapshot =
    new Snapshot(id, parentId, timestampMs, operation, l, deletes, schemaId)

  def withDeletes(dl: DeleteListing): Snapshot =
    new Snapshot(id, parentId, timestampMs, operation, files, dl, schemaId)

  /** Value equality over the LOGICAL content (forces listings) — the serde
    * round-trip property tests compare whole metadata trees. */
  override def equals(o: Any): Boolean = o match {
    case s: Snapshot => s.id == id && s.parentId == parentId &&
      s.timestampMs == timestampMs && s.operation == operation &&
      s.schemaId == schemaId && s.deleteFiles == deleteFiles && s.dataFiles == dataFiles
    case _ => false
  }
  override def hashCode: Int = (id, timestampMs, operation).hashCode
  override def toString: String =
    s"Snapshot($id,$parentId,$timestampMs,$operation," +
      s"${files.manifests.size} manifests+${files.tail.size} inline," +
      s"${deletes.manifests.size} dmanifests+${deletes.tail.size} inline dels,$schemaId)"
}

object Snapshot {
  def apply(id: Long, parentId: Option[Long], timestampMs: Long, operation: String,
      dataFiles: Seq[DataFile], deleteFiles: Seq[DeleteFile], schemaId: Int = -1): Snapshot =
    new Snapshot(id, parentId, timestampMs, operation,
      FileListing.inline(dataFiles), DeleteListing.inline(deleteFiles), schemaId)
}

final case class MetadataLogEntry(version: Int, timestampMs: Long, note: String)

/** Named ref into the snapshot log — `refType` ∈ branch | tag. Branches are
  * movable heads (write-audit-publish staging); tags are immutable pins.
  * The table's "main" branch is `currentSnapshotId` itself, not a map entry,
  * so every pre-refs metadata file stays readable unchanged. */
final case class Ref(snapshotId: Long, refType: String)

final case class TableMetadata(
    location: String,
    lastFieldId: Int,
    currentSchemaId: Int,
    schemas: Seq[TableSchema],
    defaultSpecId: Int,
    specs: Seq[PartitionSpec],
    properties: Map[String, String],
    currentSnapshotId: Option[Long],
    snapshots: Seq[Snapshot],
    metadataLog: Seq[MetadataLogEntry],
    refs: Map[String, Ref] = Map(),
    // Iceberg V3 row lineage: first unassigned row id. Monotone across the
    // table's whole life (rollback keeps it — ids are never reused), so
    // every committed data file gets a disjoint [firstRowId, +rows) block.
    nextRowId: Long = 0) {

  def currentSchema: TableSchema = schemas.find(_.schemaId == currentSchemaId).get
  def schema(id: Int): TableSchema = schemas.find(_.schemaId == id).get
  def spec(id: Int): PartitionSpec = specs.find(_.specId == id).get
  def defaultSpec: PartitionSpec = spec(defaultSpecId)
  def currentSnapshot: Option[Snapshot] = currentSnapshotId.flatMap(i => snapshots.find(_.id == i))
  /** Snapshot by id — also resolves FOREIGN snapshot ids of an adopted
    * Iceberg table: adoption remaps random foreign ids to a dense
    * monotone sequence (IceLite range semantics assume id order = time
    * order) and records `adopted.foreign-snapshot.<foreignId> -> nativeId`
    * in table properties, so `VERSION AS OF <foreign id>` keeps serving
    * every pre-adoption point.
    *
    * An id that matches BOTH a native snapshot and a recorded foreign id
    * fails LOUDLY instead of silently preferring either: post-adoption
    * native commits mint monotonically increasing ids, and although the
    * minting path skips recorded foreign ids ([[IceLiteTable]]'s
    * nextSnapshotId), metadata written by an older engine could have
    * grown into a foreign id — serving either interpretation would be a
    * coin flip over which snapshot the caller meant. */
  def snapshot(id: Long): Snapshot = {
    val native = snapshots.find(_.id == id)
    val foreignNative = properties.get(s"${TableMetadata.ForeignSnapshotProp}$id")
      .flatMap(_.toLongOption).filterNot(n => native.exists(_.id == n))
    (native, foreignNative) match {
      case (Some(_), Some(nid)) => sys.error(
        s"snapshot id $id is ambiguous: it names a native snapshot AND an " +
          s"adopted foreign snapshot (remapped to native $nid); use the " +
          "snapshots table to disambiguate by timestamp")
      case (Some(s), None) => s
      case (None, Some(nid)) => snapshots.find(_.id == nid).getOrElse(sys.error(
        s"no snapshot $id (its adopted foreign mapping points at native " +
          s"snapshot $nid, which has been expired)"))
      case (None, None) => sys.error(s"no snapshot $id")
    }
  }
  /** TIMESTAMP AS OF: the latest snapshot committed at or before `ms`. */
  def snapshotAt(ms: Long): Snapshot =
    snapshots.filter(_.timestampMs <= ms).maxByOption(_.id)
      .getOrElse(sys.error(s"no snapshot at or before $ms"))
}

object TableMetadata {
  /** Property-key prefix recording an adopted table's foreign→native
    * snapshot-id remap: `adopted.foreign-snapshot.<foreignId> = <nativeId>`. */
  val ForeignSnapshotProp = "adopted.foreign-snapshot."
}

/** Hand-rolled Jackson serde — explicit tree building, no reflection, so the
  * on-disk format is fully pinned by this file. */
object MetaJson {
  private val M = new ObjectMapper()

  /** Serialize one DataFile into `fn`. */
  private def writeDataFile(fn: ObjectNode, f: DataFile): Unit = {
    fn.put("path", f.path); fn.put("rows", f.rows)
    fn.put("schemaId", f.schemaId); fn.put("specId", f.specId)
    val pn = fn.putObject("partition")
    f.partition.toSeq.sortBy(_._1).foreach { case (k, v) => pn.put(k, v) }
    if (f.stats.nonEmpty) {
      val sn = fn.putObject("stats")
      f.stats.toSeq.sortBy(_._1).foreach { case (fid, cs) =>
        val cn = sn.putObject(fid.toString)
        cn.put("min", cs.min); cn.put("max", cs.max)
      }
    }
    // non-default only: pre-sequence metadata files stay byte-stable
    if (f.seq != 0) fn.put("seq", f.seq)
    if (f.nameMapped) fn.put("nm", true)
    f.firstRowId.foreach(v => fn.put("frid", v))
    if (f.materializedLineage) fn.put("mlin", true)
  }

  private def writeDeleteFile(fn: ObjectNode, f: DeleteFile): Unit = {
    fn.put("path", f.path); fn.put("rows", f.rows)
    if (f.kind != "pos") {
      fn.put("kind", f.kind)
      val ids = fn.putArray("eqFieldIds")
      f.eqFieldIds.foreach(ids.add)
    }
    if (f.seq != 0) fn.put("seq", f.seq)
    f.pathLo.foreach(v => fn.put("plo", v))
    f.pathHi.foreach(v => fn.put("phi", v))
  }

  private def readDeleteFileNode(fn: JsonNode): DeleteFile = DeleteFile(
    fn.get("path").asText(), fn.get("rows").asLong(),
    Option(fn.get("kind")).map(_.asText()).getOrElse("pos"),
    Option(fn.get("eqFieldIds")).map(_.elements().asScala.map(_.asInt()).toSeq).getOrElse(Seq()),
    Option(fn.get("seq")).map(_.asLong()).getOrElse(0L),
    Option(fn.get("plo")).map(_.asText()),
    Option(fn.get("phi")).map(_.asText()))

  def toJson(m: TableMetadata): String = {
    val root = M.createObjectNode()
    // v2: snapshots reference a shared file table by index, so the
    // metadata stays O(unique files + snapshots) instead of
    // O(snapshots × files) — at 100 TB (≈10^6 data files, long snapshot
    // logs) the inline-v1 shape is driver poison: every retained snapshot
    // re-serializes the whole live file set. fromJson reads all versions.
    // v3 adds the manifest list: a snapshot's chunked files live in side
    // manifest files ([[ManifestIO]]); only refs + pruning summaries and
    // the small inline tail are serialized here. Serialization never
    // forces a chunk — refs pass through verbatim.
    root.put("formatVersion", 3)
    root.put("location", m.location)
    root.put("lastFieldId", m.lastFieldId)
    root.put("currentSchemaId", m.currentSchemaId)
    val schemas = root.putArray("schemas")
    m.schemas.foreach { s =>
      val sn = schemas.addObject()
      sn.put("schemaId", s.schemaId)
      val fs = sn.putArray("fields")
      s.fields.foreach { f =>
        val fn = fs.addObject()
        fn.put("id", f.id); fn.put("name", f.name); fn.put("type", f.dtype)
        f.defaultSql.foreach(d => fn.put("default", d))
        f.writeDefaultSql.foreach(d => fn.put("writeDefault", d))
      }
    }
    root.put("defaultSpecId", m.defaultSpecId)
    val specs = root.putArray("specs")
    m.specs.foreach { sp =>
      val n = specs.addObject()
      n.put("specId", sp.specId)
      val fs = n.putArray("fields")
      sp.fields.foreach { f =>
        val fn = fs.addObject()
        fn.put("sourceId", f.sourceId); fn.put("transform", f.transform); fn.put("name", f.name)
      }
    }
    val props = root.putObject("properties")
    m.properties.toSeq.sortBy(_._1).foreach { case (k, v) => props.put(k, v) }
    m.currentSnapshotId.foreach(root.put("currentSnapshotId", _))
    // shared file tables: each distinct INLINE file entry serialized
    // exactly once (chunked entries live in their manifest files)
    val dataIdx = scala.collection.mutable.LinkedHashMap[DataFile, Int]()
    val delIdx = scala.collection.mutable.LinkedHashMap[DeleteFile, Int]()
    m.snapshots.foreach { s =>
      s.files.tail.foreach(f => dataIdx.getOrElseUpdate(f, dataIdx.size))
      // inline delete tail only — chunked delete entries live in their
      // delete manifests; serialization never forces a chunk
      s.deletes.tail.foreach(f => delIdx.getOrElseUpdate(f, delIdx.size))
    }
    val dft = root.putArray("dataFileTable")
    dataIdx.keys.foreach(f => writeDataFile(dft.addObject(), f))
    val det = root.putArray("deleteFileTable")
    delIdx.keys.foreach(f => writeDeleteFile(det.addObject(), f))
    val snaps = root.putArray("snapshots")
    m.snapshots.foreach { s =>
      val n = snaps.addObject()
      n.put("id", s.id)
      s.parentId.foreach(n.put("parentId", _))
      n.put("timestampMs", s.timestampMs)
      n.put("operation", s.operation)
      if (s.schemaId != -1) n.put("schemaId", s.schemaId)
      if (s.files.manifests.nonEmpty) {
        val mfs = n.putArray("manifests")
        s.files.manifests.foreach { r =>
          val rn = mfs.addObject()
          rn.put("path", r.path); rn.put("fileCount", r.fileCount)
          rn.put("rowCount", r.rowCount)
          if (r.maxSeq != 0) rn.put("maxSeq", r.maxSeq)
          r.partitions.foreach { ps =>
            val pn = rn.putArray("partitions")
            ps.foreach { p =>
              val po = pn.addObject()
              p.toSeq.sortBy(_._1).foreach { case (k, v) => po.put(k, v) }
            }
          }
          if (r.stats.nonEmpty) {
            val sn = rn.putObject("stats")
            r.stats.toSeq.sortBy(_._1).foreach { case (fid, cs) =>
              val cn = sn.putObject(fid.toString)
              cn.put("min", cs.min); cn.put("max", cs.max)
            }
          }
        }
      }
      if (s.deletes.manifests.nonEmpty) {
        val dmfs = n.putArray("deleteManifests")
        s.deletes.manifests.foreach { r =>
          val rn = dmfs.addObject()
          rn.put("path", r.path); rn.put("fileCount", r.fileCount)
          rn.put("rowCount", r.rowCount)
          if (r.maxSeq != 0) rn.put("maxSeq", r.maxSeq)
          if (r.posCount != 0) rn.put("posCount", r.posCount)
          if (r.eqFieldIds.nonEmpty) {
            val ids = rn.putArray("eqFieldIds")
            r.eqFieldIds.foreach(ids.add)
          }
          r.pathLo.foreach(v => rn.put("plo", v))
          r.pathHi.foreach(v => rn.put("phi", v))
        }
      }
      val dfs = n.putArray("dataFileRefs")
      s.files.tail.foreach(f => dfs.add(dataIdx(f)))
      val dels = n.putArray("deleteFileRefs")
      s.deletes.tail.foreach(f => dels.add(delIdx(f)))
    }
    if (m.refs.nonEmpty) {
      val refs = root.putObject("refs")
      m.refs.toSeq.sortBy(_._1).foreach { case (name, ref) =>
        val rn = refs.putObject(name)
        rn.put("snapshotId", ref.snapshotId); rn.put("type", ref.refType)
      }
    }
    // non-default only: pre-lineage metadata files stay byte-stable
    if (m.nextRowId != 0) root.put("nextRowId", m.nextRowId)
    val log = root.putArray("metadataLog")
    m.metadataLog.foreach { e =>
      val n = log.addObject()
      n.put("version", e.version); n.put("timestampMs", e.timestampMs); n.put("note", e.note)
    }
    M.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  private def readDataFileNode(fn: JsonNode): DataFile = {
    def strMap(n: JsonNode, k: String): Map[String, String] =
      Option(n.get(k)).map(o => o.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
        .getOrElse(Map())
    DataFile(
      IceLite.canonicalPath(fn.get("path").asText()), fn.get("rows").asLong(),
      fn.get("schemaId").asInt(), fn.get("specId").asInt(),
      strMap(fn, "partition"),
      Option(fn.get("stats")).map(sn =>
        sn.properties().asScala.map(e =>
          e.getKey.toInt -> ColumnStats(
            e.getValue.get("min").asText(), e.getValue.get("max").asText())).toMap)
        .getOrElse(Map()),
      Option(fn.get("seq")).map(_.asLong()).getOrElse(0L),
      Option(fn.get("nm")).exists(_.asBoolean()),
      Option(fn.get("frid")).map(_.asLong()),
      Option(fn.get("mlin")).exists(_.asBoolean()))
  }

  /** Pure parse — valid only for metadata with no manifest refs (property
    * tests, fixtures); forcing a ref through this overload errors. Tables
    * load through the io-bound overload. */
  def fromJson(s: String): TableMetadata = fromJson(s, ManifestIO.detached)

  /** `file` names the document in the error that refuses a format-1
    * (inline-snapshot) document: earlier IceLite builds wrote that form,
    * and loading it through the v2+ reader would give snapshots that hold
    * no files. */
  def fromJson(s: String, io: ManifestIO, file: String = "document"): TableMetadata = {
    val r = M.readTree(s)
    def arr(n: JsonNode, k: String): Seq[JsonNode] =
      Option(n.get(k)).map(_.elements().asScala.toSeq).getOrElse(Seq())
    val version = Option(r.get("formatVersion")).map(_.asInt()).getOrElse(1)
    val inline = arr(r, "snapshots").exists(n => n.has("dataFiles") || n.has("deleteFiles"))
    require(version >= 2 && !inline,
      s"unsupported IceLite metadata $file: format $version" +
        (if (inline) " with inline snapshot files" else "") +
        "; IceLite reads format 2 and later (shared file tables, manifest refs)")
    def strMap(n: JsonNode, k: String): Map[String, String] =
      Option(n.get(k)).map(o => o.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
        .getOrElse(Map())
    // shared file tables: each inline entry once, snapshots index into them
    val dataTable = arr(r, "dataFileTable").map(readDataFileNode).toIndexedSeq
    val delTable = arr(r, "deleteFileTable").map(readDeleteFileNode).toIndexedSeq
    TableMetadata(
      location = r.get("location").asText(),
      lastFieldId = r.get("lastFieldId").asInt(),
      currentSchemaId = r.get("currentSchemaId").asInt(),
      schemas = arr(r, "schemas").map { sn =>
        TableSchema(
          sn.get("schemaId").asInt(),
          arr(sn, "fields").map(fn => Field(
            fn.get("id").asInt(), fn.get("name").asText(), fn.get("type").asText(),
            Option(fn.get("default")).map(_.asText()),
            Option(fn.get("writeDefault")).map(_.asText()))))
      },
      defaultSpecId = r.get("defaultSpecId").asInt(),
      specs = arr(r, "specs").map { n =>
        PartitionSpec(
          n.get("specId").asInt(),
          arr(n, "fields").map(fn => SpecField(
            fn.get("sourceId").asInt(), fn.get("transform").asText(), fn.get("name").asText())))
      },
      properties = strMap(r, "properties"),
      currentSnapshotId = Option(r.get("currentSnapshotId")).map(_.asLong()),
      snapshots = arr(r, "snapshots").map { n =>
        // v3 manifest refs (lazy chunks) + v2 index refs for the inline tail
        val refs = arr(n, "manifests").map { rn =>
          ManifestRef(
            rn.get("path").asText(), rn.get("fileCount").asLong(),
            rn.get("rowCount").asLong(),
            Option(rn.get("maxSeq")).map(_.asLong()).getOrElse(0L),
            Option(rn.get("partitions")).map(pn =>
              pn.elements().asScala.map(po =>
                po.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap).toSeq),
            Option(rn.get("stats")).map(sn =>
              sn.properties().asScala.map(e =>
                e.getKey.toInt -> ColumnStats(
                  e.getValue.get("min").asText(), e.getValue.get("max").asText())).toMap)
              .getOrElse(Map()))
        }
        val delRefs = arr(n, "deleteManifests").map { rn =>
          DeleteManifestRef(
            rn.get("path").asText(), rn.get("fileCount").asLong(),
            rn.get("rowCount").asLong(),
            Option(rn.get("maxSeq")).map(_.asLong()).getOrElse(0L),
            Option(rn.get("posCount")).map(_.asLong()).getOrElse(0L),
            arr(rn, "eqFieldIds").map(_.asInt()),
            Option(rn.get("plo")).map(_.asText()),
            Option(rn.get("phi")).map(_.asText()))
        }
        val tail = arr(n, "dataFileRefs").map(i => dataTable(i.asInt()))
        val delTail = arr(n, "deleteFileRefs").map(i => delTable(i.asInt()))
        new Snapshot(
          n.get("id").asLong(),
          Option(n.get("parentId")).map(_.asLong()),
          n.get("timestampMs").asLong(),
          n.get("operation").asText(),
          FileListing(refs, tail, io),
          DeleteListing(delRefs, delTail, io),
          Option(n.get("schemaId")).map(_.asInt()).getOrElse(-1))
      },
      metadataLog = arr(r, "metadataLog").map(n => MetadataLogEntry(
        n.get("version").asInt(), n.get("timestampMs").asLong(), n.get("note").asText())),
      refs = Option(r.get("refs")).map(o =>
        o.properties().asScala.map(e => e.getKey -> Ref(
          e.getValue.get("snapshotId").asLong(), e.getValue.get("type").asText())).toMap)
        .getOrElse(Map()),
      nextRowId = Option(r.get("nextRowId")).map(_.asLong()).getOrElse(0L),
    )
  }
}
