package graft.icelite

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Read-only adapter for a REAL Apache Iceberg table's metadata — the
  * format this engine's IceLite mirrors (/root/reference/README.md:830–1029
  * teaches Iceberg itself; this proves the v3 IceLite metadata design is
  * genuinely Iceberg-shaped by consuming the real thing).
  *
  * It parses and translates; IceLite scans. Parsing reads the Iceberg
  * spec's on-disk artifacts directly — no Iceberg jar:
  *  - `vN.metadata.json` (table metadata: schemas, snapshots, logs) via
  *    Jackson;
  *  - the snapshot's `manifest-list` avro (one row per manifest:
  *    manifest_path, content 0=data/1=deletes, summaries) and each
  *    manifest avro (entries: status, data_file record) via avro's
  *    GenericDatumReader — avro container files EMBED their schema, so
  *    field access is by spec name and survives writer-side evolution.
  *
  * [[toTableMetadata]] translates snapshots into IceLite's
  * [[TableMetadata]] in memory. A read ([[read]], [[readPruned]],
  * [[readAsOf]]) translates the one snapshot it serves and scans it with
  * IceLite's own scan, and [[IceLite.adopt]] commits the translation of
  * the whole history — one read path for foreign and native tables.
  *
  * Scope (documented): data manifests with add/existing entries, snapshot
  * selection (current / VERSION AS OF), v1's inline `manifests` list and
  * v2's `manifest-list`, flat primitive + V3 VARIANT schemas, partitioned tables
  * (identity + temporal transforms, spec evolution mid-history, manifest
  * partition tuples surfaced for pruning), and the FULL merge-on-read
  * delete surface, every carrier read in place: position-delete parquet,
  * V3 deletion vectors (Puffin roaring blobs) and EQUALITY deletes
  * (`equality_ids` resolved by field id, null-safe key match, applied only
  * to data files whose sequence number precedes the delete's — the v2
  * sequence rule, with entry-level inheritance from the manifest list). */
object IcebergInterop {
  private val M = new ObjectMapper()

  // All metadata IO rides Hadoop FileSystem resolved from each artifact
  // path's own scheme — a real Iceberg table lives on HDFS/object stores
  // (the tutorial's own stack is Iceberg-on-MinIO, README.md:876–885), so
  // a java.io.File view would only ever read file:// fixtures.
  private def readJson(path: String, conf: Configuration): JsonNode = {
    val p = new Path(path)
    val in = FileSystem.get(p.toUri, conf).open(p)
    try M.readTree(in) finally in.close()
  }

  private[icelite] def avroRows(path: String, conf: Configuration): Seq[GenericRecord] = {
    val reader = new DataFileReader[GenericRecord](
      ManifestCodec.openSeekable(new Path(path), conf),
      new GenericDatumReader[GenericRecord]())
    try reader.iterator().asScala.toList finally reader.close()
  }

  private[icelite] def str(r: GenericRecord, field: String): String =
    Option(r.get(field)).map(_.toString).orNull

  /** Schema-safe optional field: avro's GenericRecord.get THROWS on names
    * the writer's schema never had (v1 manifest lists lack `content`,
    * unpartitioned writers omit `partition`, …). */
  private[icelite] def optField(r: GenericRecord, field: String): Option[AnyRef] =
    if (r.getSchema.getField(field) != null) Option(r.get(field)) else None

  private[icelite] def optInt(r: GenericRecord, field: String, dflt: Int): Int =
    optField(r, field).map(_.asInstanceOf[Number].intValue).getOrElse(dflt)
  private def long(r: GenericRecord, field: String): Long =
    r.get(field).asInstanceOf[Number].longValue

  /** Spark DDL type for an Iceberg primitive type string. */
  private[icelite] def sparkType(t: String): String = t match {
    case "boolean"              => "BOOLEAN"
    case "int"                  => "INT"
    case "long"                 => "BIGINT"
    case "float"                => "FLOAT"
    case "double"               => "DOUBLE"
    case "date"                 => "DATE"
    case "timestamp"            => "TIMESTAMP_NTZ" // iceberg: without zone
    case "timestamptz"          => "TIMESTAMP"
    // V3 nanosecond timestamp: Spark tops out at µs, so the reader
    // surfaces the int64-nanos carrier — IceLite's own TIMESTAMP_NS
    // convention (README.md:1173–1179), lossless and order-preserving
    case "timestamp_ns"         => "BIGINT"
    case "string" | "uuid"      => "STRING"
    case "binary"               => "BINARY"
    // V3 semi-structured type: Spark 4 reads parquet's VARIANT logical
    // type natively, so the column surfaces as a first-class VARIANT
    // (variant_get/try_variant_get work directly on the foreign table)
    case "variant"              => "VARIANT"
    case d if d.startsWith("decimal") => d.toUpperCase
    case other => sys.error(s"iceberg interop: unsupported type $other")
  }

  final case class IceSnapshot(id: Long, timestampMs: Long, operation: String,
      manifestList: Option[String], manifests: Seq[String], schemaId: Option[Int],
      // v2+ commit-order sequence number (None on v1 shapes) — the
      // authoritative history order; real writers mint RANDOM snapshot
      // ids, so id order says nothing about time order
      sequenceNumber: Option[Long] = None,
      parentId: Option[Long] = None)

  /** One partition-spec field: `name` is the partition field name the
    * manifest's partition tuples use; `transform` ∈ identity / year /
    * month / day / bucket[N] / …; `sourceId` the source column's field id. */
  final case class IceSpecField(name: String, transform: String, sourceId: Int)

  /** One schema column: Iceberg field id + name + Spark DDL type.
    * `initialDefault` is the V3 `initial-default` as a SQL literal —
    * the value readers fill for data files written BEFORE the field
    * existed (files carrying the field use their stored values). */
  final case class IceField(id: Int, name: String, dtype: String,
      initialDefault: Option[String] = None,
      // V3 `write-default` as a SQL literal — the fill writers use for
      // omitted columns (adopt carries it into the native schema)
      writeDefault: Option[String] = None)

  /** One live data file of a snapshot, with the partition tuple its
    * manifest recorded (stringified values; empty for unpartitioned
    * files), the spec it was written under, its data sequence
    * number (0 when the manifests carry none — pre-v2 shapes), and the
    * snapshot that ADDED it (-1 when unrecorded) — which resolves the
    * schema the file was written under for field-id column mapping. */
  final case class IceDataFile(path: String, specId: Int,
      partition: Map[String, String], seq: Long = 0L,
      addedSnapshotId: Long = -1L, records: Long = 0L,
      // V3 row lineage: the file's explicit `first_row_id` when the
      // manifest records one (None otherwise — including the inherited-
      // from-manifest shape, which this reader does not reconstruct)
      firstRowId: Option[Long] = None)

  /** One named ref from the metadata's `refs` map: a branch (movable
    * head) or tag (immutable pin) the foreign writers kept. */
  final case class IceRef(snapshotId: Long, refType: String)

  /** One field of the default sort order, verbatim from the metadata
    * (`null-order` defaulting per the spec: nulls-first for asc,
    * nulls-last for desc). */
  final case class IceSortField(sourceId: Int, transform: String,
      direction: String, nullOrder: String)

  final case class IceMeta(location: String, formatVersion: Int,
      currentSchemaId: Int, schemas: Map[Int, Seq[IceField]],
      currentSnapshotId: Option[Long], snapshots: Seq[IceSnapshot],
      specs: Map[Int, Seq[IceSpecField]], defaultSpecId: Int = 0,
      // V3 row lineage: the table's `next-row-id` (0 = no lineage)
      nextRowId: Long = 0L,
      // the DEFAULT sort order's fields, in order, with full fidelity
      // (transform / direction / null-order) — adopters decide per
      // field what they can express
      sortOrder: Seq[IceSortField] = Seq(),
      properties: Map[String, String] = Map(),
      // named branches/tags ("main" excluded — it is the current
      // snapshot pointer, already carried by currentSnapshotId)
      refs: Map[String, IceRef] = Map())

  /** Parse an Iceberg `metadata.json` (v1 or v2/v3 shapes). */
  def loadMeta(metadataJson: String,
      conf: Configuration = new Configuration()): IceMeta = {
    val r = readJson(metadataJson, conf)
    def arr(n: JsonNode, k: String): Seq[JsonNode] =
      Option(n.get(k)).map(_.elements().asScala.toSeq).getOrElse(Seq())
    def fieldsOf(schemaNode: JsonNode): Seq[IceField] =
      arr(schemaNode, "fields").map(f => IceField(
        Option(f.get("id")).map(_.asInt()).getOrElse(0),
        f.get("name").asText(), sparkType(f.get("type").asText()),
        // V3 initial-default / write-default, carried as SQL literals
        Option(f.get("initial-default")).map(n =>
          if (n.isTextual) "'" + n.asText().replace("'", "''") + "'"
          else n.asText()),
        Option(f.get("write-default")).map(n =>
          if (n.isTextual) "'" + n.asText().replace("'", "''") + "'"
          else n.asText())))
    // v2: schemas[] + current-schema-id; v1: a single "schema"
    val schemas: Map[Int, Seq[IceField]] =
      if (r.has("schemas"))
        arr(r, "schemas").map(s => s.get("schema-id").asInt() -> fieldsOf(s)).toMap
      else Map(0 -> fieldsOf(r.get("schema")))
    val curSchema = Option(r.get("current-schema-id")).map(_.asInt()).getOrElse(0)
    // v2: partition-specs[] with spec-id; v1: a single inline partition-spec
    def specFieldsOf(n: JsonNode): Seq[IceSpecField] =
      Option(n).map(_.elements().asScala.toSeq).getOrElse(Seq()).map(f =>
        IceSpecField(f.get("name").asText(), f.get("transform").asText(),
          f.get("source-id").asInt()))
    val specs: Map[Int, Seq[IceSpecField]] =
      if (r.has("partition-specs"))
        arr(r, "partition-specs").map(s =>
          s.get("spec-id").asInt() -> specFieldsOf(s.get("fields"))).toMap
      else if (r.has("partition-spec"))
        Map(0 -> specFieldsOf(r.get("partition-spec")))
      else Map(0 -> Seq())
    val snaps = arr(r, "snapshots").map { s =>
      IceSnapshot(
        s.get("snapshot-id").asLong(),
        Option(s.get("timestamp-ms")).map(_.asLong()).getOrElse(0L),
        Option(s.get("summary")).flatMap(n => Option(n.get("operation")))
          .map(_.asText()).getOrElse("append"),
        Option(s.get("manifest-list")).map(_.asText()),
        arr(s, "manifests").map(_.asText()), // v1 inline manifest paths
        Option(s.get("schema-id")).map(_.asInt()),
        Option(s.get("sequence-number")).map(_.asLong()),
        Option(s.get("parent-snapshot-id")).map(_.asLong()))
    }
    // default sort order, surfaced verbatim (transform / direction /
    // null-order) — the adopter decides what it can express
    val sortFields: Seq[IceSortField] = {
      val defId = Option(r.get("default-sort-order-id")).map(_.asInt()).getOrElse(0)
      if (defId == 0) Seq()
      else arr(r, "sort-orders").find(o =>
        Option(o.get("order-id")).exists(_.asInt() == defId)).toSeq.flatMap { o =>
        arr(o, "fields").map { f =>
          val dir = Option(f.get("direction")).map(_.asText().toLowerCase)
            .getOrElse("asc")
          IceSortField(
            f.get("source-id").asInt(),
            Option(f.get("transform")).map(_.asText()).getOrElse("identity"),
            dir,
            Option(f.get("null-order")).map(_.asText().toLowerCase)
              .getOrElse(if (dir == "desc") "nulls-last" else "nulls-first"))
        }
      }
    }
    val props: Map[String, String] =
      Option(r.get("properties")).map(p =>
        p.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
        .getOrElse(Map())
    val refs: Map[String, IceRef] =
      Option(r.get("refs")).map(o => o.properties().asScala.collect {
        case e if e.getKey != "main" => e.getKey -> IceRef(
          e.getValue.get("snapshot-id").asLong(),
          Option(e.getValue.get("type")).map(_.asText().toLowerCase)
            .getOrElse("branch"))
      }.toMap).getOrElse(Map())
    IceMeta(
      Option(r.get("location")).map(_.asText()).getOrElse(""),
      Option(r.get("format-version")).map(_.asInt()).getOrElse(1),
      curSchema, schemas,
      Option(r.get("current-snapshot-id")).map(_.asLong()).filter(_ != -1L),
      snaps, specs,
      Option(r.get("default-spec-id")).map(_.asInt()).getOrElse(0),
      Option(r.get("next-row-id")).map(_.asLong()).getOrElse(0L),
      sortFields, props, refs)
  }

  /** Live inventory of one snapshot: manifest-list (or v1 inline list) →
    * manifests → entries with status ∈ {added=1, existing=0} (status=2
    * rows are REMOVED files and drop out). Data manifests (content=0)
    * yield [[IceDataFile]]s with their manifest-recorded partition tuple +
    * data sequence (per-entry `sequence_number`, inheriting the
    * manifest-list row's when the entry leaves it null — the v2
    * inheritance rule). Delete manifests (content=1/2) yield IceLite
    * [[DeleteFile]]s that name the foreign files in place, with the
    * manifests' record counts:
    *  - position-delete parquet (`kind = "pos"`);
    *  - V3 deletion vectors (file_format=PUFFIN with
    *    referenced_data_file), one entry per Puffin container carrying
    *    the normalized path range of the data files its blobs reference;
    *  - equality deletes (content=2 with `equality_ids`, `kind = "eq"`),
    *    stamped with their data sequence. */
  private[icelite] def fileInventory(meta: IceMeta, snap: IceSnapshot, conf: Configuration,
      manifestCache: scala.collection.mutable.Map[String, Seq[GenericRecord]] = null)
      : (Seq[IceDataFile], Seq[DeleteFile]) = {
    // callers walking MANY snapshots of one lineage (history adoption)
    // pass a shared cache: in the delta-export shape snapshot k's manifest
    // list references manifests 1..k, so an uncached walk re-parses each
    // manifest O(snapshots) times — O(n^2) avro reads on a long history
    def rows(p: String): Seq[GenericRecord] =
      if (manifestCache == null) avroRows(p, conf)
      else manifestCache.getOrElseUpdate(p, avroRows(p, conf))
    val manifestPaths: Seq[(String, Int, Int, Long, Long, Option[Long])] =
      snap.manifestList match {
      case Some(ml) =>
        rows(ml).map { r =>
          (str(r, "manifest_path"), optInt(r, "content", 0),
            optInt(r, "partition_spec_id", 0),
            optField(r, "sequence_number")
              .map(_.asInstanceOf[Number].longValue).getOrElse(0L),
            // the manifest-list row's added_snapshot_id: ADDED entries
            // written by real Iceberg writers leave the per-entry
            // snapshot_id null and inherit it from here (same inheritance
            // rule as sequence_number) — without it write-schema
            // resolution silently degrades to name matching
            optField(r, "added_snapshot_id")
              .map(_.asInstanceOf[Number].longValue).getOrElse(-1L),
            // V3 row lineage: the manifest's first_row_id — data entries
            // with null first_row_id inherit sequentially from it (the
            // shape real v3 writers produce)
            optField(r, "first_row_id")
              .map(_.asInstanceOf[Number].longValue))
        }
      case None => snap.manifests.map(p => (p, 0, 0, 0L, -1L, None))
    }
    val dataFiles = scala.collection.mutable.ArrayBuffer[IceDataFile]()
    val deletes = scala.collection.mutable.ArrayBuffer[DeleteFile]()
    // (Puffin container, referenced data file, cardinality) per DV blob
    val dvBlobs = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    manifestPaths.foreach { case (mp, manifestContent, specId, mlSeq, mlAddedSnap,
        mlFirstRowId) =>
      // V3 inheritance: a running offset from the manifest's first_row_id.
      // Per the spec, ONLY entries with a null first_row_id consume from
      // the manifest's inherited block — entries carrying an explicit
      // first_row_id (existing/carried files) keep their value and do NOT
      // advance the offset. A merged manifest shaped [null, explicit,
      // null] must give the trailing null entry
      // first_row_id + preceding-NULL record counts.
      var rowIdOffset = mlFirstRowId
      rows(mp).foreach { e =>
        val status = optInt(e, "status", 1)
        if (status != 2) { // 2 = deleted entry: file left the table
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val content = optInt(df, "content", 0)
          val format = str(df, "file_format")
          val path = str(df, "file_path")
          val seq = optField(e, "sequence_number")
            .map(_.asInstanceOf[Number].longValue).getOrElse(mlSeq)
          val records = optField(df, "record_count")
            .map(_.asInstanceOf[Number].longValue).getOrElse(0L)
          content match {
            case 0 =>
              require(manifestContent == 0,
                s"iceberg interop: data file in a delete manifest: $mp")
              require(format.equalsIgnoreCase("parquet"),
                s"iceberg interop: only parquet data files (got $format)")
              val part: Map[String, String] = optField(df, "partition") match {
                case Some(p: GenericRecord) =>
                  p.getSchema.getFields.asScala.flatMap(f =>
                    Option(p.get(f.name)).map(v => f.name -> v.toString)).toMap
                case _ => Map()
              }
              val explicitFrid = optField(df, "first_row_id")
                .map(_.asInstanceOf[Number].longValue)
              val frid = explicitFrid.orElse(rowIdOffset)
              if (explicitFrid.isEmpty)
                rowIdOffset = rowIdOffset.map(_ + records)
              dataFiles += IceDataFile(path, specId, part, seq,
                optField(e, "snapshot_id")
                  .map(_.asInstanceOf[Number].longValue).getOrElse(mlAddedSnap),
                records, frid)
            case 1 if format.equalsIgnoreCase("puffin") =>
              require(path.endsWith(PuffinDv.Ext),
                s"iceberg interop: unsupported deletion-vector container $path")
              dvBlobs += ((path, str(df, "referenced_data_file"), records))
            case 1 =>
              require(format.equalsIgnoreCase("parquet"),
                s"iceberg interop: unsupported position-delete format $format")
              deletes += DeleteFile(path, records, kind = "pos")
            case 2 =>
              require(format.equalsIgnoreCase("parquet"),
                s"iceberg interop: unsupported equality-delete format $format")
              val ids = optField(df, "equality_ids").map(
                _.asInstanceOf[java.util.List[AnyRef]].asScala
                  .map(_.asInstanceOf[Number].intValue).toSeq).getOrElse(Seq())
              require(ids.nonEmpty,
                s"iceberg interop: equality delete without equality_ids: $mp")
              deletes += DeleteFile(path, records, kind = "eq", eqFieldIds = ids, seq = seq)
            case other => sys.error(
              s"iceberg interop: unknown delete content=$other in $mp")
          }
        }
      }
    }
    val dvs = dvBlobs.groupBy(_._1).toSeq.map { case (p, blobs) =>
      val refs = blobs.flatMap(b => Option(b._2)).map(IceLite.canonicalPath)
      DeleteFile(p, blobs.map(_._3).sum, kind = "pos",
        pathLo = refs.minOption, pathHi = refs.maxOption)
    }
    (dataFiles.toSeq, (deletes.toSeq ++ dvs).distinct.sortBy(_.path))
  }

  /** Driver-side footer reads issued through [[parquetFooterSchema]] — a
    * spec counter: adoption's write-schema resolution must go through the
    * batched executor-side path ([[parquetFieldNamesByIdBatch]]) and
    * leave this untouched, or a long lineage serializes O(files) footer
    * reads on the driver. */
  private[graft] val driverFooterReads = new java.util.concurrent.atomic.AtomicLong

  /** First id of the Iceberg spec's reserved metadata-column block
    * (2147483447 = Int.MaxValue − 200): `_row_id`, `_last_updated_
    * sequence_number`, `_pos` … live here, never in a declared schema. */
  private[icelite] val ReservedFieldIdFloor: Int = Int.MaxValue - 200

  /** field-id → column-name map from a parquet file's own footer schema
    * (id-less fields skipped). */
  private def fieldNamesById(path: String, conf: Configuration): Map[Int, String] = {
    val r = Stats.open(new Path(path), conf)
    val fields =
      try r.getFooter.getFileMetaData.getSchema.getFields.asScala.toList
      finally r.close()
    fields.flatMap(f => Option(f.getId).map(id => id.intValue() -> f.getName)).toMap
  }

  /** One driver-side footer read yielding BOTH the field-id→name map and
    * the file's Spark schema (via Spark's own parquet→Catalyst converter,
    * the exact mapping schema inference computes). Readers of small side
    * files (equality-delete keys) read with this explicit schema instead
    * of a schema-less `spark.read.parquet(path)`, which schedules a whole
    * footer-inference Spark job per call. Memoized per file identity —
    * (path, length, mtime), the key `graft.Tables` uses — so a file
    * rewritten in place is read again; bounded so a pathological path
    * census cannot grow without limit. */
  private val footerSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[
      (String, Long, Long), (Map[Int, String], org.apache.spark.sql.types.StructType)]()

  private[icelite] def parquetFooterSchema(path: String, conf: Configuration)
      : (Map[Int, String], org.apache.spark.sql.types.StructType) = {
    val p = new Path(path)
    val status = p.getFileSystem(conf).getFileStatus(p)
    val key = (path, status.getLen, status.getModificationTime)
    val hit = footerSchemaCache.get(key)
    if (hit != null) return hit
    driverFooterReads.incrementAndGet()
    val r = Stats.open(p, conf)
    val msg = try r.getFooter.getFileMetaData.getSchema finally r.close()
    val byId = msg.getFields.asScala.toList
      .flatMap(f => Option(f.getId).map(id => id.intValue() -> f.getName)).toMap
    // the SQLConf constructor (driver-side callers only): the
    // Configuration one requires the SQL keys to be materialized in the
    // hadoop conf, which bare test sessions don't guarantee
    val st = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(
        org.apache.spark.sql.internal.SQLConf.get).convert(msg)
    if (footerSchemaCache.size > 4096) footerSchemaCache.clear()
    val out = (byId, st)
    footerSchemaCache.put(key, out)
    out
  }

  /** Footer field-id maps for MANY files as ONE Spark job — the footers
    * read executor-side, where per-file driver reads would serialize an
    * expired-history walk. A file whose footer fails to read maps to the
    * empty id map. */
  private[icelite] def parquetFieldNamesByIdBatch(spark: SparkSession,
      paths: Seq[String], conf: Configuration): Map[String, Map[Int, String]] = {
    if (paths.isEmpty) return Map.empty
    val bc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(conf))
    val n = math.max(1,
      math.min(paths.size, spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(paths, n).map { p =>
      p -> (try fieldNamesById(p, bc.value.value)
            catch { case _: Exception => Map.empty[Int, String] })
    }.collect().toMap
  }

  /** The schema a CURRENT read projects: the table's current schema, even
    * when the head snapshot was committed under an older one (a rename
    * after the last commit is metadata-only and surfaces immediately). */
  private[icelite] def currentReadSchemaId(ice: IceMeta, head: IceSnapshot): Int =
    if (ice.schemas.contains(ice.currentSchemaId)) ice.currentSchemaId
    else head.schemaId.getOrElse(ice.currentSchemaId)

  /** Translate foreign snapshots into IceLite's [[TableMetadata]], writing
    * nothing. `chain` holds the snapshots to register, oldest first, each
    * with its [[fileInventory]]; the last becomes current, and
    * `readSchemaId` becomes the current schema.
    *
    *  - Every foreign schema registers under its OWN schema-id, with its
    *    initial-default (read fill) and write-default (native appends).
    *  - Every spec the files reference registers, plus the foreign
    *    default spec. `bucket[N]` LIFTS to `mbucket[N]`: the foreign
    *    tuples were hashed with the Iceberg-spec murmur3
    *    ([[graft.functions.IcebergBucket]]) while IceLite's own
    *    `bucket[N]` hashes xxhash64.
    *  - Partition tuples re-encode into IceLite's encodings where the
    *    mapping is exact (identity / year / month / day; bucket ordinals
    *    verbatim); an unknown transform leaves its key out (keep).
    *  - Each data file is [[DataFile.nameMapped]] and stamped with the
    *    schema it was WRITTEN under: the adding snapshot's schema-id, or,
    *    where the metadata no longer records that snapshot, the minimal
    *    declared schema whose fields cover every field id in the parquet
    *    footer (read for all such files in one batched job). Id-less
    *    parquet stamps `readSchemaId` and resolves by name.
    *  - Deletes register in place as [[fileInventory]] yields them.
    *
    * A file whose write schema the metadata no longer declares, or whose
    * footer ids match no declared schema, fails the translation unless
    * `lenient`, which stamps it under `readSchemaId` (resolution by name,
    * the rule a read of such a table has always applied). */
  private[icelite] def toTableMetadata(spark: SparkSession, ice: IceMeta,
      chain: Seq[(IceSnapshot, (Seq[IceDataFile], Seq[DeleteFile]))],
      readSchemaId: Int, lenient: Boolean): TableMetadata = {
    val schemas = ice.schemas.toSeq.sortBy(_._1).map { case (sid, fs) =>
      TableSchema(sid, fs.map(f =>
        Field(f.id, f.name, f.dtype, f.initialDefault, f.writeDefault)))
    }
    val sch = schemas.find(_.schemaId == readSchemaId).get
    def liftTransform(tr: String): String =
      if (tr.startsWith("bucket[")) "m" + tr else tr
    val numericIdentity = Set("STRING", "VARCHAR", "INT", "INTEGER", "BIGINT", "LONG")
    def convertTuple(f: IceDataFile): Map[String, String] =
      ice.specs.getOrElse(f.specId, Seq()).flatMap { sf =>
        if (!sch.hasId(sf.sourceId)) None
        else f.partition.get(sf.name).flatMap { v =>
          val tgt = IceLite.specFieldName(sch.byId(sf.sourceId).name, liftTransform(sf.transform))
          val srcType = sch.byId(sf.sourceId).dtype.toUpperCase
          sf.transform match {
            case "identity" if srcType == "DATE" =>
              // Iceberg identity(DATE) tuples are epoch days; IceLite's ISO
              scala.util.Try(java.time.LocalDate.ofEpochDay(v.toLong).toString)
                .toOption.map(tgt -> _)
            case "identity" if numericIdentity(srcType) => Some(tgt -> v)
            case "year" =>
              scala.util.Try((1970 + v.toInt).toString).toOption.map(tgt -> _)
            case "month" => scala.util.Try {
              val m0 = v.toInt
              f"${1970 + Math.floorDiv(m0, 12)}%04d-${Math.floorMod(m0, 12) + 1}%02d"
            }.toOption.map(tgt -> _)
            case "day" => scala.util.Try(
              java.time.LocalDate.ofEpochDay(v.toLong).toString).toOption.map(tgt -> _)
            case b if b.startsWith("bucket[") => Some(tgt -> v)
            case _ => None // unknown transform: conservative keep
          }
        }
      }.toMap
    val writeSchemaById: Map[Long, Option[Int]] =
      ice.snapshots.map(s => s.id -> s.schemaId).toMap
    val footerIds = parquetFieldNamesByIdBatch(spark,
      chain.flatMap(_._2._1)
        .filter(f => writeSchemaById.getOrElse(f.addedSnapshotId, None).isEmpty)
        .map(_.path).distinct,
      spark.sessionState.newHadoopConf())
    // a candidate must DECLARE every field id the file carries (with the
    // matching name): a schema missing one of them predates that column,
    // and stamping the file there would fill the initial-default over
    // real data. The minimal declarer wins, so a pre-ADD file stamps
    // pre-ADD and fills the added column's initial-default, not null.
    // Reserved metadata-column ids (materialized `_row_id` …) never
    // belong to a declared schema and are ignored.
    def footerSchemaId(path: String): Option[Int] = {
      val byId = footerIds.getOrElse(path, Map.empty[Int, String])
        .filter(_._1 < ReservedFieldIdFloor)
      val cands = schemas.filter(s => byId.forall { case (fid, nm) =>
        s.fields.exists(f => f.id == fid && f.name == nm) })
      if (byId.isEmpty) Some(readSchemaId)
      else if (cands.isEmpty) None
      else Some(cands.minBy(s =>
        (s.fields.count(f => !byId.contains(f.id)), s.schemaId)).schemaId)
    }
    def schemaIdOf(f: IceDataFile): Int =
      writeSchemaById.getOrElse(f.addedSnapshotId, None) match {
        case Some(sid) if ice.schemas.contains(sid) => sid
        case Some(sid) =>
          require(lenient, s"iceberg adopt: ${f.path} was written under schema $sid, " +
            "which the metadata no longer declares — compact the source first")
          readSchemaId
        case None => footerSchemaId(f.path).getOrElse {
          require(lenient, s"iceberg adopt: ${f.path} carries parquet field ids " +
            "matching no schema the metadata declares — compact the source first")
          readSchemaId
        }
      }
    // foreign data-file paths enter IceLite's metadata here, made
    // canonical; delete files register in place under their own spelling
    val snapshots = chain.zipWithIndex.map { case ((s, (files, dels)), i) =>
      Snapshot(s.id, if (i == 0) None else Some(chain(i - 1)._1.id),
        s.timestampMs, s.operation,
        files.map(f => DataFile(IceLite.canonicalPath(f.path), f.records, schemaIdOf(f), f.specId,
          convertTuple(f), Map(), f.seq, nameMapped = true,
          // V3 row lineage crosses the boundary: an explicit or inherited
          // foreign first_row_id keeps serving (the file is never rewritten)
          firstRowId = f.firstRowId)),
        dels, s.schemaId.filter(ice.schemas.contains).getOrElse(readSchemaId))
    }
    val dataFiles = snapshots.flatMap(_.dataFiles)
    val specs = (dataFiles.map(_.specId) :+ ice.defaultSpecId).distinct.sorted.map { sid =>
      PartitionSpec(sid, ice.specs.getOrElse(sid, Seq()).flatMap { sf =>
        if (sch.hasId(sf.sourceId))
          Some(SpecField(sf.sourceId, liftTransform(sf.transform),
            IceLite.specFieldName(sch.byId(sf.sourceId).name, liftTransform(sf.transform))))
        else None
      })
    }
    TableMetadata(
      location = ice.location,
      lastFieldId = schemas.flatMap(_.fields.map(_.id)).maxOption.getOrElse(0),
      currentSchemaId = readSchemaId,
      schemas = schemas,
      defaultSpecId = ice.defaultSpecId,
      specs = specs,
      properties = Map(),
      currentSnapshotId = snapshots.lastOption.map(_.id),
      snapshots = snapshots,
      metadataLog = Seq(),
      // V3 row lineage: resume the foreign id counter, never below the end
      // of any file's explicit block, so native ids cannot collide
      nextRowId = math.max(ice.nextRowId, dataFiles.flatMap(df =>
        df.firstRowId.map(_ + df.rows)).maxOption.getOrElse(0L)))
  }

  /** Read one foreign snapshot through IceLite's own scan: its inventory,
    * narrowed by `prune` on the FOREIGN partition tuples, is translated in
    * memory ([[toTableMetadata]], lenient) and scanned under
    * `readSchemaId` — merge-on-read deletes of all three carriers apply
    * through IceLite's delete index and equality-delete join. Nothing is
    * written. */
  private def readSnapshot(spark: SparkSession, metadataJson: String, ice: IceMeta,
      snap: IceSnapshot, readSchemaId: Int,
      prune: Map[String, String] => Boolean): DataFrame = {
    val (files, deletes) = fileInventory(ice, snap, spark.sessionState.newHadoopConf())
    val m = toTableMetadata(spark, ice,
      Seq(snap -> (files.filter(f => prune(f.partition)), deletes)), readSchemaId,
      lenient = true)
    new IceLiteTable(spark, new Path(metadataJson).getParent.toString).readAt(m)
  }

  private def snapOrEmpty(meta: IceMeta): IceSnapshot =
    meta.currentSnapshotId.flatMap(id => meta.snapshots.find(_.id == id))
      .getOrElse(IceSnapshot(0, 0, "append", None, Seq(), None))

  /** Read the table's current snapshot. */
  def read(spark: SparkSession, metadataJson: String): DataFrame =
    readPruned(spark, metadataJson, _ => true)

  /** Current snapshot with manifest-level partition pruning: `prune` sees
    * each data file's recorded partition tuple (partition field name →
    * stringified value; use `forall`-shaped predicates so files from
    * other specs stay conservatively kept). */
  def readPruned(spark: SparkSession, metadataJson: String,
      prune: Map[String, String] => Boolean): DataFrame = {
    val meta = loadMeta(metadataJson, spark.sessionState.newHadoopConf())
    val snap = snapOrEmpty(meta)
    readSnapshot(spark, metadataJson, meta, snap, currentReadSchemaId(meta, snap), prune)
  }

  /** The file-level plan a pruned read would scan — the observable the
    * pruning specs assert on (and a migration tool's file inventory). */
  def planFiles(spark: SparkSession, metadataJson: String,
      prune: Map[String, String] => Boolean = _ => true): Seq[IceDataFile] = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = loadMeta(metadataJson, conf)
    fileInventory(meta, snapOrEmpty(meta), conf)._1.filter(f => prune(f.partition))
  }

  /** Time travel: VERSION AS OF an Iceberg snapshot id, projected through
    * that snapshot's own schema. */
  def readAsOf(spark: SparkSession, metadataJson: String, snapshotId: Long): DataFrame = {
    val meta = loadMeta(metadataJson, spark.sessionState.newHadoopConf())
    val s = meta.snapshots.find(_.id == snapshotId)
      .getOrElse(sys.error(s"no iceberg snapshot $snapshotId"))
    readSnapshot(spark, metadataJson, meta, s,
      s.schemaId.filter(meta.schemas.contains).getOrElse(meta.currentSchemaId), _ => true)
  }

  /** Iceberg's encoded partition value for a temporal transform — what a
    * pruning predicate compares against: year → years since 1970, month →
    * months since 1970-01, day → days since epoch. */
  def temporalPartitionValue(transform: String, date: java.time.LocalDate): Int =
    transform match {
      case "year"  => date.getYear - 1970
      case "month" => (date.getYear - 1970) * 12 + date.getMonthValue - 1
      case "day"   => date.toEpochDay.toInt
      case other   => sys.error(s"not a temporal transform: $other")
    }

  /** The snapshot log, oldest first: (id, timestampMs, operation). */
  def snapshots(metadataJson: String,
      conf: Configuration = new Configuration()): Seq[(Long, Long, String)] =
    loadMeta(metadataJson, conf).snapshots.map(s => (s.id, s.timestampMs, s.operation))
}
