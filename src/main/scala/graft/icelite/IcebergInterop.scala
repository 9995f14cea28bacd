package graft.icelite

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Read-only adapter for a REAL Apache Iceberg table's metadata — the
  * format this engine's IceLite mirrors (/root/reference/README.md:830–1029
  * teaches Iceberg itself; this proves the v3 IceLite metadata design is
  * genuinely Iceberg-shaped by consuming the real thing).
  *
  * Parses the Iceberg spec's on-disk artifacts directly — no Iceberg jar:
  *  - `vN.metadata.json` (table metadata: schemas, snapshots, logs) via
  *    Jackson;
  *  - the snapshot's `manifest-list` avro (one row per manifest:
  *    manifest_path, content 0=data/1=deletes, summaries) and each
  *    manifest avro (entries: status, data_file record) via avro's
  *    GenericDatumReader — avro container files EMBED their schema, so
  *    field access is by spec name and survives writer-side evolution;
  *  - data files via Spark's parquet reader, projected to the Iceberg
  *    schema by name.
  *
  * Scope (documented): data manifests with add/existing entries, snapshot
  * selection (current / VERSION AS OF), v1's inline `manifests` list and
  * v2's `manifest-list`, flat primitive + V3 VARIANT schemas, partitioned tables
  * (identity + temporal transforms, spec evolution mid-history, manifest
  * partition tuples surfaced for pruning), and the FULL merge-on-read
  * delete surface: position deletes in both carriers — (file_path, pos)
  * parquet and V3 deletion vectors (Puffin roaring blobs via
  * [[PuffinDv]], manifest-supplied blob ranges honored) — and EQUALITY
  * deletes (content=2, `equality_ids` resolved by field id, null-safe
  * key match, applied only to data files whose sequence number precedes
  * the delete's — the v2 sequence rule, with entry-level inheritance
  * from the manifest list). */
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

  /** One V3 deletion-vector reference from a delete manifest: the Puffin
    * container, the data file it deletes from, and the blob range when
    * the manifest supplies it (offset < 0 ⇒ resolve via the footer). */
  final case class DvRef(path: String, refDataFile: String,
      offset: Long, length: Long)

  /** One equality-delete file: its key field ids and its data sequence
    * number — an eq delete at sequence S removes matching rows only from
    * data files with sequence < S (Iceberg v2 semantics). */
  final case class EqDeleteRef(path: String, ids: Seq[Int], seq: Long)

  /** Live file inventory of one snapshot: manifest-list (or v1 inline
    * list) → manifests → entries with status ∈ {added=1, existing=0}
    * (status=2 rows are REMOVED files and drop out). Data manifests
    * (content=0) yield [[IceDataFile]]s with their manifest-recorded
    * partition tuple + data sequence (per-entry `sequence_number`,
    * inheriting the manifest-list row's when the entry leaves it null —
    * the v2 inheritance rule); delete manifests (content=1/2) yield
    * POSITION-delete parquet paths, V3 deletion-vector refs
    * (file_format=PUFFIN with referenced_data_file /
    * content_offset / content_size_in_bytes), or seq-stamped
    * EQUALITY-delete refs (content=2 with `equality_ids`). */
  private[icelite] def fileInventory(meta: IceMeta, snap: IceSnapshot, conf: Configuration,
      manifestCache: scala.collection.mutable.Map[String, Seq[GenericRecord]] = null)
      : (Seq[IceDataFile], Seq[String], Seq[DvRef], Seq[EqDeleteRef]) = {
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
    val posDeletes = scala.collection.mutable.ArrayBuffer[String]()
    val dvRefs = scala.collection.mutable.ArrayBuffer[DvRef]()
    val eqRefs = scala.collection.mutable.ArrayBuffer[EqDeleteRef]()
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
          val seq = optField(e, "sequence_number")
            .map(_.asInstanceOf[Number].longValue).getOrElse(mlSeq)
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
              val records = optField(df, "record_count")
                .map(_.asInstanceOf[Number].longValue).getOrElse(0L)
              val explicitFrid = optField(df, "first_row_id")
                .map(_.asInstanceOf[Number].longValue)
              val frid = explicitFrid.orElse(rowIdOffset)
              if (explicitFrid.isEmpty)
                rowIdOffset = rowIdOffset.map(_ + records)
              dataFiles += IceDataFile(str(df, "file_path"), specId, part, seq,
                optField(e, "snapshot_id")
                  .map(_.asInstanceOf[Number].longValue).getOrElse(mlAddedSnap),
                records, frid)
            case 1 if format.equalsIgnoreCase("puffin") =>
              // V3 deletion vector: one roaring blob inside a Puffin file
              dvRefs += DvRef(str(df, "file_path"),
                str(df, "referenced_data_file"),
                optField(df, "content_offset")
                  .map(_.asInstanceOf[Number].longValue).getOrElse(-1L),
                optField(df, "content_size_in_bytes")
                  .map(_.asInstanceOf[Number].longValue).getOrElse(-1L))
            case 1 =>
              require(format.equalsIgnoreCase("parquet"),
                s"iceberg interop: unsupported position-delete format $format")
              posDeletes += str(df, "file_path")
            case 2 =>
              require(format.equalsIgnoreCase("parquet"),
                s"iceberg interop: unsupported equality-delete format $format")
              val ids = optField(df, "equality_ids").map(
                _.asInstanceOf[java.util.List[AnyRef]].asScala
                  .map(_.asInstanceOf[Number].intValue).toSeq).getOrElse(Seq())
              require(ids.nonEmpty,
                s"iceberg interop: equality delete without equality_ids: $mp")
              eqRefs += EqDeleteRef(str(df, "file_path"), ids, seq)
            case other => sys.error(
              s"iceberg interop: unknown delete content=$other in $mp")
          }
        }
      }
    }
    (dataFiles.toSeq, posDeletes.toSeq, dvRefs.toSeq, eqRefs.toSeq)
  }

  /** Driver-side footer reads issued through [[parquetFieldNamesById]] —
    * a spec counter: adoption's expired-history resolution must go
    * through the batched executor-side path ([[parquetFieldNamesByIdBatch]])
    * and leave this untouched, or a long lineage serializes O(files)
    * footer reads on the driver. */
  private[graft] val driverFooterReads = new java.util.concurrent.atomic.AtomicLong

  /** First id of the Iceberg spec's reserved metadata-column block
    * (2147483447 = Int.MaxValue − 200): `_row_id`, `_last_updated_
    * sequence_number`, `_pos` … live here, never in a declared schema. */
  private[icelite] val ReservedFieldIdFloor: Int = Int.MaxValue - 200

  /** field-id → column-name map from a parquet file's own footer schema
    * (id-less fields skipped) — one footer read per delete file, driver-
    * side metadata planning bounded by the delete-file count. */
  private[icelite] def parquetFieldNamesById(path: String, conf: Configuration): Map[Int, String] = {
    driverFooterReads.incrementAndGet()
    fieldNamesByIdRaw(path, conf)
  }

  private def fieldNamesByIdRaw(path: String, conf: Configuration): Map[Int, String] = {
    val r = Stats.open(new Path(path), conf)
    val fields =
      try r.getFooter.getFileMetaData.getSchema.getFields.asScala.toList
      finally r.close()
    fields.flatMap(f => Option(f.getId).map(id => id.intValue() -> f.getName)).toMap
  }

  /** One driver-side footer read yielding BOTH the field-id→name map and
    * the file's Spark schema (via Spark's own parquet→Catalyst converter,
    * the exact mapping schema inference computes). Callers that previously
    * paired [[parquetFieldNamesById]] with a schema-less
    * `spark.read.parquet(path)` — which schedules a whole footer-inference
    * SPARK JOB per call (~150 ms of driver scheduling for a ~5 ms footer
    * read) — read with this explicit schema instead: same bytes, same
    * types, one job fewer per delete file per scan (guide §1.2 step 1:
    * remove work, here a whole scheduled job, before tuning anything).
    * Cached per path — delete/data files are immutable once written
    * (UUID-named), so the cache can never serve a stale schema; bounded
    * so a pathological path census cannot grow without limit. */
  private val footerSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (Map[Int, String], org.apache.spark.sql.types.StructType)]()

  private[icelite] def parquetFooterSchema(path: String, conf: Configuration)
      : (Map[Int, String], org.apache.spark.sql.types.StructType) = {
    val hit = footerSchemaCache.get(path)
    if (hit != null) return hit
    driverFooterReads.incrementAndGet()
    val r = Stats.open(new Path(path), conf)
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
    footerSchemaCache.put(path, out)
    out
  }

  /** Footer field-id maps for MANY files as ONE Spark job — the footers
    * read executor-side (32-way on local[32]; a real cluster fans wider),
    * where per-file driver reads would serialize an expired-history
    * adoption on the metadata walk. A file whose footer fails to read
    * maps to the empty id map, the same shape the driver path yields. */
  private[icelite] def parquetFieldNamesByIdBatch(spark: SparkSession,
      paths: Seq[String], conf: Configuration): Map[String, Map[Int, String]] = {
    if (paths.isEmpty) return Map.empty
    val bc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(conf))
    val n = math.max(1,
      math.min(paths.size, spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(paths, n).map { p =>
      p -> (try fieldNamesByIdRaw(p, bc.value.value)
            catch { case _: Exception => Map.empty[Int, String] })
    }.collect().toMap
  }

  /** Scheme/authority-stripping normalizer, column form — delete files
    * record `file_path` as the writer spelled it while Spark's
    * `_metadata.file_path` renders a full URI; both normalize to the URI
    * path (same rule as [[IceLite.normPath]]) with codegen'd regex, no UDF. */
  private def normCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", ""),
      "^[a-zA-Z][a-zA-Z0-9+.-]*:/", "/")

  private def scan(spark: SparkSession, meta: IceMeta, snap: IceSnapshot,
      prune: Map[String, String] => Boolean,
      current: Boolean = false): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    // Iceberg semantics: the CURRENT read projects the table's CURRENT
    // schema even when the head snapshot was committed under an older one
    // (a rename after the last commit is metadata-only and must surface
    // immediately); the snapshot's own schema-id scopes TIME TRAVEL only.
    val schema = meta.schemas(
      if (current) meta.currentSchemaId
      else snap.schemaId.getOrElse(meta.currentSchemaId))
    val (files, posDeletes, dvRefs, eqRefs) = fileInventory(meta, snap, conf)
    // manifest-level partition pruning: the caller's predicate sees each
    // file's recorded partition tuple (older-spec files surface THEIR
    // tuple — a predicate must treat a missing key as "keep", the same
    // conservative contract as IceLite's own prune)
    val kept = files.filter(f => prune(f.partition))
    if (kept.isEmpty) {
      val st = org.apache.spark.sql.types.StructType(schema.map { f =>
        org.apache.spark.sql.types.StructField(
          f.name, org.apache.spark.sql.types.DataType.fromDDL(f.dtype), nullable = true)
      })
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
    }
    import spark.implicits._
    val needTag = posDeletes.nonEmpty || dvRefs.nonEmpty || eqRefs.nonEmpty
    // files group by the schema they were WRITTEN under (the adding
    // snapshot's schema-id); within a group, read-schema columns resolve
    // by FIELD ID through the write schema — Iceberg's resolution rule,
    // which keeps renamed columns readable and fills fields added later
    // with their V3 initial-default (or null). Files whose write schema
    // is unrecorded (v1 shapes) or equals the read schema take the
    // name-resolution fast path. One scan per distinct write schema —
    // O(schemas) plan nodes, each group vectorized and unioned.
    val readSchemaId =
      if (current) meta.currentSchemaId
      else snap.schemaId.getOrElse(meta.currentSchemaId)
    // files whose adding snapshot was EXPIRED from the metadata resolve
    // their write schema through the parquet footer's field ids (same
    // rule as IceLite.adopt): a candidate schema must DECLARE every
    // field id the file carries with the matching name, the minimal
    // declarer wins — a pre-ADD file stamps pre-ADD and fills the added
    // column's initial-default, a post-ADD file can never be stamped
    // pre-ADD (the pre-ADD schema does not declare its added ids). One
    // executor-side Spark job reads all unresolved footers.
    val footerIds: Map[String, Map[Int, String]] = {
      val unresolved = kept.filter(f =>
        meta.snapshots.find(_.id == f.addedSnapshotId).flatMap(_.schemaId).isEmpty)
        .map(_.path).distinct
      parquetFieldNamesByIdBatch(spark, unresolved, conf)
    }
    def resolveFooterSchema(byId0: Map[Int, String]): Option[Int] = {
      // reserved metadata-column ids (materialized `_row_id` etc.) are
      // never part of a declared schema — ignore them when matching
      val byId = byId0.filter(_._1 < ReservedFieldIdFloor)
      val cands = meta.schemas.toSeq.filter { case (_, fs) =>
        byId.forall { case (fid, nm) => fs.exists(f => f.id == fid && f.name == nm) } }
      if (byId.isEmpty || cands.isEmpty) None
      else Some(cands.minBy { case (sid, fs) =>
        (fs.count(f => !byId.contains(f.id)), sid) }._1)
    }
    def writeSchemaIdOf(f: IceDataFile): Option[Int] =
      meta.snapshots.find(_.id == f.addedSnapshotId).flatMap(_.schemaId)
        .orElse(footerIds.get(f.path).flatMap(resolveFooterSchema))
        .filter(id => meta.schemas.contains(id) && id != readSchemaId)
    val groups = kept.groupBy(writeSchemaIdOf).toSeq
      .sortBy(_._1.getOrElse(Int.MaxValue))
    // per-group explicit read schema when it is PROVABLY the files' own:
    // every file's adding snapshot RECORDS its write schema (then the
    // files carry exactly that schema's columns/types, per the Iceberg
    // write contract), so the schema-inference job a schema-less
    // spark.read.parquet schedules per group adds nothing. Groups with
    // footer-resolved or unresolvable files keep inference — their
    // physical types are not metadata-attested (e.g. a promoted column
    // whose write-era schema was dropped from the list).
    def recordedSchema(wsIdOpt: Option[Int], fs: Seq[IceDataFile])
        : Option[org.apache.spark.sql.types.StructType] =
      if (!fs.forall(f => meta.snapshots.find(_.id == f.addedSnapshotId)
          .flatMap(_.schemaId).isDefined)) None
      else {
        val gs = meta.schemas(wsIdOpt.getOrElse(readSchemaId))
        Some(org.apache.spark.sql.types.StructType(gs.map(f =>
          org.apache.spark.sql.types.StructField(f.name,
            org.apache.spark.sql.types.DataType.fromDDL(f.dtype), nullable = true))))
      }
    val tagged = groups.map { case (wsIdOpt, fs) =>
      val reader = recordedSchema(wsIdOpt, fs)
        .map(spark.read.schema).getOrElse(spark.read)
      val base = reader.parquet(fs.map(_.path): _*)
      val withTags =
        if (!needTag) base
        else base
          .withColumn("_ifile", normCol(col("_metadata.file_path")))
          .withColumn("_ipos", col("_metadata.row_index"))
      val tagCols = if (needTag) Seq(col("_ifile"), col("_ipos")) else Seq()
      wsIdOpt match {
        case None => // written under the read schema: names match as-is
          if (groups.size == 1) withTags
          else withTags.select(tagCols ++ schema.map(f => col(f.name)): _*)
        case Some(wsId) =>
          val ws = meta.schemas(wsId)
          withTags.select(tagCols ++ schema.map { f =>
            ws.find(_.id == f.id) match {
              case Some(wf) => col(wf.name).cast(f.dtype).as(f.name)
              case None => f.initialDefault.map(d => expr(d).cast(f.dtype))
                .getOrElse(lit(null).cast(f.dtype)).as(f.name)
            }
          }: _*)
      }
    }.reduce(_ unionByName _)
    // merge-on-read, both delete shapes anti-joined against the tagged
    // lineage columns. The delete sides are O(deleted rows / keys) and
    // broadcast when small (AQE); the data side never shuffles.
    // (IceLite's OWN read path uses the broadcast DeleteIndex +
    // codegen'd probe instead; the read-only adapter deliberately avoids
    // assuming foreign writers sorted their delete files the way
    // IceLite's index relies on.)
    val afterPos =
      if (posDeletes.isEmpty && dvRefs.isEmpty) tagged
      else {
        val pqDels =
          if (posDeletes.isEmpty) None
          else Some(spark.read.schema("file_path STRING, pos BIGINT")
            .parquet(posDeletes: _*))
        // V3 deletion vectors: roaring blobs expand EXECUTOR-side into
        // (file, pos) rows — manifest-supplied blob ranges seek straight
        // to their blob, rangeless refs resolve through the footer
        val confB = new org.apache.spark.util.SerializableConfiguration(conf)
        val dvDels =
          if (dvRefs.isEmpty) None
          else Some(spark
            .createDataset(dvRefs.map(r =>
              (r.path, Option(r.refDataFile).getOrElse(""), r.offset, r.length)))
            .repartition(math.max(1, dvRefs.size))
            .flatMap { case (p, ref, off, len) =>
              if (off >= 0 && len > 0 && ref.nonEmpty)
                PuffinDv.runsForBlob(new Path(p), confB.value, off, len)
                  .grouped(2).flatMap(r => (r(0) until r(0) + r(1)).iterator)
                  .map(ref -> _)
              else PuffinDv.expand(new Path(p), confB.value)
            }
            .toDF("file_path", "pos"))
        val dels = (pqDels.toSeq ++ dvDels.toSeq).reduce(_ unionByName _)
          .select(normCol(col("file_path")).as("_dfile"), col("pos").as("_dpos"))
          .distinct()
        tagged
          .join(dels, col("_ifile") === col("_dfile") && col("_ipos") === col("_dpos"),
            "left_anti")
      }
    // equality deletes (Iceberg v2): a delete at sequence S removes
    // matching rows from data files with sequence < S only. Each row
    // learns its file's sequence via a broadcast (path → seq) join —
    // BOTH join sides normalize through the same normCol, so a writer-
    // spelled scheme variant can never null the join; a null sequence
    // after the join would silently resurrect deleted rows, so it fails
    // loudly instead. Then ONE null-safe anti-join per DISTINCT
    // equality_ids set (the spec matches NULL keys to NULL): keys from
    // all the set's delete files union, each carrying its delete's
    // sequence, reduced to max-per-key (row deleted ⟺ ∃ delete with
    // matching keys and row.seq < delete.seq ⟺ row.seq < max matching
    // seq) — plan depth stays O(distinct key-sets) however many delete
    // commits the foreign table accumulated, not O(delete files).
    val alive =
      if (eqRefs.isEmpty) afterPos
      else {
        val seqDf = broadcast(kept.map(f => (f.path, f.seq)).toDF("_praw", "_iseq")
          .select(normCol(col("_praw")).as("_sfile"), col("_iseq")))
        var cur = afterPos.join(seqDf, col("_ifile") === col("_sfile"), "left")
          .drop("_sfile")
          .withColumn("_iseq", when(col("_iseq").isNull, raise_error(concat(
            lit("iceberg interop: data file sequence unresolved for "), col("_ifile"))))
            .otherwise(col("_iseq")))
        eqRefs.groupBy(_.ids.sorted).toSeq.sortBy(_._1.mkString(","))
          .foreach { case (ids, refs) =>
            val names = ids.map(id => schema.find(_.id == id).getOrElse(sys.error(
              s"iceberg interop: equality_ids field $id not in snapshot schema")).name)
            val keys = refs.sortBy(_.path).map { d =>
              // key columns resolve by FIELD ID against the delete file's
              // OWN parquet schema (Iceberg's resolution rule — the key
              // survives a source-column rename after the delete was
              // written); name fallback for id-less writers. The SAME
              // footer read also yields the file's Spark schema, so the
              // read is explicit — no per-delete-file inference job.
              val (byId, fileSchema) = parquetFooterSchema(d.path, conf)
              spark.read.schema(fileSchema).parquet(d.path)
                .select(ids.zip(names).map { case (id, n) =>
                  col(byId.getOrElse(id, n)).as(s"_k_$n") }: _*)
                .withColumn("_dseq", lit(d.seq))
            }.reduce(_ unionByName _)
              .groupBy(names.map(n => col(s"_k_$n")): _*)
              .agg(max("_dseq").as("_dseq"))
            val cond = names.map(n => cur(n) <=> keys(s"_k_$n")).reduce(_ && _) &&
              cur("_iseq") < keys("_dseq")
            cur = cur.join(broadcast(keys), cond, "left_anti")
          }
        cur.drop("_iseq")
      }
    alive.select(schema.map(f => col(f.name).cast(f.dtype).as(f.name)): _*)
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
    scan(spark, meta, snapOrEmpty(meta), prune, current = true)
  }

  /** The file-level plan a pruned read would scan — the observable the
    * pruning specs assert on (and a migration tool's file inventory). */
  def planFiles(spark: SparkSession, metadataJson: String,
      prune: Map[String, String] => Boolean = _ => true): Seq[IceDataFile] = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = loadMeta(metadataJson, conf)
    fileInventory(meta, snapOrEmpty(meta), conf)._1.filter(f => prune(f.partition))
  }

  /** Time travel: VERSION AS OF an Iceberg snapshot id. */
  def readAsOf(spark: SparkSession, metadataJson: String, snapshotId: Long): DataFrame = {
    val meta = loadMeta(metadataJson, spark.sessionState.newHadoopConf())
    val s = meta.snapshots.find(_.id == snapshotId)
      .getOrElse(sys.error(s"no iceberg snapshot $snapshotId"))
    scan(spark, meta, s, _ => true)
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
