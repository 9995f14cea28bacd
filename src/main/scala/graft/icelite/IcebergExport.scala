package graft.icelite

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import scala.jdk.CollectionConverters._

/** Export an IceLite table as a REAL Apache Iceberg table — the write-side
  * twin of [[IcebergInterop]], and the fidelity proof in the other
  * direction: IceLite's metadata model materializes losslessly into the
  * format the reference tutorial teaches (/root/reference/README.md:830–1029
  * — metadata.json + avro manifest list + avro manifests over parquet).
  *
  * Data files are REWRITTEN under logical column names (IceLite parquet
  * stores physical `f<fieldId>` columns; Iceberg readers resolve by
  * field-id or name-mapping, so the export materializes name-addressable
  * parquet — the same shape Iceberg's own `migrate` action produces).
  * This is a full-table distributed rewrite by nature: one Spark write
  * job per exported snapshot, O(data) with no driver bottleneck.
  * Everything IceLite layered over its files — schema evolution defaults,
  * renames, MoR position/equality deletes — is resolved by the read path
  * and thus MATERIALIZED into the exported snapshot, so the output needs
  * no delete manifests and any plain Iceberg reader sees exact rows.
  *
  * The export is SPEC-PRESERVING where Iceberg semantics allow: a table
  * whose current partition spec uses identity / year / month / day
  * transforms exports partitioned — data laid out one file set per
  * partition tuple (all columns kept in the files, like Spark+Iceberg's
  * own writer), manifest entries carrying typed partition tuples, and
  * `partition-specs` declaring the transforms over the exported field
  * ids — so a real reader prunes partitions exactly as it would on a
  * native table. Partition values are written in Iceberg's encodings
  * (temporal transforms and DATE identity as epoch-relative ints).
  * `bucket[N]` specs export spec-preserving too: rows are REASSIGNED to
  * buckets through the Iceberg-spec murmur3 hash ([[IcebergTransforms]],
  * spec-vector-validated) — IceLite's own layout hashes xxhash64, and
  * declaring that layout under Iceberg's transform name would make real
  * readers prune WRONG rows, so the export re-buckets rather than lie.
  * Bucket sources outside the spec's hashable types (e.g. the
  * TIMESTAMP_NS nanos carrier) still fall back to an honest
  * unpartitioned export.
  *
  * Multi-snapshot exports of an APPEND-ONLY lineage are DELTA exports:
  * each later snapshot rewrites only its appended rows and chains the
  * parent's manifests by reference in its manifest list — O(delta) data
  * movement per snapshot, the property that makes exporting a long
  * lineage a usable migration tool. Any delete file, rewrite, or schema
  * change in the range falls back to full per-snapshot re-export
  * (exact, just not incremental). [[exportChained]] extends the same
  * property ACROSS exports: a new export continues a previous one's
  * lineage in a fresh directory, referencing the base's manifests in
  * place — the REST catalog's `?format=iceberg` cache uses it so a hot
  * table's append commits never pay a full-table rewrite (the serving
  * analog of the reference's "efficient metadata" promise,
  * /root/reference/README.md:520–529, over its REST catalog loop,
  * README.md:1033–1088).
  *
  * Scope (documented): flat primitive + VARIANT schemas (the interop
  * scope), snapshot subset chosen by the caller (each exports as an
  * append under the current spec). TIMESTAMP_NS declares the Iceberg V3
  * `timestamp_ns` type over its int64-nanos carrier; it and VARIANT
  * (stored as parquet's VARIANT logical type) bump format-version to 3. */
object IcebergExport {

  /** Iceberg V3 reserved field ids for the row-lineage metadata columns
    * — materialized `_row_id` / `_last_updated_sequence_number` columns
    * in data files carry these parquet field ids so spec-aware readers
    * resolve them without name mapping. */
  private[icelite] val RowIdFieldId = 2147483540L
  private[icelite] val LastUpdatedFieldId = 2147483539L

  /** manifest_entry schema; data_file grows a typed partition record when
    * the export spec has fields (absent entirely when unpartitioned, so
    * unpartitioned exports are byte-identical to the r12 shape). */
  private def mkEntrySchema(partFields: Seq[(String, String)]): Schema = {
    val part =
      if (partFields.isEmpty) ""
      else {
        val pf = partFields.map { case (n, t) =>
          s"""{"name":"$n","type":["null","$t"],"default":null}""" }.mkString(",")
        s""" {"name":"partition","type":{"type":"record","name":"pt","fields":[$pf]}},
           |""".stripMargin
      }
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         | {"name":"status","type":"int"},
         | {"name":"snapshot_id","type":"long"},
         | {"name":"data_file","type":{"type":"record","name":"r2","fields":[
         |   {"name":"content","type":"int"},
         |   {"name":"file_path","type":"string"},
         |   {"name":"file_format","type":"string"},
         |$part   {"name":"record_count","type":"long"},
         |   {"name":"file_size_in_bytes","type":"long"},
         |   {"name":"first_row_id","type":["null","long"],"default":null}]}}]}""".stripMargin)
  }

  private val manifestFileSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      | {"name":"manifest_path","type":"string"},
      | {"name":"manifest_length","type":"long"},
      | {"name":"partition_spec_id","type":"int"},
      | {"name":"content","type":"int"},
      | {"name":"added_snapshot_id","type":"long"}]}""".stripMargin)

  /** Iceberg type string for an IceLite declared type. */
  private def icebergType(dtype: String): String = dtype.toUpperCase match {
    case "BOOLEAN"                => "boolean"
    case "INT" | "INTEGER"        => "int"
    case "BIGINT" | "LONG"        => "long"
    case "FLOAT"                  => "float"
    case "DOUBLE"                 => "double"
    case "DATE"                   => "date"
    case "TIMESTAMP"              => "timestamptz"
    case "TIMESTAMP_NTZ"          => "timestamp" // iceberg: without zone
    case "TIMESTAMP_NS"           => "timestamp_ns" // V3 (README.md:1173–1179)
    case "STRING" | "VARCHAR"     => "string"
    case "BINARY"                 => "binary"
    // Iceberg V3 semi-structured type (README.md:1127–1153); the data
    // rewrite stores it as parquet's VARIANT logical type (binary
    // metadata + value), the physical layout V3 readers expect
    case "VARIANT"                => "variant"
    case d if d.startsWith("DECIMAL") => d.toLowerCase
    case other => sys.error(s"iceberg export: unsupported type $other")
  }

  // Export IO rides Hadoop FileSystem resolved per path — an export onto
  // HDFS/an object store (the deployment Iceberg exists for) must land its
  // metadata next to its data, not on the driver's local disk.
  private def writeAvro(path: String, schema: Schema, rows: Seq[GenericRecord],
      conf: Configuration): Unit = {
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, conf)
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, fs.create(p, false))
    try rows.foreach(w.append) finally w.close()
  }

  /** Iceberg `sort-orders` for the table's declared `write.sort-order`:
    * order 0 (unsorted) plus, when declared and fully expressible, order
    * 1 with each field's transform / direction / null-order emitted
    * verbatim — the clustering hint a foreign engine needs to keep
    * exploiting the sorted layout (file min/max pruning on the sort
    * key). `mbucket[N]` (the adopted murmur3 layout) emits as the
    * spec's `bucket[N]` — it IS that hash; native `bucket[N]`
    * (xxhash64) has no spec transform that orders the same way, so an
    * order containing one drops entirely (a partially-declared or
    * wrong-hash order would mislead foreign readers). Returns
    * (default-sort-order-id, sort-orders JSON array). */
  private def sortOrdersJson(m: TableMetadata): (Int, String) = {
    val empty = (0, """[{"order-id": 0, "fields": []}]""")
    m.properties.get("write.sort-order") match {
      case Some(csv) =>
        val parsed = scala.util.Try(SortOrders.parse(csv)).getOrElse(Seq())
        val sch = m.currentSchema
        def transformJson(t: String): Option[String] = t match {
          case "identity" | "year" | "month" | "day" => Some(t)
          case tr if tr.startsWith("truncate[") => Some(tr)
          case tr if tr.startsWith("mbucket[") => Some(tr.stripPrefix("m"))
          case _ => None // native xxhash bucket: not spec-expressible
        }
        val fields = parsed.map { f =>
          if (!sch.fields.exists(_.name == f.column)) None
          else transformJson(f.transform).map { tj =>
            s"""{"transform": "$tj", "source-id": ${sch.fieldByName(f.column).id}, """ +
              s""""direction": "${if (f.desc) "desc" else "asc"}", """ +
              s""""null-order": "${if (f.nullsLast) "nulls-last" else "nulls-first"}"}"""
          }
        }
        if (fields.nonEmpty && fields.forall(_.isDefined))
          (1, s"""[{"order-id": 0, "fields": []}, {"order-id": 1, "fields": [${
            fields.flatten.mkString(", ")}]}]""")
        else empty
      case None => empty
    }
  }

  /** Iceberg `refs` block for the table's named branches/tags — only
    * refs whose target snapshot is part of the exported lineage travel
    * (a ref at an unexported snapshot would dangle). Returns a
    * ready-to-splice `"refs": {...},` fragment or "". */
  private def refsJson(m: TableMetadata, exportedIds: Seq[Long]): String = {
    val ids = exportedIds.toSet
    val keep = m.refs.toSeq.filter { case (_, r) => ids.contains(r.snapshotId) }
      .sortBy(_._1)
    if (keep.isEmpty) ""
    else {
      val kv = keep.map { case (n, r) =>
        s""""$n": {"snapshot-id": ${r.snapshotId}, "type": "${r.refType}"}"""
      }.mkString(", ")
      s"""\n  "refs": {$kv},"""
    }
  }

  /** Table properties worth crossing the boundary: the z-order hint
    * (`write.zorder-by`) — the Iceberg sort-order spec cannot express a
    * space-filling curve, so the hint travels as a table property, the
    * same channel engines use for their own clustering metadata. Returns
    * a ready-to-splice `"properties": {...},` fragment or "". */
  private def tablePropsJson(m: TableMetadata): String = {
    val keep = m.properties.filter { case (k, _) => k == "write.zorder-by" }
    if (keep.isEmpty) ""
    else {
      val kv = keep.toSeq.sorted
        .map { case (k, v) => s""""$k": "$v"""" }.mkString(", ")
      s"""\n  "properties": {$kv},"""
    }
  }

  private def fileLen(path: String, conf: Configuration): Long = {
    val p = new Path(path)
    FileSystem.get(p.toUri, conf).getFileStatus(p).getLen
  }

  /** One exported partition field: Iceberg-conventional `name` (identity →
    * source name; temporal → `src_transform`), the avro type its tuple
    * values declare, the ICEBERG-ENCODED column the data write partitions
    * by, and the directory-value decoder back into the avro type. */
  private final case class ExportPartField(
      name: String, transform: String, sourceId: Int, avroType: String,
      encode: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      decode: String => AnyRef)

  private val ExportableTemporal = Set("year", "month", "day")
  private val BucketableTypes = Set("INT", "INTEGER", "BIGINT", "LONG",
    "STRING", "VARCHAR", "DATE", "TIMESTAMP", "TIMESTAMP_NTZ")

  /** The export partition plan for the table's CURRENT spec, or empty when
    * any field is outside exportable semantics (unpartitioned export is
    * the honest fallback — a spec a real reader would mis-prune by is
    * corruption, omitting it is valid Iceberg). `bucket[N]` re-encodes
    * through the Iceberg-spec murmur3 hash ([[IcebergTransforms]], via
    * the codegen'd [[graft.functions.IcebergBucket]]): IceLite's own
    * layout hashes xxhash64, so the export REASSIGNS rows to the buckets
    * a real reader computes — correct pruning beats layout reuse. */
  private def exportPartFields(m: TableMetadata): Seq[ExportPartField] = {
    import org.apache.spark.sql.functions._
    val spec = m.defaultSpec
    val sch = m.currentSchema
    val plans = spec.fields.map { sf =>
      if (!sch.hasId(sf.sourceId)) None
      else {
        val src = sch.byId(sf.sourceId)
        val dt = src.dtype.toUpperCase
        (sf.transform, dt) match {
          case ("identity", "STRING" | "VARCHAR") => Some(ExportPartField(
            src.name, "identity", sf.sourceId, "string", c => c, s => s))
          case ("identity", "INT" | "INTEGER" | "BIGINT" | "LONG") => Some(ExportPartField(
            src.name, "identity", sf.sourceId, "long",
            c => c.cast("long"), s => Long.box(s.toLong)))
          // Iceberg encodes DATE partition values as epoch days
          case ("identity", "DATE") => Some(ExportPartField(
            src.name, "identity", sf.sourceId, "int",
            c => datediff(c, to_date(lit("1970-01-01"))), s => Int.box(s.toInt)))
          case (t, "DATE" | "TIMESTAMP" | "TIMESTAMP_NTZ") if ExportableTemporal(t) =>
            val enc: org.apache.spark.sql.Column => org.apache.spark.sql.Column = t match {
              case "year"  => c => (year(c) - lit(1970)).cast("int")
              case "month" => c => ((year(c) - lit(1970)) * 12 + month(c) - 1).cast("int")
              case "day"   => c => datediff(c, to_date(lit("1970-01-01")))
            }
            Some(ExportPartField(s"${src.name}_$t", t, sf.sourceId, "int",
              enc, s => Int.box(s.toInt)))
          // mbucket[N] (adopted murmur3 layout) exports as plain bucket[N]:
          // the re-encode below IS the murmur3 hash, so adopted rows keep
          // their original bucket assignment on the way out
          case (t, _) if (t.startsWith("bucket[") || t.startsWith("mbucket[")) &&
              t.endsWith("]") && (BucketableTypes(dt) || dt.startsWith("DECIMAL")) =>
            val n = t.substring(t.indexOf('[') + 1, t.length - 1).toInt
            Some(ExportPartField(s"${src.name}_bucket", s"bucket[$n]", sf.sourceId, "int",
              c => org.apache.spark.sql.graft.SparkShims.columnOf(
                graft.functions.IcebergBucket(
                  org.apache.spark.sql.graft.SparkShims.toExpression(c), n)),
              s => Int.box(s.toInt)))
          case _ => None
        }
      }
    }
    if (plans.exists(_.isEmpty)) Seq() else plans.flatten
  }

  /** Iceberg JSON literal for a SIMPLE SQL literal default (`'s'`, `42`,
    * `4.5`, `true`) — None when the default is any richer expression,
    * which precludes delta export (the full re-export materializes it). */
  private[icelite] def defaultJson(f: Field): Option[String] =
    f.defaultSql.flatMap(literalJson(_, f.dtype))

  /** V3 `write-default` as a spec JSON single value — the fill WRITERS
    * use for omitted columns (inherits `initial-default` until SET
    * DEFAULT diverges it; a DROP DEFAULT "null" literal emits nothing,
    * matching the spec's absent-means-null). */
  private[icelite] def writeDefaultJson(f: Field): Option[String] =
    f.writeFill.filterNot(_.trim.equalsIgnoreCase("null"))
      .flatMap(literalJson(_, f.dtype))

  private def literalJson(d: String, dtype: String): Option[String] = {
    val s = d.trim
    if (s.matches("'[^']*'"))
      Some("\"" + s.substring(1, s.length - 1).replace("\\", "\\\\")
        .replace("\"", "\\\"") + "\"")
    else if (s.matches("-?\\d+") || s.matches("-?\\d+\\.\\d+")) {
      // Iceberg's single-value JSON serialization requires DECIMAL values
      // as JSON strings, rescaled to the declared scale (strict readers
      // validate scale equality); int/long/float/double stay bare numbers
      val dt = dtype.toUpperCase
      if (dt.startsWith("DECIMAL")) {
        val scale = "DECIMAL\\s*\\(\\s*\\d+\\s*,\\s*(\\d+)\\s*\\)".r
          .findFirstMatchIn(dt).map(_.group(1).toInt).getOrElse(0)
        // a literal that doesn't fit the declared scale is not expressible
        // as a spec-valid single value → full export materializes it.
        // toPlainString: BigDecimal.toString switches to scientific
        // notation below 1e-7, which spec-strict plain-decimal parsers
        // reject
        scala.util.Try(BigDecimal(s).setScale(scale)).toOption
          .map(v => "\"" + v.bigDecimal.toPlainString + "\"")
      } else Some(s)
    }
    else if (s.equalsIgnoreCase("true") || s.equalsIgnoreCase("false"))
      Some(s.toLowerCase)
    else None
  }


  /** Write one snapshot's data files + manifest: parquet under
    * `dest/data/snap-<sid>` (partitioned by TEMP `_p_<name>` columns holding
    * the Iceberg-ENCODED transform values when the spec is exportable, so the
    * files keep every source column while the directory names carry the tuple
    * the manifest entries need), then one avro manifest of ADDED entries.
    * Returns `(manifestPath, manifestLength)`. */
  private def writeSnapshotData(
      df: org.apache.spark.sql.DataFrame, sid: Long, dest: String,
      entrySchema: Schema, partFields: Seq[ExportPartField],
      snapSch: TableSchema, conf: Configuration,
      destFs: FileSystem,
      // V3 row lineage: when set, every exported data file is assigned a
      // fresh disjoint `first_row_id` block from this counter (the spec
      // requires v3 writers to assign one per added file; materialized
      // `_row_id` values still win per row — the blocks serve rows whose
      // materialized id is null)
      rowIdCtr: Option[java.util.concurrent.atomic.AtomicLong] = None): (String, Long) = {
    val dataDir = s"$dest/data/snap-$sid"
    if (partFields.isEmpty) df.write.parquet(dataDir)
    else {
      val withTmp = partFields.foldLeft(df) { (d, pf) =>
        require(snapSch.hasId(pf.sourceId),
          s"iceberg export: snapshot $sid's schema lacks partition source " +
            s"field id ${pf.sourceId} ($dest)")
        d.withColumn(s"_p_${pf.name}",
          pf.encode(org.apache.spark.sql.functions.col(snapSch.byId(pf.sourceId).name)))
      }
      withTmp.write.partitionBy(partFields.map(pf => s"_p_${pf.name}"): _*)
        .parquet(dataDir)
    }
    val it = destFs.listFiles(new Path(dataDir), true)
    val parts = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.FileStatus]()
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) parts += st
    }
    val entries = parts.toSeq.sortBy(_.getPath.toString).map { st =>
      val r = Stats.open(st.getPath, conf)
      val rows = try r.getRecordCount finally r.close()
      val dfr = new GenericData.Record(entrySchema.getField("data_file").schema())
      dfr.put("content", 0)
      dfr.put("file_path", st.getPath.toString)
      dfr.put("file_format", "PARQUET")
      if (partFields.nonEmpty) {
        // tuple parsed back from the hive-style segments the write laid
        // down (_p_<name>=<encoded>); Spark's escaping undone per value
        val segs = st.getPath.toString.split('/')
          .filter(_.contains('=')).map { s =>
            val k = s.substring(0, s.indexOf('='))
            val v = s.substring(s.indexOf('=') + 1)
            k -> v
          }.toMap
        val pt = new GenericData.Record(
          entrySchema.getField("data_file").schema().getField("partition").schema())
        partFields.foreach { pf =>
          segs.get(s"_p_${pf.name}").foreach { raw =>
            if (raw != "__HIVE_DEFAULT_PARTITION__")
              pt.put(pf.name, pf.decode(org.apache.spark.sql.graft.SparkShims.unescapePathName(raw)))
          }
        }
        dfr.put("partition", pt)
      }
      dfr.put("record_count", rows)
      dfr.put("file_size_in_bytes", st.getLen)
      rowIdCtr.foreach(c => dfr.put("first_row_id", c.getAndAdd(rows)))
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1); e.put("snapshot_id", sid); e.put("data_file", dfr)
      e
    }
    val mfPath = s"$dest/metadata/m-$sid.avro"
    writeAvro(mfPath, entrySchema, entries, conf)
    (mfPath, fileLen(mfPath, conf))
  }

  /** A previous export this one extends: carried-forward schemas/snapshots
    * (verbatim JSON nodes — their manifest lists and data stay in the base
    * dir by reference) plus the counters the continuation resumes from. */
  private final case class BaseExport(
      uuid: String, formatVersion: Int, lastSeq: Long, lastColumnId: Int,
      lastSnapshotId: Long, lastUpdatedMs: Long,
      snapIds: Seq[Long],
      schemaIds: Set[Int], schemaIdSets: Seq[Set[Int]],
      schemaIdTypes: Seq[Map[Int, String]],
      schemasJson: Seq[String], snapsJson: Seq[String],
      specFields: Seq[(String, String, Int)],
      headManifests: Seq[(String, Long, Long)],
      // V3 row lineage: the base export's next-row-id (0 = lineage-less)
      nextRowId: Long)

  private def parseBase(baseMj: String, conf: Configuration): BaseExport = {
    val M = new com.fasterxml.jackson.databind.ObjectMapper()
    val fs = FileSystem.get(new Path(baseMj).toUri, conf)
    val in = fs.open(new Path(baseMj))
    val r = try M.readTree(in) finally in.close()
    def arr(k: String) = r.get(k).elements().asScala.toSeq
    val headId = r.get("current-snapshot-id").asLong()
    val headMl = arr("snapshots")
      .find(_.get("snapshot-id").asLong() == headId)
      .getOrElse(sys.error(s"base export $baseMj: head snapshot missing"))
      .get("manifest-list").asText()
    val manifests = IcebergInterop.avroRows(headMl, conf).map { g =>
      (g.get("manifest_path").toString,
        g.get("manifest_length").asInstanceOf[Long],
        g.get("added_snapshot_id").asInstanceOf[Long])
    }
    BaseExport(
      uuid = r.get("table-uuid").asText(),
      formatVersion = r.get("format-version").asInt(),
      lastSeq = r.get("last-sequence-number").asLong(),
      lastColumnId = r.get("last-column-id").asInt(),
      lastSnapshotId = headId,
      lastUpdatedMs = r.get("last-updated-ms").asLong(),
      snapIds = arr("snapshots").map(_.get("snapshot-id").asLong()),
      schemaIds = arr("schemas").map(_.get("schema-id").asInt()).toSet,
      schemaIdSets = arr("schemas").map(s => s.get("fields").elements().asScala
        .map(_.get("id").asInt()).toSet),
      schemaIdTypes = arr("schemas").map(s => s.get("fields").elements().asScala
        .map(f => f.get("id").asInt() -> f.get("type").asText()).toMap),
      schemasJson = arr("schemas").map(M.writeValueAsString),
      snapsJson = arr("snapshots").map(M.writeValueAsString),
      specFields = r.get("partition-specs").get(0).get("fields")
        .elements().asScala.toSeq.map(f => (f.get("name").asText(),
          f.get("transform").asText(), f.get("source-id").asInt())),
      headManifests = manifests,
      nextRowId = Option(r.get("next-row-id")).map(_.asLong()).getOrElse(0L))
  }

  /** Extend the export at `baseMj` with only the snapshots committed AFTER
    * its head: O(appended rows) data movement — the new dir holds just the
    * delta files + its own metadata, referencing the base's manifests in
    * place. Returns None (caller full-exports) unless the lineage chains:
    * base head still known to the table, every later snapshot a pure
    * append (parent-walk, so an expired delete in between can't hide),
    * schemas id-compatible, defaults fillable, partition spec unchanged. */
  def exportChained(t: IceLiteTable, dest: String, baseMj: String,
      pinned: Option[TableMetadata] = None): Option[String] = {
    // pin ONE metadata for the whole export: the chain check, the data
    // read, and the written manifest must all describe the same table
    // version — a commit landing mid-export must not leak newer state
    // into a cache entry keyed by the older version
    val m = pinned.getOrElse(t.meta)
    val conf = t.spark.sessionState.newHadoopConf()
    val base =
      try parseBase(baseMj, conf)
      catch { case _: Exception => return None }
    if (!m.snapshots.exists(_.id == base.lastSnapshotId)) return None
    // a lineage-bearing table cannot chain off a LINEAGE-LESS base: the
    // base's parquet (referenced in place) has no materialized ids and
    // its manifests no first_row_id, so every base row would read null
    // _row_id through the chain while the source table has real ids —
    // fall back to a full export, which materializes everything
    if (m.nextRowId > 0 && base.nextRowId == 0) return None
    val headId = m.currentSnapshotId.getOrElse(return None)
    if (headId == base.lastSnapshotId) return metadataOnlyChain(t, m, dest, base)
    if (headId < base.lastSnapshotId) return None
    // parent-walk from head back to the base head: every hop must be a
    // RETAINED pure append — a gap means history was expired in between
    // and its effect (a delete, a rewrite) may be baked into the head
    val chain = scala.collection.mutable.ArrayBuffer[Snapshot]()
    var cur = m.snapshots.find(_.id == headId)
    var ok = true
    while (ok && cur.exists(_.id != base.lastSnapshotId)) {
      val s = cur.get
      if (s.operation != "append" || s.deleteFiles.nonEmpty) ok = false
      else {
        chain += s
        cur = s.parentId.flatMap(p => m.snapshots.find(_.id == p))
        if (cur.isEmpty) ok = false
      }
    }
    if (!ok || cur.isEmpty) return None
    val newIds = chain.map(_.id).toSeq.sorted
    val effSchema = (s: Snapshot) =>
      if (s.schemaId < 0) m.currentSchemaId else s.schemaId
    val curSch = m.currentSchema
    val compatible = newIds.map(id => effSchema(m.snapshot(id))).distinct
      .forall(sid => m.schema(sid).fields.forall(f =>
        curSch.hasId(f.id) && curSch.byId(f.id).dtype.equalsIgnoreCase(f.dtype)))
    val newIdSets = newIds.map(id =>
      m.schema(effSchema(m.snapshot(id))).fields.map(_.id).toSet)
    val fillable = curSch.fields.forall(f =>
      (base.schemaIdSets ++ newIdSets).forall(_.contains(f.id)) ||
        f.defaultSql.isEmpty || defaultJson(f).isDefined)
    val specMatches = exportPartFields(m)
      .map(pf => (pf.name, pf.transform, pf.sourceId)) == base.specFields
    if (!compatible || !fillable || !specMatches) return None
    Some(doExport(t, m, dest, newIds, Some(base)))
  }

  /** Chain a METADATA-ONLY version bump (rename, add-with-default,
    * property change — same snapshot head, new table version): the new
    * export is one metadata.json referencing the base's manifests and
    * data untouched, with the head snapshot re-pointed at the CURRENT
    * schema (field-id resolution surfaces the rename over the old files,
    * V3 `initial-default` fills added columns). Zero data movement — a
    * rename on a 100 TB table must not rewrite 100 TB. */
  private def metadataOnlyChain(t: IceLiteTable, m: TableMetadata, dest: String,
      base: BaseExport): Option[String] = {
    val cur = m.currentSchema
    val specMatches = exportPartFields(m)
      .map(pf => (pf.name, pf.transform, pf.sourceId)) == base.specFields
    // shared field ids must keep their Iceberg type (the read casts by
    // field id — a retype would silently coerce); dropped ids are fine
    val typesStable = base.schemaIdTypes.forall(_.forall { case (id, tp) =>
      !cur.hasId(id) || icebergType(cur.byId(id).dtype) == tp })
    val fillable = cur.fields.forall(f =>
      base.schemaIdSets.forall(_.contains(f.id)) ||
        f.defaultSql.isEmpty || defaultJson(f).isDefined)
    if (!specMatches || !typesStable || !fillable) return None
    val defaultFieldIds: Set[Int] = cur.fields.filter(f =>
      f.defaultSql.isDefined &&
        base.schemaIdSets.exists(!_.contains(f.id))).map(_.id).toSet
    val curSchemaJson =
      if (base.schemaIds.contains(m.currentSchemaId)) None
      else {
        val fs = cur.fields.map { f =>
          // write-default always travels (a writer hint, independent of
          // whether this export still needs the read fill)
          val dflt =
            (if (defaultFieldIds(f.id))
              defaultJson(f).map(j => s""", "initial-default": $j""").getOrElse("")
            else "") +
              writeDefaultJson(f).map(j => s""", "write-default": $j""").getOrElse("")
          s"""{"id": ${f.id}, "name": "${f.name}", "required": false, """ +
            s""""type": "${icebergType(f.dtype)}"$dflt}"""
        }.mkString(", ")
        Some(s"""{"type": "struct", "schema-id": ${m.currentSchemaId}, "fields": [$fs]}""")
      }
    val v3Types = Set("TIMESTAMP_NS", "VARIANT")
    val formatVersion = math.max(base.formatVersion,
      if (m.nextRowId > 0 || defaultFieldIds.nonEmpty ||
        cur.fields.exists(f => writeDefaultJson(f).isDefined) ||
        cur.fields.exists(f => v3Types(f.dtype.toUpperCase))) 3 else 2)
    // snapshots carry over VERBATIM — each keeps its own schema-id (the
    // write-schema proxy per-file resolution depends on). The rename
    // surfaces through `current-schema-id`: Iceberg's current read
    // projects the TABLE's current schema, not the head snapshot's.
    val snapsJson = base.snapsJson
    val specFieldsJson = exportPartFields(m).zipWithIndex.map { case (pf, i) =>
      s"""{"name": "${pf.name}", "transform": "${pf.transform}", """ +
        s""""source-id": ${pf.sourceId}, "field-id": ${1000 + i}}"""
    }.mkString(", ")
    val metaJson =
      s"""{
         |  "format-version": $formatVersion,
         |  "table-uuid": "${base.uuid}",
         |  "location": "$dest",
         |  "last-sequence-number": ${base.lastSeq},
         |  "last-updated-ms": ${base.lastUpdatedMs},
         |  "last-column-id": ${math.max(base.lastColumnId,
              cur.fields.map(_.id).max)},
         |  "current-schema-id": ${m.currentSchemaId},
         |  "schemas": [${(base.schemasJson ++ curSchemaJson).mkString(", ")}],
         |  "default-spec-id": 0,
         |  "partition-specs": [{"spec-id": 0, "fields": [$specFieldsJson]}],
         |  "last-partition-id": ${999 + base.specFields.size},
         |  "default-sort-order-id": ${sortOrdersJson(m)._1},
         |  "sort-orders": ${sortOrdersJson(m)._2},${tablePropsJson(m)}${
              refsJson(m, base.snapIds)}${
              // carry the lineage counter through a metadata-only chain —
              // dropping it would let a later adopt re-mint colliding ids
              if (math.max(base.nextRowId, m.nextRowId) > 0)
                s"""\n  "next-row-id": ${math.max(base.nextRowId, m.nextRowId)},"""
              else ""}
         |  "current-snapshot-id": ${base.lastSnapshotId},
         |  "snapshots": [
         |    ${snapsJson.mkString(",\n    ")}]
         |}""".stripMargin
    val conf = t.spark.sessionState.newHadoopConf()
    val destFs = FileSystem.get(new Path(dest).toUri, conf)
    destFs.mkdirs(new Path(dest, "metadata"))
    val mjPath = s"$dest/metadata/v1.metadata.json"
    val out = destFs.create(new Path(mjPath), false)
    try out.write(metaJson.getBytes("UTF-8")) finally out.close()
    Some(mjPath)
  }

  /** Export `snapshotIds` (default: just the current snapshot) in ascending
    * order; returns the written `metadata.json` path, directly readable by
    * [[IcebergInterop]] (current read, VERSION AS OF each exported id). */
  def export(t: IceLiteTable, dest: String, snapshotIds: Seq[Long] = Seq(),
      pinned: Option[TableMetadata] = None): String = {
    val m = pinned.getOrElse(t.meta)
    doExport(t, m, dest,
      if (snapshotIds.nonEmpty) snapshotIds.sorted
      else m.currentSnapshotId.toSeq, None)
  }

  private def doExport(t: IceLiteTable, m: TableMetadata, dest: String,
      ids: Seq[Long], base: Option[BaseExport]): String = {
    require(ids.nonEmpty, "iceberg export: empty table (no snapshot)")
    val conf = t.spark.sessionState.newHadoopConf()
    val destFs = FileSystem.get(new Path(dest).toUri, conf)
    destFs.mkdirs(new Path(dest, "metadata"))

    // The exported metadata declares Iceberg timestamp/timestamptz types;
    // real Iceberg readers reject parquet INT96, so the data rewrite pins
    // the physical type to INT64 micros regardless of the session default
    // (scoped: saved and restored around the export's writes).
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val prevTs = t.spark.conf.getOption(tsKey)
    t.spark.conf.set(tsKey, "TIMESTAMP_MICROS")
    val partFields = exportPartFields(m)
    val entrySchema = mkEntrySchema(partFields.map(pf => pf.name -> pf.avroType))
    // DELTA export: an append-only lineage exports each later snapshot as
    // ONLY its appended rows, chaining the parent's manifests into its
    // manifest list (the fixture-standard v2 shape) — O(delta) data
    // movement per snapshot instead of O(table) × snapshots, which is
    // what makes a multi-snapshot export a usable migration tool.
    // METADATA-ONLY schema changes in the range (rename, add — with a
    // literal default or null) chain as additional schema ids: each delta
    // writes under its snapshot's own schema, per-snapshot schema-id
    // keeps point-in-time fidelity, and fields added later fill older
    // chained files through V3 `initial-default` on the read side
    // ([[IcebergInterop]] resolves columns by field id per write
    // schema). Any delete file, rewrite, dropped/retyped column, or
    // non-literal default in the range falls back to full per-snapshot
    // re-export (still exact, just not incremental).
    val effSchema = (s: Snapshot) =>
      if (s.schemaId < 0) m.currentSchemaId else s.schemaId
    val deltaCapable = base.nonEmpty || (ids.size > 1 && {
      val range = m.snapshots.filter(s => s.id > ids.head && s.id <= ids.last)
      val exported = ids.map(m.snapshot)
      val cur = m.currentSchema
      // each exported schema's fields must survive into the current
      // schema unchanged-in-type (rename ok — id-mapped): the delta rows
      // are re-read through the current schema and re-projected back
      val compatible = exported.map(effSchema).distinct.forall { sid =>
        m.schema(sid).fields.forall(f =>
          cur.hasId(f.id) && cur.byId(f.id).dtype.equalsIgnoreCase(f.dtype))
      }
      // fields some exported schema lacks must be fillable on read:
      // no default (null) or a JSON-representable literal default
      val exportedIdSets = exported.map(s => m.schema(effSchema(s)).fields.map(_.id).toSet)
      val fillable = cur.fields.forall(f =>
        exportedIdSets.forall(_.contains(f.id)) ||
          f.defaultSql.isEmpty || defaultJson(f).isDefined)
      range.forall(s => s.operation == "append") &&
        (exported ++ range).forall(_.deleteFiles.isEmpty) && compatible && fillable
    })
    // (manifest path, length, snapshot that added it) — delta snapshots
    // carry all previous manifests by reference in their manifest list
    // (a chained export seeds with the BASE export's head manifests, so
    // the base's data is referenced in place, never re-moved)
    val mlAccum = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    base.foreach(b => mlAccum ++= b.headManifests)
    val seqBase = base.map(_.lastSeq).getOrElse(0L)
    // V3 row lineage crosses the boundary: a lineage-bearing table
    // (nextRowId > 0) exports each row's (_row_id, _last_updated_
    // sequence_number) MATERIALIZED into the exported parquet under the
    // spec's reserved field ids — the export is a rewrite, so positional
    // inheritance cannot carry the ids; materialization does. Rows never
    // assigned an id (pre-lineage files) export a null materialized
    // _row_id and — because every exported file is assigned a
    // first_row_id block — pick up FRESH inherited ids
    // (first_row_id + pos) in any spec-conformant reader, exactly as
    // compact() assigns fresh ids to pre-lineage rows it rewrites. The
    // source table keeps reading null for those rows until its own next
    // rewrite; the export is a new lineage epoch for them by design.
    val lineage = m.nextRowId > 0
    // fresh id blocks for the exported (rewritten) files, continuing past
    // both the table's own counter and a chained base's — disjoint from
    // every materialized id by construction
    val rowIdCtr =
      if (!lineage) None
      else Some(new java.util.concurrent.atomic.AtomicLong(
        math.max(m.nextRowId, base.map(_.nextRowId).getOrElse(0L))))
    val snapNodes = try ids.zipWithIndex.map { case (sid, i) =>
      val snap = m.snapshot(sid)
      // the current snapshot reads through the CURRENT schema (metadata-only
      // DDL like rename/add-default bumps the schema with no new snapshot,
      // so snap.schemaId may predate it); time travel keeps snapshot scope
      val (df0, schemaId) =
        if (deltaCapable && (i > 0 || base.nonEmpty)) {
          // appended rows come back under CURRENT names; re-project to the
          // snapshot's own schema by field id so the delta files carry the
          // names the per-snapshot schema-id declares (point fidelity).
          // The CURRENT snapshot stays on the current schema — a
          // metadata-only rename after its commit must surface in the
          // current read, exactly as IceLite's own read does.
          val effId = if (m.currentSnapshotId.contains(sid)) m.currentSchemaId
                      else effSchema(snap)
          val eff = m.schema(effId)
          val cur = m.currentSchema
          val prevSid = if (i > 0) ids(i - 1) else base.get.lastSnapshotId
          val linCols =
            if (!lineage) Seq()
            else Seq(IceLite.RowIdCol, IceLite.LastUpdatedCol)
              .map(org.apache.spark.sql.functions.col)
          (t.readAppendedBetweenAt(m, prevSid, sid, rowLineage = lineage)
            .select(eff.fields.map(f =>
              org.apache.spark.sql.functions.col(cur.byId(f.id).name).as(f.name)) ++
              linCols: _*),
            effId)
        }
        else if (m.currentSnapshotId.contains(sid))
          (if (lineage) t.readRowLineageAt(m, snap) else t.readAt(m),
            m.currentSchemaId)
        else (
          if (lineage) t.readRowLineageAt(m, snap, snapshotSchema = true)
          else t.readAsOfAt(m, sid),
          if (snap.schemaId < 0) m.currentSchemaId else snap.schemaId)
      // exported parquet carries PARQUET FIELD IDS (the schema's Iceberg
      // ids as parquet.field.id metadata — Spark's writer emits them):
      // real Iceberg readers resolve columns by field id, so the files
      // are first-class citizens, not name-mapping dependents
      val idSch = m.schema(schemaId)
      def fieldIdCol(name: String, id: Long) = {
        val md = new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("parquet.field.id", id).build()
        org.apache.spark.sql.functions.col(name).as(name, md)
      }
      val matLineage =
        if (!lineage) Seq()
        else Seq(fieldIdCol(IceLite.RowIdCol, RowIdFieldId),
          fieldIdCol(IceLite.LastUpdatedCol, LastUpdatedFieldId))
      val df = df0.select(idSch.fields.map(f =>
        fieldIdCol(f.name, f.id.toLong)) ++ matLineage: _*)
      val snapFirstRowId = rowIdCtr.map(_.get())
      val (mfPath, mfLen) = writeSnapshotData(df, sid, dest, entrySchema,
        partFields, m.schema(schemaId), conf, destFs, rowIdCtr)
      mlAccum += ((mfPath, mfLen, sid))
      // full exports: one self-contained manifest per snapshot; delta
      // exports: this snapshot's list = every exported manifest so far
      val mlRows = (if (deltaCapable) mlAccum.toSeq
                    else Seq(mlAccum.last)).map { case (mp, ln, addedBy) =>
        val r = new GenericData.Record(manifestFileSchema)
        r.put("manifest_path", mp)
        r.put("manifest_length", ln)
        r.put("partition_spec_id", 0); r.put("content", 0)
        r.put("added_snapshot_id", addedBy)
        r
      }
      val mlPath = s"$dest/metadata/snap-$sid.avro"
      writeAvro(mlPath, manifestFileSchema, mlRows, conf)
      (sid, schemaId, mlPath, snap.timestampMs, seqBase + i + 1, snapFirstRowId)
    } finally prevTs match {
      case Some(v) => t.spark.conf.set(tsKey, v)
      case None    => t.spark.conf.unset(tsKey)
    }

    val exportedSchemas = snapNodes.map(_._2).distinct.sorted
    // schemas the base export already declares are carried VERBATIM (their
    // files resolve through them unchanged); only genuinely new ids are
    // generated here
    val newSchemas = exportedSchemas
      .filterNot(id => base.exists(_.schemaIds.contains(id)))
    // a delta export whose chained older files predate a defaulted field
    // carries the fill as V3 `initial-default` (full exports materialize
    // defaults into the rewritten data instead); for a chained export the
    // BASE schemas' files predate the field too and need the same fill
    val defaultFieldIds: Set[Int] =
      if (!deltaCapable) Set()
      else {
        val exportedIdSets = exportedSchemas.map(id =>
          m.schema(id).fields.map(_.id).toSet) ++
          base.map(_.schemaIdSets).getOrElse(Seq())
        m.currentSchema.fields.filter(f => f.defaultSql.isDefined &&
          exportedIdSets.exists(!_.contains(f.id))).map(_.id).toSet
      }
    // timestamp_ns, variant, initial-default and row lineage are Iceberg
    // V3 features — their presence bumps the exported format-version
    val v3Types = Set("TIMESTAMP_NS", "VARIANT")
    val formatVersion = math.max(base.map(_.formatVersion).getOrElse(2),
      if (lineage || defaultFieldIds.nonEmpty ||
        exportedSchemas.exists(id => m.schema(id).fields.exists(f =>
          v3Types(f.dtype.toUpperCase) || writeDefaultJson(f).isDefined)))
        3 else 2)
    val lastColumnId = math.max(base.map(_.lastColumnId).getOrElse(0),
      exportedSchemas.flatMap(id => m.schema(id).fields.map(_.id)).max)
    def schemaJson(id: Int): String = {
      val fs = m.schema(id).fields.map { f =>
        // write-default always travels (a writer hint, independent of
        // whether this export still needs the read fill)
        val dflt =
          (if (defaultFieldIds(f.id))
            defaultJson(f).map(j => s""", "initial-default": $j""").getOrElse("")
          else "") +
            writeDefaultJson(f).map(j => s""", "write-default": $j""").getOrElse("")
        s"""{"id": ${f.id}, "name": "${f.name}", "required": false, """ +
          s""""type": "${icebergType(f.dtype)}"$dflt}"""
      }.mkString(", ")
      s"""{"type": "struct", "schema-id": $id, "fields": [$fs]}"""
    }
    val snapsJson = (base.map(_.snapsJson).getOrElse(Seq()) ++
      snapNodes.map { case (sid, schemaId, ml, ts, seqNo, firstRowId) =>
        val fr = firstRowId.map(v => s""" "first-row-id": $v,""").getOrElse("")
        s"""{"snapshot-id": $sid, "timestamp-ms": $ts, "sequence-number": $seqNo,
           | "schema-id": $schemaId,$fr "summary": {"operation": "append"},
           | "manifest-list": "$ml"}""".stripMargin
      }).mkString(",\n    ")
    val specFieldsJson = partFields.zipWithIndex.map { case (pf, i) =>
      s"""{"name": "${pf.name}", "transform": "${pf.transform}", """ +
        s""""source-id": ${pf.sourceId}, "field-id": ${1000 + i}}"""
    }.mkString(", ")
    val allSchemasJson = (base.map(_.schemasJson).getOrElse(Seq()) ++
      newSchemas.map(schemaJson)).mkString(", ")
    val metaJson =
      s"""{
         |  "format-version": $formatVersion,
         |  "table-uuid": "${base.map(_.uuid)
                .getOrElse(java.util.UUID.randomUUID().toString)}",
         |  "location": "$dest",
         |  "last-sequence-number": ${seqBase + snapNodes.size},
         |  "last-updated-ms": ${(snapNodes.map(_._4) ++
                base.map(_.lastUpdatedMs)).max},
         |  "last-column-id": $lastColumnId,
         |  "current-schema-id": ${snapNodes.last._2},
         |  "schemas": [$allSchemasJson],
         |  "default-spec-id": 0,
         |  "partition-specs": [{"spec-id": 0, "fields": [$specFieldsJson]}],
         |  "last-partition-id": ${999 + partFields.size},
         |  "default-sort-order-id": ${sortOrdersJson(m)._1},
         |  "sort-orders": ${sortOrdersJson(m)._2},${tablePropsJson(m)}${
              refsJson(m, base.map(_.snapIds).getOrElse(Seq()) ++ ids)}${
              // end of the blocks just assigned: the exported table's own
              // counter, past every materialized id and every new block
              rowIdCtr.map(c => s"""\n  "next-row-id": ${c.get()},""")
                .getOrElse("")}
         |  "current-snapshot-id": ${snapNodes.last._1},
         |  "snapshots": [
         |    $snapsJson]
         |}""".stripMargin
    val mjPath = s"$dest/metadata/v1.metadata.json"
    val out = destFs.create(new Path(mjPath), false)
    try out.write(metaJson.getBytes("UTF-8")) finally out.close()
    mjPath
  }
}
