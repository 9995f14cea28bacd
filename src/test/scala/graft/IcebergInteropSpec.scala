package graft.icelite

import java.nio.file.{Files, Paths}

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** [[IcebergInterop]] against a fixture REAL-format Iceberg table: v2
  * metadata.json + avro manifest-list + avro manifests (the Iceberg spec's
  * field names, avro container files with embedded schemas) over real
  * parquet data files. Proves the engine's IceLite metadata design speaks
  * the format it mirrors — current read, VERSION AS OF, the snapshot log,
  * v1 inline-manifest compatibility, partitioned specs, and the full
  * MoR delete surface (position, DV, equality). */
class IcebergInteropSpec extends SparkSpec {
  import spark.implicits._

  private val entrySchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      | {"name":"status","type":"int"},
      | {"name":"snapshot_id","type":"long"},
      | {"name":"data_file","type":{"type":"record","name":"r2","fields":[
      |   {"name":"content","type":"int"},
      |   {"name":"file_path","type":"string"},
      |   {"name":"file_format","type":"string"},
      |   {"name":"record_count","type":"long"},
      |   {"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin)

  private val manifestFileSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      | {"name":"manifest_path","type":"string"},
      | {"name":"manifest_length","type":"long"},
      | {"name":"partition_spec_id","type":"int"},
      | {"name":"content","type":"int"},
      | {"name":"added_snapshot_id","type":"long"}]}""".stripMargin)

  private def writeAvro(path: String, schema: Schema, rows: Seq[GenericRecord]): Unit = {
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, new java.io.File(path))
    try rows.foreach(w.append) finally w.close()
  }

  private def manifestEntry(status: Int, snapId: Long, filePath: String,
      rows: Long, content: Int = 0): GenericRecord = {
    val df = new GenericData.Record(entrySchema.getField("data_file").schema())
    df.put("content", content)
    df.put("file_path", filePath)
    df.put("file_format", "PARQUET")
    df.put("record_count", rows)
    df.put("file_size_in_bytes", 1024L)
    val e = new GenericData.Record(entrySchema)
    e.put("status", status); e.put("snapshot_id", snapId); e.put("data_file", df)
    e
  }

  private def manifestFileRow(path: String, content: Int, snapId: Long): GenericRecord = {
    val r = new GenericData.Record(manifestFileSchema)
    r.put("manifest_path", path); r.put("manifest_length", 512L)
    r.put("partition_spec_id", 0); r.put("content", content)
    r.put("added_snapshot_id", snapId)
    r
  }

  /** One real single-file parquet with (id BIGINT, data STRING). */
  private def dataFile(dir: String, name: String, ids: Range): String = {
    val out = s"$dir/$name"
    ids.map(i => (i.toLong, s"row-$i")).toDF("id", "data").coalesce(1).write.parquet(out)
    Files.list(Paths.get(out)).toArray.map(_.toString)
      .find(_.endsWith(".parquet")).get
  }

  private def metadataJson(loc: String, snaps: Seq[(Long, String)],
      current: Long): String =
    s"""{
       |  "format-version": 2,
       |  "table-uuid": "11111111-2222-3333-4444-555555555555",
       |  "location": "$loc",
       |  "last-sequence-number": ${snaps.size},
       |  "last-updated-ms": 1700000000000,
       |  "last-column-id": 2,
       |  "current-schema-id": 0,
       |  "schemas": [{"type": "struct", "schema-id": 0, "fields": [
       |    {"id": 1, "name": "id", "required": false, "type": "long"},
       |    {"id": 2, "name": "data", "required": false, "type": "string"}]}],
       |  "default-spec-id": 0,
       |  "partition-specs": [{"spec-id": 0, "fields": []}],
       |  "last-partition-id": 999,
       |  "default-sort-order-id": 0,
       |  "sort-orders": [{"order-id": 0, "fields": []}],
       |  "current-snapshot-id": $current,
       |  "snapshots": [${snaps.zipWithIndex.map { case ((id, ml), i) =>
            s"""{"snapshot-id": $id, "timestamp-ms": ${1700000000000L + i},
               | "sequence-number": ${i + 1}, "schema-id": 0,
               | "summary": {"operation": "append"},
               | "manifest-list": "$ml"}""".stripMargin
          }.mkString(",")}]
       |}""".stripMargin

  test("reads a real-format Iceberg v2 table: current, time travel, snapshot log") {
    val loc = Files.createTempDirectory("iceberg_fixture").toString
    Files.createDirectories(Paths.get(s"$loc/metadata"))
    val f1 = dataFile(loc, "data/b1", 0 until 50)
    val f2 = dataFile(loc, "data/b2", 50 until 100)

    // manifest 1 (snapshot 1 adds f1); manifest 2 (snapshot 2 adds f2)
    val m1 = s"$loc/metadata/m1.avro"
    writeAvro(m1, entrySchema, Seq(manifestEntry(1, 1L, f1, 50)))
    val m2 = s"$loc/metadata/m2.avro"
    writeAvro(m2, entrySchema, Seq(manifestEntry(1, 2L, f2, 50)))
    // manifest lists: snapshot 1 → [m1]; snapshot 2 → [m1(existing), m2]
    val ml1 = s"$loc/metadata/snap-1.avro"
    writeAvro(ml1, manifestFileSchema, Seq(manifestFileRow(m1, 0, 1L)))
    val ml2 = s"$loc/metadata/snap-2.avro"
    writeAvro(ml2, manifestFileSchema,
      Seq(manifestFileRow(m1, 0, 1L), manifestFileRow(m2, 0, 2L)))
    val mj = s"$loc/metadata/v2.metadata.json"
    Files.write(Paths.get(mj),
      metadataJson(loc, Seq((1L, ml1), (2L, ml2)), 2L).getBytes("UTF-8"))

    // current read = both files, Iceberg schema projection by name
    val cur = IcebergInterop.read(spark, mj)
    assert(cur.columns.toSeq == Seq("id", "data"))
    assert(cur.count() == 100L)
    assert(cur.agg(sum("id")).head.getLong(0) == (0L until 100L).sum)
    // VERSION AS OF snapshot 1 = only f1
    val asOf = IcebergInterop.readAsOf(spark, mj, 1L)
    assert(asOf.count() == 50L)
    assert(asOf.agg(max("id")).head.getLong(0) == 49L)
    // snapshot log
    assert(IcebergInterop.snapshots(mj).map(_._1) == Seq(1L, 2L))

    // a snapshot whose entry is status=2 (DELETED) drops the file
    val m3 = s"$loc/metadata/m3.avro"
    writeAvro(m3, entrySchema,
      Seq(manifestEntry(0, 1L, f1, 50), manifestEntry(2, 3L, f2, 50)))
    val ml3 = s"$loc/metadata/snap-3.avro"
    writeAvro(ml3, manifestFileSchema, Seq(manifestFileRow(m3, 0, 3L)))
    val mj3 = s"$loc/metadata/v3.metadata.json"
    Files.write(Paths.get(mj3),
      metadataJson(loc, Seq((1L, ml1), (2L, ml2), (3L, ml3)), 3L).getBytes("UTF-8"))
    assert(IcebergInterop.read(spark, mj3).count() == 50L,
      "a status=2 manifest entry removes its file from the scan")

    // a delete manifest whose entries claim to be DATA files is malformed
    // — refuse loudly rather than scan files under the wrong content role
    val ml4 = s"$loc/metadata/snap-4.avro"
    writeAvro(ml4, manifestFileSchema,
      Seq(manifestFileRow(m1, 0, 1L), manifestFileRow(m2, 1, 4L)))
    val mj4 = s"$loc/metadata/v4.metadata.json"
    Files.write(Paths.get(mj4),
      metadataJson(loc, Seq((4L, ml4)), 4L).getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](IcebergInterop.read(spark, mj4))
    assert(e.getMessage.contains("data file in a delete manifest"))
  }

  test("null per-entry snapshot_id inherits the manifest list's added_snapshot_id for write-schema resolution") {
    val loc = Files.createTempDirectory("iceberg_inherit").toString
    Files.createDirectories(Paths.get(s"$loc/metadata"))
    // real Iceberg writers leave ADDED entries' snapshot_id NULL — the
    // reader must inherit it from the manifest-list row, or write-schema
    // resolution (rename readability by field id) silently degrades
    val nullableEntrySchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        | {"name":"status","type":"int"},
        | {"name":"snapshot_id","type":["null","long"],"default":null},
        | {"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |   {"name":"content","type":"int"},
        |   {"name":"file_path","type":"string"},
        |   {"name":"file_format","type":"string"},
        |   {"name":"record_count","type":"long"},
        |   {"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin)
    def nullSnapEntry(filePath: String, rows: Long): GenericRecord = {
      val df = new GenericData.Record(
        nullableEntrySchema.getField("data_file").schema())
      df.put("content", 0); df.put("file_path", filePath)
      df.put("file_format", "PARQUET")
      df.put("record_count", rows); df.put("file_size_in_bytes", 1024L)
      val e = new GenericData.Record(nullableEntrySchema)
      e.put("status", 1); e.put("snapshot_id", null); e.put("data_file", df)
      e
    }
    // snapshot 1 writes f1 under schema 0 (column named "data"); schema 1
    // renames it to "label" (same field id 2); snapshot 2 adds f2 under it
    val f1 = dataFile(loc, "data/b1", 0 until 30)
    val f2old = dataFile(loc, "data/b2", 30 until 40)
    val f2dir = s"$loc/data/b2r"
    spark.read.parquet(f2old).withColumnRenamed("data", "label")
      .coalesce(1).write.parquet(f2dir)
    val f2 = Files.list(Paths.get(f2dir)).toArray.map(_.toString)
      .find(_.endsWith(".parquet")).get
    val m1 = s"$loc/metadata/m1.avro"
    writeAvro(m1, nullableEntrySchema, Seq(nullSnapEntry(f1, 30)))
    val m2 = s"$loc/metadata/m2.avro"
    writeAvro(m2, nullableEntrySchema, Seq(nullSnapEntry(f2, 10)))
    val ml2 = s"$loc/metadata/snap-2.avro"
    writeAvro(ml2, manifestFileSchema,
      Seq(manifestFileRow(m1, 0, 1L), manifestFileRow(m2, 0, 2L)))
    val mj = s"$loc/metadata/v2.metadata.json"
    Files.write(Paths.get(mj),
      s"""{
         |  "format-version": 2,
         |  "table-uuid": "11111111-2222-3333-4444-666666666666",
         |  "location": "$loc",
         |  "last-sequence-number": 2,
         |  "last-updated-ms": 1700000000000,
         |  "last-column-id": 2,
         |  "current-schema-id": 1,
         |  "schemas": [
         |    {"type": "struct", "schema-id": 0, "fields": [
         |      {"id": 1, "name": "id", "required": false, "type": "long"},
         |      {"id": 2, "name": "data", "required": false, "type": "string"}]},
         |    {"type": "struct", "schema-id": 1, "fields": [
         |      {"id": 1, "name": "id", "required": false, "type": "long"},
         |      {"id": 2, "name": "label", "required": false, "type": "string"}]}],
         |  "default-spec-id": 0,
         |  "partition-specs": [{"spec-id": 0, "fields": []}],
         |  "last-partition-id": 999,
         |  "default-sort-order-id": 0,
         |  "sort-orders": [{"order-id": 0, "fields": []}],
         |  "current-snapshot-id": 2,
         |  "snapshots": [
         |    {"snapshot-id": 1, "timestamp-ms": 1700000000000,
         |     "sequence-number": 1, "schema-id": 0,
         |     "summary": {"operation": "append"}, "manifest-list": "$ml2"},
         |    {"snapshot-id": 2, "timestamp-ms": 1700000000001,
         |     "sequence-number": 2, "schema-id": 1,
         |     "summary": {"operation": "append"}, "manifest-list": "$ml2"}]
         |}""".stripMargin.getBytes("UTF-8"))

    val cur = IcebergInterop.read(spark, mj)
    assert(cur.columns.toSeq == Seq("id", "label"),
      "the current read surfaces the renamed schema")
    assert(cur.count() == 40L)
    // the proof: f1's rows (ids 0-29) are only readable under "label" if
    // the reader resolved f1's write schema (0, column "data") through the
    // INHERITED snapshot id — name resolution would miss or error
    assert(cur.filter(col("id") < 30L && col("label").startsWith("row-"))
      .count() == 30L,
      "pre-rename file must resolve its renamed column by field id via inherited snapshot_id")
    assert(cur.agg(sum("id")).head.getLong(0) == (0L until 40L).sum)
  }

  // ---- partitioned fixtures -------------------------------------------

  /** manifest_entry schema whose data_file carries a partition record —
    * the shape real partitioned manifests have (field per spec field). */
  private def partEntrySchema(partFields: Seq[(String, String)]): Schema = {
    val pf = partFields.map { case (n, t) =>
      s"""{"name":"$n","type":["null","$t"],"default":null}""" }.mkString(",")
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         | {"name":"status","type":"int"},
         | {"name":"snapshot_id","type":"long"},
         | {"name":"data_file","type":{"type":"record","name":"r2","fields":[
         |   {"name":"content","type":"int"},
         |   {"name":"file_path","type":"string"},
         |   {"name":"file_format","type":"string"},
         |   {"name":"partition","type":{"type":"record","name":"pt","fields":[$pf]}},
         |   {"name":"record_count","type":"long"},
         |   {"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin)
  }

  private def partEntry(schema: Schema, snapId: Long, filePath: String,
      rows: Long, part: Seq[(String, Any)]): GenericRecord = {
    val dfSchema = schema.getField("data_file").schema()
    val pt = new GenericData.Record(dfSchema.getField("partition").schema())
    part.foreach { case (k, v) => pt.put(k, v) }
    val df = new GenericData.Record(dfSchema)
    df.put("content", 0); df.put("file_path", filePath)
    df.put("file_format", "PARQUET"); df.put("partition", pt)
    df.put("record_count", rows); df.put("file_size_in_bytes", 1024L)
    val e = new GenericData.Record(schema)
    e.put("status", 1); e.put("snapshot_id", snapId); e.put("data_file", df)
    e
  }

  test("partitioned v2 table: two specs, evolution mid-history, manifest pruning") {
    import java.time.LocalDate
    val loc = Files.createTempDirectory("iceberg_part").toString
    Files.createDirectories(Paths.get(s"$loc/metadata"))
    def pfile(name: String, region: String, day: LocalDate, ids: Range): String = {
      val out = s"$loc/$name"
      ids.map(i => (i.toLong, region, java.sql.Date.valueOf(day)))
        .toDF("id", "region", "d").coalesce(1).write.parquet(out)
      Files.list(Paths.get(out)).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
    }
    val d1 = LocalDate.of(2024, 1, 10); val d2 = LocalDate.of(2024, 3, 5)
    // snapshot 1: spec 0 = identity(region)
    val s0 = partEntrySchema(Seq("region" -> "string"))
    val fEu0 = pfile("data/eu0", "EU", d1, 0 until 20)
    val fUs0 = pfile("data/us0", "US", d1, 20 until 40)
    val m1 = s"$loc/metadata/m1.avro"
    writeAvro(m1, s0, Seq(
      partEntry(s0, 1L, fEu0, 20, Seq("region" -> "EU")),
      partEntry(s0, 1L, fUs0, 20, Seq("region" -> "US"))))
    // snapshot 2 adds files under EVOLVED spec 1 = identity(region), day(d)
    val s1 = partEntrySchema(Seq("region" -> "string", "d_day" -> "int"))
    val fEu1 = pfile("data/eu1", "EU", d2, 40 until 50)
    val fUs1 = pfile("data/us1", "US", d2, 50 until 60)
    val m2 = s"$loc/metadata/m2.avro"
    writeAvro(m2, s1, Seq(
      partEntry(s1, 2L, fEu1, 10, Seq("region" -> "EU",
        "d_day" -> Int.box(IcebergInterop.temporalPartitionValue("day", d2)))),
      partEntry(s1, 2L, fUs1, 10, Seq("region" -> "US",
        "d_day" -> Int.box(IcebergInterop.temporalPartitionValue("day", d2))))))

    val mlSchema = manifestFileSchema
    def mlRow(path: String, specId: Int, snapId: Long): GenericRecord = {
      val r = new GenericData.Record(mlSchema)
      r.put("manifest_path", path); r.put("manifest_length", 512L)
      r.put("partition_spec_id", specId); r.put("content", 0)
      r.put("added_snapshot_id", snapId)
      r
    }
    val ml2 = s"$loc/metadata/snap-2.avro"
    writeAvro(ml2, mlSchema, Seq(mlRow(m1, 0, 1L), mlRow(m2, 1, 2L)))
    val mj = s"$loc/metadata/v2.metadata.json"
    Files.write(Paths.get(mj),
      s"""{
         |  "format-version": 2,
         |  "location": "$loc",
         |  "last-updated-ms": 1700000000000,
         |  "last-column-id": 3,
         |  "current-schema-id": 0,
         |  "schemas": [{"type": "struct", "schema-id": 0, "fields": [
         |    {"id": 1, "name": "id", "required": false, "type": "long"},
         |    {"id": 2, "name": "region", "required": false, "type": "string"},
         |    {"id": 3, "name": "d", "required": false, "type": "date"}]}],
         |  "default-spec-id": 1,
         |  "partition-specs": [
         |    {"spec-id": 0, "fields": [
         |      {"name": "region", "transform": "identity", "source-id": 2, "field-id": 1000}]},
         |    {"spec-id": 1, "fields": [
         |      {"name": "region", "transform": "identity", "source-id": 2, "field-id": 1000},
         |      {"name": "d_day", "transform": "day", "source-id": 3, "field-id": 1001}]}],
         |  "current-snapshot-id": 2,
         |  "snapshots": [
         |    {"snapshot-id": 2, "timestamp-ms": 1700000000002, "schema-id": 0,
         |     "summary": {"operation": "append"}, "manifest-list": "$ml2"}]
         |}""".stripMargin.getBytes("UTF-8"))

    // spec metadata parsed: both specs, transforms intact
    val meta = IcebergInterop.loadMeta(mj)
    assert(meta.specs(0).map(_.transform) == Seq("identity"))
    assert(meta.specs(1).map(f => (f.name, f.transform)) ==
      Seq(("region", "identity"), ("d_day", "day")))

    // full read = all four files, exact rows
    assert(IcebergInterop.read(spark, mj).count() == 60L)

    // identity pruning spans BOTH specs (the field survives evolution)
    val euFiles = IcebergInterop.planFiles(spark, mj,
      m => m.get("region").forall(_ == "EU"))
    assert(euFiles.map(_.path).toSet == Set(fEu0, fEu1),
      s"region=EU must plan exactly the two EU files, got $euFiles")
    assert(euFiles.map(_.specId).sorted == Seq(0, 1))
    val euRows = IcebergInterop.readPruned(spark, mj,
      m => m.get("region").forall(_ == "EU"))
    assert(euRows.select("id").as[Long].collect().sorted.toSeq ==
      ((0L until 20L) ++ (40L until 50L)))

    // temporal pruning: files from the OLD spec have no d_day key and stay
    // conservatively kept; new-spec files prune by encoded day value
    val cut = IcebergInterop.temporalPartitionValue("day", LocalDate.of(2024, 2, 1))
    val recent = IcebergInterop.planFiles(spark, mj,
      m => m.get("d_day").forall(_.toInt >= cut))
    assert(recent.map(_.path).toSet == Set(fEu0, fUs0, fEu1, fUs1),
      "old-spec files lack the key and must be kept")
    val strict = IcebergInterop.planFiles(spark, mj,
      m => m.get("d_day").exists(_.toInt >= cut))
    assert(strict.map(_.path).toSet == Set(fEu1, fUs1),
      "exists-shaped predicate keeps only new-spec files past the cut")
  }

  test("merge-on-read: position-delete manifests apply; malformed content=2 refuses") {
    val loc = Files.createTempDirectory("iceberg_mor").toString
    Files.createDirectories(Paths.get(s"$loc/metadata"))
    val f1 = dataFile(loc, "data/b1", 0 until 50)
    val f2 = dataFile(loc, "data/b2", 50 until 100)
    val m1 = s"$loc/metadata/m1.avro"
    writeAvro(m1, entrySchema,
      Seq(manifestEntry(1, 1L, f1, 50), manifestEntry(1, 1L, f2, 50)))

    // position-delete parquet: file_path spelled with a DIFFERENT scheme
    // rendering than Spark's _metadata.file_path — normalization must
    // reconcile them (file:/x vs file:///x is the classic mismatch)
    val delDir = s"$loc/deletes/d1"
    Seq((s"file:$f1", 0L), (s"file:$f1", 1L), (s"file:$f1", 2L), (s"file:$f2", 0L))
      .toDF("file_path", "pos").coalesce(1).write.parquet(delDir)
    val delFile = Files.list(Paths.get(delDir)).toArray.map(_.toString)
      .find(_.endsWith(".parquet")).get
    val dm = s"$loc/metadata/dm1.avro"
    writeAvro(dm, entrySchema, Seq(manifestEntry(1, 2L, delFile, 4, content = 1)))
    val ml = s"$loc/metadata/snap-2.avro"
    writeAvro(ml, manifestFileSchema,
      Seq(manifestFileRow(m1, 0, 1L), manifestFileRow(dm, 1, 2L)))
    val mj = s"$loc/metadata/v2.metadata.json"
    Files.write(Paths.get(mj),
      metadataJson(loc, Seq((2L, ml)), 2L).getBytes("UTF-8"))

    val got = IcebergInterop.read(spark, mj)
    assert(got.count() == 96L, "4 MoR-deleted rows must not surface")
    val ids = got.select("id").as[Long].collect().toSet
    assert(!ids.contains(0L) && !ids.contains(1L) && !ids.contains(2L) &&
      !ids.contains(50L), "deleted positions map to ids 0,1,2 (b1) and 50 (b2)")
    assert(ids.contains(3L) && ids.contains(51L))

    // a content=2 entry WITHOUT equality_ids is malformed — refuse, don't
    // guess a key set
    val dm2 = s"$loc/metadata/dm2.avro"
    writeAvro(dm2, entrySchema, Seq(manifestEntry(1, 3L, delFile, 4, content = 2)))
    val ml3 = s"$loc/metadata/snap-3.avro"
    writeAvro(ml3, manifestFileSchema,
      Seq(manifestFileRow(m1, 0, 1L), manifestFileRow(dm2, 1, 3L)))
    val mj3 = s"$loc/metadata/v3.metadata.json"
    Files.write(Paths.get(mj3),
      metadataJson(loc, Seq((3L, ml3)), 3L).getBytes("UTF-8"))
    val e = intercept[RuntimeException](IcebergInterop.read(spark, mj3))
    assert(e.getMessage.contains("equality_ids"))
  }

  test("equality deletes: v2 sequence scoping, null-safe keys, field-id key resolution") {
    val loc = Files.createTempDirectory("iceberg_eq").toString
    Files.createDirectories(Paths.get(s"$loc/metadata"))
    // manifest-list rows carry sequence_number; entries inherit (the v2
    // inheritance rule — this fixture's entry schema has no seq field)
    val mlSeqSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        | {"name":"manifest_path","type":"string"},
        | {"name":"manifest_length","type":"long"},
        | {"name":"partition_spec_id","type":"int"},
        | {"name":"content","type":"int"},
        | {"name":"sequence_number","type":"long"},
        | {"name":"added_snapshot_id","type":"long"}]}""".stripMargin)
    val eqEntrySchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        | {"name":"status","type":"int"},
        | {"name":"snapshot_id","type":"long"},
        | {"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |   {"name":"content","type":"int"},
        |   {"name":"file_path","type":"string"},
        |   {"name":"file_format","type":"string"},
        |   {"name":"equality_ids","type":{"type":"array","items":"int"}},
        |   {"name":"record_count","type":"long"},
        |   {"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin)
    def eqEntry(content: Int, filePath: String, rows: Long, ids: Seq[Int]): GenericRecord = {
      val df = new GenericData.Record(eqEntrySchema.getField("data_file").schema())
      df.put("content", content); df.put("file_path", filePath)
      df.put("file_format", "PARQUET")
      df.put("equality_ids", ids.map(Int.box).asJava)
      df.put("record_count", rows); df.put("file_size_in_bytes", 1024L)
      val e = new GenericData.Record(eqEntrySchema)
      e.put("status", 1); e.put("snapshot_id", 1L); e.put("data_file", df)
      e
    }
    def mlSeqRow(path: String, content: Int, seq: Long): GenericRecord = {
      val r = new GenericData.Record(mlSeqSchema)
      r.put("manifest_path", path); r.put("manifest_length", 512L)
      r.put("partition_spec_id", 0); r.put("content", content)
      r.put("sequence_number", seq); r.put("added_snapshot_id", 1L)
      r
    }
    // seq-1 data: ids 0..49 plus one NULL-keyed row; seq-3 data:
    // RE-INSERTS key "row-3" after the delete
    def write1(name: String, rows: Seq[(java.lang.Long, String)]): String = {
      val out = s"$loc/$name"
      rows.toDF("id", "data").coalesce(1).write.parquet(out)
      Files.list(Paths.get(out)).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
    }
    val f1 = write1("data/b1",
      (0 until 50).map(i => (Long.box(i.toLong), s"row-$i")) :+ (Long.box(1000L), null))
    val f3 = write1("data/b3", Seq((Long.box(2003L), "row-3")))
    // the eq delete (seq 2, key = field id 2 "data"): kills "row-3" and
    // the NULL key in seq-1 data; must NOT touch the seq-3 re-insert
    val delDir = s"$loc/deletes/eq1"
    Seq(("row-3"), (null: String)).toDF("data").coalesce(1).write.parquet(delDir)
    val eqFile = Files.list(Paths.get(delDir)).toArray.map(_.toString)
      .find(_.endsWith(".parquet")).get

    val m1 = s"$loc/metadata/m1.avro"
    writeAvro(m1, eqEntrySchema, Seq(eqEntry(0, f1, 51, Seq())))
    val m3 = s"$loc/metadata/m3.avro"
    writeAvro(m3, eqEntrySchema, Seq(eqEntry(0, f3, 1, Seq())))
    val dm = s"$loc/metadata/dm.avro"
    writeAvro(dm, eqEntrySchema, Seq(eqEntry(2, eqFile, 2, Seq(2))))
    val ml = s"$loc/metadata/snap-1.avro"
    writeAvro(ml, mlSeqSchema,
      Seq(mlSeqRow(m1, 0, 1L), mlSeqRow(m3, 0, 3L), mlSeqRow(dm, 1, 2L)))
    val mj = s"$loc/metadata/v2.metadata.json"
    Files.write(Paths.get(mj),
      metadataJson(loc, Seq((1L, ml)), 1L).getBytes("UTF-8"))

    val got = IcebergInterop.read(spark, mj)
    val rows = got.collect().map(r => (r.get(0), r.get(1))).toSet
    // 52 rows in, minus "row-3"@seq1 and the NULL-keyed row = 50
    assert(got.count() == 50L, s"got ${got.count()}")
    assert(!rows.contains((3L, "row-3")), "seq-1 'row-3' must be eq-deleted")
    assert(!rows.exists(_._1 == 1000L), "NULL key must match NULL (null-safe semantics)")
    assert(rows.contains((2003L, "row-3")),
      "the seq-3 re-insert postdates the delete and must survive")
    assert(rows.contains((4L, "row-4")))
  }

  test("many eq-delete files collapse to one anti-join per key-set; keys resolve by field id") {
    val loc = Files.createTempDirectory("iceberg_eq_many").toString
    Files.createDirectories(Paths.get(s"$loc/metadata"))
    val mlSeqSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        | {"name":"manifest_path","type":"string"},
        | {"name":"manifest_length","type":"long"},
        | {"name":"partition_spec_id","type":"int"},
        | {"name":"content","type":"int"},
        | {"name":"sequence_number","type":"long"},
        | {"name":"added_snapshot_id","type":"long"}]}""".stripMargin)
    val eqEntrySchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        | {"name":"status","type":"int"},
        | {"name":"snapshot_id","type":"long"},
        | {"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |   {"name":"content","type":"int"},
        |   {"name":"file_path","type":"string"},
        |   {"name":"file_format","type":"string"},
        |   {"name":"equality_ids","type":{"type":"array","items":"int"}},
        |   {"name":"record_count","type":"long"},
        |   {"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin)
    def eqEntry(content: Int, filePath: String, rows: Long, ids: Seq[Int]): GenericRecord = {
      val df = new GenericData.Record(eqEntrySchema.getField("data_file").schema())
      df.put("content", content); df.put("file_path", filePath)
      df.put("file_format", "PARQUET")
      df.put("equality_ids", ids.map(Int.box).asJava)
      df.put("record_count", rows); df.put("file_size_in_bytes", 1024L)
      val e = new GenericData.Record(eqEntrySchema)
      e.put("status", 1); e.put("snapshot_id", 1L); e.put("data_file", df)
      e
    }
    def mlSeqRow(path: String, content: Int, seq: Long): GenericRecord = {
      val r = new GenericData.Record(mlSeqSchema)
      r.put("manifest_path", path); r.put("manifest_length", 512L)
      r.put("partition_spec_id", 0); r.put("content", content)
      r.put("sequence_number", seq); r.put("added_snapshot_id", 1L)
      r
    }
    def onePq(dir: String, df: org.apache.spark.sql.DataFrame): String = {
      df.coalesce(1).write.parquet(dir)
      Files.list(Paths.get(dir)).toArray.map(_.toString).find(_.endsWith(".parquet")).get
    }
    // data: seq-1 file with ids 0..99; seq-30 re-insert of key "row-3"
    val f1 = onePq(s"$loc/data/b1",
      (0 until 100).map(i => (i.toLong, s"row-$i")).toDF("id", "data"))
    val f2 = onePq(s"$loc/data/b2", Seq((2003L, "row-3")).toDF("id", "data"))
    // 23 delete files keyed on field 2 ("data"): "row-0".."row-21" at
    // seq 2, plus "row-3" AGAIN at seq 60 — the per-key max must kill the
    // seq-30 re-insert (30 < 60) even though the seq-2 delete predates it.
    // The delete parquet spells the key column "old_data" and carries
    // parquet field-id 2: resolution must go by ID, not name (the rename-
    // after-delete shape Iceberg's field-id rule exists for).
    val fidMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("parquet.field.id", 2L).build()
    val dataDels = (0 until 23).map { i =>
      val (key, seq) = if (i == 22) ("row-3", 60L) else (s"row-$i", 2L)
      val p = onePq(s"$loc/deletes/eq$i",
        Seq(key).toDF("data").select(col("data").as("old_data", fidMeta)))
      (p, Seq(2), seq)
    }
    // 2 delete files keyed on field 1 ("id"): a second DISTINCT key-set
    val idDels = (0 until 2).map { i =>
      val p = onePq(s"$loc/deletes/eqid$i", Seq(Long.box(90L + i)).toDF("id"))
      (p, Seq(1), 2L)
    }
    val m1 = s"$loc/metadata/m1.avro"
    writeAvro(m1, eqEntrySchema, Seq(eqEntry(0, f1, 100, Seq())))
    val m2 = s"$loc/metadata/m2.avro"
    writeAvro(m2, eqEntrySchema, Seq(eqEntry(0, f2, 1, Seq())))
    val mlRows = scala.collection.mutable.ArrayBuffer(
      mlSeqRow(m1, 0, 1L), mlSeqRow(m2, 0, 30L))
    (dataDels ++ idDels).zipWithIndex.foreach { case ((p, ids, seq), i) =>
      val dm = s"$loc/metadata/dm$i.avro"
      writeAvro(dm, eqEntrySchema, Seq(eqEntry(2, p, 1, ids)))
      mlRows += mlSeqRow(dm, 1, seq)
    }
    val ml = s"$loc/metadata/snap-1.avro"
    writeAvro(ml, mlSeqSchema, mlRows.toSeq)
    val mj = s"$loc/metadata/v2.metadata.json"
    Files.write(Paths.get(mj),
      metadataJson(loc, Seq((1L, ml)), 1L).getBytes("UTF-8"))

    val got = IcebergInterop.read(spark, mj)
    // plan depth: 25 delete files, TWO distinct key-sets → exactly 2
    // anti-joins (the staircase is bounded by key-sets, not files)
    val antiJoins = got.queryExecution.optimizedPlan.toString
      .linesIterator.count(_.contains("LeftAnti"))
    assert(antiJoins == 2, s"expected 2 anti-joins for 2 key-sets, got $antiJoins")
    val ids = got.select("id").as[Long].collect().toSet
    assert(!(0L until 22L).exists(ids), "row-0..row-21 eq-deleted by data key")
    assert(!ids.contains(90L) && !ids.contains(91L), "ids 90,91 eq-deleted by id key")
    assert(!ids.contains(2003L),
      "the seq-30 re-insert of row-3 dies to the seq-60 delete (per-key max)")
    assert(ids.contains(22L) && ids.contains(89L) && ids.contains(92L))
    assert(got.count() == 100 + 1 - 22 - 2 - 1) // 76
  }

  test("the footer-schema memo is keyed on file identity: a file rewritten in place is read again") {
    val dir = Files.createTempDirectory("footer_memo").toString
    val conf = spark.sessionState.newHadoopConf()
    val p = dataFile(dir, "first", 0 until 5)
    assert(IcebergInterop.parquetFooterSchema(p, conf)._2.fieldNames.toSeq ==
      Seq("id", "data"))
    // the same path, another schema (and another length and mtime)
    val other = s"$dir/second"
    Seq((1, 2.0, true, "x")).toDF("a", "b", "c", "d").coalesce(1).write.parquet(other)
    val otherFile = Files.list(Paths.get(other)).toArray.map(_.toString)
      .find(_.endsWith(".parquet")).get
    val target = Paths.get(p)
    val mtime = Files.getLastModifiedTime(target).toMillis
    Files.copy(Paths.get(otherFile), target, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(target, java.nio.file.attribute.FileTime.fromMillis(mtime + 5000))
    Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
    assert(IcebergInterop.parquetFooterSchema(p, conf)._2.fieldNames.toSeq ==
      Seq("a", "b", "c", "d"), "a rewritten file must not be served its old schema")
  }

  test("reads an Iceberg v1 table (single schema, inline manifest list)") {
    val loc = Files.createTempDirectory("iceberg_v1").toString
    Files.createDirectories(Paths.get(s"$loc/metadata"))
    val f1 = dataFile(loc, "data/b1", 0 until 30)
    val m1 = s"$loc/metadata/m1.avro"
    writeAvro(m1, entrySchema, Seq(manifestEntry(1, 1L, f1, 30)))
    val mj = s"$loc/metadata/v1.metadata.json"
    Files.write(Paths.get(mj),
      s"""{
         |  "format-version": 1,
         |  "location": "$loc",
         |  "last-updated-ms": 1700000000000,
         |  "last-column-id": 2,
         |  "schema": {"type": "struct", "fields": [
         |    {"id": 1, "name": "id", "required": false, "type": "long"},
         |    {"id": 2, "name": "data", "required": false, "type": "string"}]},
         |  "partition-spec": [],
         |  "current-snapshot-id": 1,
         |  "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1700000000001,
         |    "summary": {"operation": "append"}, "manifests": ["$m1"]}]
         |}""".stripMargin.getBytes("UTF-8"))
    val got = IcebergInterop.read(spark, mj)
    assert(got.count() == 30L)
    assert(got.filter(col("data") === "row-7").count() == 1L)
    assert(IcebergInterop.snapshots(mj) == Seq((1L, 1700000000001L, "append")))
  }

  test("v3 manifest-inherited first_row_id reconstructs row ids through adoption") {
    // the shape real v3 writers produce: per-entry first_row_id is NULL,
    // inherited from the manifest-list row's first_row_id plus the
    // cumulative record counts of preceding data entries
    val loc = Files.createTempDirectory("iceberg_v3_rowlin").toString
    Files.createDirectories(Paths.get(s"$loc/metadata"))
    val f1 = dataFile(loc, "data/b1", 0 until 50)
    val f2 = dataFile(loc, "data/b2", 50 until 100)
    val m1 = s"$loc/metadata/m1.avro"
    writeAvro(m1, entrySchema, Seq(
      manifestEntry(1, 1L, f1, 50), manifestEntry(1, 1L, f2, 50)))
    val mlSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        | {"name":"manifest_path","type":"string"},
        | {"name":"manifest_length","type":"long"},
        | {"name":"partition_spec_id","type":"int"},
        | {"name":"content","type":"int"},
        | {"name":"added_snapshot_id","type":"long"},
        | {"name":"first_row_id","type":["null","long"],"default":null}]}"""
        .stripMargin)
    val mlRow = new GenericData.Record(mlSchema)
    mlRow.put("manifest_path", m1); mlRow.put("manifest_length", 512L)
    mlRow.put("partition_spec_id", 0); mlRow.put("content", 0)
    mlRow.put("added_snapshot_id", 1L); mlRow.put("first_row_id", 100L)
    val ml = s"$loc/metadata/ml1.avro"
    writeAvro(ml, mlSchema, Seq(mlRow))
    val mj = s"$loc/metadata/v3.metadata.json"
    Files.write(Paths.get(mj), metadataJson(loc, Seq((1L, ml)), 1L)
      .replace("\"format-version\": 2",
        "\"format-version\": 3,\n  \"next-row-id\": 200")
      .getBytes("UTF-8"))
    val t = IceLite.adopt(spark, mj, s"$loc/adopted")
    // f1 inherits block [100,150), f2 [150,200); counter resumes at 200
    assert(t.meta.nextRowId == 200L)
    val ids = t.readRowLineage()
      .select(col("id"), col(IceLite.RowIdCol))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ids.size == 100)
    (0L until 100L).foreach(i => assert(ids(i) == 100L + i,
      s"row $i must inherit id ${100 + i} from the manifest block, got ${ids(i)}"))
  }

  test("v3 mixed explicit/null first_row_id: only null entries consume the block") {
    // a merged manifest shaped [null, explicit, null]: per the V3 spec,
    // entries carrying an explicit first_row_id (existing/carried files)
    // keep it and do NOT advance the manifest's inherited offset — the
    // trailing null entry must get first_row_id + preceding-NULL record
    // counts, not explicit + record_count
    val loc = Files.createTempDirectory("iceberg_v3_mixed").toString
    Files.createDirectories(Paths.get(s"$loc/metadata"))
    val f1 = dataFile(loc, "data/b1", 0 until 50)
    val f2 = dataFile(loc, "data/b2", 50 until 100)
    val f3 = dataFile(loc, "data/b3", 100 until 150)
    val schema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        | {"name":"status","type":"int"},
        | {"name":"snapshot_id","type":"long"},
        | {"name":"data_file","type":{"type":"record","name":"r2x","fields":[
        |   {"name":"content","type":"int"},
        |   {"name":"file_path","type":"string"},
        |   {"name":"file_format","type":"string"},
        |   {"name":"record_count","type":"long"},
        |   {"name":"file_size_in_bytes","type":"long"},
        |   {"name":"first_row_id","type":["null","long"],"default":null}]}}]}"""
        .stripMargin)
    def entry(path: String, frid: Option[Long]): GenericRecord = {
      val df = new GenericData.Record(schema.getField("data_file").schema())
      df.put("content", 0); df.put("file_path", path)
      df.put("file_format", "PARQUET")
      df.put("record_count", 50L); df.put("file_size_in_bytes", 1024L)
      frid.foreach(v => df.put("first_row_id", v))
      val e = new GenericData.Record(schema)
      e.put("status", 1); e.put("snapshot_id", 1L); e.put("data_file", df)
      e
    }
    val m1 = s"$loc/metadata/m1.avro"
    writeAvro(m1, schema,
      Seq(entry(f1, None), entry(f2, Some(500L)), entry(f3, None)))
    val mlSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        | {"name":"manifest_path","type":"string"},
        | {"name":"manifest_length","type":"long"},
        | {"name":"partition_spec_id","type":"int"},
        | {"name":"content","type":"int"},
        | {"name":"added_snapshot_id","type":"long"},
        | {"name":"first_row_id","type":["null","long"],"default":null}]}"""
        .stripMargin)
    val mlRow = new GenericData.Record(mlSchema)
    mlRow.put("manifest_path", m1); mlRow.put("manifest_length", 512L)
    mlRow.put("partition_spec_id", 0); mlRow.put("content", 0)
    mlRow.put("added_snapshot_id", 1L); mlRow.put("first_row_id", 100L)
    val ml = s"$loc/metadata/ml1.avro"
    writeAvro(ml, mlSchema, Seq(mlRow))
    val mj = s"$loc/metadata/v3.metadata.json"
    Files.write(Paths.get(mj), metadataJson(loc, Seq((1L, ml)), 1L)
      .replace("\"format-version\": 2",
        "\"format-version\": 3,\n  \"next-row-id\": 1000")
      .getBytes("UTF-8"))
    val t = IceLite.adopt(spark, mj, s"$loc/adopted")
    assert(t.meta.nextRowId == 1000L)
    val ids = t.readRowLineage()
      .select(col("id"), col(IceLite.RowIdCol))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ids.size == 150)
    // f1 (null) consumes [100,150); f2 keeps its explicit 500 block and
    // does NOT advance the offset; f3 (null) consumes [150,200)
    (0L until 50L).foreach(i => assert(ids(i) == 100L + i,
      s"f1 row $i: expected ${100 + i}, got ${ids(i)}"))
    (50L until 100L).foreach(i => assert(ids(i) == 500L + (i - 50),
      s"f2 row $i: expected ${500 + (i - 50)}, got ${ids(i)}"))
    (100L until 150L).foreach(i => assert(ids(i) == 150L + (i - 100),
      s"f3 row $i: expected ${150 + (i - 100)}, got ${ids(i)}"))
  }
}
