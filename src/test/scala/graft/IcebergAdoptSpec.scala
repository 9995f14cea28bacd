package graft.icelite

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[IceLite.adopt]] — migrate-in of a REAL Apache Iceberg table (the
  * reverse of [[IcebergExport]], the shape of Iceberg's own `migrate`
  * action): foreign data files register in place as a live IceLite
  * table, then the lineage continues with native commits. The foreign
  * fixtures here are produced by [[IcebergExport]] — real metadata.json
  * + avro manifests over name-addressable parquet, exactly what a
  * non-IceLite writer leaves behind. */
class IcebergAdoptSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy(df.columns.map(col).toSeq: _*).collect().toSeq.map(_.toSeq)

  test("adopt a foreign table, continue with append + MoR delete + rename + compaction") {
    val loc = Files.createTempDirectory("ice_adopt").toString
    // the foreign table: a real-format Iceberg export
    val src = IceLite.createFrom(spark, s"$loc/src",
      (0L until 100L).map(i => (i, s"row-$i", i * 2.0)).toDF("id", "name", "v").limit(1))
    src.append((0L until 100L).map(i => (i, s"row-$i", i * 2.0)).toDF("id", "name", "v"))
    val mj = IcebergExport.export(src, s"$loc/foreign")

    // in-place migrate: IceLite metadata lands next to the Iceberg
    // metadata, zero data movement (file paths stay the foreign ones)
    val t = IceLite.adopt(spark, mj, s"$loc/foreign")
    assert(t.read().columns.toSeq == Seq("id", "name", "v"))
    assert(rows(t.read()) == rows(IcebergInterop.read(spark, mj)),
      "at adoption, both readers must agree row-exactly")
    assert(rows(t.read()) == rows(src.read()),
      "at adoption, the table reads what the exported source held")
    val adoptedPaths = t.meta.currentSnapshot.get.dataFiles.map(_.path).toSet
    assert(IcebergInterop.planFiles(spark, mj).map(_.path).toSet == adoptedPaths,
      "adoption must register the foreign files in place, not copy them")
    assert(t.meta.currentSnapshot.get.dataFiles.forall(_.nameMapped))

    // the lineage continues natively: append + merge-on-read delete
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    t.append(Seq((100L, "row-100", 200.0), (101L, "row-101", 202.0)).toDF("id", "name", "v"))
    t.delete(col("id") % 10 === 0)
    val got = t.read().select("id").as[Long].collect().sorted.toSeq
    val want = ((0L until 102L).filter(_ % 10 != 0)).toSeq
    assert(got == want, s"append + MoR delete over adopted files: got ${got.take(5)}…")
    assert(t.meta.currentSnapshot.get.deleteFiles.nonEmpty,
      "precondition: the delete really was merge-on-read over adopted files")

    // rename AFTER adoption stays metadata-only: adopted files resolve by
    // field id through the pinned adoption schema
    t.renameColumn("name", "label")
    assert(t.read().columns.toSeq == Seq("id", "label", "v"))
    assert(t.read().filter(col("label") === "row-7").count() == 1L)

    // compaction rewrites adopted files into native physical form — the
    // standard exit from name-mapped files — and rows are unchanged
    t.compact(target = 2)
    assert(t.meta.currentSnapshot.get.dataFiles.forall(!_.nameMapped),
      "compaction must leave only native files")
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == want)

    // full circle: the adopted-and-mutated table exports back to real
    // Iceberg and the independent reader agrees
    val mj2 = IcebergExport.export(t, s"$loc/re_export")
    assert(rows(IcebergInterop.read(spark, mj2)) == rows(t.read()))
  }

  test("adopt a PARTITIONED foreign table: tuples re-encode; murmur3 bucket tuples preserved and pruning-true") {
    import java.time.LocalDate
    val loc = Files.createTempDirectory("ice_adopt_part").toString
    val src = IceLite.create(spark, s"$loc/src",
      Seq("id" -> "BIGINT", "region" -> "STRING", "d" -> "DATE"),
      partition = Seq("region" -> "identity", "d" -> "day"))
    val d1 = java.sql.Date.valueOf(LocalDate.of(2024, 1, 10))
    val d2 = java.sql.Date.valueOf(LocalDate.of(2024, 3, 5))
    src.append(Seq(
      (1L, "EU", d1), (2L, "EU", d2), (3L, "US", d1), (4L, "US", d2)
    ).toDF("id", "region", "d"))
    val mj = IcebergExport.export(src, s"$loc/foreign")

    val t = IceLite.adopt(spark, mj, s"$loc/adopted")
    // foreign tuples (Iceberg encodings: day = epoch days) re-encode into
    // IceLite's encodings under IceLite's spec-field names
    val tuples = t.meta.currentSnapshot.get.dataFiles.map(_.partition).toSet
    assert(tuples == Set(
      Map("region_identity" -> "EU", "d_day" -> "2024-01-10"),
      Map("region_identity" -> "EU", "d_day" -> "2024-03-05"),
      Map("region_identity" -> "US", "d_day" -> "2024-01-10"),
      Map("region_identity" -> "US", "d_day" -> "2024-03-05")), s"got $tuples")
    assert(rows(t.read()) == rows(src.read()))
    // a native append lands under the SAME spec with the same encodings
    t.append(Seq((5L, "EU", d1)).toDF("id", "region", "d"))
    val newFile = t.meta.currentSnapshot.get.dataFiles.filter(!_.nameMapped)
    assert(newFile.nonEmpty &&
      newFile.forall(_.partition == Map("region_identity" -> "EU", "d_day" -> "2024-01-10")))
    assert(t.read().count() == 5L)

    // bucket-partitioned foreign table: the murmur3 tuples are PRESERVED
    // under the lifted mbucket[N] transform (IceLite's own bucket[N] is
    // xxhash64 — a different hash, so the spec must say which one rules)
    val srcB = IceLite.create(spark, s"$loc/src_b",
      Seq("id" -> "BIGINT", "v" -> "BIGINT"), partition = Seq("id" -> "bucket[4]"))
    srcB.append((0L until 20L).map(i => (i, i)).toDF("id", "v"))
    val mjB = IcebergExport.export(srcB, s"$loc/foreign_b")
    val tb = IceLite.adopt(spark, mjB, s"$loc/adopted_b")
    assert(tb.meta.defaultSpec.fields.map(_.transform) == Seq("mbucket[4]"),
      s"adopted bucket spec lifts to murmur3, got ${tb.meta.defaultSpec.fields}")
    def mbucketOf(id: Long): String =
      IcebergTransforms.bucketLong(id, 4).toString
    val adoptedFiles = tb.meta.currentSnapshot.get.dataFiles
    assert(adoptedFiles.forall(_.partition.keySet == Set("id_mbucket_4")),
      s"murmur3 bucket tuples must be preserved, got ${adoptedFiles.map(_.partition)}")
    assert(tb.read().count() == 20L)
    assert(rows(tb.read()) == rows(srcB.read()))

    // the preserved tuples PRUNE correctly: a one-bucket read lists only
    // that bucket's files and reads only their records
    val want3 = (0L until 20L).filter(i => mbucketOf(i) == "3")
    @volatile var records = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) records += te.taskMetrics.inputMetrics.recordsRead
    }
    spark.sparkContext.addSparkListener(listener)
    val got3 =
      try {
        val r = tb.read(prune = p => p.get("id_mbucket_4").forall(_ == "3"))
          .select("id").as[Long].collect().sorted.toSeq
        var last = -1L; var spins = 0
        while (records != last && spins < 50) { last = records; Thread.sleep(100); spins += 1 }
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(got3 == want3, "bucket-pruned read stays exact")
    assert(records > 0 && records < 20,
      s"a one-bucket read must NOT scan all 20 rows (read $records)")

    // a native append lands in the SAME murmur3 buckets — one hash
    // semantics across adopted and native files
    tb.append(Seq((100L, 100L)).toDF("id", "v"))
    val newB = tb.meta.currentSnapshot.get.dataFiles.filter(!_.nameMapped)
    assert(newB.nonEmpty && newB.forall(
      _.partition == Map("id_mbucket_4" -> mbucketOf(100L))),
      s"native append must bucket by murmur3, got ${newB.map(_.partition)}")
    // …and the table exports back out as spec-true bucket[4]
    val mjB2 = IcebergExport.export(tb, s"$loc/re_export_b")
    val metaB2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(mjB2)), "UTF-8")
    assert(metaB2.contains("\"transform\": \"bucket[4]\""),
      "mbucket re-exports as the Iceberg bucket transform")
    assert(rows(IcebergInterop.read(spark, mjB2)) == rows(tb.read()))
  }

  test("adoption registers append-only foreign HISTORY: VERSION AS OF pre-adoption snapshots") {
    val loc = Files.createTempDirectory("ice_adopt_hist").toString
    val src = IceLite.createFrom(spark, s"$loc/src", Seq((0L, "x")).toDF("id", "tag"))
    src.append((0L until 30L).map(i => (i, s"a$i")).toDF("id", "tag"))
    val s1 = src.meta.currentSnapshotId.get
    src.append((30L until 50L).map(i => (i, s"b$i")).toDF("id", "tag"))
    val s2 = src.meta.currentSnapshotId.get
    src.append((50L until 55L).map(i => (i, s"c$i")).toDF("id", "tag"))
    val s3 = src.meta.currentSnapshotId.get
    val mj = IcebergExport.export(src, s"$loc/foreign", Seq(s1, s2, s3))

    val t = IceLite.adopt(spark, mj, s"$loc/adopted")
    assert(t.meta.snapshots.map(_.id) == Seq(s1, s2, s3),
      "every foreign snapshot registers as an IceLite snapshot")
    assert(t.meta.snapshots.map(_.parentId) ==
      Seq(None, Some(s1), Some(s2)), "the parent chain is continuous")
    // time travel to BOTH pre-adoption points hash-checks against the
    // foreign reader's own time travel
    assert(rows(t.readAsOf(s1)) == rows(IcebergInterop.readAsOf(spark, mj, s1)))
    assert(rows(t.readAsOf(s2)) == rows(IcebergInterop.readAsOf(spark, mj, s2)))
    // …and against the exported source's own time travel, which shares
    // no translation with either
    assert(rows(t.readAsOf(s1)) == rows(src.readAsOf(s1)))
    assert(rows(t.readAsOf(s2)) == rows(src.readAsOf(s2)))
    assert(t.readAsOf(s1).count() == 30L)
    assert(t.readAsOf(s2).count() == 50L)
    assert(rows(t.read()) == rows(IcebergInterop.read(spark, mj)))
    assert(rows(t.read()) == rows(src.read()))

    // the lineage continues: a native append becomes a 4th snapshot whose
    // parent is the adopted head, and old points keep serving
    t.append(Seq((55L, "d0")).toDF("id", "tag"))
    assert(t.meta.snapshots.size == 4)
    assert(t.meta.snapshots.last.parentId.contains(s3))
    assert(t.readAsOf(s1).count() == 30L)
    assert(t.read().count() == 56L)
  }

  test("foreign equality, position and Puffin DV deletes register in place; the foreign read writes nothing") {
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import scala.jdk.CollectionConverters._
    val loc = Files.createTempDirectory("ice_adopt_mor2").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$loc/metadata"))
    def writeAvro(path: String, schema: Schema, rs: Seq[GenericRecord]): Unit = {
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, new java.io.File(path))
      try rs.foreach(w.append) finally w.close()
    }
    val mlSchema = new Schema.Parser().parse(
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
    val dvEntrySchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        | {"name":"status","type":"int"},
        | {"name":"snapshot_id","type":"long"},
        | {"name":"data_file","type":{"type":"record","name":"r3","fields":[
        |   {"name":"content","type":"int"},
        |   {"name":"file_path","type":"string"},
        |   {"name":"file_format","type":"string"},
        |   {"name":"referenced_data_file","type":"string"},
        |   {"name":"content_offset","type":"long"},
        |   {"name":"content_size_in_bytes","type":"long"},
        |   {"name":"record_count","type":"long"},
        |   {"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin)
    def eqEntry(content: Int, p: String, n: Long, ids: Seq[Int]): GenericRecord = {
      val df = new GenericData.Record(eqEntrySchema.getField("data_file").schema())
      df.put("content", content); df.put("file_path", p)
      df.put("file_format", "PARQUET")
      df.put("equality_ids", ids.map(Int.box).asJava)
      df.put("record_count", n); df.put("file_size_in_bytes", 1024L)
      val e = new GenericData.Record(eqEntrySchema)
      e.put("status", 1); e.put("snapshot_id", 1L); e.put("data_file", df)
      e
    }
    def mlRow(p: String, content: Int, seq: Long): GenericRecord = {
      val r = new GenericData.Record(mlSchema)
      r.put("manifest_path", p); r.put("manifest_length", 512L)
      r.put("partition_spec_id", 0); r.put("content", content)
      r.put("sequence_number", seq); r.put("added_snapshot_id", 1L)
      r
    }
    def write1(name: String, df: org.apache.spark.sql.DataFrame): String = {
      df.coalesce(1).write.parquet(s"$loc/$name")
      Files.list(java.nio.file.Paths.get(s"$loc/$name")).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
    }
    // data: ids 0..9 at seq 1; a seq-3 re-insert of the eq-deleted key
    val f1 = write1("data/b1", (0L until 10L).map(i => (i, s"row-$i")).toDF("id", "data"))
    val f3 = write1("data/b3", Seq((203L, "row-3")).toDF("id", "data"))
    // eq delete (seq 2, key field 2 "data" = "row-3"): kills seq-1 id 3 only
    val eqFile = write1("deletes/eq1", Seq("row-3").toDF("data"))
    // position-delete parquet: position 1 of f1 (id 1) is dead
    val posFile = write1("deletes/pos1", Seq((f1, 1L)).toDF("file_path", "pos"))
    // Puffin DV: position 0 of f1 (id 0) is dead
    val conf = spark.sessionState.newHadoopConf()
    val dvPath = s"$loc/deletes/dv1${PuffinDv.Ext}"
    val blob = PuffinDv.write(new org.apache.hadoop.fs.Path(dvPath),
      Seq((f1, Array(0L))), conf).head
    def dvEntry(p: String): GenericRecord = {
      val df = new GenericData.Record(dvEntrySchema.getField("data_file").schema())
      df.put("content", 1); df.put("file_path", p)
      df.put("file_format", "PUFFIN")
      df.put("referenced_data_file", f1)
      df.put("content_offset", blob.offset)
      df.put("content_size_in_bytes", blob.length)
      df.put("record_count", blob.cardinality); df.put("file_size_in_bytes", 1024L)
      val e = new GenericData.Record(dvEntrySchema)
      e.put("status", 1); e.put("snapshot_id", 1L); e.put("data_file", df)
      e
    }
    writeAvro(s"$loc/metadata/m1.avro", eqEntrySchema, Seq(eqEntry(0, f1, 10, Seq())))
    writeAvro(s"$loc/metadata/m3.avro", eqEntrySchema, Seq(eqEntry(0, f3, 1, Seq())))
    writeAvro(s"$loc/metadata/dm_eq.avro", eqEntrySchema,
      Seq(eqEntry(2, eqFile, 1, Seq(2))))
    writeAvro(s"$loc/metadata/dm_dv.avro", dvEntrySchema, Seq(dvEntry(dvPath)))
    writeAvro(s"$loc/metadata/dm_pos.avro", eqEntrySchema,
      Seq(eqEntry(1, posFile, 1, Seq())))
    writeAvro(s"$loc/metadata/snap-1.avro", mlSchema, Seq(
      mlRow(s"$loc/metadata/m1.avro", 0, 1L),
      mlRow(s"$loc/metadata/m3.avro", 0, 3L),
      mlRow(s"$loc/metadata/dm_eq.avro", 1, 2L),
      mlRow(s"$loc/metadata/dm_dv.avro", 1, 2L),
      mlRow(s"$loc/metadata/dm_pos.avro", 1, 2L)))
    val mj = s"$loc/metadata/v1.metadata.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(mj),
      s"""{
         |  "format-version": 2, "location": "$loc", "last-column-id": 2,
         |  "current-schema-id": 0,
         |  "schemas": [{"type": "struct", "schema-id": 0, "fields": [
         |    {"id": 1, "name": "id", "required": false, "type": "long"},
         |    {"id": 2, "name": "data", "required": false, "type": "string"}]}],
         |  "default-spec-id": 0, "partition-specs": [{"spec-id": 0, "fields": []}],
         |  "current-snapshot-id": 1,
         |  "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1700000000001,
         |    "sequence-number": 3,
         |    "summary": {"operation": "append"}, "manifest-list": "$loc/metadata/snap-1.avro"}]
         |}""".stripMargin.getBytes("UTF-8"))

    // survivors: 2,4..9 (id 0 DV-dead, id 1 position-dead, id 3 eq-dead
    // at seq 1) + the seq-3 re-insert (postdates the seq-2 delete)
    val written = ((2L until 10L).filter(_ != 3L).map(i => (i, s"row-$i")) :+
      ((203L, "row-3"))).toSet
    val want = written.map(_._1)
    // the foreign read goes through the same translation and scan, in
    // memory: it must not write anything under the table's location
    def listing(): Set[String] = {
      val st = Files.walk(java.nio.file.Paths.get(loc))
      try st.iterator().asScala.map(_.toString).toSet finally st.close()
    }
    val before = listing()
    val foreign = IcebergInterop.read(spark, mj)
    assert(foreign.as[(Long, String)].collect().toSet == written,
      "the foreign read applies all three delete carriers")
    assert(listing() == before, s"the foreign read wrote ${listing() -- before}")

    val t = IceLite.adopt(spark, mj, s"$loc/adopted")
    assert(t.read().as[(Long, String)].collect().toSet == written,
      "adopted MoR semantics must match Iceberg's (DV + position + seq-scoped eq)")
    assert(rows(t.read()) == rows(IcebergInterop.read(spark, mj)),
      "post-adopt reads must hash-equal the foreign reader")
    val dels = t.meta.currentSnapshot.get.deleteFiles
    val eqDel = dels.filter(_.kind == "eq")
    assert(eqDel.size == 1 && eqDel.head.eqFieldIds == Seq(2) &&
      eqDel.head.seq == 2L, s"eq delete must carry ids+seq, got $dels")
    assert(eqDel.head.path == eqFile,
      "the foreign eq-delete file registers in place: adoption moves no data")
    val dvDel = dels.filter(d => d.kind == "pos" && d.path.endsWith(PuffinDv.Ext))
    assert(dvDel.size == 1 && dvDel.head.path == dvPath,
      "the Puffin DV registers in place — it is a native carrier")
    assert(dels.exists(d => d.kind == "pos" && d.path == posFile),
      "the position-delete parquet registers in place")
    // the lineage continues: a new append's rows postdate the eq delete
    t.append(Seq((3L, "row-3")).toDF("id", "data"))
    assert(t.read().select("id").as[Long].collect().toSet == (want + 3L),
      "a re-inserted key after adoption must survive the carried eq delete")
  }

  test("adoption carries foreign MoR position deletes; occupied locations refuse") {
    val loc = Files.createTempDirectory("ice_adopt_refuse").toString
    // a foreign table WITH a live position-delete manifest (hand-built,
    // the IcebergInteropSpec fixture shape)
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val entrySchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        | {"name":"status","type":"int"},
        | {"name":"snapshot_id","type":"long"},
        | {"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |   {"name":"content","type":"int"},
        |   {"name":"file_path","type":"string"},
        |   {"name":"file_format","type":"string"},
        |   {"name":"record_count","type":"long"},
        |   {"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin)
    val mlSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        | {"name":"manifest_path","type":"string"},
        | {"name":"manifest_length","type":"long"},
        | {"name":"partition_spec_id","type":"int"},
        | {"name":"content","type":"int"},
        | {"name":"added_snapshot_id","type":"long"}]}""".stripMargin)
    def writeAvro(path: String, schema: Schema, rs: Seq[GenericRecord]): Unit = {
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, new java.io.File(path))
      try rs.foreach(w.append) finally w.close()
    }
    def entry(content: Int, p: String, n: Long): GenericRecord = {
      val df = new GenericData.Record(entrySchema.getField("data_file").schema())
      df.put("content", content); df.put("file_path", p)
      df.put("file_format", "PARQUET"); df.put("record_count", n)
      df.put("file_size_in_bytes", 1024L)
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1); e.put("snapshot_id", 1L); e.put("data_file", df)
      e
    }
    Files.createDirectories(java.nio.file.Paths.get(s"$loc/metadata"))
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "data")
      .coalesce(1).write.parquet(s"$loc/data/b1")
    val dataFile = Files.list(java.nio.file.Paths.get(s"$loc/data/b1")).toArray
      .map(_.toString).find(_.endsWith(".parquet")).get
    Seq((dataFile, 0L)).toDF("file_path", "pos").coalesce(1).write.parquet(s"$loc/deletes/d1")
    val delFile = Files.list(java.nio.file.Paths.get(s"$loc/deletes/d1")).toArray
      .map(_.toString).find(_.endsWith(".parquet")).get
    writeAvro(s"$loc/metadata/m1.avro", entrySchema, Seq(entry(0, dataFile, 3)))
    writeAvro(s"$loc/metadata/dm1.avro", entrySchema, Seq(entry(1, delFile, 1)))
    def mlRow(p: String, content: Int): GenericRecord = {
      val r = new GenericData.Record(mlSchema)
      r.put("manifest_path", p); r.put("manifest_length", 512L)
      r.put("partition_spec_id", 0); r.put("content", content)
      r.put("added_snapshot_id", 1L)
      r
    }
    writeAvro(s"$loc/metadata/snap-1.avro", mlSchema,
      Seq(mlRow(s"$loc/metadata/m1.avro", 0), mlRow(s"$loc/metadata/dm1.avro", 1)))
    val mj = s"$loc/metadata/v1.metadata.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(mj),
      s"""{
         |  "format-version": 2, "location": "$loc", "last-column-id": 2,
         |  "current-schema-id": 0,
         |  "schemas": [{"type": "struct", "schema-id": 0, "fields": [
         |    {"id": 1, "name": "id", "required": false, "type": "long"},
         |    {"id": 2, "name": "data", "required": false, "type": "string"}]}],
         |  "default-spec-id": 0, "partition-specs": [{"spec-id": 0, "fields": []}],
         |  "current-snapshot-id": 1,
         |  "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1700000000001,
         |    "summary": {"operation": "append"}, "manifest-list": "$loc/metadata/snap-1.avro"}]
         |}""".stripMargin.getBytes("UTF-8"))
    // the foreign MoR delete carries into the native delete index — the
    // position-delete parquet registers IN PLACE ((file_path, pos) is the
    // native shape too) and post-adopt reads hash-equal the foreign reader
    val t = IceLite.adopt(spark, mj, s"$loc/adopted")
    assert(t.meta.currentSnapshot.get.deleteFiles.nonEmpty,
      "the foreign position delete must register in the native index")
    assert(t.meta.currentSnapshot.get.deleteFiles.forall(_.path == delFile),
      "the delete parquet registers in place, not copied")
    assert(rows(t.read()) == rows(IcebergInterop.read(spark, mj)),
      "post-adopt reads must hash-equal the foreign reader")
    assert(t.read().as[(Long, String)].collect().sorted.toSeq ==
      Seq((2L, "b"), (3L, "c")), "pos 0 of the data file is dead")
    // the lineage continues natively over the carried deletes
    t.append(Seq((4L, "d")).toDF("id", "data"))
    assert(t.read().count() == 3L)

    // occupied location refuses
    val ok = IceLite.createFrom(spark, s"$loc/occupied", Seq((1L, "x")).toDF("id", "data"))
    ok.append(Seq((1L, "x")).toDF("id", "data"))
    val mj2 = IcebergExport.export(ok, s"$loc/foreign_ok")
    val e2 = intercept[IllegalArgumentException](
      IceLite.adopt(spark, mj2, s"$loc/occupied"))
    assert(e2.getMessage.contains("table exists"))
  }

  test("ambiguous foreign ids (non-monotone inside 1..N) degrade to head-only, never mis-serve") {
    // foreign ids (2, 1) in commit order: a dense remap would collide —
    // `VERSION AS OF 2` could mean native-2 (the head) or foreign-2 (the
    // first point). The ambiguity is unresolvable, so adoption must keep
    // ONLY the head rather than risk serving the wrong snapshot.
    val loc = Files.createTempDirectory("ice_adopt_ambig").toString
    val src = IceLite.createFrom(spark, s"$loc/src", Seq((0L, "x")).toDF("id", "tag"))
    src.append((0L until 10L).map(i => (i, s"a$i")).toDF("id", "tag"))
    src.append((10L until 20L).map(i => (i, s"b$i")).toDF("id", "tag"))
    val mj = IcebergExport.export(src, s"$loc/foreign", Seq(1L, 2L))
    val mp = java.nio.file.Paths.get(mj)
    val swapped = new String(java.nio.file.Files.readAllBytes(mp), "UTF-8")
      .replace("\"snapshot-id\": 1,", "\"snapshot-id\": 999001,")
      .replace("\"snapshot-id\": 2,", "\"snapshot-id\": 1,")
      .replace("\"snapshot-id\": 999001,", "\"snapshot-id\": 2,")
      .replace("\"current-snapshot-id\": 2", "\"current-snapshot-id\": 1")
    java.nio.file.Files.write(mp, swapped.getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      mp.resolveSibling("." + mp.getFileName + ".crc"))
    val t = IceLite.adopt(spark, mj, s"$loc/adopted")
    assert(t.meta.snapshots.size == 1, "ambiguous history must degrade to head-only")
    assert(t.meta.snapshots.head.id == 1L, "the head keeps its foreign id verbatim")
    assert(t.read().count() == 20, "the head still serves the full content")
    assert(!t.meta.properties.keys.exists(_.startsWith("adopted.foreign-snapshot.")),
      "no remap properties on a head-only adoption")
  }

  test("REAL lineage adoption: random ids + MoR delete + mid-history compaction, every point time-travels") {
    // the shape a production Iceberg writer leaves behind: RANDOM
    // (non-monotone) snapshot ids, commit order carried only by
    // sequence-number, a merge-on-read position delete mid-history, a
    // compaction ("replace") that rewrites the live set, then a
    // post-compaction append. Adoption must register EVERY point with a
    // dense native id remap and serve `VERSION AS OF <foreign id>`
    // hash-identical to the foreign reader at each point.
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val loc = Files.createTempDirectory("ice_adopt_real").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$loc/metadata"))
    def writeAvro(path: String, schema: Schema, rs: Seq[GenericRecord]): Unit = {
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, new java.io.File(path))
      try rs.foreach(w.append) finally w.close()
    }
    val entrySchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        | {"name":"status","type":"int"},
        | {"name":"snapshot_id","type":"long"},
        | {"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |   {"name":"content","type":"int"},
        |   {"name":"file_path","type":"string"},
        |   {"name":"file_format","type":"string"},
        |   {"name":"record_count","type":"long"},
        |   {"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin)
    val mlSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        | {"name":"manifest_path","type":"string"},
        | {"name":"manifest_length","type":"long"},
        | {"name":"partition_spec_id","type":"int"},
        | {"name":"content","type":"int"},
        | {"name":"sequence_number","type":"long"},
        | {"name":"added_snapshot_id","type":"long"}]}""".stripMargin)
    def entry(content: Int, p: String, n: Long): GenericRecord = {
      val df = new GenericData.Record(entrySchema.getField("data_file").schema())
      df.put("content", content); df.put("file_path", p)
      df.put("file_format", "PARQUET"); df.put("record_count", n)
      df.put("file_size_in_bytes", 1024L)
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1); e.put("snapshot_id", 1L); e.put("data_file", df)
      e
    }
    def mlRow(p: String, content: Int, seq: Long): GenericRecord = {
      val r = new GenericData.Record(mlSchema)
      r.put("manifest_path", p); r.put("manifest_length", 512L)
      r.put("partition_spec_id", 0); r.put("content", content)
      r.put("sequence_number", seq); r.put("added_snapshot_id", 1L)
      r
    }
    def write1(name: String, df: org.apache.spark.sql.DataFrame): String = {
      df.coalesce(1).write.parquet(s"$loc/$name")
      Files.list(java.nio.file.Paths.get(s"$loc/$name")).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
    }
    def rowsDf(r: Range) =
      r.map(i => (i.toLong, s"row-$i")).toDF("id", "data")
        .repartition(1).sortWithinPartitions("id")
    val f1 = write1("data/b1", rowsDf(0 until 50))
    val f2 = write1("data/b2", rowsDf(50 until 100))
    // MoR delete: positions 0..4 of f1 (ids 0..4 — f1 is id-ordered)
    val d1 = write1("deletes/d1",
      (0L until 5L).map(p => (f1, p)).toDF("file_path", "pos"))
    // compaction output: the live set after the delete, rewritten
    val f3 = write1("data/b3", rowsDf(5 until 100))
    val f4 = write1("data/b4", rowsDf(100 until 120))
    val meta = s"$loc/metadata"
    writeAvro(s"$meta/m1.avro", entrySchema, Seq(entry(0, f1, 50)))
    writeAvro(s"$meta/m2.avro", entrySchema, Seq(entry(0, f2, 50)))
    writeAvro(s"$meta/dm1.avro", entrySchema, Seq(entry(1, d1, 5)))
    writeAvro(s"$meta/m3.avro", entrySchema, Seq(entry(0, f3, 95)))
    writeAvro(s"$meta/m4.avro", entrySchema, Seq(entry(0, f4, 20)))
    writeAvro(s"$meta/ml-a.avro", mlSchema, Seq(mlRow(s"$meta/m1.avro", 0, 1)))
    writeAvro(s"$meta/ml-b.avro", mlSchema, Seq(
      mlRow(s"$meta/m1.avro", 0, 1), mlRow(s"$meta/m2.avro", 0, 2)))
    writeAvro(s"$meta/ml-c.avro", mlSchema, Seq(
      mlRow(s"$meta/m1.avro", 0, 1), mlRow(s"$meta/m2.avro", 0, 2),
      mlRow(s"$meta/dm1.avro", 1, 3)))
    writeAvro(s"$meta/ml-d.avro", mlSchema, Seq(mlRow(s"$meta/m3.avro", 0, 4)))
    writeAvro(s"$meta/ml-e.avro", mlSchema, Seq(
      mlRow(s"$meta/m3.avro", 0, 4), mlRow(s"$meta/m4.avro", 0, 5)))
    // random non-monotone ids: commit order A,B,C,D,E is carried ONLY by
    // sequence-number (and timestamps) — id order is meaningless
    val (idA, idB, idC, idD, idE) =
      (7720249459238351L, 112233445566L, 9007111254740993L,
        31415926535897L, 271828182845904L)
    def snapJson(id: Long, seq: Long, ts: Long, op: String, ml: String) =
      s"""{"snapshot-id": $id, "timestamp-ms": $ts, "sequence-number": $seq,
         | "summary": {"operation": "$op"}, "manifest-list": "$ml"}""".stripMargin
    val mj = s"$meta/v1.metadata.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(mj),
      s"""{
         |  "format-version": 2, "location": "$loc", "last-column-id": 2,
         |  "last-sequence-number": 5,
         |  "current-schema-id": 0,
         |  "schemas": [{"type": "struct", "schema-id": 0, "fields": [
         |    {"id": 1, "name": "id", "required": false, "type": "long"},
         |    {"id": 2, "name": "data", "required": false, "type": "string"}]}],
         |  "default-spec-id": 0, "partition-specs": [{"spec-id": 0, "fields": []}],
         |  "current-snapshot-id": $idE,
         |  "snapshots": [
         |    ${snapJson(idA, 1, 1700000000001L, "append", s"$meta/ml-a.avro")},
         |    ${snapJson(idB, 2, 1700000000002L, "append", s"$meta/ml-b.avro")},
         |    ${snapJson(idC, 3, 1700000000003L, "delete", s"$meta/ml-c.avro")},
         |    ${snapJson(idD, 4, 1700000000004L, "replace", s"$meta/ml-d.avro")},
         |    ${snapJson(idE, 5, 1700000000005L, "append", s"$meta/ml-e.avro")}]
         |}""".stripMargin.getBytes("UTF-8"))
    val t = IceLite.adopt(spark, mj, s"$loc/adopted")
    // dense monotone native ids in commit order, operations preserved
    assert(t.meta.snapshots.map(_.id) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(t.meta.snapshots.map(_.operation) ==
      Seq("append", "append", "delete", "replace", "append"))
    assert(t.meta.currentSnapshotId.contains(5L))
    // VERSION AS OF every FOREIGN id hash-matches the foreign reader AND
    // the rows the fixture wrote for that point
    def written(ids: Seq[Int]): Seq[Seq[Any]] = ids.map(i => Seq(i.toLong, s"row-$i"))
    val expected = Map(
      idA -> written(0 until 50), idB -> written(0 until 100),
      idC -> written(5 until 100), idD -> written(5 until 100),
      idE -> written(5 until 120))
    for (fid <- Seq(idA, idB, idC, idD, idE)) {
      assert(rows(t.readAsOf(fid)) == rows(IcebergInterop.readAsOf(spark, mj, fid)),
        s"foreign id $fid must time-travel hash-identical to the foreign reader")
      assert(rows(t.readAsOf(fid)) == expected(fid),
        s"foreign id $fid must serve the rows the fixture wrote for it")
    }
    assert(t.readAsOf(idA).count() == 50)
    assert(t.readAsOf(idB).count() == 100)
    assert(t.readAsOf(idC).count() == 95, "the MoR delete point serves survivors")
    assert(t.readAsOf(idD).count() == 95, "the compaction point is a no-op logically")
    assert(t.read().count() == 115)
    assert(rows(t.read()) == rows(IcebergInterop.read(spark, mj)))
    // the CDC changelog crosses the migrate-in boundary: B's append and
    // C's MoR delete surface; D (pure replace) is skipped as physical
    val ch = t.readChangesBetween(1L, 5L)
      .select(col("id"), col("_change_type"), col("_commit_version"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(ch.filter(_._3 == 2L).map(_._1).toSet == (50L until 100L).toSet)
    assert(ch.filter(_._3 == 2L).forall(_._2 == "insert"))
    assert(ch.filter(_._3 == 3L).map(_._1).toSet == (0L until 5L).toSet,
      "the foreign MoR delete point reports its dead rows")
    assert(ch.filter(_._3 == 3L).forall(_._2 == "delete"))
    assert(!ch.exists(_._3 == 4L), "the compaction point is not a logical change")
    assert(ch.filter(_._3 == 5L).map(_._1).toSet == (100L until 120L).toSet)
    // the lineage continues natively past the remap
    t.append(Seq((200L, "z")).toDF("id", "data"))
    assert(t.meta.snapshots.map(_.id) == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    assert(t.meta.snapshots.last.parentId.contains(5L))
    assert(t.read().count() == 116)
    assert(t.readAsOf(idC).count() == 95, "foreign points keep serving after native commits")
  }

  test("SCHEMA-EVOLVED foreign lineage adopts in full: each point serves under its write schema") {
    // a production shape history adoption used to degrade to head-only:
    // mid-history ADD COLUMN (with default) + RENAME, random snapshot
    // ids. Every foreign schema must register under its own schema-id,
    // each file resolve through its WRITE schema, and `VERSION AS OF`
    // each pre-evolution foreign id hash-match the independent foreign
    // reader under the pre-evolution schema.
    val loc = Files.createTempDirectory("ice_adopt_evo").toString
    val src = IceLite.createFrom(spark, s"$loc/src", Seq((0L, "x")).toDF("id", "v"))
    src.append((0L until 20L).map(i => (i, s"a$i")).toDF("id", "v"))
    val s1 = src.meta.currentSnapshotId.get
    src.addColumn("ch", "STRING", Some("'web'"))
    src.renameColumn("v", "label")
    src.append((20L until 30L).map(i => (i, s"b$i", "app")).toDF("id", "label", "ch"))
    val s2 = src.meta.currentSnapshotId.get
    val mj = IcebergExport.export(src, s"$loc/foreign", Seq(s1, s2))
    // randomize the exported ids (non-monotone, like real writers') —
    // CONSISTENTLY: metadata.json, the manifest lists' added_snapshot_id,
    // and the manifest entries' snapshot_id all carry the same ids, the
    // shape a real writer leaves behind
    val (r1, r2) = (98877665544332L, 11223344556677L)
    val remap = Map(s1 -> r1, s2 -> r2)
    val mp = java.nio.file.Paths.get(mj)
    val edited = new String(java.nio.file.Files.readAllBytes(mp), "UTF-8")
      .replace(s""""snapshot-id": $s1,""", s""""snapshot-id": $r1,""")
      .replace(s""""snapshot-id": $s2,""", s""""snapshot-id": $r2,""")
      .replace(s""""current-snapshot-id": $s2""", s""""current-snapshot-id": $r2""")
    java.nio.file.Files.write(mp, edited.getBytes("UTF-8"))
    val conf = spark.sessionState.newHadoopConf()
    val metaDir = new java.io.File(s"$loc/foreign/metadata")
    for (av <- metaDir.listFiles().filter(_.getName.endsWith(".avro"))) {
      val rows0 = IcebergInterop.avroRows(av.toString, conf)
      val w = new org.apache.avro.file.DataFileWriter[org.apache.avro.generic.GenericRecord](
        new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](
          rows0.head.getSchema))
      w.create(rows0.head.getSchema, av)
      try rows0.foreach { r =>
        for (f <- Seq("snapshot_id", "added_snapshot_id"))
          if (r.getSchema.getField(f) != null) Option(r.get(f)).foreach {
            case v: java.lang.Long if remap.contains(v) => r.put(f, Long.box(remap(v)))
            case _ => ()
          }
        w.append(r)
      } finally w.close()
    }
    for (crc <- metaDir.listFiles().filter(f =>
      f.getName.startsWith(".") && f.getName.endsWith(".crc"))) crc.delete()

    val t = IceLite.adopt(spark, mj, s"$loc/adopted")
    assert(t.meta.snapshots.map(_.id) == Seq(1L, 2L),
      "the evolved lineage must adopt in FULL (no head-only degrade)")
    assert(t.meta.schemas.size == 2,
      s"every foreign schema registers, got ${t.meta.schemas.map(_.schemaId)}")
    // the pre-evolution point serves under the pre-evolution schema,
    // hash-identical to the independent foreign reader
    assert(t.readAsOf(r1).columns.toSeq == Seq("id", "v"),
      s"pre-evolution time travel shows the columns the table had then, " +
        s"got ${t.readAsOf(r1).columns.toSeq}")
    assert(rows(t.readAsOf(r1)) == rows(IcebergInterop.readAsOf(spark, mj, r1)))
    assert(rows(t.readAsOf(r1)) == rows(src.readAsOf(s1)),
      "the pre-evolution point serves what the source held then")
    // the head serves under the evolved schema: rename surfaced, the
    // added column filling its initial-default on pre-evolution files
    assert(t.read().columns.toSeq == Seq("id", "label", "ch"))
    assert(rows(t.read()) == rows(IcebergInterop.read(spark, mj)))
    assert(rows(t.read()) == rows(src.read()))
    val byId = t.read().collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(byId(0L) == ("a0", "web"), "pre-evolution rows fill the initial-default")
    assert(byId(25L) == ("b25", "app"))
    // the lineage continues natively under the evolved schema…
    t.append(Seq((100L, "z", "ios")).toDF("id", "label", "ch"))
    assert(t.read().count() == 31L)
    assert(t.readAsOf(r1).count() == 20L, "pre-evolution points keep serving")
    // …native DDL mints schema ids past every adopted one…
    t.renameColumn("ch", "channel")
    assert(t.meta.currentSchemaId > t.meta.schemas.map(_.schemaId).min)
    assert(t.read().filter(col("channel") === "app").count() == 10L)
    // …and compaction exits name-mapping with rows intact
    t.compact(target = 2)
    assert(t.meta.currentSnapshot.get.dataFiles.forall(!_.nameMapped))
    assert(t.read().filter(col("channel") === "web").count() == 20L)

    // EXPIRED adding snapshot: the head's manifest list still carries
    // the first snapshot's files, but their added_snapshot_id now
    // dangles (metadata no longer records that snapshot) — per-file
    // parquet FIELD-IDS resolve the write schema instead, and the
    // minimal-schema rule stamps pre-ADD files pre-ADD so the added
    // column still fills its initial-default, not null
    val M = new com.fasterxml.jackson.databind.ObjectMapper()
    val tree = M.readTree(new java.io.File(mj))
    val snapsArr = tree.get("snapshots")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    assert(snapsArr.get(0).get("snapshot-id").asLong() == r1)
    snapsArr.remove(0)
    java.nio.file.Files.write(mp, M.writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(tree))
    java.nio.file.Files.deleteIfExists(
      mp.resolveSibling("." + mp.getFileName + ".crc"))
    val t2 = IceLite.adopt(spark, mj, s"$loc/adopted2")
    assert(t2.meta.snapshots.size == 1,
      "only the surviving head registers after foreign expiry")
    assert(t2.read().columns.toSeq == Seq("id", "label", "ch"))
    val byId2 = t2.read().collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(byId2(0L) == ("a0", "web"),
      "footer-resolved pre-evolution files still fill the initial-default")
    assert(byId2(25L) == ("b25", "app"))
    assert(t2.read().count() == 30L)
  }

  test("EXPIRED adding snapshot on a POST-evolution file: footer ids stamp it post-ADD, never pre-ADD") {
    // the wrong-answer edge: a pure ADD COLUMN lineage (no rename) whose
    // POST-ADD file's adding snapshot was expired. The pre-ADD schema
    // does not declare the added field id — a candidate filter that let
    // it match vacuously tied both schemas at zero absent fields and the
    // schema-id tie-break stamped the file PRE-ADD, silently replacing
    // its real column values with the initial-default fill. A candidate
    // must DECLARE every field id the file carries.
    val loc = Files.createTempDirectory("ice_adopt_expadd").toString
    val src = IceLite.createFrom(spark, s"$loc/src", Seq((0L, "x")).toDF("id", "v"))
    src.append((0L until 20L).map(i => (i, s"a$i")).toDF("id", "v"))
    val s1 = src.meta.currentSnapshotId.get
    src.addColumn("ch", "STRING", Some("'web'"))
    src.append((20L until 30L).map(i => (i, s"b$i", "app")).toDF("id", "v", "ch"))
    val s2 = src.meta.currentSnapshotId.get
    src.append((30L until 35L).map(i => (i, s"c$i", "ios")).toDF("id", "v", "ch"))
    val s3 = src.meta.currentSnapshotId.get
    val mj = IcebergExport.export(src, s"$loc/foreign", Seq(s1, s2, s3))
    // expire s1 AND s2 from the metadata: the head's manifest list still
    // chains their manifests, so both the pre-ADD file (footer ids
    // {id,v}) and the post-ADD file (ids {id,v,ch}) dangle and must
    // footer-resolve — to DIFFERENT schemas
    val M = new com.fasterxml.jackson.databind.ObjectMapper()
    val mp = java.nio.file.Paths.get(mj)
    val tree = M.readTree(new java.io.File(mj))
    val snapsArr = tree.get("snapshots")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    assert(snapsArr.size() == 3)
    snapsArr.remove(1); snapsArr.remove(0) // drop s1, s2; keep the head s3
    java.nio.file.Files.write(mp,
      M.writerWithDefaultPrettyPrinter().writeValueAsBytes(tree))
    java.nio.file.Files.deleteIfExists(
      mp.resolveSibling("." + mp.getFileName + ".crc"))

    val reads0 = IcebergInterop.driverFooterReads.get()
    val t = IceLite.adopt(spark, mj, s"$loc/adopted")
    assert(IcebergInterop.driverFooterReads.get() == reads0,
      "footer resolution must run as ONE executor-side Spark job, not " +
        "per-file driver reads (a long expired lineage serializes the walk)")
    // the head hash-matches the independent foreign reader: post-ADD
    // rows keep their REAL column values, pre-ADD rows fill the default
    assert(rows(t.read()) == rows(IcebergInterop.read(spark, mj)))
    assert(t.read().count() == 35L)
    val byId = t.read().collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(byId(25L) == ("b25", "app"),
      "a POST-ADD file whose adding snapshot expired must stamp post-ADD " +
        "— pre-ADD would fill the default over real column data")
    assert(byId(32L) == ("c32", "ios"))
    assert(byId(5L) == ("a5", "web"),
      "pre-ADD rows still fill the initial-default")

    // NEGATIVE: footer ids matching NO declared schema refuse loudly
    // (silently stamping the current read schema would mis-serve) —
    // rename the declared field so the post-ADD files' {3: "ch"}
    // matches nothing
    val tree2 = M.readTree(new java.io.File(mj))
    tree2.get("schemas").forEach { sn =>
      sn.get("fields").forEach { fn =>
        if (fn.get("id").asInt() == 3)
          fn.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
            .put("name", "chx")
      }
    }
    java.nio.file.Files.write(mp,
      M.writerWithDefaultPrettyPrinter().writeValueAsBytes(tree2))
    java.nio.file.Files.deleteIfExists(
      mp.resolveSibling("." + mp.getFileName + ".crc"))
    val e = intercept[IllegalArgumentException](
      IceLite.adopt(spark, mj, s"$loc/adopted2"))
    assert(e.getMessage.contains("matching no schema"),
      s"unmatchable footer ids must refuse loudly, got: ${e.getMessage}")
  }

  test("a rolled-back foreign head adopts its published PREFIX, ignoring future snapshots") {
    // the foreign writer rolled back: current-snapshot-id points below
    // the commit-order tip. The prefix up to current must adopt (each
    // snapshot is a complete state); the rolled-back successor must NOT
    // — adopting it would resurrect exactly what the writer undid.
    val loc = Files.createTempDirectory("ice_adopt_rb").toString
    val src = IceLite.createFrom(spark, s"$loc/src", Seq((0L, "x")).toDF("id", "tag"))
    src.append((0L until 10L).map(i => (i, s"a$i")).toDF("id", "tag"))
    src.append((10L until 25L).map(i => (i, s"b$i")).toDF("id", "tag"))
    src.append((25L until 30L).map(i => (i, s"c$i")).toDF("id", "tag"))
    val mj = IcebergExport.export(src, s"$loc/foreign", Seq(1L, 2L, 3L))
    val remap = Map(1L -> 98877665544332L, 2L -> 11223344556677L,
      3L -> 55667788990011L)
    val mp = java.nio.file.Paths.get(mj)
    // (the quoted fold pattern never touches "current-snapshot-id" —
    // the explicit replace below both randomizes it AND rolls it back
    // to point 2)
    val edited = remap.foldLeft(
      new String(java.nio.file.Files.readAllBytes(mp), "UTF-8")) {
      case (acc, (o, n)) =>
        acc.replace(s""""snapshot-id": $o,""", s""""snapshot-id": $n,""")
    }.replace(s""""current-snapshot-id": 3""",
      s""""current-snapshot-id": ${remap(2L)}""") // rolled back to point 2
    java.nio.file.Files.write(mp, edited.getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      mp.resolveSibling("." + mp.getFileName + ".crc"))

    val t = IceLite.adopt(spark, mj, s"$loc/adopted")
    assert(t.meta.snapshots.map(_.id) == Seq(1L, 2L),
      "the published prefix adopts; the rolled-back successor is ignored")
    assert(t.read().count() == 25L, "the head serves the rolled-back state")
    assert(t.readAsOf(remap(1L)).count() == 10L)
    assert(t.readAsOf(remap(2L)).count() == 25L)
    val e = intercept[RuntimeException](t.readAsOf(remap(3L)))
    assert(e.getMessage.contains("no snapshot"),
      "the rolled-back point must not be reachable")
  }

  test("a foreign sort transform the column type cannot satisfy drops WHOLE at adoption") {
    // day(bigint) is representable Iceberg metadata a misbehaving writer
    // can leave behind; registering it unvalidated would fail the first
    // NATIVE write instead of the adoption — validate-by-analysis here,
    // drop-whole on failure (the existing policy for inexpressible orders)
    val loc = Files.createTempDirectory("ice_adopt_badsort").toString
    val src = IceLite.create(spark, s"$loc/src",
      Seq("id" -> "BIGINT", "v" -> "STRING"))
    src.append((0L until 10L).map(i => (i, s"r$i")).toDF("id", "v"))
    val mj = IcebergExport.export(src, s"$loc/foreign")
    val M = new com.fasterxml.jackson.databind.ObjectMapper()
    val mp = java.nio.file.Paths.get(mj)
    val tree = M.readTree(new java.io.File(mj))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    tree.put("default-sort-order-id", 7)
    val order = M.createObjectNode()
    order.put("order-id", 7)
    val fieldsArr = order.putArray("fields")
    val sf = fieldsArr.addObject()
    sf.put("transform", "day"); sf.put("source-id", 1)
    sf.put("direction", "asc"); sf.put("null-order", "nulls-first")
    tree.withArray("sort-orders").add(order)
    java.nio.file.Files.write(mp,
      M.writerWithDefaultPrettyPrinter().writeValueAsBytes(tree))
    java.nio.file.Files.deleteIfExists(
      mp.resolveSibling("." + mp.getFileName + ".crc"))
    assert(IcebergInterop.loadMeta(mj,
        spark.sessionState.newHadoopConf()).sortOrder ==
      Seq(IcebergInterop.IceSortField(1, "day", "asc", "nulls-first")),
      "fixture sanity: the foreign metadata declares day(id)")
    val t = IceLite.adopt(spark, mj, s"$loc/adopted")
    assert(t.meta.properties.get("write.sort-order").isEmpty,
      "an order the declared types cannot satisfy must drop whole at adoption")
    t.append(Seq((100L, "z")).toDF("id", "v")) // first native write succeeds
    assert(t.read().count() == 11L)
  }

  test("foreign branches and tags survive adoption (through the id remap) and re-export") {
    val loc = Files.createTempDirectory("ice_adopt_refs").toString
    def txt(p: String) = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    val src = IceLite.createFrom(spark, s"$loc/src", Seq((0L, "x")).toDF("id", "v"))
    src.append((0L until 10L).map(i => (i, s"a$i")).toDF("id", "v"))
    val s1 = src.meta.currentSnapshotId.get
    src.append((10L until 25L).map(i => (i, s"b$i")).toDF("id", "v"))
    val s2 = src.meta.currentSnapshotId.get
    src.append((25L until 30L).map(i => (i, s"c$i")).toDF("id", "v"))
    val s3 = src.meta.currentSnapshotId.get
    src.createTag("rel-1.0", s1)
    src.createBranch("audit", Some(s2))
    val mj = IcebergExport.export(src, s"$loc/foreign", Seq(s1, s2, s3))
    assert(txt(mj).contains("\"refs\"") && txt(mj).contains("\"rel-1.0\"") &&
      txt(mj).contains("\"audit\""),
      s"the export must declare the table's refs, got: ${txt(mj)}")
    // randomize the snapshot ids (non-monotone): the refs' snapshot-ids
    // remap consistently with the snapshots they pin
    val remap = Map(s1 -> 98877665544332L, s2 -> 11223344556677L,
      s3 -> 55667788990011L)
    val mp = java.nio.file.Paths.get(mj)
    val edited = remap.foldLeft(txt(mj)) { case (acc, (o, n)) =>
      acc.replace(s""""snapshot-id": $o,""", s""""snapshot-id": $n,""")
        .replace(s""""current-snapshot-id": $o""", s""""current-snapshot-id": $n""")
    }
    java.nio.file.Files.write(mp, edited.getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      mp.resolveSibling("." + mp.getFileName + ".crc"))

    val t = IceLite.adopt(spark, mj, s"$loc/adopted")
    assert(t.meta.snapshots.map(_.id) == Seq(1L, 2L, 3L))
    assert(t.meta.refs == Map(
      "rel-1.0" -> Ref(1L, "tag"), "audit" -> Ref(2L, "branch")),
      s"refs must map through the id remap, got ${t.meta.refs}")
    assert(rows(t.readRef("rel-1.0")) == rows(src.readAsOf(s1)),
      "the adopted tag reads its pinned point exactly")
    assert(t.readRef("audit").count() == 25L)
    // re-export emits the refs back over the full lineage
    val m2 = txt(IcebergExport.export(t, s"$loc/re", Seq(1L, 2L, 3L)))
    assert(m2.contains(""""rel-1.0": {"snapshot-id": 1, "type": "tag"}""") &&
      m2.contains(""""audit": {"snapshot-id": 2, "type": "branch"}"""),
      s"re-export must emit the adopted refs, got: $m2")
    // a head-only export honestly drops refs at unexported snapshots
    assert(!txt(IcebergExport.export(t, s"$loc/re_head")).contains("\"refs\""))
    // the adopted branch is LIVE: it takes native staged commits and
    // publishes via fast-forward only when main is an ancestor
    val e = intercept[Exception](t.fastForward("audit"))
    assert(e.getMessage.contains("not an ancestor"))
    assert(intercept[Exception](t.appendToBranch("rel-1.0",
      Seq((99L, "z")).toDF("id", "v"))).getMessage.contains("tag"))
    t.expireSnapshots(System.currentTimeMillis() + 1000)
    assert(t.meta.snapshots.map(_.id).toSet.intersect(Set(1L, 2L)) == Set(1L, 2L),
      "ref heads stay pinned through expire, exactly like native refs")
  }

  test("native commits skip recorded foreign ids; expire prunes stale foreign mappings") {
    // foreign ids (20, 6, 30) in commit order: non-monotone, all above
    // N=3 → dense remap to natives 1..3 with foreign-id properties. A
    // post-adoption native lineage then grows 4, 5, … and must NEVER
    // mint 6 — that id is `VERSION AS OF`-reachable as the foreign
    // mid-point, and a native snapshot under it would be ambiguous.
    val loc = Files.createTempDirectory("ice_adopt_fid").toString
    val src = IceLite.createFrom(spark, s"$loc/src", Seq((0L, "x")).toDF("id", "tag"))
    src.append((0L until 10L).map(i => (i, s"a$i")).toDF("id", "tag"))
    src.append((10L until 25L).map(i => (i, s"b$i")).toDF("id", "tag"))
    src.append((25L until 30L).map(i => (i, s"c$i")).toDF("id", "tag"))
    val mj = IcebergExport.export(src, s"$loc/foreign", Seq(1L, 2L, 3L))
    val mp = java.nio.file.Paths.get(mj)
    val edited = new String(java.nio.file.Files.readAllBytes(mp), "UTF-8")
      .replace("\"snapshot-id\": 1,", "\"snapshot-id\": 20,")
      .replace("\"snapshot-id\": 2,", "\"snapshot-id\": 6,")
      .replace("\"snapshot-id\": 3,", "\"snapshot-id\": 30,")
      .replace("\"current-snapshot-id\": 3", "\"current-snapshot-id\": 30")
    java.nio.file.Files.write(mp, edited.getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      mp.resolveSibling("." + mp.getFileName + ".crc"))
    val t = IceLite.adopt(spark, mj, s"$loc/adopted")
    assert(t.meta.snapshots.map(_.id) == Seq(1L, 2L, 3L))
    assert(Seq(6L, 20L, 30L).forall(f =>
      t.meta.properties.contains(s"adopted.foreign-snapshot.$f")))
    assert(t.readAsOf(6L).count() == 25L)
    // three native appends: ids 4, 5, then SKIP 6 (a recorded foreign id)
    for (i <- 0 until 3) t.append(Seq((100L + i, "n")).toDF("id", "tag"))
    assert(t.meta.snapshots.map(_.id) == Seq(1L, 2L, 3L, 4L, 5L, 7L),
      "native minting must skip the recorded foreign id 6")
    assert(t.readAsOf(6L).count() == 25L,
      "the foreign mid-point keeps serving unambiguously after native growth")
    // expire native 1 only (cutoff = native 2's commit time): its foreign
    // mapping (20) is pruned; the survivors' mappings stay
    val ts2 = t.meta.snapshots.find(_.id == 2L).get.timestampMs
    t.expireSnapshots(ts2)
    assert(t.meta.snapshots.map(_.id) == Seq(2L, 3L, 4L, 5L, 7L))
    assert(!t.meta.properties.contains("adopted.foreign-snapshot.20"),
      "an expired point's foreign mapping must be pruned with it")
    assert(Seq(6L, 30L).forall(f =>
      t.meta.properties.contains(s"adopted.foreign-snapshot.$f")))
    val e1 = intercept[RuntimeException](t.readAsOf(20L))
    assert(e1.getMessage.contains("no snapshot 20"),
      s"an expired foreign id fails like an expired native id, got: ${e1.getMessage}")
    assert(t.readAsOf(6L).count() == 25L)
    // expire the remaining adopted points: all foreign mappings go
    val ts4 = t.meta.snapshots.find(_.id == 4L).get.timestampMs
    t.expireSnapshots(ts4)
    assert(!t.meta.properties.keys.exists(_.startsWith("adopted.foreign-snapshot.")),
      "no stale foreign mappings survive their snapshots")
    val e2 = intercept[RuntimeException](t.readAsOf(6L))
    assert(e2.getMessage.contains("no snapshot 6"))
  }

  test("an id naming both a native snapshot and a foreign mapping fails loudly") {
    // pre-fix metadata shape (an older engine minted native ids into the
    // foreign-id range): serving either interpretation silently would be
    // a coin flip over which snapshot the caller meant
    val m = TableMetadata(
      location = "/x", lastFieldId = 1, currentSchemaId = 0,
      schemas = Seq(TableSchema(0, Seq(Field(1, "id", "BIGINT", None)))),
      defaultSpecId = 0, specs = Seq(PartitionSpec(0, Seq())),
      properties = Map("adopted.foreign-snapshot.10" -> "2"),
      currentSnapshotId = Some(10L),
      snapshots = Seq(
        Snapshot(2L, None, 1L, "append", Seq(), Seq()),
        Snapshot(10L, Some(2L), 2L, "append", Seq(), Seq())),
      metadataLog = Seq())
    val e = intercept[RuntimeException](m.snapshot(10L))
    assert(e.getMessage.contains("ambiguous"), e.getMessage)
    assert(m.snapshot(2L).id == 2L, "unambiguous native ids keep serving")
  }
}
