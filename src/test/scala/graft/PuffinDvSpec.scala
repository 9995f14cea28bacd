package graft.icelite

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[PuffinDv]] — the Iceberg-V3 wire-format deletion-vector carrier:
  * roaring-bitmap blobs in a Puffin container. Byte-level checks pin the
  * published formats (roaring portable cookies/containers, the
  * deletion-vector-v1 length/magic/CRC frame, the Puffin footer); the
  * writer emits RUN containers where they are smaller, byte-equal to the
  * RoaringBitmap library's own run-optimized form. Table-level: the
  * carrier is invisible to every query path (parquet-twin equality),
  * coexists with parquet position deletes in one snapshot, and the
  * delete-file rewrite honors it. */
class PuffinDvSpec extends SparkSpec {
  import spark.implicits._

  private val conf = new Configuration()

  test("roaring round-trips across container types and 32-bit buckets") {
    val dir = Files.createTempDirectory("puffin_roaring").toString
    // array container (sparse), bitmap container (>4096 in one 64k range),
    // and a value past 2^32 (second bucket)
    val sparse = Array(3L, 4L, 5L, 100L, 65536L + 7)
    val dense = (0L until 5000L).map(_ * 2).toArray // 5000 > 4096, one container
    val high = Array(1L, (1L << 33) + 7, (1L << 33) + 8)
    for (ps <- Seq(sparse, dense, high)) {
      val runs = PuffinDv.roaringToRuns(PuffinDv.roaringSerialize(ps))
      assert(DeleteIndex.expandRuns(runs).toSeq == ps.toSeq, s"round trip broke for ${ps.take(5).toSeq}…")
    }
    // container boundaries: a run crossing nothing special, value 65535/65536
    val edge = Array(65534L, 65535L, 65536L, 65537L)
    assert(DeleteIndex.expandRuns(PuffinDv.roaringToRuns(PuffinDv.roaringSerialize(edge))).toSeq
      == edge.toSeq)
    val p = new Path(s"$dir/c${PuffinDv.Ext}")
    val metas = PuffinDv.write(p, Seq("file:/fA" -> sparse, "file:/fB" -> dense, "file:/fC" -> high), conf)
    assert(metas.map(m => (m.refDataFile, m.cardinality)) ==
      Seq(("file:/fA", 5L), ("file:/fB", 5000L), ("file:/fC", 3L)))
    // footer answers without blob reads; per-file resolution seeks one blob
    assert(PuffinDv.blobs(p, conf).map(_.refDataFile) == Seq("file:/fA", "file:/fB", "file:/fC"))
    assert(DeleteIndex.expandRuns(PuffinDv.runsFor(p, conf, "file:/fB")).toSeq == dense.toSeq)
    assert(DeleteIndex.expandRuns(PuffinDv.runsFor(p, conf, "file:/fA")).toSeq == sparse.toSeq)
    assert(PuffinDv.runsFor(p, conf, "file:/missing").isEmpty)
    assert(PuffinDv.expand(p, conf).size == 5008)
  }

  test("RUN containers: the reader decodes them, the writer emits them where smaller") {
    // hand-built 64-bit portable roaring: 1 bucket, 1 run container with
    // runs [10,14] and [100,100] — cookie 12347, run-flag bitset, no
    // offsets header (run cookie below 4 containers)
    val bytes = Array[Int](
      0x01, 0, 0, 0, 0, 0, 0, 0, // u64 bucket count = 1
      0, 0, 0, 0,                // u32 bucket high = 0
      0x3B, 0x30, 0, 0,          // u32 cookie = 12347 | (count-1=0)<<16
      0x01,                      // run-flag bitset: container 0 is runs
      0, 0,                      // u16 key = 0
      0x05, 0,                   // u16 cardinality-1 = 5
      0x02, 0,                   // u16 nRuns = 2
      0x0A, 0, 0x04, 0,          // run (10, len-1=4)
      0x64, 0, 0x00, 0           // run (100, len-1=0)
    ).map(_.toByte)
    assert(PuffinDv.roaringToRuns(bytes).toSeq == Seq(10L, 5L, 100L, 1L))
    // two runs (10 bytes) undercut six array values (12): the writer emits
    // exactly the hand-built form
    assert(PuffinDv.roaringSerialize(Array(10L, 11L, 12L, 13L, 14L, 100L)).toSeq == bytes.toSeq)

    // a contiguous range serializes as ONE run container: cookie 12347,
    // run flag set, key 0, cardinality-1 599, one (start, length-1) pair
    val range = PuffinDv.roaringSerialize((200L until 800L).toArray)
    val bb = java.nio.ByteBuffer.wrap(range).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(bb.getLong() == 1L && bb.getInt() == 0 && bb.getInt() == 12347 && bb.get() == 1)
    assert(bb.getShort() == 0 && bb.getShort() == 599)
    assert(bb.getShort() == 1 && bb.getShort() == 200 && bb.getShort() == 599)
    assert(!bb.hasRemaining, s"${range.length} bytes for one run")

    // each 32-bit bucket is the RoaringBitmap library's own portable form
    // after runOptimize: run and non-run containers mixed, past 4
    // containers (offsets header present under the run cookie), and
    // bitmap containers that stay bitmaps
    val cases = Seq(
      (0L until 70000L).toArray,                                    // runs over 2 containers
      (0L until 5L).map(_ * 70000L).toArray ++ (400000L until 400100L), // 6 containers, one run
      (0L until 9000L).map(_ * 3).toArray,                          // bitmap, no runs
      (0L until 20L).flatMap(c => (c * 65536 until c * 65536 + 9)).toArray, // 20 run containers
      Array(1L, 3L, 5L, 7L, 9L) ++ (65536L until 65546L))           // array, then run
    cases.foreach { ps =>
      val ref = new org.roaringbitmap.RoaringBitmap()
      ps.foreach(p => ref.add(p.toInt))
      ref.runOptimize()
      val want = new Array[Byte](ref.serializedSizeInBytes())
      ref.serialize(java.nio.ByteBuffer.wrap(want))
      val ours = PuffinDv.roaringSerialize(ps)
      assert(ours.drop(12).toSeq == want.toSeq, s"differs from RoaringBitmap for ${ps.take(5).toSeq}…")
      assert(DeleteIndex.expandRuns(PuffinDv.roaringToRuns(ours)).toSeq == ps.toSeq)
    }
  }

  test("dense blobs decode to O(runs) packed form, streaming across container boundaries") {
    // one contiguous range spanning four 64k containers (bitmap form) —
    // the decoder must emit ONE [start,len] pair, merging runs across
    // container and bucket boundaries without materializing positions
    val dense = (0L until 200000L).toArray
    val runs = PuffinDv.roaringToRuns(PuffinDv.roaringSerialize(dense))
    assert(runs.toSeq == Seq(0L, 200000L), s"expected one merged run, got ${runs.length / 2}")
    // same across a 32-bit bucket boundary (array containers both sides)
    val edge = Array((1L << 32) - 2, (1L << 32) - 1, 1L << 32, (1L << 32) + 1)
    assert(PuffinDv.roaringToRuns(PuffinDv.roaringSerialize(edge)).toSeq ==
      Seq((1L << 32) - 2, 4L))
    // a corrupt bitmap with OUT-OF-ORDER runs refuses instead of mis-merging
    val bad = Array[Int](
      0x01, 0, 0, 0, 0, 0, 0, 0, // u64 bucket count = 1
      0, 0, 0, 0,                // bucket high = 0
      0x3B, 0x30, 0, 0,          // cookie 12347, 1 container
      0x01,                      // run flag
      0, 0, 0x05, 0,             // key 0, cardinality-1
      0x02, 0,                   // nRuns = 2
      0x64, 0, 0x00, 0,          // run (100, 1)
      0x0A, 0, 0x04, 0           // run (10, 5) — out of order
    ).map(_.toByte)
    val e = intercept[IllegalArgumentException](PuffinDv.roaringToRuns(bad))
    assert(e.getMessage.contains("out of order"))
  }

  test("a Puffin container carrying foreign blob types still serves its DV blobs") {
    // real engines put stats sketches (e.g. apache-datasketches-theta-v1)
    // in the same container as DVs — the reader must take the DV blobs
    // and pass over the rest, not reject the file
    val dir = Files.createTempDirectory("puffin_mixed").toString
    val src = new Path(s"$dir/src${PuffinDv.Ext}")
    val positions = Array(5L, 6L, 7L, 42L)
    val metas = PuffinDv.write(src, Seq("file:/fX" -> positions), conf)
    val fs = org.apache.hadoop.fs.FileSystem.get(src.toUri, conf)
    val dvBytes = {
      val in = fs.open(src)
      val b = new Array[Byte](metas.head.length.toInt)
      try in.readFully(metas.head.offset, b) finally in.close()
      b
    }
    // hand-assemble: magic, a foreign blob, the DV blob, footer with both
    val mixed = new Path(s"$dir/mixed${PuffinDv.Ext}")
    val foreign = "not-a-deletion-vector".getBytes("UTF-8")
    val out = fs.create(mixed, false)
    val footerJson = (s"""{"blobs":[""" +
      s"""{"type":"apache-datasketches-theta-v1","fields":[1],"snapshot-id":0,""" +
      s""""sequence-number":0,"offset":4,"length":${foreign.length},"properties":{}},""" +
      s"""{"type":"deletion-vector-v1","fields":[],"snapshot-id":0,"sequence-number":0,""" +
      s""""offset":${4 + foreign.length},"length":${dvBytes.length},""" +
      s""""properties":{"referenced-data-file":"file:/fX","cardinality":"4"}}]}""").getBytes("UTF-8")
    try {
      out.write(Array[Byte](0x50, 0x46, 0x41, 0x31)) // PFA1
      out.write(foreign)
      out.write(dvBytes)
      out.write(Array[Byte](0x50, 0x46, 0x41, 0x31))
      out.write(footerJson)
      val tail = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      tail.putInt(footerJson.length); tail.putInt(0)
      out.write(tail.array())
      out.write(Array[Byte](0x50, 0x46, 0x41, 0x31))
    } finally out.close()
    val blobs = PuffinDv.blobs(mixed, conf)
    assert(blobs.size == 1 && blobs.head.refDataFile == "file:/fX",
      s"only the DV blob should surface, got $blobs")
    assert(DeleteIndex.expandRuns(PuffinDv.runsFor(mixed, conf, "file:/fX")).toSeq == positions.toSeq)
  }

  test("deletion-vector-v1 frame: corrupted payload refuses on CRC") {
    val dir = Files.createTempDirectory("puffin_crc").toString
    val p = new Path(s"$dir/c${PuffinDv.Ext}")
    val metas = PuffinDv.write(p, Seq("file:/f" -> Array(1L, 2L, 3L)), conf)
    val fs = org.apache.hadoop.fs.FileSystem.get(p.toUri, conf)
    val len = fs.getFileStatus(p).getLen
    val all = new Array[Byte](len.toInt)
    val in = fs.open(p); try in.readFully(0, all) finally in.close()
    // flip one bit inside the blob's vector bytes
    all(metas.head.offset.toInt + 9) = (all(metas.head.offset.toInt + 9) ^ 1).toByte
    fs.delete(p, false)
    val out = fs.create(p, false); try out.write(all) finally out.close()
    val e = intercept[IllegalArgumentException](PuffinDv.runsFor(p, conf, "file:/f"))
    assert(e.getMessage.contains("CRC"))
  }

  test("puffin-carrier table equals its parquet twin; rewrite honors the carrier; parquet and puffin coexist") {
    def mk(tag: String, props: Map[String, String]): IceLiteTable = {
      val loc = Files.createTempDirectory(s"pfdv_$tag").toString + "/t"
      val t = IceLite.createFrom(spark, loc, Seq((0L, 0L)).toDF("id", "v"),
        properties = Map("write.delete.mode" -> "merge-on-read") ++ props)
      t.append(spark.range(0, 1000).select(col("id"), (col("id") * 3).as("v"))
        .repartition(4))
      t
    }
    val tp = mk("pq", Map())
    val tf = mk("pf", Map("write.delete.vector.enabled" -> "true"))
    for (t <- Seq(tp, tf)) {
      t.delete(col("id") >= 300 && col("id") < 500)
      t.delete(col("id") % 97 === 0)
      t.update(col("id") === 777L, Map("v" -> lit(-1L)))
    }
    val want = tp.read().select("id", "v").as[(Long, Long)].collect().toSet
    assert(tf.read().select("id", "v").as[(Long, Long)].collect().toSet == want)
    val dels = tf.meta.currentSnapshot.get.deleteFiles.filter(_.kind == "pos")
    assert(dels.nonEmpty && dels.forall(_.path.endsWith(PuffinDv.Ext)),
      s"DV mode must write .puffin carriers, got ${dels.map(_.path)}")
    // fresh load exercises the executor-side roaring resolution end-to-end
    assert(IceLite.load(spark, tf.location).read().count() == want.size.toLong)

    // rewrite merges INTO puffin containers while DVs are enabled
    assert(tf.rewritePositionDeletes())
    val after = tf.meta.currentSnapshot.get.deleteFiles.filter(_.kind == "pos")
    assert(after.size == 1 && after.head.path.endsWith(PuffinDv.Ext),
      s"rewrite must merge into ONE puffin container, got ${after.map(_.path)}")
    assert(tf.read().select("id", "v").as[(Long, Long)].collect().toSet == want)

    // live migration: turn DVs off — old .puffin deletes keep applying
    // while NEW deletes land as parquet; then back on, and both apply
    tf.setProperties(Map("write.delete.vector.enabled" -> "false"))
    tf.delete(col("id") === 999L)
    val mixed = tf.meta.currentSnapshot.get.deleteFiles.filter(_.kind == "pos")
    assert(mixed.exists(_.path.endsWith(PuffinDv.Ext)) &&
      mixed.exists(_.path.endsWith(".parquet")), mixed.map(_.path).toString)
    assert(tf.read().count() == want.size.toLong - 1)
    tf.setProperties(Map("write.delete.vector.enabled" -> "true"))
    tf.delete(col("id") === 998L)
    val back = tf.meta.currentSnapshot.get.deleteFiles.filter(_.kind == "pos")
    assert(back.count(_.path.endsWith(PuffinDv.Ext)) == 2 &&
      back.exists(_.path.endsWith(".parquet")), back.map(_.path).toString)
    assert(IceLite.load(spark, tf.location).read().select("id", "v").as[(Long, Long)]
      .collect().toSet == want.filterNot(r => r._1 == 999L || r._1 == 998L))
  }

  test("changelog over puffin DVs reports the same rows as the parquet twin") {
    def mk(tag: String, props: Map[String, String]): IceLiteTable = {
      val loc = Files.createTempDirectory(s"pfcl_$tag").toString + "/t"
      val t = IceLite.createFrom(spark, loc, Seq((0L, 0L)).toDF("id", "v"),
        properties = Map("write.delete.mode" -> "merge-on-read") ++ props)
      t.append(spark.range(0, 1000).select(col("id"), (col("id") * 3).as("v"))
        .repartition(4))
      t
    }
    val tp = mk("pq", Map())
    val tf = mk("pf", Map("write.delete.vector.enabled" -> "true"))
    for (t <- Seq(tp, tf)) t.delete(col("id") >= 100 && col("id") < 120)
    def changes(t: IceLiteTable): Set[(String, Long)] = {
      val snaps = t.meta.snapshots.map(_.id)
      t.readChangesBetween(snaps(snaps.size - 2), snaps.last)
        .select(col("_change_type"), col("id")).as[(String, Long)].collect().toSet
    }
    assert(changes(tf) == changes(tp))
    assert(changes(tf).count(_._1 == "delete") == 20)
  }

  test("interop reads a V3 deletion-vector delete manifest (blob range honored)") {
    import java.nio.file.Paths
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val loc = Files.createTempDirectory("iceberg_dv").toString
    Files.createDirectories(Paths.get(s"$loc/metadata"))
    def dataFile(name: String, ids: Range): String = {
      val out = s"$loc/$name"
      ids.map(i => (i.toLong, s"row-$i")).toDF("id", "data").coalesce(1).write.parquet(out)
      Files.list(Paths.get(out)).toArray.map(_.toString).find(_.endsWith(".parquet")).get
    }
    val f1 = dataFile("data/b1", 0 until 50)
    val f2 = dataFile("data/b2", 50 until 100)
    // one Puffin container, one DV blob per data file; the delete manifest
    // references each blob by (offset, length) the way V3 manifests do
    val pf = s"$loc/deletes/dv${PuffinDv.Ext}"
    val metas = PuffinDv.write(new Path(pf),
      Seq(s"file:$f1" -> Array(0L, 1L, 2L), s"file:$f2" -> Array(0L)),
      new Configuration())

    val entrySchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        | {"name":"status","type":"int"},
        | {"name":"snapshot_id","type":"long"},
        | {"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |   {"name":"content","type":"int"},
        |   {"name":"file_path","type":"string"},
        |   {"name":"file_format","type":"string"},
        |   {"name":"referenced_data_file","type":["null","string"],"default":null},
        |   {"name":"content_offset","type":["null","long"],"default":null},
        |   {"name":"content_size_in_bytes","type":["null","long"],"default":null},
        |   {"name":"record_count","type":"long"},
        |   {"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin)
    val manifestFileSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        | {"name":"manifest_path","type":"string"},
        | {"name":"manifest_length","type":"long"},
        | {"name":"partition_spec_id","type":"int"},
        | {"name":"content","type":"int"},
        | {"name":"added_snapshot_id","type":"long"}]}""".stripMargin)
    def writeAvro(path: String, schema: Schema, rows: Seq[GenericRecord]): Unit = {
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, new java.io.File(path))
      try rows.foreach(w.append) finally w.close()
    }
    def entry(content: Int, filePath: String, rows: Long,
        dv: Option[PuffinDv.BlobMeta]): GenericRecord = {
      val df = new GenericData.Record(entrySchema.getField("data_file").schema())
      df.put("content", content); df.put("file_path", filePath)
      df.put("file_format", if (content == 1) "PUFFIN" else "PARQUET")
      dv.foreach { bm =>
        df.put("referenced_data_file", bm.refDataFile)
        df.put("content_offset", bm.offset)
        df.put("content_size_in_bytes", bm.length)
      }
      df.put("record_count", rows); df.put("file_size_in_bytes", 1024L)
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1); e.put("snapshot_id", 1L); e.put("data_file", df)
      e
    }
    val m1 = s"$loc/metadata/m1.avro"
    writeAvro(m1, entrySchema,
      Seq(entry(0, f1, 50, None), entry(0, f2, 50, None)))
    val dm = s"$loc/metadata/dm1.avro"
    writeAvro(dm, entrySchema, metas.map(bm => entry(1, pf, bm.cardinality, Some(bm))))
    val ml = s"$loc/metadata/snap-1.avro"
    def mlRow(path: String, content: Int): GenericRecord = {
      val r = new GenericData.Record(manifestFileSchema)
      r.put("manifest_path", path); r.put("manifest_length", 512L)
      r.put("partition_spec_id", 0); r.put("content", content)
      r.put("added_snapshot_id", 1L)
      r
    }
    writeAvro(ml, manifestFileSchema, Seq(mlRow(m1, 0), mlRow(dm, 1)))
    val mj = s"$loc/metadata/v3.metadata.json"
    Files.write(Paths.get(mj),
      s"""{
         |  "format-version": 3,
         |  "location": "$loc",
         |  "last-updated-ms": 1700000000000,
         |  "last-column-id": 2,
         |  "current-schema-id": 0,
         |  "schemas": [{"type": "struct", "schema-id": 0, "fields": [
         |    {"id": 1, "name": "id", "required": false, "type": "long"},
         |    {"id": 2, "name": "data", "required": false, "type": "string"}]}],
         |  "partition-specs": [{"spec-id": 0, "fields": []}],
         |  "current-snapshot-id": 1,
         |  "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1700000000001,
         |    "schema-id": 0, "summary": {"operation": "append"},
         |    "manifest-list": "$ml"}]
         |}""".stripMargin.getBytes("UTF-8"))

    val got = IcebergInterop.read(spark, mj)
    assert(got.count() == 96L, "4 DV-deleted rows must not surface")
    val ids = got.select("id").as[Long].collect().toSet
    assert(Set(0L, 1L, 2L, 50L).forall(!ids.contains(_)))
    assert(ids.contains(3L) && ids.contains(51L))
  }
}
