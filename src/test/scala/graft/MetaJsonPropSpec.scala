package graft

import graft.icelite._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property: the metadata JSON serde is a total roundtrip — any table state
  * the engine can construct survives toJson∘fromJson unchanged. This is
  * the durability contract: a metadata file written today must parse
  * identically forever.
  */
class MetaJsonPropSpec extends AnyFunSuite {

  private val genField = for {
    id <- Gen.choose(1, 500)
    name <- Gen.identifier.suchThat(_.nonEmpty).map(_.take(20))
    dtype <- Gen.oneOf("BIGINT", "DOUBLE", "STRING", "DATE", "TIMESTAMP", "DECIMAL(10,2)")
    default <- Gen.option(Gen.oneOf("0.05", "'x'", "NULL"))
  } yield Field(id, name, dtype, default)

  private val genSchema = for {
    sid <- Gen.choose(0, 10)
    fields <- Gen.nonEmptyListOf(genField).map(_.take(8))
  } yield TableSchema(sid, fields)

  private val genSpec = for {
    sid <- Gen.choose(0, 5)
    fields <- Gen.listOf(for {
      src <- Gen.choose(1, 500)
      tr <- Gen.oneOf("identity", "year", "month", "day", "bucket[16]")
      n <- Gen.identifier.map(_.take(12))
    } yield SpecField(src, tr, n)).map(_.take(3))
  } yield PartitionSpec(sid, fields)

  private val genDataFile = for {
    path <- Gen.identifier.map(p => s"file:/data/$p.parquet")
    rows <- Gen.choose(0L, 1000000L)
    sid <- Gen.choose(0, 10)
    spec <- Gen.choose(0, 5)
    part <- Gen.mapOf(Gen.zip(Gen.identifier.map(_.take(8)), Gen.alphaNumStr.map(_.take(8))))
      .map(_.take(3))
    stats <- Gen.mapOf(Gen.zip(Gen.choose(1, 500),
      Gen.zip(Gen.alphaNumStr.map(_.take(10)), Gen.alphaNumStr.map(_.take(10)))
        .map { case (a, b) => ColumnStats(a, b) })).map(_.take(3))
    seq <- Gen.choose(0L, 50L)
  } yield DataFile(path, rows, sid, spec, part, stats, seq = seq)

  private val genDeleteFile = for {
    p <- Gen.identifier
    r <- Gen.choose(0L, 9999L)
    kind <- Gen.oneOf("pos", "eq")
    fids <- if (kind == "eq") Gen.nonEmptyListOf(Gen.choose(1, 500)).map(_.take(3))
            else Gen.const(List[Int]())
    seq <- Gen.choose(0L, 50L)
    lo <- if (kind == "pos") Gen.option(Gen.identifier.map(s => s"/data/$s"))
          else Gen.const(None)
    hi <- if (kind == "pos") Gen.option(Gen.identifier.map(s => s"/data/$s"))
          else Gen.const(None)
  } yield DeleteFile(s"/del/$p.parquet", r, kind, fids, seq, lo, hi)

  private val genSnapshot = for {
    id <- Gen.choose(1L, 1000L)
    parent <- Gen.option(Gen.choose(1L, 1000L))
    ts <- Gen.choose(0L, 2000000000000L)
    op <- Gen.oneOf("append", "delete", "update", "merge", "replace", "rollback", "overwrite")
    dfs <- Gen.listOf(genDataFile).map(_.take(5))
    dels <- Gen.listOf(genDeleteFile).map(_.take(3))
    schemaId <- Gen.choose(-1, 10)
  } yield Snapshot(id, parent, ts, op, dfs, dels, schemaId)

  private val genMeta: Gen[TableMetadata] = for {
    schemas <- Gen.nonEmptyListOf(genSchema).map(_.take(4))
    specs <- Gen.nonEmptyListOf(genSpec).map(_.take(3))
    props <- Gen.mapOf(Gen.zip(Gen.identifier.map(_.take(12)), Gen.alphaNumStr.map(_.take(12))))
      .map(_.take(4))
    curSnap <- Gen.option(Gen.choose(1L, 1000L))
    snaps <- Gen.listOf(genSnapshot).map(_.take(5))
    log <- Gen.listOf(Gen.zip(Gen.choose(1, 99), Gen.choose(0L, 2000000000000L), Gen.alphaNumStr.map(_.take(20)))
      .map { case (v, t, n) => MetadataLogEntry(v, t, n) }).map(_.take(5))
  } yield TableMetadata(
    "/wh/t", 500, schemas.head.schemaId, schemas, specs.head.specId, specs,
    props, curSnap, snaps, log)

  test("toJson/fromJson roundtrip is identity for arbitrary metadata") {
    // no scalatest-scalacheck bridge in the offline deps → drive the
    // generator directly over deterministic seeds (full 300-seed soak
    // under SPARK_GRAFT_LOAD_TESTS=1)
    val params = Gen.Parameters.default
    (1 to LoadTests.n(300, 40)).foreach { i =>
      val m = genMeta(params, Seed(i.toLong))
        .getOrElse(sys.error(s"gen failed at seed $i"))
      val back = MetaJson.fromJson(MetaJson.toJson(m))
      assert(back == m, s"roundtrip mismatch at seed $i:\n$m\nvs\n$back")
      // a data file stored scheme-less (tables written before paths were
      // canonical) decodes to its canonical path
      val old = m.copy(snapshots = m.snapshots.map(s =>
        s.copy(dataFiles = s.dataFiles.map(f => f.copy(path = f.path.stripPrefix("file:"))))))
      assert(MetaJson.toJson(old) != MetaJson.toJson(m) || m.snapshots.forall(_.dataFiles.isEmpty))
      assert(MetaJson.fromJson(MetaJson.toJson(old)) == m, s"scheme-less paths at seed $i")
    }
  }

  test("avro manifest codec round-trips arbitrary data and delete entries") {
    val conf = new org.apache.hadoop.conf.Configuration()
    val dir = java.nio.file.Files.createTempDirectory("codec_rt").toString
    val params = Gen.Parameters.default
    (1 to LoadTests.n(60, 10)).foreach { i =>
      val dfs = Gen.listOf(genDataFile).map(_.take(6))(params, Seed(i.toLong))
        .getOrElse(sys.error(s"gen failed at seed $i"))
      val dels = Gen.listOf(genDeleteFile).map(_.take(6))(params, Seed(1000L + i))
        .getOrElse(sys.error(s"gen failed at seed $i"))
      val dp = new org.apache.hadoop.fs.Path(s"$dir/mf-$i.avro")
      ManifestCodec.writeData(dp, dfs, conf)
      assert(ManifestCodec.readData(dp, conf) == dfs, s"data codec mismatch at seed $i")
      val op = new org.apache.hadoop.fs.Path(s"$dir/mf-old-$i.avro")
      ManifestCodec.writeData(op, dfs.map(f => f.copy(path = f.path.stripPrefix("file:"))), conf)
      assert(ManifestCodec.readData(op, conf) == dfs, s"scheme-less data paths at seed $i")
      val ep = new org.apache.hadoop.fs.Path(s"$dir/dmf-$i.avro")
      ManifestCodec.writeDeletes(ep, dels, conf)
      assert(ManifestCodec.readDeletes(ep, conf) == dels, s"delete codec mismatch at seed $i")
    }
  }

  test("v2 file table: a file carried across N snapshots is serialized once") {
    val f = DataFile("file:/data/shared.parquet", 100, 0, 0, Map(), Map(), seq = 1)
    val snaps = (1 to 20).map(i =>
      Snapshot(i.toLong, if (i > 1) Some(i - 1L) else None, i * 1000L, "append",
        Seq(f), Seq()))
    val m = TableMetadata("/wh/t", 1, 0, Seq(TableSchema(0, Seq(Field(1, "id", "BIGINT", None)))),
      0, Seq(PartitionSpec(0, Seq())), Map(), Some(20L), snaps, Seq())
    val js = MetaJson.toJson(m)
    // the path appears exactly once (file table), not once per snapshot —
    // this is what keeps metadata O(unique files), not O(snapshots × files)
    assert("shared\\.parquet".r.findAllIn(js).size == 1, js)
    assert(MetaJson.fromJson(js) == m)
  }

  test("v1 (inline-files) metadata is refused, not loaded as a table of empty snapshots") {
    val v1 = """{
      "formatVersion": 1, "location": "/wh/t", "lastFieldId": 2,
      "currentSchemaId": 0,
      "schemas": [{"schemaId": 0, "fields": [
        {"id": 1, "name": "id", "type": "BIGINT"},
        {"id": 2, "name": "v", "type": "DOUBLE", "default": "0.05"}]}],
      "defaultSpecId": 0, "specs": [{"specId": 0, "fields": []}],
      "properties": {"k": "v"}, "currentSnapshotId": 2,
      "snapshots": [
        {"id": 1, "timestampMs": 1000, "operation": "append",
         "dataFiles": [{"path": "/data/a.parquet", "rows": 10, "schemaId": 0,
           "specId": 0, "partition": {}, "stats": {"1": {"min": "0", "max": "9"}}}],
         "deleteFiles": []},
        {"id": 2, "parentId": 1, "timestampMs": 2000, "operation": "delete",
         "dataFiles": [{"path": "/data/a.parquet", "rows": 10, "schemaId": 0,
           "specId": 0, "partition": {}}],
         "deleteFiles": [{"path": "/del/d.parquet", "rows": 2}]}],
      "metadataLog": [{"version": 1, "timestampMs": 1000, "note": "create"}]
    }"""
    // the v2+ reader reads snapshot files only through the shared file
    // tables and manifest refs; loading this would give snapshots with no
    // files, so it refuses, naming the file
    val e = intercept[IllegalArgumentException](
      MetaJson.fromJson(v1, ManifestIO.detached, "/wh/t/metadata/v7.json"))
    assert(e.getMessage.contains("/wh/t/metadata/v7.json") && e.getMessage.contains("format 1"),
      e.getMessage)
    // a newer format number does not make inline snapshot files readable
    val inline3 = v1.replace("\"formatVersion\": 1", "\"formatVersion\": 3")
    assert(intercept[IllegalArgumentException](MetaJson.fromJson(inline3))
      .getMessage.contains("inline snapshot files"))
    // nor is a document with no format number at all
    assert(intercept[IllegalArgumentException](
      MetaJson.fromJson(v1.replace("\"formatVersion\": 1,", ""))).getMessage.contains("format 1"))
  }
}
