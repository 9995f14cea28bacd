package graft.icelite

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** IceLite metadata operations: TIMESTAMP_NS conversion unified across
  * every DML alignment surface, nanos-aware stat-filter normalization,
  * Iceberg-style 16-unit string bound truncation, undersized-manifest
  * consolidation, the auto-maintenance threshold clamp, and the loud
  * refusal of on-disk shapes IceLite no longer reads (format-1 metadata,
  * JSON manifest chunks, `.ildv` deletion vectors).
  */
class IceLiteMetadataOpsSpec extends graft.SparkSpec {
  import spark.implicits._

  private def freshLoc(tag: String) =
    Files.createTempDirectory(s"meta_$tag").toString + "/t"

  // base fixture: nanos NOT divisible by 1000 — bits a µs path destroys
  private val baseNs = 1700000000_000000000L
  private def nsRows = (0L until 10L).map(i => (i, baseNs + i * 1000003L))

  test("TIMESTAMP_NS: a Spark TIMESTAMP reaches nanos through MERGE, UPDATE (cow+mor) and eq-delete keys") {
    val ts = java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456")
    val wantNs = java.time.LocalDateTime.parse("2024-01-02T03:04:05.123456")
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L + 123456000L

    // UPDATE copy-on-write with a Timestamp-typed assignment value
    val t1 = IceLite.create(spark, freshLoc("up_cow"),
      Seq("id" -> "BIGINT", "ts_ns" -> "TIMESTAMP_NS"))
    t1.append(nsRows.toDF("id", "ts_ns"))
    t1.update(col("id") === 3L, Map("ts_ns" -> lit(ts)))
    assert(t1.read().filter(col("id") === 3L).head.getLong(1) == wantNs,
      "CoW UPDATE must convert TIMESTAMP via unix_micros*1000, not a seconds cast")
    // untouched rows keep exact nanos
    assert(t1.read().filter(col("id") === 4L).head.getLong(1) == nsRows(4)._2)

    // UPDATE merge-on-read
    val t2 = IceLite.create(spark, freshLoc("up_mor"),
      Seq("id" -> "BIGINT", "ts_ns" -> "TIMESTAMP_NS"),
      properties = Map("write.update.mode" -> "merge-on-read"))
    t2.append(nsRows.toDF("id", "ts_ns"))
    t2.update(col("id") === 5L, Map("ts_ns" -> lit(ts)))
    assert(t2.read().filter(col("id") === 5L).head.getLong(1) == wantNs,
      "MoR UPDATE must route through the same conversion")

    // MERGE with a TimestampType source column (matched update + insert)
    val t3 = IceLite.create(spark, freshLoc("merge"),
      Seq("id" -> "BIGINT", "ts_ns" -> "TIMESTAMP_NS"))
    t3.append(nsRows.toDF("id", "ts_ns"))
    val src = Seq((7L, ts), (100L, ts)).toDF("id", "ts_ns") // ts is TimestampType
    t3.merge(src, "id")
    val after = t3.read().filter(col("id").isin(7L, 100L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after(7L) == wantNs, "MERGE matched update must land nanos")
    assert(after(100L) == wantNs, "MERGE insert must land nanos")
    assert(t3.read().filter(col("id") === 8L).head.getLong(1) == nsRows(8)._2,
      "non-matched rows in rewritten files keep exact nanos")

    // equality delete keyed by a TimestampType column: the stored key must
    // be nanos, so it matches rows written from the same wall-clock value
    val t4 = IceLite.create(spark, freshLoc("eqdel"),
      Seq("id" -> "BIGINT", "ts_ns" -> "TIMESTAMP_NS"))
    t4.append((Seq((1L, ts), (2L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00")))
      .toDF("id", "ts_ns")))
    t4.deleteEq(Seq(ts).toDF("ts_ns"))
    val left = t4.read().collect()
    assert(left.length == 1 && left.head.getLong(0) == 2L,
      "eq-delete key written as seconds would silently match nothing")
  }

  test("TIMESTAMP_NS: datetime stat-filter constants normalize to NANOS (no false file skips)") {
    val t = IceLite.create(spark, freshLoc("stats"),
      Seq("id" -> "BIGINT", "ts_ns" -> "TIMESTAMP_NS"))
    // two files with disjoint ns ranges
    t.append(nsRows.toDF("id", "ts_ns").coalesce(1))
    t.append(nsRows.map { case (i, n) => (i + 100L, n + 3600L * 1000000000L) }
      .toDF("id", "ts_ns").coalesce(1))
    val probe = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(baseNs / 1000000000L + 3600L))
    // all 10 rows of file 2 are >= probe; a micros-normalized constant
    // (1000x too small vs nano stats) would keep both files — still
    // correct-but-unpruned — while a SECONDS-normalized one could
    // wrongly prune everything. Assert exact results AND pruning.
    val got = t.read(statFilters = Seq(Stats.Ge("ts_ns", probe)))
    assert(got.count() == 10L, "stat filter must not drop matching files")
    t.maxPlannedFiles.set(0)
    val got2 = t.read(statFilters = Seq(Stats.Ge("ts_ns", probe)))
    got2.count()
    assert(t.maxPlannedFiles.get == 1,
      s"nanos-normalized probe must prune file 1; planned ${t.maxPlannedFiles.get}")
    // Instant + LocalDateTime constants normalize identically
    val inst = java.time.Instant.ofEpochSecond(baseNs / 1000000000L + 3600L)
    assert(t.read(statFilters = Seq(Stats.Ge("ts_ns", inst))).count() == 10L)
    val ldt = java.time.LocalDateTime.ofEpochSecond(
      baseNs / 1000000000L + 3600L, 0, java.time.ZoneOffset.UTC)
    assert(t.read(statFilters = Seq(Stats.Ge("ts_ns", ldt))).count() == 10L)
  }

  test("string stat bounds truncate to 16 units, stay conservative, and bound the version file") {
    // unit properties of the truncation itself
    assert(Stats.truncLower("a" * 40) == "a" * 16)
    assert(Stats.truncUpper("a" * 40) == "a" * 15 + "b")
    assert(Stats.truncUpper("short") == "short")
    assert(Stats.truncUpper("￿" * 20) == "￿" * 20,
      "an un-incrementable upper bound must stay full, never a wrong bound")
    // conservativeness in code-unit order
    val s = "prefixprefixprefix-SUFFIX"
    assert(Stats.truncLower(s) <= s && Stats.truncUpper(s) > s)

    val t = IceLite.create(spark, freshLoc("trunc"),
      Seq("id" -> "BIGINT", "doc" -> "STRING"))
    val docs = (0 until 50).map(i => (i.toLong, f"doc-$i%03d-" + ("x" * 2000)))
    t.append(docs.toDF("id", "doc").repartition(4))
    val m = t.meta
    val fld = m.currentSchema.fieldByName("doc")
    val allStats = m.currentSnapshot.get.dataFiles.flatMap(_.stats.get(fld.id))
    assert(allStats.nonEmpty)
    assert(allStats.forall(cs => cs.min.length <= 16 && cs.max.length <= 16),
      "document-length bounds must never inline into metadata")
    val vjson = t.store.readString(
      new Path(t.location, s"metadata/v${t.currentVersion}.json"))
    assert(vjson.length < 64 * 1024,
      s"long-text stats must not inflate the version file; got ${vjson.length}")
    // pruning through truncated bounds is conservative: every full-string
    // equality probe still finds its row
    val probe = docs(17)._2
    assert(t.read(statFilters = Seq(Stats.Eq("doc", probe)))
      .filter(col("doc") === probe).count() == 1L)
    // and still PRUNES: a probe below every bound plans zero files
    t.maxPlannedFiles.set(0)
    t.read(statFilters = Seq(Stats.Lt("doc", "doc-000"))).count()
    assert(t.maxPlannedFiles.get == 0,
      "truncated bounds must still refute an out-of-range probe")
  }

  test("append-heavy table consolidates undersized manifest chunks (bounded manifest count)") {
    val t = IceLite.create(spark, freshLoc("consol"),
      Seq("id" -> "BIGINT", "v" -> "BIGINT"),
      properties = Map(
        "write.metadata.manifest.min-files" -> "2",
        "write.metadata.manifest.target-files" -> "100",
        "write.metadata.manifest.max-count" -> "4"))
    for (b <- 0 until 12)
      t.append(spark.range(b * 10, b * 10 + 10)
        .select(col("id"), (col("id") * 2).as("v")).repartition(3))
    val head = t.meta.currentSnapshot.get
    assert(head.files.manifests.size <= 5,
      s"chunk count must stay bounded, got ${head.files.manifests.size}")
    // logical content exact through every consolidation
    assert(t.read().count() == 120L)
    assert(t.read().agg(sum("id")).head.getLong(0) == (0L until 120L).sum)
    // history snapshots keep their immutable refs — metadata still loads
    assert(MetaJson.fromJson(MetaJson.toJson(t.meta), t.manifestIO) == t.meta)
  }

  test("removed on-disk shapes refuse by name: v1 metadata, a .json manifest chunk, an .ildv delete file") {
    // rewrite the table's current version file the way an earlier IceLite
    // build would have written it, then load the table fresh
    def rewriteCurrent(t: IceLiteTable)(edit: String => String): String = {
      val f = java.nio.file.Paths.get(
        new Path(t.location, s"metadata/v${t.currentVersion}.json").toUri.getPath)
      val text = new String(Files.readAllBytes(f), "UTF-8")
      val edited = edit(text)
      assert(edited != text, "the edit must change the version file")
      Files.write(f, edited.getBytes("UTF-8"))
      f.getFileName.toString
    }
    def refusal(loc: String)(body: IceLiteTable => Any): String =
      intercept[IllegalArgumentException](body(IceLite.load(spark, loc))).getMessage

    // metadata format 1: refused at load, naming the version file
    val tv = IceLite.create(spark, freshLoc("v1"), Seq("id" -> "BIGINT", "v" -> "BIGINT"))
    tv.append(spark.range(0, 10).select(col("id"), (col("id") * 2).as("v")))
    val vFile = rewriteCurrent(tv)(_.replace("\"formatVersion\" : 3", "\"formatVersion\" : 1"))
    val ev = refusal(tv.location)(_.meta)
    assert(ev.contains(vFile) && ev.contains("format 1"), ev)

    // a .json manifest chunk ref: refused when planning forces the chunk
    val tj = IceLite.create(spark, freshLoc("json"), Seq("id" -> "BIGINT", "v" -> "BIGINT"),
      properties = Map("write.metadata.manifest.min-files" -> "2"))
    tj.append(spark.range(0, 100).select(col("id"), (col("id") * 2).as("v")).repartition(4))
    val chunk = tj.meta.currentSnapshot.get.files.manifests.head.path
    assert(chunk.endsWith(".avro"))
    val jsonChunk = chunk.stripSuffix(".avro") + ".json"
    rewriteCurrent(tj)(_.replace(chunk, jsonChunk))
    val ej = refusal(tj.location)(_.read().count())
    assert(ej.contains(jsonChunk) && ej.contains("JSON chunks are not read"), ej)

    // an .ildv delete file: refused by every carrier dispatch (the read's
    // DeleteIndex, the delete-file rewrite's posDeleteRows), never handed
    // to the parquet reader
    val td = IceLite.create(spark, freshLoc("ildv"), Seq("id" -> "BIGINT", "v" -> "BIGINT"),
      properties = Map("write.delete.mode" -> "merge-on-read"))
    td.append(spark.range(0, 100).select(col("id"), (col("id") * 2).as("v")).repartition(2))
    td.delete(col("id") === 1L)
    td.delete(col("id") === 2L)
    val dels = td.meta.currentSnapshot.get.deleteFiles.filter(_.kind == "pos").map(_.path)
    assert(dels.size == 2 && dels.forall(_.endsWith(".parquet")), dels)
    val ildv = dels.head.stripSuffix(".parquet") + ".ildv"
    rewriteCurrent(td)(_.replace(dels.head, ildv))
    for (msg <- Seq(refusal(td.location)(_.read().count()),
                    refusal(td.location)(_.rewritePositionDeletes())))
      assert(msg.contains(ildv) && msg.contains(".ildv is not read"), msg)
  }

  test("auto-maintenance rewrite-deletes threshold=1 is clamped, not a silent no-op") {
    val t = IceLite.create(spark, freshLoc("clamp"),
      Seq("id" -> "BIGINT", "v" -> "BIGINT"),
      properties = Map(
        "write.delete.mode" -> "merge-on-read",
        "maintenance.auto.rewrite-deletes.file-threshold" -> "1"))
    t.append(spark.range(0, 40).select(col("id"), (col("id") * 2).as("v")).repartition(2))
    t.delete(col("id") === 1L) // 1 pos-delete file: threshold crossed, clamp→2 no-ops
    t.delete(col("id") === 2L) // 2 files: the clamped rewrite must fire
    val dels = t.meta.currentSnapshot.get.deleteFiles.filter(_.kind == "pos")
    assert(dels.size == 1,
      s"threshold=1 must behave as merge-when-2+, got ${dels.size} delete files")
    assert(t.read().count() == 38L)
  }
}
