package graft.icelite

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Chunked manifest metadata ([[ManifestIO]]): the indirection that lets a
  * 100k-file (→ 10M-file) table plan a pruned read WITHOUT loading the
  * full file table, and lets commits reuse parent manifest chunks so
  * commit cost is O(changed files). The chunk-load counter on the table's
  * ManifestIO is the proof instrument: planning a partition- or
  * stat-pruned read must load exactly the surviving chunks. */
class ManifestSpec extends graft.SparkSpec {
  import spark.implicits._

  /** Forge a commit whose head snapshot is `snap` (metadata-only — the
    * shape MorDeleteLoadSpec uses to build states no public API reaches
    * at test speed). */
  private def forge(t: IceLiteTable, snap: Snapshot): Unit = {
    val (v, m) = (t.currentVersion, t.meta)
    val next = m.copy(currentSnapshotId = Some(snap.id), snapshots = m.snapshots :+ snap,
      metadataLog = m.metadataLog :+
        MetadataLogEntry(v + 1, System.currentTimeMillis(), "forged"))
    t.store.createExclusive(new Path(t.location, s"metadata/v${v + 1}.json"),
      MetaJson.toJson(next))
    IceLite.swapHintForward(t.store, new Path(t.location, s"metadata/${IceLite.HINT}"), v + 1)
  }

  test("bulk-file table: pruned read plans from manifest summaries, loading only surviving chunks") {
    // 100 partitions x `per` entries: 100k files under
    // SPARK_GRAFT_LOAD_TESTS=1, a 10k-file smoke by default (same chunk
    // geometry: 20 chunks, chunk j covers partitions [5j, 5j+5))
    val per = graft.LoadTests.n(1000, 100)
    val loc = Files.createTempDirectory("manifests_100k").toString + "/t"
    val t0 = IceLite.create(spark, loc,
      Seq("id" -> "BIGINT", "k" -> "BIGINT"), partition = Seq("k" -> "identity"))
    // one real physical file (f1=id, f2=k) for partition 7, copied 1000×;
    // the other 99 partitions' 99k entries are fake paths — if manifest
    // pruning ever loads and scans them, the read crashes loudly
    t0.append(Seq.tabulate(10)(i => (i.toLong, 7L)).toDF("id", "k").coalesce(1))
    val proto = t0.meta.currentSnapshot.get.dataFiles.head
    val protoLocal = java.nio.file.Paths.get(new Path(proto.path).toUri)
    val dataDir = java.nio.file.Paths.get(s"$loc/data")
    val m0 = t0.meta
    val all: Seq[DataFile] = (0 until 100).flatMap { p =>
      (0 until per).map { i =>
        val path =
          if (p == 7) {
            val tgt = dataDir.resolve(f"copy-$i%04d.parquet")
            Files.copy(protoLocal, tgt)
            tgt.toUri.toString
          } else s"$loc/data/fake-$p-$i.parquet"
        DataFile(path, 10, proto.schemaId, proto.specId,
          Map("k_identity" -> p.toString),
          Map(1 -> ColumnStats((p * 10).toString, (p * 10 + 9).toString),
            2 -> ColumnStats(p.toString, p.toString)),
          seq = 1)
      }
    }
    // 20 chunks of 5*per entries: chunk j covers partitions [5j, 5j+5)
    val refs = all.grouped(5 * per).map(g => t0.manifestIO.write(g, m0)).toSeq
    assert(refs.size == 20)
    forge(t0, new Snapshot(100L, m0.currentSnapshotId, System.currentTimeMillis(),
      "append", FileListing(refs, Seq(), t0.manifestIO), Seq(), m0.currentSchemaId))

    // the version file carries refs + summaries, never the 100k entries
    val vjson = t0.store.readString(new Path(loc, s"metadata/v${t0.currentVersion}.json"))
    assert(vjson.length < 100 * 1024,
      s"manifest list must stay small; got ${vjson.length} bytes")
    assert(!vjson.contains("fake-63-"), "chunked entries must not inline into the version file")

    // partition-pruned read: ONE chunk loaded (the one whose partition
    // summary admits k=7), 10k rows back — the 99 fake-path partitions
    // were never even parsed
    val t1 = IceLite.load(spark, loc)
    val got = t1.read(prune = p => p.get("k_identity").contains("7")).count()
    assert(got == 10L * per)
    assert(t1.manifestIO.readCount.get == 1,
      s"expected 1 chunk load, got ${t1.manifestIO.readCount.get}")

    // stat-summary pruning: an equality filter on k refutes 19 of 20
    // chunk summaries without a load
    val t2 = IceLite.load(spark, loc)
    val got2 = t2.read(statFilters = Seq(Stats.Eq("k", 7L))).count()
    assert(got2 == 10L * per)
    assert(t2.manifestIO.readCount.get == 1,
      s"expected 1 chunk load via stat summaries, got ${t2.manifestIO.readCount.get}")

    // summary metadata serves counts without any chunk load
    val t3 = IceLite.load(spark, loc)
    val head = t3.meta.currentSnapshot.get
    assert(head.files.fileCount == 100L * per && head.totalRows == 1000L * per)
    assert(t3.manifestIO.readCount.get == 0, "counts must come from summaries")
  }

  test("append reuses parent chunks; CoW rewrites only the chunk it touched") {
    val loc = Files.createTempDirectory("manifests_reuse").toString + "/t"
    val t = IceLite.createFrom(spark, loc, Seq((0L, 0L)).toDF("id", "v"))
    def manifestPaths: Seq[String] =
      t.meta.currentSnapshot.get.files.manifests.map(_.path)

    // first append crosses the min-files threshold (8) → one chunk
    t.append(spark.range(0, 100).select(col("id"), (col("id") * 2).as("v")).repartition(10))
    val after1 = manifestPaths
    assert(after1.size == 1, s"expected 1 chunk, got $after1")

    // second append must reuse chunk A by reference and add its own
    t.append(spark.range(100, 200).select(col("id"), (col("id") * 2).as("v")).repartition(10))
    val after2 = manifestPaths
    assert(after2.contains(after1.head), "append must reuse the parent chunk by reference")
    assert(after2.size == 2)

    // CoW delete confined to the SECOND batch's rows: chunk A survives
    // intact and is reused; only chunk B is rewritten
    t.delete(col("id") >= 150)
    val after3 = manifestPaths
    assert(after3.contains(after1.head),
      "CoW touching only chunk B must carry chunk A by reference")
    assert(!after3.contains(after2.filterNot(_ == after1.head).head),
      "the touched chunk must be rewritten")

    // logical content stays exact through every representation change
    assert(t.read().agg(sum("id")).head.getLong(0) == (0L until 150L).sum)

    // and the chunked format round-trips losslessly (forces all chunks)
    val m = t.meta
    assert(MetaJson.fromJson(MetaJson.toJson(m), t.manifestIO) == m)
  }

  test("CoW touching 1 of 20 chunks loads O(1) chunks end-to-end, commit included") {
    val loc = Files.createTempDirectory("manifests_cow_scoped").toString + "/t"
    val t = IceLite.create(spark, loc, Seq("id" -> "BIGINT", "v" -> "BIGINT"))
    // 20 appends × 10 files: each append spills its own chunk covering a
    // disjoint id range, so chunk stat summaries form a range index
    for (b <- 0L until 20L)
      t.append(spark.range(b * 1000, b * 1000 + 1000)
        .select(col("id"), (col("id") * 2).as("v")).repartition(10))
    val head0 = t.meta.currentSnapshot.get
    assert(head0.files.manifests.size == 20,
      s"expected 20 chunks, got ${head0.files.manifests.size}")
    val refs0 = head0.files.manifests.map(_.path).toSet

    // fresh load → zeroed chunk-load counter; the CoW delete's predicate
    // refutes 19 of 20 chunk summaries
    val t2 = IceLite.load(spark, loc)
    t2.delete(col("id") === 1500L)
    assert(t2.manifestIO.readCount.get <= 2,
      s"CoW on one chunk must load O(1) chunks end-to-end (discovery + " +
        s"rebuild + commit), got ${t2.manifestIO.readCount.get}")
    val head1 = t2.meta.currentSnapshot.get
    val refs1 = head1.files.manifests.map(_.path).toSet
    assert((refs0 intersect refs1).size == 19,
      s"19 untouched chunks must carry BY REFERENCE, " +
        s"carried ${(refs0 intersect refs1).size}")
    assert(t2.read().count() == 19999L)
    assert(t2.read().filter(col("id") === 1500L).count() == 0L)
  }

  test("MERGE touching 1 of 20 chunks loads O(1) chunks end-to-end, commit included") {
    val loc = Files.createTempDirectory("manifests_merge_scoped").toString + "/t"
    val t = IceLite.create(spark, loc, Seq("id" -> "BIGINT", "v" -> "BIGINT"))
    for (b <- 0L until 20L)
      t.append(spark.range(b * 1000, b * 1000 + 1000)
        .select(col("id"), (col("id") * 2).as("v")).repartition(10))
    val refs0 = t.meta.currentSnapshot.get.files.manifests.map(_.path).toSet
    assert(refs0.size == 20)

    // the r12→r13 bench watch item: chunk-scoped CoW must not hand MERGE a
    // second pass — source key range [1500,1510) refutes 19 of 20 chunk
    // summaries at discovery, and the commit re-chunks only what it touched
    val t2 = IceLite.load(spark, loc)
    t2.merge(spark.range(1500L, 1510L)
      .select(col("id"), lit(-5L).as("v")), "id")
    assert(t2.manifestIO.readCount.get <= 3,
      s"stat-pruned MERGE must load O(1) chunks end-to-end (discovery + " +
        s"rebuild + commit), got ${t2.manifestIO.readCount.get}")
    val refs1 = t2.meta.currentSnapshot.get.files.manifests.map(_.path).toSet
    assert((refs0 intersect refs1).size == 19,
      s"19 untouched chunks must carry BY REFERENCE, " +
        s"carried ${(refs0 intersect refs1).size}")
    assert(t2.read().count() == 20000L)
    assert(t2.read().filter(col("v") === -5L).count() == 10L)
  }

  test("compaction commit writes exactly one chunk; spill never re-reads refuted parents") {
    val loc = Files.createTempDirectory("manifests_compact_writes").toString + "/t"
    val t = IceLite.create(spark, loc, Seq("id" -> "BIGINT", "v" -> "BIGINT"))
    for (b <- 0L until 8L)
      t.append(spark.range(b * 100, b * 100 + 100)
        .select(col("id"), (col("id") * 2).as("v")).repartition(10))
    assert(t.meta.currentSnapshot.get.files.manifests.size == 8)

    // a full-table rewrite reuses no parent chunk — the fileCount summary
    // refutes each (10 > 8 remaining) before any probe — and the whole new
    // file set fits one chunk: the commit spills EXACTLY ONE manifest (the
    // bench-regression check: compaction's manifest cost is one re-chunk,
    // never a double spill). Reads are O(table) here by nature — the
    // rewrite itself must plan every file; pruned-commit read bounds are
    // covered by the CoW-scoped test above.
    val t1 = IceLite.load(spark, loc)
    val w0 = t1.manifestIO.writeCount.get
    t1.compact(target = 8)
    assert(t1.manifestIO.writeCount.get - w0 == 1,
      s"compaction must spill exactly 1 chunk, wrote ${t1.manifestIO.writeCount.get - w0}")
    assert(t1.meta.currentSnapshot.get.files.manifests.size == 1)
    assert(t1.meta.currentSnapshot.get.files.fileCount == 8L)
    assert(t1.read().agg(sum("id")).head.getLong(0) == (0L until 800L).sum)
  }
}
