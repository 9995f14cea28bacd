package graft.icelite

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Chunked DELETE-file metadata ([[DeleteListing]]): the delete-side mirror
  * of ManifestSpec. A MoR-heavy workload (~1k position-delete files between
  * maintenance runs) must not re-inflate the version file — delete entries
  * live in side chunks behind summaries — and scan planning must prune
  * delete chunks against those summaries (path-range for position deletes,
  * sequence for equality deletes) WITHOUT parsing them. The poisoned-path
  * instrument: pruned chunks hold fake delete paths, so a pruning miss that
  * feeds them to the read path crashes loudly. */
class DeleteManifestSpec extends SparkSpec {
  import spark.implicits._

  private def listParquetUnder(loc: String, dir: String): Seq[Path] = {
    val it = IceLite.fs(spark, loc).listFiles(new Path(dir), true)
    val buf = scala.collection.mutable.ArrayBuffer[Path]()
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile && s.getPath.getName.endsWith(".parquet")) buf += s.getPath
    }
    buf.toSeq
  }

  private def forgeCommitOn(t: IceLiteTable, loc: String, note: String)(
      f: (TableMetadata, Snapshot) => Snapshot): Unit = {
    val (v, m) = (t.currentVersion, t.meta)
    val cur = m.currentSnapshot.get
    val ns = f(m, cur)
    val next = m.copy(currentSnapshotId = Some(ns.id), snapshots = m.snapshots :+ ns,
      metadataLog = m.metadataLog :+
        MetadataLogEntry(v + 1, System.currentTimeMillis(), note))
    t.store.createExclusive(new Path(loc, s"metadata/v${v + 1}.json"), MetaJson.toJson(next))
    IceLite.swapHintForward(t.store, new Path(loc, s"metadata/${IceLite.HINT}"), v + 1)
  }

  test("~1k pos delete files: the real commit path chunks them; version file stays bounded; reads exact") {
    val loc = Files.createTempDirectory("dmf_bounded").toString + "/t"
    val n = 20000L
    val df = spark.range(0, n).toDF("id").withColumn("v", col("id") * 3)
    val t = IceLite.createFrom(spark, loc, df)
    t.append(df)
    val snap1 = t.meta.currentSnapshot.get

    val lineage = spark.read.parquet(snap1.dataFiles.map(_.path): _*)
      .select(col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("pos"), col("f1").as("id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

    // ~1k real position delete files masking pos % 8 == 7 (the
    // MorDeleteLoadSpec density), forged as an INLINE tail
    val posDeleted = lineage.filter(_._2 % 8 == 7)
    val delDir = loc + "/deletes/bulk"
    posDeleted.toSeq.zipWithIndex
      .map { case ((f, p, _), i) => (f, p, i % 1000) }
      .toDF("file_path", "pos", "g")
      .coalesce(1).sortWithinPartitions("file_path", "pos")
      .write.partitionBy("g").parquet(delDir)
    val delFiles = listParquetUnder(loc, delDir)
      .map(p => DeleteFile(p.toString, 1L, kind = "pos", seq = 2L))
    assert(delFiles.size >= 900, s"wanted ~1k delete files, got ${delFiles.size}")
    forgeCommitOn(t, loc, s"forged ${delFiles.size} pos delete files") { (m, cur) =>
      Snapshot(cur.id + 1, Some(cur.id), System.currentTimeMillis(), "delete",
        cur.dataFiles, cur.deleteFiles ++ delFiles, m.currentSchemaId)
    }

    // a REAL commit spills the crossed-threshold delete tail into chunks
    val t2 = IceLite.load(spark, loc)
    t2.append(Seq((n, n * 3)).toDF("id", "v"))
    val head = t2.meta.currentSnapshot.get
    assert(head.deletes.manifests.nonEmpty, "delete tail must spill into chunks")
    assert(head.deletes.tail.isEmpty, "no delete entry may stay inline past the threshold")
    assert(head.deletes.posFileCount == delFiles.size,
      "summary count must equal the chunked file count without a load")
    val vjson = t2.store.readString(
      new Path(loc, s"metadata/v${t2.currentVersion}.json"))
    assert(vjson.length < 100 * 1024,
      s"~1k delete files must not inflate the version file; got ${vjson.length} bytes")
    assert(!vjson.contains("deletes/bulk"),
      "chunked delete entries must not inline into the version file")

    // read-back exact through a FRESH load (chunks parsed lazily)
    val expected = lineage.filterNot(_._2 % 8 == 7).map(_._3).toSet + n
    val got = IceLite.load(spark, loc).read().select("id").as[Long].collect().toSet
    assert(got == expected, s"chunked-delete read wrong: ${got.size} vs ${expected.size}")

    // maintenance still works over chunked state: merge ~1k files to one
    val t3 = IceLite.load(spark, loc)
    assert(t3.rewritePositionDeletes())
    val snapR = t3.meta.currentSnapshot.get
    assert(snapR.deletes.posFileCount == 1,
      s"rewrite must merge chunked delete files, got ${snapR.deletes.posFileCount}")
    assert(t3.read().select("id").as[Long].collect().toSet == expected,
      "rewrite over chunked metadata changed visible content")
  }

  test("delete-manifest pruning: path-range and seq summaries skip poisoned chunks without parsing") {
    val loc = Files.createTempDirectory("dmf_prune").toString + "/t"
    // two real data files with disjoint id ranges (coalesce(1) each append)
    val t = IceLite.createFrom(spark, loc, Seq((0L, 0L)).toDF("id", "v"))
    t.append(spark.range(0, 100).select(col("id"), (col("id") * 3).as("v")).coalesce(1))
    t.append(spark.range(100, 200).select(col("id"), (col("id") * 3).as("v")).coalesce(1))
    val m0 = t.meta
    val snap0 = m0.currentSnapshot.get
    val files = snap0.dataFiles.sortBy(_.path)
    assert(files.size == 2)
    val Seq(fA, fB) = files.map(_.path)
    val (loF, hiF) = (files.minBy(_.stats(1).min.toLong), files.maxBy(_.stats(1).min.toLong))

    // real pos-delete parquet masking pos 0 of the LOW-id file
    val lineage = spark.read.parquet(loF.path)
      .select(col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("pos"))
      .limit(1).collect()
    val realDelDir = loc + "/deletes/real"
    Seq((lineage.head.getString(0), lineage.head.getLong(1)))
      .toDF("file_path", "pos").coalesce(1).write.parquet(realDelDir)
    val realDel = listParquetUnder(loc, realDelDir).map(p =>
      DeleteFile(p.toString, 1L, kind = "pos", seq = 5L,
        pathLo = Some(loF.path),
        pathHi = Some(loF.path)))

    // poisoned chunks: fake delete paths behind summaries that the pruning
    // rules must refute — (a) pos chunks whose path range sits strictly
    // above every real path, (b) an all-eq chunk whose maxSeq is at or
    // below every data file's seq
    val maxPath = Seq(fA, fB).max
    val io = t.manifestIO
    val chunkReal = io.writeDeletes(realDel, m0)
    val poisonedPos = (0 until 20).map { i =>
      DeleteManifestRef(s"$loc/metadata/manifests/fake-pos-$i.json",
        50, 50, 5L, 50, Seq(),
        Some(maxPath + s"~nope-$i-lo"), Some(maxPath + s"~nope-$i-hi"))
    }
    val poisonedEq = DeleteManifestRef(s"$loc/metadata/manifests/fake-eq.json",
      10, 10, /*maxSeq=*/ 1L, /*posCount=*/ 0, Seq(1), None, None)
    val refs = (chunkReal +: poisonedPos) :+ poisonedEq

    forgeCommitOn(t, loc, "forged delete manifest refs") { (m, cur) =>
      new Snapshot(cur.id + 1, Some(cur.id), System.currentTimeMillis(), "delete",
        cur.files, DeleteListing(refs, Seq(), io), m.currentSchemaId)
    }

    // full scan: the 20 poisoned pos chunks are path-refuted and the eq
    // chunk seq-refuted — exactly ONE delete chunk (the real one) loads,
    // and the fake refs are never even parsed (a miss would throw on the
    // nonexistent chunk file, and a parsed fake delete file would crash
    // the position probe)
    val t1 = IceLite.load(spark, loc)
    val got = t1.read().select("id").as[Long].collect().toSet
    assert(got.size == 199, s"one masked row must disappear: ${got.size}")
    assert(t1.manifestIO.deleteReadCount.get == 1,
      s"expected 1 delete chunk load, got ${t1.manifestIO.deleteReadCount.get}")

    // stat-pruned scan over the HIGH-id file only: the real chunk's path
    // range covers only the low file, so ZERO delete chunks load
    val t2 = IceLite.load(spark, loc)
    val hi = t2.read(statFilters = Seq(Stats.Ge("id", 150L)))
      .filter(col("id") >= 150).count()
    assert(hi == 50L)
    assert(t2.manifestIO.deleteReadCount.get == 0,
      s"path-range summaries must refute every chunk for the high file, " +
        s"got ${t2.manifestIO.deleteReadCount.get} loads")

    // summaries serve counts and the eq-guard without any chunk load
    val t3 = IceLite.load(spark, loc)
    val head = t3.meta.currentSnapshot.get
    assert(head.deletes.fileCount == refs.map(_.fileCount).sum)
    assert(head.deletes.posFileCount == realDel.size + 20 * 50)
    assert(head.deletes.eqFieldIdSet == Set(1))
    assert(t3.manifestIO.deleteReadCount.get == 0, "summaries must not force chunks")
  }

  test("delete manifests round-trip losslessly and carry across append commits by reference") {
    val loc = Files.createTempDirectory("dmf_rt").toString + "/t"
    val t = IceLite.createFrom(spark, loc, Seq((0L, 0L)).toDF("id", "v"),
      properties = Map("write.delete.mode" -> "merge-on-read",
        "write.metadata.manifest.min-files" -> "2"))
    t.append(spark.range(0, 100).select(col("id"), (col("id") * 3).as("v")).repartition(4))
    (1 to 3).foreach(i => t.delete(col("id") === i.toLong))
    val headBefore = t.meta.currentSnapshot.get
    assert(headBefore.deletes.manifests.nonEmpty, "MoR deletes must chunk past the threshold")

    // append must carry the delete chunks BY REFERENCE (no rewrite)
    val before = headBefore.deletes.manifests.map(_.path).toSet
    t.append(Seq((1000L, 0L)).toDF("id", "v"))
    val headAfter = t.meta.currentSnapshot.get
    assert(before.subsetOf(headAfter.deletes.manifests.map(_.path).toSet),
      "append must reuse parent delete chunks by reference")

    // serde identity over the chunked shape (forces all listings)
    val m = t.meta
    assert(MetaJson.fromJson(MetaJson.toJson(m), t.manifestIO) == m)
    // content exact through a fresh load
    assert(IceLite.load(spark, loc).read().select("id").as[Long].collect().toSet ==
      ((0L until 100L).toSet -- Set(1L, 2L, 3L) + 1000L))
  }

  test("orphan sweep reclaims stranded delete chunks, preserves referenced ones") {
    val loc = Files.createTempDirectory("dmf_orphan").toString + "/t"
    val t = IceLite.createFrom(spark, loc, Seq((-1L, 0L)).toDF("id", "v"),
      properties = Map("write.delete.mode" -> "merge-on-read",
        "write.metadata.manifest.min-files" -> "2"))
    t.append(spark.range(0, 50).select(col("id"), (col("id") * 3).as("v")).repartition(2))
    (1 to 3).foreach(i => t.delete(col("id") === i.toLong))
    val live = t.meta.currentSnapshot.get.deletes.manifests.map(_.path)
    assert(live.nonEmpty, "precondition: delete chunks exist")

    // a collided commit attempt strands a delete chunk nothing references
    val fs = IceLite.fs(spark, loc)
    val stranded = new Path(loc, "metadata/manifests/dmf-stranded.avro")
    val out = fs.create(stranded, true); out.write(1); out.close()

    val removed = t.removeOrphanFiles(olderThanMs = System.currentTimeMillis() + 1000)
    assert(removed.exists(_.endsWith("dmf-stranded.avro")),
      "the stranded delete chunk must be reclaimed")
    live.foreach(p => assert(fs.exists(new Path(p)),
      s"live delete chunk must survive the sweep: $p"))
    assert(t.read().select("id").as[Long].collect().toSet ==
      ((0L until 50L).toSet -- Set(1L, 2L, 3L)))
  }

  test("delete-heavy table consolidates undersized delete chunks (bounded manifest count)") {
    val loc = Files.createTempDirectory("dmf_consol").toString + "/t"
    val t = IceLite.createFrom(spark, loc, Seq((-1L, 0L)).toDF("id", "v"),
      properties = Map("write.delete.mode" -> "merge-on-read",
        "write.metadata.manifest.min-files" -> "2",
        "write.metadata.manifest.target-files" -> "50",
        "write.metadata.manifest.max-count" -> "4"))
    t.append(spark.range(0, 200).select(col("id"), (col("id") * 3).as("v")).repartition(4))
    // each MoR delete lands delete files on the tail; the spill chunks
    // them every commit (min-files 2) and consolidation must keep the
    // DELETE manifest list bounded, like the data side
    for (i <- 0 until 12) t.delete(col("id") === i.toLong * 7L)
    val head = t.meta.currentSnapshot.get
    assert(head.deletes.manifests.size <= 5,
      s"delete chunk count must stay bounded, got ${head.deletes.manifests.size}")
    // logical content exact through every consolidation, fresh load
    assert(IceLite.load(spark, loc).read().select("id").as[Long].collect().toSet ==
      ((0L until 200L).toSet -- (0 until 12).map(_ * 7L)))
    assert(MetaJson.fromJson(MetaJson.toJson(t.meta), t.manifestIO) == t.meta)
  }
}
