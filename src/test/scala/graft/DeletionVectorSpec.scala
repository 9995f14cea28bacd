package graft.icelite

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bitmap deletion vectors ([[PuffinDv]], `write.delete.vector.enabled`) —
  * the V3 representation the reference describes (README.md:1098–1108:
  * delete info held in bitmap form, applied at read). The carrier must be
  * invisible to every query path: reads, changelog, rewrite and
  * concurrency validation behave identically to parquet position deletes,
  * while contiguous delete ranges cost O(runs) on disk. */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private def mk(tag: String, dv: Boolean): IceLiteTable = {
    val loc = Files.createTempDirectory(s"dv_$tag").toString + "/t"
    val props = Map("write.delete.mode" -> "merge-on-read") ++
      (if (dv) Map("write.delete.vector.enabled" -> "true") else Map())
    val t = IceLite.createFrom(spark, loc,
      Seq((0L, 0L)).toDF("id", "v"), properties = props)
    t.append(spark.range(0, 1000).select(col("id"), (col("id") * 3).as("v"))
      .repartition(4))
    t
  }

  private def expand(runs: Array[Long]): Seq[Long] = DeleteIndex.expandRuns(runs).toSeq

  test("DV codec: runs round-trip, header answers without blob reads, seek isolates one file") {
    val conf = new org.apache.hadoop.conf.Configuration()
    val dir = Files.createTempDirectory("dv_codec").toString
    // mixed shapes: contiguous run, singletons, interleaved
    val a = (100L until 200L).toArray           // one run
    val b = Array(1L, 5L, 6L, 7L, 99L)          // three runs
    val c = Array(0L)                           // one run
    assert(DeleteIndex.toRuns(a).toSeq == Seq(100L, 100L))
    assert(DeleteIndex.toRuns(b).toSeq == Seq(1L, 1L, 5L, 3L, 99L, 1L))
    val p = new Path(s"$dir/x${PuffinDv.Ext}")
    val metas = PuffinDv.write(p, Seq("file:/fA" -> a, "file:/fB" -> b, "file:/fC" -> c), conf)
    assert(PuffinDv.blobs(p, conf).map(e => (e.refDataFile, e.cardinality)) ==
      Seq(("file:/fA", 100L), ("file:/fB", 5L), ("file:/fC", 1L)))
    assert(expand(PuffinDv.runsFor(p, conf, "file:/fB")) == b.toSeq)
    assert(expand(PuffinDv.runsFor(p, conf, "file:/fA")) == a.toSeq)
    assert(PuffinDv.runsFor(p, conf, "file:/missing").isEmpty)
    assert(PuffinDv.expand(p, conf).size == 106)
    // corrupt fB's blob: the footer still answers (it reads no blob), fA
    // and fC still resolve (each seek reads only its own blob), and only
    // fB's resolution refuses
    val fs = org.apache.hadoop.fs.FileSystem.get(p.toUri, conf)
    val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
    val in = fs.open(p); try in.readFully(0, bytes) finally in.close()
    val hit = metas(1).offset.toInt + 9
    bytes(hit) = (bytes(hit) ^ 1).toByte
    fs.delete(p, false)
    val out = fs.create(p, false); try out.write(bytes) finally out.close()
    assert(PuffinDv.blobs(p, conf).map(_.refDataFile) == Seq("file:/fA", "file:/fB", "file:/fC"))
    assert(expand(PuffinDv.runsFor(p, conf, "file:/fA")) == a.toSeq)
    assert(expand(PuffinDv.runsFor(p, conf, "file:/fC")) == c.toSeq)
    assert(intercept[IllegalArgumentException](PuffinDv.runsFor(p, conf, "file:/fB"))
      .getMessage.contains("CRC"))
  }

  test("DV codec hardening: modified-UTF-8 paths seek exactly; expand decouples from the handle; runs probe") {
    val conf = new org.apache.hadoop.conf.Configuration()
    val dir = Files.createTempDirectory("dv_codec_hard").toString
    // paths that Java's modified UTF-8 would spell differently from
    // standard UTF-8 (a supplementary-plane char, NUL, 2- and 3-byte
    // classes) must come back from the JSON footer exactly, and each must
    // resolve its own blob
    val pathA = "file:/data/f_😀_\u0000.parquet" // surrogate pair + NUL
    val pathB = "file:/data/f_é߿.parquet"        // 2-byte class chars
    val pathC = "file:/data/f_日本_\uFFFD.parquet" // 3-byte class chars
    val a = Array(3L, 4L, 5L, 100L)
    val b = Array(7L)
    val c = Array(42L)
    val p = new Path(s"$dir/u${PuffinDv.Ext}")
    PuffinDv.write(p, Seq(pathA -> a, pathB -> b, pathC -> c), conf)
    assert(PuffinDv.blobs(p, conf).map(_.refDataFile) == Seq(pathA, pathB, pathC))
    assert(expand(PuffinDv.runsFor(p, conf, pathB)) == Seq(7L),
      "blob lookup skewed by a non-ASCII path")
    assert(expand(PuffinDv.runsFor(p, conf, pathC)) == Seq(42L))
    // the scan path consumes RUNS (packed [start,len]*), never expansions
    assert(PuffinDv.runsFor(p, conf, pathA).toSeq == Seq(3L, 3L, 100L, 1L))
    assert(DeleteIndex.runContains(Array(3L, 3L, 100L, 1L), 5L))
    assert(!DeleteIndex.runContains(Array(3L, 3L, 100L, 1L), 6L))
    assert(DeleteIndex.runContains(Array(3L, 3L, 100L, 1L), 100L))
    assert(!DeleteIndex.runContains(Array(3L, 3L, 100L, 1L), 101L))
    // a DENSE delete set stays O(runs): one run describes a million kills
    val dense = DeleteIndex.toRuns((0L until 1000000L).toArray)
    assert(dense.length == 2)
    assert(DeleteIndex.mergeRuns(Seq(Array(0L, 10L), Array(5L, 10L), Array(20L, 1L))).toSeq
      == Seq(0L, 15L, 20L, 1L))
    // expand() reads the container EAGERLY and closes before returning the
    // iterator — a partial consumer can't leak the handle; proof: delete
    // the file mid-iteration and the remaining positions still stream
    val it = PuffinDv.expand(p, conf)
    assert(it.next()._2 == 3L)
    org.apache.hadoop.fs.FileSystem.get(p.toUri, conf).delete(p, false)
    assert(it.toSeq.map(_._2) == Seq(4L, 5L, 100L, 7L, 42L))
  }

  test("DV-mode DELETE and UPDATE equal the parquet-delete twin; .puffin files carry the deletes") {
    val tp = mk("pq", dv = false)
    val tv = mk("dv", dv = true)
    for (t <- Seq(tp, tv)) {
      t.delete(col("id") >= 300 && col("id") < 500) // contiguous range: a run container
      t.delete(col("id") % 97 === 0)                // scattered singletons
      t.update(col("id") === 777L, Map("v" -> lit(-1L)))
    }
    val want = tp.read().select("id", "v").as[(Long, Long)].collect().toSet
    val got = tv.read().select("id", "v").as[(Long, Long)].collect().toSet
    assert(got == want, "DV reads must equal the parquet-delete twin exactly")
    val dels = tv.meta.currentSnapshot.get.deleteFiles.filter(_.kind == "pos")
    assert(dels.nonEmpty && dels.forall(_.path.endsWith(PuffinDv.Ext)),
      s"DV mode must write .puffin carriers, got ${dels.map(_.path)}")
    assert(dels.forall(d => d.pathLo.isDefined && d.pathHi.isDefined),
      "DV entries must carry path-range summaries for delete-manifest pruning")
    // fresh load exercises the executor-side DV resolution end-to-end
    assert(IceLite.load(spark, tv.location).read().count() == want.size.toLong)
  }

  test("merge-on-read reads compile PositionLive's generated probe, with no interpreted fallback") {
    // Spark falls back to interpreted evaluation when generated code fails
    // to compile, which would hide a stale probe name in PositionLive's
    // codegen string; with the fallback off, such a probe fails the read
    val keys = Seq("spark.sql.codegen.fallback", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      for (dv <- Seq(false, true)) {
        val t = mk(s"cg_$dv", dv)
        t.delete(col("id") >= 10 && col("id") < 20)
        assert(t.read().filter(col("v") >= 0).count() == 990L, s"dv=$dv")
      }
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("changelog over DV deletes reports the same rows as the parquet twin") {
    val tp = mk("cpq", dv = false)
    val tv = mk("cdv", dv = true)
    for (t <- Seq(tp, tv)) t.delete(col("id") >= 100 && col("id") < 120)
    def changes(t: IceLiteTable): Set[(String, Long)] = {
      val snaps = t.meta.snapshots.map(_.id)
      t.readChangesBetween(snaps(snaps.size - 2), snaps.last)
        .select(col("_change_type"), col("id")).as[(String, Long)].collect().toSet
    }
    assert(changes(tv) == changes(tp))
    assert(changes(tv).count(_._1 == "delete") == 20)
  }

  test("rewritePositionDeletes merges DV containers, honoring the table's carrier") {
    val t = mk("rw", dv = true)
    (0 until 4).foreach(i => t.delete(col("id") === (i * 50).toLong))
    val before = t.meta.currentSnapshot.get.deleteFiles.filter(_.kind == "pos")
    assert(before.size >= 4 && before.forall(_.path.endsWith(PuffinDv.Ext)))
    assert(t.rewritePositionDeletes())
    val after = t.meta.currentSnapshot.get.deleteFiles.filter(_.kind == "pos")
    assert(after.size == 1 && after.head.path.endsWith(PuffinDv.Ext),
      s"a DV-enabled table's rewrite must merge into ONE DV container, " +
        s"got ${after.map(_.path)}")
    assert(t.read().select("id").as[Long].collect().toSet ==
      ((0L until 1000L).toSet -- Set(0L, 50L, 100L, 150L)))

    // a table that DISABLES the property afterwards rewrites back to the
    // canonical parquet — the migration path out of DVs
    t.delete(col("id") === 999L)
    t.setProperties(Map("write.delete.vector.enabled" -> "false"))
    assert(t.rewritePositionDeletes())
    val back = t.meta.currentSnapshot.get.deleteFiles.filter(_.kind == "pos")
    assert(back.size == 1 && back.head.path.endsWith(".parquet"),
      s"disabling DVs must migrate the carrier back on rewrite, got ${back.map(_.path)}")
    assert(t.read().select("id").as[Long].collect().toSet ==
      ((0L until 1000L).toSet -- Set(0L, 50L, 100L, 150L, 999L)))
  }

  test("a contiguous-range DV is materially smaller than its parquet twin") {
    // range-clustered single file: a predicate range deletes CONTIGUOUS
    // positions — the shape run containers exist for (hash-partitioned
    // files would scatter positions and both carriers degrade to
    // O(positions))
    def mkClustered(tag: String, dv: Boolean): IceLiteTable = {
      val loc = Files.createTempDirectory(s"dv_$tag").toString + "/t"
      val props = Map("write.delete.mode" -> "merge-on-read") ++
        (if (dv) Map("write.delete.vector.enabled" -> "true") else Map())
      val t = IceLite.createFrom(spark, loc,
        Seq((0L, 0L)).toDF("id", "v"), properties = props)
      t.append(spark.range(0, 1000).select(col("id"), (col("id") * 3).as("v"))
        .coalesce(1).sortWithinPartitions("id"))
      t
    }
    val tp = mkClustered("szpq", dv = false)
    val tv = mkClustered("szdv", dv = true)
    for (t <- Seq(tp, tv)) t.delete(col("id") >= 200 && col("id") < 800)
    def delBytes(t: IceLiteTable): Long = {
      val f = IceLite.fs(spark, t.location)
      t.meta.currentSnapshot.get.deleteFiles.filter(_.kind == "pos")
        .map(d => f.getFileStatus(new Path(d.path)).getLen).sum
    }
    val (pq, dv) = (delBytes(tp), delBytes(tv))
    assert(dv * 5 < pq,
      s"600 contiguous positions must run-encode far below parquet rows: dv=$dv pq=$pq")
  }
}
