package graft.icelite

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Iceberg V3 row lineage: every data file owns a disjoint `_row_id`
  * block assigned at commit; ids survive MoR deletes for free, CoW
  * update/delete/merge and compaction via MATERIALIZED parquet columns,
  * and `_last_updated_sequence_number` re-stamps exactly the rows each
  * commit touched (reference V3 context: README.md:1092–1096; row
  * lineage is the V3 spec's row-identity feature alongside the deletion
  * vectors the tutorial teaches at :1098–1121). */
class RowLineageSpec extends SparkSpec {
  import spark.implicits._

  private def scratch(n: String) = Files.createTempDirectory(s"rowlin_$n").toString + "/t"

  private def lineage(t: IceLiteTable): Map[Long, (Long, Long)] =
    t.readRowLineage().select(col("id"), col(IceLite.RowIdCol),
        col(IceLite.LastUpdatedCol))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("appends assign disjoint id blocks; nextRowId is monotone") {
    val t = IceLite.createFrom(spark, scratch("append"), Seq((0L, "x")).toDF("id", "v"))
    t.append((0L until 10L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1))
    val l1 = lineage(t)
    assert(l1.values.map(_._1).toSeq.sorted == (0L until 10L).toSeq,
      s"first append must own ids 0..9, got ${l1.values.map(_._1).toSeq.sorted}")
    assert(t.meta.nextRowId == 10L)
    t.append((10L until 15L).map(i => (i, s"b$i")).toDF("id", "v").coalesce(1))
    val l2 = lineage(t)
    assert(l2.values.map(_._1).toSeq.sorted == (0L until 15L).toSeq,
      "second append must continue at 10 — blocks are disjoint")
    // the first append's rows kept their ids
    (0L until 10L).foreach(i => assert(l2(i)._1 == l1(i)._1))
    assert(t.meta.nextRowId == 15L)
    // _last_updated_sequence_number = the appending commit's sequence
    assert(l2.filter(_._1 < 10L).values.map(_._2).toSet.size == 1)
    assert(l2.filter(_._1 >= 10L).values.map(_._2).toSet.size == 1)
    assert(l2(0L)._2 < l2(12L)._2, "later append = later sequence")
  }

  test("MoR delete keeps survivor ids untouched (files never rewritten)") {
    val loc = scratch("mor")
    val t = IceLite.createFrom(spark, loc, Seq((0L, "x")).toDF("id", "v"),
      properties = Map("write.delete.mode" -> "merge-on-read"))
    t.append((0L until 20L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1))
    val before = lineage(t)
    t.delete(col("id") % 3 === 0)
    val after = lineage(t)
    assert(after.keySet == (0L until 20L).filter(_ % 3 != 0).toSet)
    after.foreach { case (id, (rid, seq)) =>
      assert((rid, seq) == before(id), s"survivor $id must keep its lineage") }
  }

  test("CoW update preserves _row_id for ALL rows and re-stamps only updated rows") {
    val t = IceLite.createFrom(spark, scratch("cow_upd"),
      Seq((0L, "x", 0)).toDF("id", "v", "n"))
    t.append((0L until 20L).map(i => (i, s"a$i", 0)).toDF("id", "v", "n").coalesce(1))
    val before = lineage(t)
    t.update(col("id") >= 15L, Map("n" -> lit(7)))
    val after = lineage(t)
    after.foreach { case (id, (rid, _)) =>
      assert(rid == before(id)._1,
        s"row $id identity must survive the update (got $rid, was ${before(id)._1})") }
    (0L until 15L).foreach(i => assert(after(i)._2 == before(i)._2,
      s"carried row $i must keep its last-updated seq"))
    (15L until 20L).foreach(i => assert(after(i)._2 > before(i)._2,
      s"updated row $i must re-stamp to the update's sequence"))
    // no fresh ids were consumed for carried rows: updated files
    // materialize, they don't reassign
    assert(after.values.map(_._1).toSeq.sorted == before.values.map(_._1).toSeq.sorted)
  }

  test("CoW delete carries survivor ids through the rewrite") {
    val t = IceLite.createFrom(spark, scratch("cow_del"),
      Seq((0L, "x")).toDF("id", "v"))
    t.append((0L until 20L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1))
    val before = lineage(t)
    t.delete(col("id") < 5L)
    val after = lineage(t)
    assert(after.keySet == (5L until 20L).toSet)
    after.foreach { case (id, lin) => assert(lin == before(id),
      s"survivor $id must keep (_row_id, _last_updated) through the CoW rewrite") }
  }

  test("compaction materializes ids — every row keeps (_row_id, _last_updated)") {
    val t = IceLite.createFrom(spark, scratch("compact"),
      Seq((0L, "x")).toDF("id", "v"))
    (0 until 4).foreach(k =>
      t.append((k * 10L until (k + 1) * 10L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1)))
    val before = lineage(t)
    assert(before.values.map(_._1).toSeq.sorted == (0L until 40L).toSeq)
    t.compact(target = 1)
    val after = lineage(t)
    assert(after == before, "a compaction carries rows — lineage must be identical")
    // and the ids survive a SECOND rewrite (materialized values win again)
    t.compact(target = 2)
    assert(lineage(t) == before)
  }

  test("merge keeps target identity: updated rows keep ids + re-stamp, inserts get fresh ids") {
    val (driver, distributed) = onBothMergePlans { plan =>
      val t = IceLite.createFrom(spark, scratch(s"merge_$plan"),
        Seq((0L, "x")).toDF("id", "v"))
      t.append((0L until 10L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1))
      val before = lineage(t)
      // updates ids 0/5, inserts ids 100/101
      t.merge(Seq((0L, "upd0"), (5L, "upd5"), (100L, "new0"), (101L, "new1"))
        .toDF("id", "v"), "id")
      val after = lineage(t)
      Seq(0L, 5L).foreach { i =>
        assert(after(i)._1 == before(i)._1, s"updated row $i keeps its _row_id")
        assert(after(i)._2 > before(i)._2, s"updated row $i re-stamps last-updated")
      }
      (1L until 10L).filter(_ != 5L).foreach(i =>
        assert(after(i) == before(i), s"untouched row $i unchanged"))
      val freshIds = Seq(100L, 101L).map(after(_)._1)
      assert(freshIds.forall(_ >= 10L), "inserted rows draw fresh ids past the old blocks")
      assert(freshIds.distinct.size == 2)
      (t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toMap, after)
    }
    assert(driver == distributed, "both MERGE plans give the same rows and lineage")
  }

  test("MoR update re-appends updated copies that KEEP their _row_id") {
    val t = IceLite.createFrom(spark, scratch("mor_upd"),
      Seq((0L, "x", 0)).toDF("id", "v", "n"),
      properties = Map("write.update.mode" -> "merge-on-read",
        "write.delete.mode" -> "merge-on-read"))
    t.append((0L until 12L).map(i => (i, s"a$i", 0)).toDF("id", "v", "n").coalesce(1))
    val before = lineage(t)
    t.update(col("id") >= 9L, Map("n" -> lit(1)))
    val after = lineage(t)
    after.foreach { case (id, (rid, _)) => assert(rid == before(id)._1,
      s"row $id identity survives the MoR update") }
    (9L until 12L).foreach(i => assert(after(i)._2 > before(i)._2))
    (0L until 9L).foreach(i => assert(after(i) == before(i)))
  }

  test("row lineage crosses the Iceberg export/adopt boundary") {
    val loc = scratch("export")
    val t = IceLite.createFrom(spark, loc, Seq((0L, "x", 0)).toDF("id", "v", "n"),
      properties = Map("write.delete.mode" -> "merge-on-read"))
    t.append((0L until 20L).map(i => (i, s"a$i", 0)).toDF("id", "v", "n")
      .repartition(1).sortWithinPartitions("id"))
    t.delete(col("id") % 5 === 0)
    t.update(col("id") >= 18L, Map("n" -> lit(9)))
    val expected = lineage(t)
    val mj = IcebergExport.export(t, s"$loc/exported")
    val metaText = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(mj)), "UTF-8")
    // the export assigns fresh blocks to its (rewritten) files, so its
    // next-row-id is the END of those blocks — at or past the source's
    val exportedNext = "\"next-row-id\": (\\d+)".r
      .findFirstMatchIn(metaText).map(_.group(1).toLong)
    assert(exportedNext.exists(_ >= t.meta.nextRowId),
      s"lineage-bearing export must carry next-row-id, got $exportedNext")
    assert(metaText.contains("\"first-row-id\""),
      "v3 snapshots must declare their first-row-id")
    assert(metaText.contains("\"format-version\": 3"))
    // the materialized lineage columns are metadata, not data: the
    // foreign read surfaces only the schema's columns
    assert(IcebergInterop.read(spark, mj).columns.toSeq == Seq("id", "v", "n"))
    // adopt the export in place: ids keep serving, the counter resumes
    val a = IceLite.adopt(spark, mj, s"$loc/adopted")
    assert(lineage(a) == expected,
      "adopted rows must keep their (_row_id, _last_updated) verbatim")
    assert(a.meta.nextRowId >= t.meta.nextRowId,
      "the adopted counter resumes at or past the source's")
    a.append(Seq((100L, "z", 0)).toDF("id", "v", "n"))
    val la = lineage(a)
    assert(la(100L)._1 >= t.meta.nextRowId,
      "native appends after adoption draw fresh ids past the migrated blocks")
    expected.foreach { case (id, lin) => assert(la(id) == lin) }
  }

  test("pre-lineage rows export with FRESH inherited ids; the source keeps reading null") {
    val loc = scratch("prelin")
    val t = IceLite.createFrom(spark, loc, Seq((0L, "x")).toDF("id", "v"))
    t.append((0L until 10L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1))
    t.append((10L until 20L).map(i => (i, s"b$i")).toDF("id", "v").coalesce(1))
    // forge an OLD-WRITER state: strip the second file's id block while
    // the counter stays at 10 — the shape a pre-lineage metadata version
    // (or a REST-only writer's commit) leaves behind: lineage is ON
    // (nextRowId > 0) but one live file owns no block
    val (v, m) = t.versionedMeta
    val snaps = m.snapshots.map { s =>
      s.withListing(FileListing(s.files.manifests,
        s.files.tail.map(f =>
          if (f.firstRowId.exists(_ >= 10L)) f.copy(firstRowId = None) else f),
        t.manifestIO))
    }
    val forged = m.copy(snapshots = snaps, nextRowId = 10L)
    t.store.createExclusive(
      new org.apache.hadoop.fs.Path(loc, s"metadata/v${v + 1}.json"),
      MetaJson.toJson(forged))
    IceLite.swapHintForward(t.store,
      new org.apache.hadoop.fs.Path(loc, s"metadata/${IceLite.HINT}"), v + 1)
    val t2 = IceLite.load(spark, loc)
    val srcLin = t2.readRowLineage().select(col("id"), col(IceLite.RowIdCol))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    (0L until 10L).foreach(i => assert(srcLin(i).contains(i)))
    (10L until 20L).foreach(i => assert(srcLin(i).isEmpty,
      s"pre-lineage row $i must read null _row_id in the source"))
    // the export is a REWRITE: every exported file gets a first_row_id
    // block, so never-assigned rows pick up fresh INHERITED ids in any
    // spec-conformant reader (same as compact() rewriting them) — the
    // export is a new lineage epoch for those rows, while lineaged rows
    // keep their materialized ids verbatim
    val mj = IcebergExport.export(t2, s"$loc/exported")
    val a = IceLite.adopt(spark, mj, s"$loc/adopted")
    val al = lineage(a)
    assert(al.size == 20)
    (0L until 10L).foreach(i => assert(al(i)._1 == i,
      s"lineaged row $i keeps its materialized id across export/adopt"))
    val fresh = (10L until 20L).map(al(_)._1)
    assert(fresh.toSet.size == 10, "fresh inherited ids are distinct")
    assert(fresh.forall(_ >= 10L),
      s"fresh ids must be disjoint from the source's assigned blocks, got $fresh")
  }

  test("changelog lineage mode: an update's delete+insert pair shares its _row_id") {
    val loc = scratch("cdc")
    val t = IceLite.createFrom(spark, loc, Seq((0L, "x", 0)).toDF("id", "v", "n"))
    t.append((0L until 10L).map(i => (i, s"a$i", 0)).toDF("id", "v", "n")
      .coalesce(1))                                            // v1
    t.update(col("id") === 7L, Map("n" -> lit(1)))             // v2 CoW
    val ch = t.readChangesBetween(1, t.meta.currentSnapshot.get.id,
      rowLineage = true)
    assert(ch.columns.toSeq.takeRight(4) == Seq(IceLite.RowIdCol,
      IceLite.LastUpdatedCol, "_change_type", "_commit_version"))
    val rows = ch.select(col("id"), col(IceLite.RowIdCol),
      col(IceLite.LastUpdatedCol), col("n"), col("_change_type")).collect()
    assert(rows.length == 2,
      s"only the updated row surfaces (carried rows cancel on identity), got ${rows.toSeq}")
    val del = rows.find(_.getString(4) == "delete").get
    val ins = rows.find(_.getString(4) == "insert").get
    assert(del.getLong(0) == 7L && ins.getLong(0) == 7L)
    assert(del.getLong(1) == ins.getLong(1),
      "the update's delete+insert pair shares one stable _row_id")
    assert(ins.getLong(2) > del.getLong(2),
      "the insert side carries the update commit's stamp")
    assert(del.getInt(3) == 0 && ins.getInt(3) == 1)
    // a MoR delete step surfaces the dead row's identity too
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    val v2 = t.meta.currentSnapshot.get.id
    t.delete(col("id") === 3L)
    val morCh = t.readChangesBetween(v2, t.meta.currentSnapshot.get.id,
      rowLineage = true)
      .select(col("id"), col(IceLite.RowIdCol), col("_change_type")).collect()
    assert(morCh.length == 1 && morCh.head.getLong(0) == 3L &&
      morCh.head.getString(2) == "delete")
    // the append assigned ids 0..9 in input order; CoW preserved them
    assert(morCh.head.getLong(1) == 3L,
      "the MoR-deleted row reports its stable _row_id")
  }

  test("lineage round-trips the metadata serde (JSON tail + avro chunks)") {
    val loc = scratch("serde")
    val t = IceLite.createFrom(spark, loc, Seq((0L, "x")).toDF("id", "v"))
    t.append((0L until 10L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1))
    val expected = lineage(t)
    // reload from disk: frid/nextRowId must have been persisted
    val t2 = IceLite.load(spark, loc)
    assert(lineage(t2) == expected)
    assert(t2.meta.nextRowId == 10L)
    val mj = MetaJson.toJson(t2.meta)
    assert(MetaJson.fromJson(mj, t2.manifestIO).nextRowId == 10L)
  }
}
