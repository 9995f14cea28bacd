package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.icelite.{DeleteFile, DeleteIndex, IceLite}

/** Merge-on-read delete index: the driver/broadcast payload must be
  * O(delete files), never O(deleted positions) — the scale contract for
  * deletion vectors (reference README.md:1105–1121). */
class MorIndexSpec extends SparkSpec {

  test("DeleteIndex resolves exactly one data file's sorted positions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("mor_idx").toString + "/del"
    val rows = Seq(
      ("file:/data/a.parquet", 5L), ("file:/data/a.parquet", 1L),
      ("file:/data/b.parquet", 7L),
      ("file:/data/c.parquet", 0L), ("file:/data/c.parquet", 9L),
      ("file:/data/c.parquet", 3L))
    rows.toDF("file_path", "pos").sort("file_path", "pos")
      .write.parquet(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    val idx = DeleteIndex.build(parts.map(DeleteFile(_, 0L)), spark)
    assert(idx.positionsFor(UTF8String.fromString("file:/data/a.parquet"))
      .toSeq == Seq(1L, 5L))
    assert(idx.positionsFor(UTF8String.fromString("file:/data/c.parquet"))
      .toSeq == Seq(0L, 3L, 9L))
    // unknown file: empty, alive — deletes only ever suppress recorded rows
    assert(idx.positionsFor(UTF8String.fromString("file:/data/zz.parquet")).isEmpty)
  }

  /** MoR update × compaction interplay: compacting reads THROUGH the
    * position masks, so the rewritten files carry only the surviving row
    * versions — the masked originals must not resurrect, and the delete
    * files retire with the commit. */
  test("compaction after a MoR update keeps updated values and drops the masks") {
    import spark.implicits._
    val loc = Files.createTempDirectory("mor_upd_compact").toString + "/t"
    val df = spark.range(0, 500).toDF("id").withColumn("v", col("id") * 2)
    val t = IceLite.createFrom(spark, loc, df,
      properties = Map("write.update.mode" -> "merge-on-read"))
    t.append(df)
    t.update(col("id") % 5 === 0, Map("v" -> lit(-1L)))
    assert(t.meta.currentSnapshot.get.deleteFiles.nonEmpty, "update must be MoR")
    val before = t.read().select("id", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    t.compact(3)
    val snap = t.meta.currentSnapshot.get
    assert(snap.deleteFiles.isEmpty, "compaction must retire the position masks")
    val after = t.read().select("id", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before, "compaction changed visible content")
    assert(after.count(_._2 == -1L) == 100, "updated rows lost in compaction")
    assert(after.size == 500, "row versions resurrected or dropped")
  }

  test("MoR read broadcast is O(delete files): paths only, no plan-time job") {
    val loc = Files.createTempDirectory("mor_idx_scale").toString + "/t"
    val t = IceLite.createFrom(spark, loc, Tables.orders(spark, sf),
      properties = Map("write.delete.mode" -> "merge-on-read"))
    t.append(Tables.orders(spark, sf))
    t.delete(col("o_orderkey") % 3 === 0) // ~1/3 of all rows MoR-deleted
    val delFiles = t.meta.currentSnapshot.get.deleteFiles
    assert(delFiles.nonEmpty)
    val deletedRows = delFiles.map(_.rows).sum
    assert(deletedRows > 100, s"need a position-heavy delete, got $deletedRows")

    // building the read plan must not run any Spark job (the unbounded
    // design collected every delete position to the driver right here)
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val df =
      try {
        val df0 = t.read()
        org.apache.spark.sql.graft.SparkShims.waitForListenerBus(spark)
        df0
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 0, s"plan construction ran ${jobs.get()} Spark job(s)")

    // the broadcast index carries delete-file paths only: entries scale
    // with |delete files|, independent of the thousands of deleted rows
    val indexes = df.queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.collect { case pl: graft.functions.PositionLive => pl.index.value }
    }.flatten
    assert(indexes.nonEmpty, "PositionLive filter missing from the MoR read plan")
    val idx = indexes.head
    assert(idx.deleteFiles.toSet == delFiles.map(_.path).toSet)

    // and the answer is still right
    val expected = Tables.orders(spark, sf).filter(col("o_orderkey") % 3 =!= 0).count()
    assert(df.count() == expected)
  }
}
