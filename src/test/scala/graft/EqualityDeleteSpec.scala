package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import graft.icelite.{IceLite, MetaJson}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Gate shared between EqualityDeleteSpec and a batch's value UDF (same
  * JVM in local mode): holds an upsert between its batch-id check and its
  * commit until a racing committer has claimed the same batch id. */
object EqUpsertRaceGate {
  @volatile var entered: CountDownLatch = _
  @volatile var go: CountDownLatch = _
}

/** Equality-delete (Iceberg v2 `kind="eq"`) semantics: sequence-number
  * scoping, re-insert survival, one-commit upserts, interaction with
  * positional deletes / compaction / changelog / time travel, and the
  * field-id contract under renames.
  */
class EqualityDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def scratch(n: String) = Files.createTempDirectory(s"eqspec_$n").toString + "/t"

  private def sample(from: Long, to: Long): DataFrame =
    spark.range(from, to).toDF("id")
      .withColumn("grp", (col("id") % 5).cast("int"))
      .withColumn("amount", (col("id") * 7 % 100).cast("double"))

  private def localFile(p: String) = new java.io.File(new org.apache.hadoop.fs.Path(p).toUri.getPath)

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  /** createFrom takes only the schema — seed the rows with one append. */
  private def mkTable(n: String, df: DataFrame) = {
    val t = IceLite.createFrom(spark, scratch(n), df)
    t.append(df)
    t
  }

  test("eq delete removes matching rows without scanning or rewriting data") {
    val t = mkTable("basic", sample(0, 100))
    val filesBefore = t.meta.currentSnapshot.get.dataFiles.map(_.path).toSet
    t.deleteEq(Seq(3L, 7L, 42L).toDF("id"))
    assert(ids(t.read()) == (0L until 100L).filterNot(Set(3L, 7L, 42L)))
    val snap = t.meta.currentSnapshot.get
    assert(snap.dataFiles.map(_.path).toSet == filesBefore, "no data file rewritten")
    assert(snap.deleteFiles.exists(_.kind == "eq"))
  }

  test("rows re-inserted after an eq delete survive (sequence scoping)") {
    val t = mkTable("reinsert", sample(0, 50))
    t.deleteEq(Seq(10L, 20L).toDF("id"))
    t.append(sample(10, 11).unionAll(sample(20, 21))) // re-insert both keys
    assert(ids(t.read()) == ((0L until 50L).filterNot(Set(10L, 20L)) ++ Seq(10L, 20L)).sorted,
      "re-inserted rows must not be killed by the older eq delete")
    // and the original delete still holds for rows never re-inserted
    t.deleteEq(Seq(10L).toDF("id"))
    assert(!ids(t.read()).contains(10L))
    assert(ids(t.read()).contains(20L))
  }

  test("eq deletes on one key set plan ONE anti-join and keep the sequence rule") {
    val t = mkTable("onejoin", sample(0, 30))
    t.deleteEq(Seq(5L, 6L).toDF("id"))  // kills 5 and 6
    t.append(sample(5, 6))               // re-inserts 5 after that delete
    t.upsertEq(Seq((7L, 2, 70.0)).toDF("id", "grp", "amount"), Seq("id"))
    t.deleteEq(Seq(5L).toDF("id"))      // kills the re-insert
    val df = t.read()
    val antiJoins = df.queryExecution.optimizedPlan.toString
      .linesIterator.count(_.contains("LeftAnti"))
    assert(antiJoins == 1, s"three eq commits on one key set: $antiJoins anti-joins")
    assert(ids(df) == (0L until 30L).filterNot(Set(5L, 6L)),
      "the re-insert of 5 dies to the later delete; 6 stays deleted")
    assert(df.filter(col("id") === 7L).select("amount").as[Double].collect().toSeq ==
      Seq(70.0), "the upsert replaced 7 exactly once")
  }

  test("upsertEq updates matched keys and inserts new ones in ONE commit") {
    val t = mkTable("upsert", sample(0, 10))
    val versions = t.meta.snapshots.size
    val src = Seq((5L, 1, 999.0), (6L, 1, 888.0), (100L, 0, 1.0))
      .toDF("id", "grp", "amount")
    t.upsertEq(src, Seq("id"))
    assert(t.meta.snapshots.size == versions + 1, "upsert is a single commit")
    val out = t.read().select("id", "amount").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(5L) == 999.0 && out(6L) == 888.0, "matched keys updated")
    assert(out(100L) == 1.0, "new key inserted")
    assert(out.size == 11)
  }

  test("eq and positional deletes compose on the same snapshot") {
    val t = mkTable("mixed", sample(0, 40))
    t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
    t.delete(col("id") === 1) // positional MoR
    t.deleteEq(Seq(2L).toDF("id"))
    assert(ids(t.read()) == (0L until 40L).filterNot(Set(1L, 2L)))
  }

  test("eq delete keys match by field id: rename after delete cannot break it") {
    val t = mkTable("rename", sample(0, 20))
    t.deleteEq(Seq(4L).toDF("id"))
    t.renameColumn("id", "row_id")
    assert(t.read().select("row_id").collect().map(_.getLong(0)).sorted.toSeq
      == (0L until 20L).filterNot(_ == 4L))
  }

  test("sequence numbers are monotone across commits; upsert shares one seq") {
    val t = mkTable("seq", sample(0, 10))
    t.append(sample(10, 20))
    t.upsertEq(sample(5, 15), Seq("id"))
    val snap = t.meta.currentSnapshot.get
    val seqs = snap.dataFiles.map(_.seq)
    assert(seqs.max > seqs.min, "appends advance the data sequence")
    val eq = snap.deleteFiles.filter(_.kind == "eq")
    assert(eq.nonEmpty)
    val upsertSeq = eq.map(_.seq).max
    assert(snap.dataFiles.map(_.seq).max == upsertSeq,
      "upsert's data files and its eq delete share a sequence number")
  }

  test("compaction materializes eq deletes and drops the delete files") {
    val t = mkTable("compact", sample(0, 60))
    t.deleteEq(Seq(5L, 15L).toDF("id"))
    t.compact(2)
    val snap = t.meta.currentSnapshot.get
    assert(snap.deleteFiles.isEmpty, "replace snapshot carries no delete files")
    assert(ids(t.read()) == (0L until 60L).filterNot(Set(5L, 15L)))
  }

  test("changelog reports eq-deleted rows as deletes; upsert as delete+insert") {
    val t = mkTable("cdc", sample(0, 10))
    val from = t.meta.currentSnapshotId.get
    t.deleteEq(Seq(3L).toDF("id"))
    t.upsertEq(Seq((4L, 4, 777.0)).toDF("id", "grp", "amount"), Seq("id"))
    val to = t.meta.currentSnapshotId.get
    val ch = t.readChangesBetween(from, to)
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ch == Set((3L, "delete"), (4L, "delete"), (4L, "insert")))
  }

  test("time travel to before the eq delete still shows the rows") {
    val t = mkTable("tt", sample(0, 10))
    val before = t.meta.currentSnapshotId.get
    t.deleteEq(Seq(0L, 1L).toDF("id"))
    assert(ids(t.readAsOf(before)) == (0L until 10L))
    assert(ids(t.read()) == (2L until 10L))
  }

  test("eq delete fields round-trip through the metadata JSON") {
    val t = mkTable("json", sample(0, 10))
    t.deleteEq(Seq(1L).toDF("id"))
    val m = t.meta
    val back = MetaJson.fromJson(MetaJson.toJson(m))
    assert(back == m)
    val del = back.currentSnapshot.get.deleteFiles.find(_.kind == "eq").get
    assert(del.eqFieldIds.nonEmpty && del.seq > 0)
  }

  test("time travel reads through the SNAPSHOT's schema (snapshot-scoped DDL)") {
    val t = mkTable("snapschema", sample(0, 10))
    val v1 = t.meta.currentSnapshotId.get
    t.renameColumn("amount", "price")
    t.addColumn("note", "STRING")
    t.append(sample(10, 12).withColumnRenamed("amount", "price")
      .withColumn("note", lit("n")))
    // live read: evolved schema
    assert(t.read().columns.toSeq == Seq("id", "grp", "price", "note"))
    // VERSION AS OF v1: the schema the table had THEN — old name, no note
    val old = t.readAsOf(v1)
    assert(old.columns.toSeq == Seq("id", "grp", "amount"),
      s"time travel must use the snapshot's schema, got ${old.columns.toSeq}")
    assert(old.count() == 10)
  }

  test("drop column: metadata-only, re-added name is a fresh field, guards hold") {
    val t = mkTable("dropcol", sample(0, 20))
    val filesBefore = t.meta.currentSnapshot.get.dataFiles.map(_.path).toSet
    t.dropColumn("grp")
    assert(!t.read().columns.contains("grp"))
    assert(t.meta.currentSnapshot.get.dataFiles.map(_.path).toSet == filesBefore,
      "drop rewrote data files")
    // same-name re-add gets a new field id → all NULL, no value bleed
    t.addColumn("grp", "INT")
    assert(t.read().filter(col("grp").isNotNull).count() == 0)
    // guards: eq-delete key, only column
    val t2 = mkTable("dropcol2", sample(0, 10))
    t2.deleteEq(Seq(1L).toDF("id"))
    val e = intercept[IllegalArgumentException](t2.dropColumn("id"))
    assert(e.getMessage.contains("equality delete"))
    t2.compact(1) // materializes the delete for the CURRENT snapshot...
    intercept[IllegalArgumentException](t2.dropColumn("id")) // ...history still holds it
    t2.expireSnapshots(System.currentTimeMillis() + 1000) // age out the old snapshots
    t2.dropColumn("id")
    assert(!t2.read().columns.contains("id"))
  }

  test("incremental read: appended-then-eq-deleted rows do not surface") {
    val t = mkTable("incr", sample(0, 10))
    val from = t.meta.currentSnapshotId.get
    t.append(sample(10, 20))
    t.deleteEq(Seq(12L).toDF("id"))
    val to = t.meta.currentSnapshotId.get
    assert(ids(t.readAppendedBetween(from, to)) == (10L until 20L).filterNot(_ == 12L))
  }

  test("eq delete matches NULL to NULL (Iceberg v2 null-safe semantics)") {
    // rows keyed by a nullable column, one of them NULL
    val df = Seq((1L, Option("a")), (2L, Option("b")), (3L, None: Option[String]))
      .toDF("id", "tag")
    val t = mkTable("nullkey", df)
    // a CDC delete of the NULL-keyed row must delete it, not no-op
    t.deleteEq(Seq(None: Option[String]).toDF("tag"))
    assert(ids(t.read()) == Seq(1L, 2L), "NULL key must match the NULL-keyed row")
    // and a non-NULL key still deletes exactly its row
    t.deleteEq(Seq(Option("a")).toDF("tag"))
    assert(ids(t.read()) == Seq(2L))
  }

  test("deleteEq on an empty table fails before writing any key files") {
    val loc = scratch("emptyeq")
    val t = IceLite.createFrom(spark, loc, sample(0, 1)) // schema only, no rows
    intercept[IllegalArgumentException](t.deleteEq(Seq(1L).toDF("id")))
    val delDir = new java.io.File(loc, "deletes")
    assert(!delDir.exists() || delDir.listFiles().isEmpty,
      s"empty-table deleteEq leaked key files: ${Option(delDir.listFiles()).mkString}")
  }

  test("dropping a bloom-filtered column removes its property; writes keep working") {
    val df = sample(0, 50).withColumn("uid", md5(col("id").cast("string")))
    val loc = scratch("bloomdrop")
    val t = IceLite.createFrom(spark, loc, df,
      properties = Map("write.parquet.bloom-filter-enabled.column.uid" -> "true"))
    t.append(df)
    t.dropColumn("uid")
    assert(!t.meta.properties.keys.exists(_.contains("bloom-filter")),
      "stale bloom property survived the drop")
    // the round-6 failure mode: any write after the drop died resolving
    // the dropped column's bloom property
    t.append(sample(50, 60))
    assert(t.read().count() == 60)
    t.compact(2)
    assert(t.read().count() == 60)
  }

  test("an eq upsert batch that loses its batch id to a racer drops only its own files") {
    val loc = scratch("eqrace")
    val seed = IceLite.createFrom(spark, loc, sample(0, 10))
    seed.append(sample(0, 10))
    // batch 0 commits an eq-delete file the lost batch must leave alone
    assert(seed.upsertEqIfNewBatch(0L, Seq((1L, 1, 11.0)).toDF("id", "grp", "amount"), Seq("id")))
    val committed = seed.meta.currentSnapshot.get
    val before = seed.read().orderBy("id").collect().toSeq
    assert(committed.deleteFiles.nonEmpty)
    EqUpsertRaceGate.entered = new CountDownLatch(1)
    EqUpsertRaceGate.go = new CountDownLatch(1)
    val gated = udf { (v: Double) =>
      EqUpsertRaceGate.entered.countDown()
      EqUpsertRaceGate.go.await(60, TimeUnit.SECONDS)
      v
    }
    val batch = Seq((2L, 2, 22.0)).toDF("id", "grp", "amount")
      .withColumn("amount", gated(col("amount")))
    val racer = Future(seed.upsertEqIfNewBatch(1L, batch, Seq("id")))
    try {
      assert(EqUpsertRaceGate.entered.await(60, TimeUnit.SECONDS), "batch never ran")
      // the racer: another handle lands batch 1 after the check passed
      IceLite.load(spark, loc)
        .setProperties(Map("streaming.last-committed-batch-id" -> "1"))
    } finally EqUpsertRaceGate.go.countDown()
    assert(!Await.result(racer, 2.minutes), "the lost batch must report a replay")
    val now = seed.meta.currentSnapshot.get
    assert(now.dataFiles.map(_.path).toSet == committed.dataFiles.map(_.path).toSet)
    assert(now.deleteFiles.map(_.path).toSet == committed.deleteFiles.map(_.path).toSet)
    (now.dataFiles.map(_.path) ++ now.deleteFiles.map(_.path)).foreach { p =>
      assert(localFile(p).exists(), s"committed file $p was removed")
    }
    assert(seed.read().orderBy("id").collect().toSeq == before,
      "rows deleted by batch 0 came back")
    // and the lost batch left nothing behind
    val onDisk = Seq("data", "deletes").flatMap { d =>
      Option(new java.io.File(loc, d).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).map(_.getCanonicalPath)
    }.toSet
    val referenced = (now.dataFiles.map(_.path) ++ now.deleteFiles.map(_.path))
      .map(localFile(_).getCanonicalPath).toSet
    assert(onDisk == referenced, s"stray files: ${onDisk -- referenced}")
  }
}
