package graft

import java.nio.file.Files
import java.sql.Date

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.icelite.{IceLite, IceLiteTable}

/** The two IceLite MERGE plans: a source of local rows is collected and
  * planned on the driver; any other source, or any source under
  * `spark.sql.autoBroadcastJoinThreshold=-1`, keeps the distributed plan.
  * Both must produce the same table; the driver plan must stay lean. */
class MergePlanSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh = Files.createTempDirectory("mergeplan_wh").toString

  private def initCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.ilmerge", "graft.icelite.connector.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ilmerge.warehouse", wh)
  }

  private val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_totalprice", DecimalType(12, 2)), StructField("o_orderdate", DateType)))

  private def orders(keys: Seq[Long], tag: Long): java.util.List[Row] = keys.map(k =>
    Row(k, k % 7 + tag, java.math.BigDecimal.valueOf(k * 3 + tag, 2),
      Date.valueOf(java.time.LocalDate.of(1992 + (k % 5).toInt, 1 + (k % 12).toInt, 1))))
    .asJava

  /** A years-partitioned merge-on-read table holding keys 0–189 (190–199
    * written, then deleted merge-on-read). */
  private def ordersTable(ns: String): String = {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ilmerge.$ns")
    spark.sql(s"""CREATE TABLE ilmerge.$ns.t (o_orderkey BIGINT, o_custkey BIGINT,
                    o_totalprice DECIMAL(12,2), o_orderdate DATE)
                  PARTITIONED BY (years(o_orderdate))
                  TBLPROPERTIES ('write.delete.mode'='merge-on-read',
                                 'write.update.mode'='merge-on-read')""")
    spark.createDataFrame(orders(0L until 200L, 0), ordersSchema)
      .createOrReplaceTempView(s"${ns}_seed")
    spark.sql(s"INSERT INTO ilmerge.$ns.t SELECT * FROM ${ns}_seed")
    spark.sql(s"DELETE FROM ilmerge.$ns.t WHERE o_orderkey >= 190")
    s"ilmerge.$ns.t"
  }

  private def sqlMerge(table: String, view: String): Unit =
    spark.sql(s"""MERGE INTO $table t USING $view s ON t.o_orderkey = s.o_orderkey
                  WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")

  private def lastNote(t: IceLiteTable): String = t.meta.metadataLog.last.note

  /** Every live row with its lineage, sorted by the first column. */
  private def withLineage(t: IceLiteTable): Seq[Row] =
    t.readRowLineage().collect().toSeq.sortBy(r => Option(r.get(0)).map(_.toString).getOrElse(""))

  test("a SQL MERGE of 30 local rows into a partitioned merge-on-read table runs at most 5 Spark jobs") {
    initCatalog()
    val table = ordersTable("jobs")
    // 15 keys update live rows, 15 keys are new
    spark.createDataFrame(orders((100L until 115L) ++ (1000L until 1015L), 1), ordersSchema)
      .createOrReplaceTempView("jobs_src")
    val jobs = jobsOf(sqlMerge(table, "jobs_src"))
    info(s"Spark jobs: $jobs")
    assert(jobs <= 5, s"the MERGE ran $jobs Spark jobs")
    val t = new graft.icelite.Catalog(spark, wh).loadTable("jobs", "t")
    assert(lastNote(t).contains("(driver plan)"), lastNote(t))
    val rows = spark.sql(s"SELECT o_orderkey, o_custkey FROM $table").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size == 190 + 15)
    assert((100L until 115L).forall(k => rows(k) == k % 7 + 1), "matched rows must update")
    assert((1000L until 1015L).forall(k => rows(k) == k % 7 + 1), "new keys must insert")
    assert(rows(5L) == 5L, "unmatched target rows stay")
  }

  test("driver and distributed plans give one table on a partitioned merge-on-read MERGE") {
    initCatalog()
    val (driver, distributed) = onBothMergePlans { plan =>
      val table = ordersTable(s"both_$plan")
      // keys 185–194 straddle the merge-on-read deleted range
      spark.createDataFrame(orders((185L until 195L) ++ (3000L until 3005L), 2), ordersSchema)
        .createOrReplaceTempView(s"both_src_$plan")
      sqlMerge(table, s"both_src_$plan")
      val t = new graft.icelite.Catalog(spark, wh).loadTable(s"both_$plan", "t")
      assert(lastNote(t).contains(s"($plan plan)"), lastNote(t))
      withLineage(t)
    }
    assert(driver == distributed)
    assert(driver.size == 190 + 10)
  }

  test("a null source key is inserted on both plans") {
    val (driver, distributed) = onBothMergePlans { plan =>
      val t = IceLite.createFrom(spark, Files.createTempDirectory(s"mnull_$plan").toString + "/t",
        Seq((0L, "x")).toDF("id", "v"))
      t.append((0L until 10L).map(i => (Option(i), s"a$i")).toDF("id", "v"))
      t.merge(Seq((Option.empty[Long], "n"), (Some(3L), "u"), (Some(20L), "i")).toDF("id", "v"), "id")
      assert(lastNote(t).contains(s"($plan plan)"), lastNote(t))
      t.read().collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1)))
        .toSeq.sortBy(_.toString)
    }
    assert(driver == distributed)
    assert(driver.contains((None, "n")) && driver.contains((Some(3L), "u")) &&
      driver.contains((Some(20L), "i")) && driver.size == 12, s"got $driver")
  }

  test("a duplicate source key is rejected on both plans") {
    onBothMergePlans { plan =>
      val t = IceLite.createFrom(spark, Files.createTempDirectory(s"mdup_$plan").toString + "/t",
        Seq((0L, "x")).toDF("id", "v"))
      t.append((0L until 10L).map(i => (i, s"a$i")).toDF("id", "v"))
      val before = t.meta.currentSnapshotId
      val e = intercept[RuntimeException](
        t.merge(Seq((3L, "a"), (3L, "b"), (30L, "c")).toDF("id", "v"), "id"))
      assert(e.getMessage.contains("duplicate source rows"), e.getMessage)
      // null keys count as one group, as the distributed check groups them
      val n = intercept[RuntimeException](t.merge(
        Seq((Option.empty[Long], "a"), (Option.empty[Long], "b")).toDF("id", "v"), "id"))
      assert(n.getMessage.contains("duplicate source rows"), n.getMessage)
      assert(t.meta.currentSnapshotId == before, s"$plan plan committed a rejected MERGE")
    }
  }

  test("string and date keys merge alike on both plans") {
    val (driver, distributed) = onBothMergePlans { plan =>
      val dir = Files.createTempDirectory(s"mkeys_$plan").toString
      val byName = IceLite.createFrom(spark, dir + "/s", Seq(("k", 0)).toDF("k", "v"))
      byName.append((0 until 10).map(i => (s"key$i", i)).toDF("k", "v"))
      byName.merge(Seq(("key3", 30), ("keyé", 40), ("new", 50)).toDF("k", "v"), "k")
      assert(lastNote(byName).contains(s"($plan plan)"), lastNote(byName))
      val day = (i: Int) => Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong))
      val byDay = IceLite.createFrom(spark, dir + "/d", Seq((day(0), 0)).toDF("d", "v"))
      byDay.append((0 until 10).map(i => (day(i), i)).toDF("d", "v"))
      byDay.merge(Seq((day(4), 40), (day(40), 400)).toDF("d", "v"), "d")
      assert(lastNote(byDay).contains(s"($plan plan)"), lastNote(byDay))
      (withLineage(byName), withLineage(byDay))
    }
    assert(driver == distributed)
    val names = driver._1.map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(names("key3") == 30 && names("keyé") == 40 && names("new") == 50 &&
      names.size == 12, s"got $names")
    val days = driver._2.map(r => r.getDate(0).toString -> r.getInt(1)).toMap
    assert(days("2024-01-05") == 40 && days("2024-02-10") == 400 && days.size == 11, s"got $days")
  }

  test("an insert-only MERGE keeps every data file and inserts only unmatched keys") {
    onBothMergePlans { plan =>
      val t = IceLite.createFrom(spark, Files.createTempDirectory(s"mins_$plan").toString + "/t",
        Seq((0L, "x")).toDF("id", "v"))
      (0 until 3).foreach(b =>
        t.append((b * 10L until b * 10L + 10L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1)))
      val before = t.meta.currentSnapshot.get.dataFiles.map(_.path).toSet
      val src = Seq((5L, "dup"), (15L, "dup"), (40L, "new"), (41L, "new")).toDF("id", "v")
      t.mergeClauses(src, "id", "id", matched = Seq(),
        notMatched = Seq(IceLite.MergeInsert(None, Map("id" -> col("_s_id"), "v" -> col("_s_v")))))
      val after = t.meta.currentSnapshot.get.dataFiles.map(_.path).toSet
      assert(before.subsetOf(after), s"$plan plan replaced data files: ${before -- after}")
      assert(lastNote(t).contains("rewrote 0 files"), lastNote(t))
      val rows = t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows.size == 32 && rows(5L) == "a5" && rows(15L) == "a15" && rows(40L) == "new",
        s"got $rows")
    }
  }

  test("a small file source takes the distributed plan") {
    val dir = Files.createTempDirectory("mfile").toString
    val t = IceLite.createFrom(spark, dir + "/t", Seq((0L, "x")).toDF("id", "v"))
    t.append((0L until 10L).map(i => (i, s"a$i")).toDF("id", "v"))
    Seq((3L, "u"), (20L, "i")).toDF("id", "v").write.parquet(dir + "/src")
    t.merge(spark.read.parquet(dir + "/src"), "id")
    assert(lastNote(t).contains("(distributed plan)"), lastNote(t))
    val rows = t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 11 && rows(3L) == "u" && rows(20L) == "i" && rows(5L) == "a5",
      s"got $rows")
  }
}
