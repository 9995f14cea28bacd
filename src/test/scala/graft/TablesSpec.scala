package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.SparkShims

/** Fixture resolution (`graft.Tables`): the schema comes from one footer
  * read on the driver and must be the schema Spark's own inference finds;
  * resolving runs no Spark job; and the relation memo follows the files,
  * not the path. */
class TablesSpec extends SparkSpec {

  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  test("resolved schemas equal Spark's inference for every fixture table") {
    val s = spark.newSession()
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for (n <- names)
      assert(Tables.raw(s, sf, n).schema == s.read.parquet(s"$sf/$n.parquet").schema, n)
  }

  test("events resolves under nanosAsLong exactly as Spark's inference does") {
    val s = spark.newSession()
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val want = s.read.parquet(s"$sf/events.parquet").schema
    assert(Tables.raw(s, sf, "events").schema == want)
    // the loader's own fix-up still sees the same column type
    assert(Tables.events(s, sf).schema("ts").dataType.typeName == "timestamp")
  }

  test("a Spark-written multi-part directory resolves as Spark infers it") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tables_parts").toString
    Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5), (4L, "d", 4.5))
      .toDF("k", "s", "x").repartition(3).write.parquet(s"$dir/orders.parquet")
    val parts = new java.io.File(s"$dir/orders.parquet").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parts > 1, s"want a multi-part directory, got $parts part(s)")
    val s = spark.newSession()
    val df = Tables.orders(s, dir)
    assert(df.schema == s.read.parquet(s"$dir/orders.parquet").schema)
    assert(df.count() == 4)
  }

  test("resolving every fixture table runs no Spark job") {
    val s = spark.newSession() // empty memo: every table resolves afresh
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    SparkShims.waitForListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      Seq(Tables.region _, Tables.nation _, Tables.customer _, Tables.supplier _,
        Tables.part _, Tables.orders _, Tables.lineitem _, Tables.events _,
        Tables.documents _, Tables.embeddings _).foreach(_(s, sf))
      SparkShims.waitForListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 0, s"resolution ran ${jobs.get()} Spark job(s)")
  }

  test("the memo serves an unchanged fixture and re-reads one rewritten in place") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tables_rewrite").toString
    val path = s"$dir/orders.parquet"
    (1L to 10L).toDF("o_orderkey").write.parquet(path)
    val first = Tables.orders(spark, dir)
    assert(first.count() == 10)
    assert(Tables.orders(spark, dir) eq first, "an unchanged fixture must hit the memo")
    (1L to 25L).toDF("o_orderkey").write.mode("overwrite").parquet(path)
    assert(Tables.orders(spark, dir).count() == 25)
  }
}
