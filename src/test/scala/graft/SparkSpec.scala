package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per `sbt test` fork). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` under both IceLite MERGE plans and returns both results,
    * driver plan first: at the default broadcast threshold a source of
    * local rows is planned on the driver, and `spark.sql.autoBroadcastJoinThreshold=-1`
    * forces the distributed plan. `body` gets the plan's name ("driver" or
    * "distributed", as the MERGE commit note spells it) to keep its tables
    * apart. */
  def onBothMergePlans[T](body: String => T): (T, T) = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val driver = body("driver")
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try (driver, body("distributed"))
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Spark jobs `body` starts, counted once the listener bus drains. */
  def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graft.SparkShims.waitForListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; org.apache.spark.sql.graft.SparkShims.waitForListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }
}

object SparkSpec {
  /** The engine session at 4 cores; saveAsTable targets (BucketingSpec)
    * must not land in the repo cwd. Codegen fallback is off: generated
    * code that fails to compile fails the query instead of silently
    * running interpreted, so every suite checks the codegen paths it
    * reaches. */
  lazy val session: SparkSession = {
    val s = Engine.session(4, warehouseDir = Some(
      java.nio.file.Files.createTempDirectory("graft_spark_wh").toString))
    s.conf.set("spark.sql.codegen.fallback", "false")
    s
  }
}
