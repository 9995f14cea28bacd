package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per `sbt test` fork). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** The engine session at 4 cores; saveAsTable targets (BucketingSpec)
    * must not land in the repo cwd. */
  lazy val session: SparkSession = Engine.session(4, warehouseDir = Some(
    java.nio.file.Files.createTempDirectory("graft_spark_wh").toString))
}
