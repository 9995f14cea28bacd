package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkShims
import org.apache.spark.sql.types.Decimal
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._
import graft.icelite.IcebergTransforms

/** The codegen'd expressions of `graft.functions` call this project's
  * Scala methods by name from generated Java, which the compiler does not
  * check. Spark falls back to interpreted evaluation when generated code
  * fails to compile, so a stale name would only log a WARN and every
  * ordinary test would stay green. Here each expression runs in a query
  * with that fallback off (`spark.sql.codegen.fallback=false`,
  * `factoryMode=CODEGEN_ONLY`), so a stale name fails the query, and its
  * values are checked against the Scala method itself. `PositionLive` has
  * its own such case in DeletionVectorSpec. */
class CodegenNoFallbackSpec extends SparkSpec {

  private val n = 64
  private val bounds = Array(10.0, 20.0, 40.0)
  private def e(c: Column): Expression = SparkShims.toExpression(c)
  private def utf8(s: String) = UTF8String.fromString(s)

  // (expression and the method its generated code names, the column over
  // `spark.range(n)`'s `id`, the expected value for an id)
  private def cases: Seq[(String, Column, Long => Any)] = {
    val lineage = spark.sparkContext.broadcast(new LineageIndex(
      (0 until 3).map(k => s"file:/f$k" -> Array(k * 100L, k + 1L)).toMap))
    val word = concat(lit("é-"), col("id").cast("string"))
    Seq(
      ("RollingFingerprint.hash", SparkShims.columnOf(RollingFingerprint(e(word))),
        (i: Long) => RollingFingerprint.hash(utf8(s"é-$i"))),
      ("NfcNormalize.nfc", SparkShims.columnOf(NfcNormalize(e(word))),
        (i: Long) => NfcNormalize.nfc(utf8(s"é-$i")).toString),
      ("IcebergBucket bucketLong (bigint)",
        SparkShims.columnOf(IcebergBucket(e(col("id")), 16)),
        (i: Long) => IcebergTransforms.bucketLong(i, 16)),
      ("IcebergBucket bucketLong (int)",
        SparkShims.columnOf(IcebergBucket(e(col("id").cast("int")), 16)),
        (i: Long) => IcebergTransforms.bucketLong(i, 16)),
      ("IcebergBucket bucketString",
        SparkShims.columnOf(IcebergBucket(e(col("id").cast("string")), 16)),
        (i: Long) => IcebergTransforms.bucketString(utf8(i.toString), 16)),
      ("IcebergBucket bucketBytes",
        SparkShims.columnOf(IcebergBucket(e(col("id").cast("string").cast("binary")), 16)),
        (i: Long) => IcebergTransforms.bucketBytes(i.toString.getBytes("UTF-8"), 16)),
      ("IcebergBucket bucketDecimal",
        SparkShims.columnOf(IcebergBucket(e(col("id").cast("decimal(10,2)")), 16)),
        (i: Long) => IcebergTransforms.bucketDecimal(Decimal(BigDecimal(i), 10, 2), 16)),
      ("QuantileBucket -> ZorderBuckets.bucket",
        SparkShims.columnOf(QuantileBucket(e(col("id").cast("double")), bounds)),
        (i: Long) => ZorderBuckets.bucket(i.toDouble, bounds)),
      ("FileLineage -> LineageIndex.lookup",
        SparkShims.columnOf(FileLineage(
          e(concat(lit("file:/f"), (col("id") % 4).cast("string"))), lineage,
          LineageIndex.Sequence)),
        (i: Long) => if (i % 4 == 3) null else i % 4 + 1))
  }

  test("project expressions named from generated code compile with no interpreted fallback") {
    val keys = Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      for ((name, c, want) <- cases) {
        // a range, not local rows: a projection over a local relation is
        // folded on the driver, outside generated code
        val got = spark.range(n).select(col("id"), c.as("v")).collect()
          .map(r => r.getLong(0) -> r.get(1)).toMap
        assert(got.size == n, name)
        (0L until n).foreach(i => assert(got(i) == want(i), s"$name at $i"))
      }
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
