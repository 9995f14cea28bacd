package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

/** Minimal bridge into Spark's `private[sql]` surface, used by the IceLite
  * DSv2 connector (the same trick every third-party table format uses to
  * plug logical plans in and out of a live session). Kept to three
  * one-liners so the private-API exposure is auditable at a glance.
  */
object SparkShims {

  /** A DataFrame over an already-analyzed logical plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** The analyzed logical plan under a DataFrame (for re-rooting a frame
    * in another session). */
  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[ClassicDataset[Row]].queryExecution.analyzed

  /** Collect a (small, driver-local) DataFrame as InternalRows — the shape
    * DSv2 LocalScan serves. */
  def collectInternal(df: DataFrame): Array[InternalRow] =
    df.asInstanceOf[ClassicDataset[Row]].queryExecution.executedPlan.executeCollect()

  /** The (possibly unresolved) expression under a Column — for pattern-
    * matching simple comparison shapes into manifest stat filters. Forces
    * the ColumnNode → Catalyst conversion (ExpressionUtils alone returns a
    * lazy ColumnNodeExpression wrapper). */
  def toExpression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** A Column over a raw Catalyst expression (e.g. a custom codegen
    * Predicate with UnresolvedAttribute children, resolved at analysis). */
  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** A connector-side literal (the value a v2 ColumnDefaultValue carries
    * as its EXISTS_DEFAULT) — LiteralValue is `private[sql]`. */
  def literalValue(v: Any, dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.connector.expressions.Literal[Any] =
    org.apache.spark.sql.connector.expressions.LiteralValue(v, dt)

  /** A Catalyst predicate as the DSv2 Predicate a scan builder reports as
    * pushed — the translator is `private[sql]`. */
  def v2Predicate(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    org.apache.spark.sql.execution.datasources.v2.DataSourceV2Strategy.translateFilterV2(e)

  /** Drain the listener bus — lets tests assert "zero jobs ran" without
    * racing event delivery. */
  def waitForListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The Spark schema of one parquet file, read from its footer on the
    * driver exactly as Spark's schema inference reads it: the same footer
    * reader (row groups skipped) and `readSchemaFromFooter` with a
    * converter built from the session's SQLConf. */
  def parquetFooterSchema(spark: SparkSession, file: org.apache.hadoop.fs.FileStatus,
      conf: org.apache.hadoop.conf.Configuration): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val meta = ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf),
      org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Whether a file index skips this name (`.`/`_` prefixes other than
    * the parquet summary files, in-flight copies). */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** A SERIALIZABLE parquet row reader over Spark's own (vectorized)
    * parquet machinery: build once on the driver for a given physical
    * read schema, ship to executors, call with (path, fileLength).
    * Absent columns read as null (by-name resolution), and ColumnarBatch
    * results are unwrapped so callers always see InternalRows — the DSv2
    * streaming source's per-file readers are built on this instead of
    * hand-rolling a parquet record materializer. */
  def parquetRowReader(spark: SparkSession,
      requiredSchema: org.apache.spark.sql.types.StructType)
      : (String, Long) => Iterator[InternalRow] = {
    val fmt = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val fn = fmt.buildReaderWithPartitionValues(
      spark.asInstanceOf[ClassicSparkSession],
      dataSchema = requiredSchema,
      partitionSchema = new org.apache.spark.sql.types.StructType(),
      requiredSchema = requiredSchema,
      filters = Nil,
      // rows, not ColumnarBatches — the vectorized reader still drives
      // the decode, it just unwraps per-row at the boundary
      options = Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> "false"),
      hadoopConf = spark.sessionState.newHadoopConf())
    (path: String, len: Long) => {
      val pf = org.apache.spark.sql.execution.datasources.PartitionedFile(
        InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPathString(path), 0L, len)
      fn(pf).asInstanceOf[Iterator[Any]].flatMap {
        case b: org.apache.spark.sql.vectorized.ColumnarBatch =>
          scala.jdk.CollectionConverters.IteratorHasAsScala(b.rowIterator()).asScala
        case r: InternalRow => Iterator.single(r)
      }
    }
  }

  /** A SERIALIZABLE parquet writer factory over Spark's own parquet
    * write path (the codec and settings a batch `df.write.parquet` gets,
    * writer `options` applied as `df.write.option` applies them): build
    * once on the driver, ship to executors, open per-file writers with
    * `newInstance(path, schema, taskAttemptContext)` against the returned
    * job configuration — IceLite's [[graft.icelite.TaskWriter]] is built
    * on this instead of hand-rolling a parquet encoder. The config is
    * returned alongside because `prepareWrite` records the write support +
    * compression INTO it; a fresh conf would miss them. */
  def parquetWriterFactory(spark: SparkSession,
      dataSchema: org.apache.spark.sql.types.StructType,
      options: Map[String, String] = Map.empty)
      : (org.apache.spark.sql.execution.datasources.OutputWriterFactory,
         org.apache.spark.util.SerializableConfiguration) = {
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConfWithOptions(options))
    val fmt = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val factory = fmt.prepareWrite(
      spark.asInstanceOf[ClassicSparkSession], job, options, dataSchema)
    (factory, new org.apache.spark.util.SerializableConfiguration(job.getConfiguration))
  }

  /** Run `body` over `df`'s internal rows as one tracked SQL execution,
    * as a Dataset action runs: execution listeners fire at its end, so an
    * `Observation` on `df` completes (a bare `toRdd` job never would). */
  def withExecution[T](df: DataFrame, name: String)(
      body: org.apache.spark.rdd.RDD[InternalRow] => T): T = {
    val qe = df.asInstanceOf[ClassicDataset[Row]].queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some(name))(body(qe.toRdd))
  }

  /** Add written bytes and records to the running task's output metrics
    * (the `OutputMetrics` setters are `private[spark]`). */
  def addTaskOutput(bytes: Long, records: Long): Unit =
    Option(org.apache.spark.TaskContext.get()).foreach { c =>
      val m = c.taskMetrics().outputMetrics
      m.setBytesWritten(m.bytesWritten + bytes)
      m.setRecordsWritten(m.recordsWritten + records)
    }

  /** Undo Hive-style partition-value escaping (`ExternalCatalogUtils` is
    * `private[sql]`): the Iceberg export reads partition values back from
    * the directory names its `partitionBy` write laid down. */
  def unescapePathName(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(v)
}
