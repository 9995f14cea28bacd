package graft.icelite

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.graft.SparkShims
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** One parquet file a write task wrote and closed: canonical path, size,
  * row count, partition tuple (spec-field name → value; a null or empty value
  * is spelled [[TaskWriter.DefaultPartition]], as Spark spells it),
  * field-id-keyed column bounds ([[Stats.fromFooter]]) and, for a
  * position-delete file, the bounds of its `file_path` column. */
final case class WrittenFile(path: String, bytes: Long, rows: Long,
    partition: Map[String, String],
    stats: Map[Int, ColumnStats], pathBounds: Option[(String, String)]) {
  def dataFile(schemaId: Int, specId: Int): DataFile =
    DataFile(path, rows, schemaId, specId, partition, stats)
}

/** One task's written files, in the order their entries take. */
final case class WrittenFiles(files: Seq[WrittenFile]) extends WriterCommitMessage

/** What a write task needs, SparkSession-free: the target directory, the
  * file schema, bound expressions from the input row to the file's
  * columns (`physExprs`) and to the partition-value strings
  * (`partExprs`, named `partNames`), and Spark's parquet writer factory
  * with the job conf it recorded its settings into. `clustered` input
  * arrives grouped by partition tuple, so a task keeps one file open;
  * otherwise it keeps one open per tuple it has seen (the fanout). */
final case class WriteLayout(dir: String, physSchema: StructType,
    physExprs: Seq[Expression], partExprs: Seq[Expression], partNames: Seq[String],
    clustered: Boolean, owf: OutputWriterFactory, conf: SerializableConfiguration)

/** IceLite's one parquet writer. It writes UUID-named files straight into
  * their final directory, one per partition tuple the task sees, and at
  * commit reads each footer back, in the task, into the file's manifest
  * entry ([[WrittenFile]]) — the way an Iceberg writer reports a file's
  * metrics when it closes it. Nothing is staged, listed or renamed: a
  * file that no commit references is an orphan, which
  * [[IceLiteTable.removeOrphanFiles]] reclaims after its grace period.
  *
  * The batch path runs it through [[TaskWriter.write]]; the streaming
  * sink hands it to Spark as its `DataWriter`. */
final class TaskWriter(layout: WriteLayout, partitionId: Int, attempt: Long)
    extends DataWriter[InternalRow] {

  private val physProj = UnsafeProjection.create(layout.physExprs)
  private val partProj = UnsafeProjection.create(layout.partExprs)
  private val ctx = new TaskAttemptContextImpl(layout.conf.value,
    new TaskAttemptID("icelite", 0, TaskType.MAP, partitionId, attempt.toInt))
  private val ext = layout.owf.getFileExtension(ctx)

  /** Every file opened, with its tuple, in opening order. */
  private val files = mutable.ArrayBuffer[(Seq[String], String)]()
  private val open = mutable.LinkedHashMap[Seq[String], OutputWriter]()
  private var lastKey: UnsafeRow = null
  private var current: OutputWriter = null

  private def writerFor(tuple: Seq[String]): OutputWriter =
    open.getOrElse(tuple, {
      if (layout.clustered) closeOpen()
      val path = f"${layout.dir}/$partitionId%05d-${UUID.randomUUID()}$ext"
      val w = layout.owf.newInstance(path, layout.physSchema, ctx)
      files += tuple -> path
      open(tuple) = w
      w
    })

  private def closeOpen(): Unit = { open.values.foreach(_.close()); open.clear() }

  override def write(row: InternalRow): Unit = {
    if (layout.partNames.isEmpty) {
      if (current == null) current = writerFor(Nil)
    } else {
      val key = partProj(row)
      if (lastKey == null || key != lastKey) {
        lastKey = key.copy()
        current = writerFor(layout.partNames.indices.map { i =>
          val v = if (key.isNullAt(i)) "" else key.getUTF8String(i).toString
          if (v.isEmpty) TaskWriter.DefaultPartition else v
        })
      }
    }
    current.write(physProj(row))
  }

  /** Entries ordered by partition tuple. */
  override def commit(): WrittenFiles = {
    closeOpen()
    WrittenFiles(files.toSeq
      .sortBy(_._1)(Ordering.Implicits.seqOrdering[Seq, String])
      .map { case (tuple, path) => report(tuple, path) })
  }

  private def report(tuple: Seq[String], path: String): WrittenFile = {
    val p = new Path(path)
    val bytes = p.getFileSystem(layout.conf.value).getFileStatus(p).getLen
    val reader = Stats.open(p, layout.conf.value)
    try WrittenFile(IceLite.canonicalPath(path), bytes, reader.getRecordCount,
      layout.partNames.zip(tuple).toMap, Stats.fromFooter(reader),
      Stats.stringBounds(reader, "file_path"))
    finally reader.close()
  }

  override def abort(): Unit = {
    open.values.foreach(w => try w.close() catch { case _: Exception => () })
    open.clear()
    files.foreach { case (_, path) =>
      val p = new Path(path)
      try p.getFileSystem(layout.conf.value).delete(p, false)
      catch { case _: Exception => () }
    }
  }

  override def close(): Unit = ()
}

object TaskWriter {
  val DefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** A layout over Spark's own parquet write path (the codec and settings
    * a `df.write.parquet` gets, plus the writer `options`). */
  def layout(spark: SparkSession, dir: String, physSchema: StructType,
      physExprs: Seq[Expression], partExprs: Seq[Expression], partNames: Seq[String],
      clustered: Boolean, options: Map[String, String] = Map()): WriteLayout = {
    val (owf, conf) = SparkShims.parquetWriterFactory(spark, physSchema, options)
    WriteLayout(dir, physSchema, physExprs, partExprs, partNames, clustered, owf, conf)
  }

  /** Write `df` into `dir` as one tracked SQL execution (so an
    * `Observation` on `df` completes): one Spark job whose every task
    * writes its rows through a [[TaskWriter]]. The trailing
    * `partNames.size` columns of `df` are the partition values, the ones
    * before them the file's columns; rows arrive grouped by partition
    * tuple within a task. Entries come back ordered by (task partition
    * id, partition tuple), so a deterministic write yields a
    * deterministic entry sequence. */
  def write(df: DataFrame, dir: String, partNames: Seq[String] = Nil,
      options: Map[String, String] = Map()): Seq[WrittenFile] = {
    val fields = df.schema.fields
    val nPhys = fields.length - partNames.size
    val refs = fields.indices.map(i => BoundReference(i, fields(i).dataType, fields(i).nullable))
    val l = layout(df.sparkSession, dir, StructType(fields.take(nPhys)),
      refs.take(nPhys), refs.drop(nPhys), partNames, clustered = true, options)
    SparkShims.withExecution(df, "icelite write") { rows =>
      rows.mapPartitionsWithIndex { (pid, it) =>
        val w = new TaskWriter(l, pid, TaskContext.get().attemptNumber())
        val out = try { it.foreach(w.write); w.commit() }
          catch { case e: Throwable => w.abort(); throw e }
        // the task output metrics Spark's own file writers report
        SparkShims.addTaskOutput(out.files.map(_.bytes).sum, out.files.map(_.rows).sum)
        Iterator.single(out.files)
      }.collect().toSeq.flatten
    }
  }
}
