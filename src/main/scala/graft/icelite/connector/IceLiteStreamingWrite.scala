package graft.icelite.connector

import graft.icelite.{IceLite, IceLiteTable, TaskWriter, WriteLayout, WrittenFiles}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming SINK over an IceLite table — the write-side
  * closure of the DSv2 loop ([[IceLiteMicroBatchStream]] is the read
  * side): `df.writeStream.toTable("icelite.db.t")`, no foreachBatch.
  *
  * Executors write parquet straight into the table's data/ through
  * IceLite's one writer ([[TaskWriter]], the batch path's writer too),
  * FANNING OUT per partition value — the Iceberg streaming writer's
  * shape, so a partitioned table ingests without a per-batch shuffle.
  * Each task reports its files' manifest entries (rows, partition tuple,
  * footer stats) in its commit message. The driver's per-epoch `commit`
  * appends them in ONE atomic table commit that also advances the
  * per-query epoch ledger — a Spark-replayed epoch (restart between the
  * table commit and the checkpoint commit) detects the replay and
  * discards its duplicate files instead of double-appending:
  * exactly-once end to end.
  *
  * Scale shape: no driver data movement at any point — rows flow
  * task→parquet, the driver touches only the reported entries (KBs per
  * epoch). Auto-maintenance (small-file compaction) runs after each
  * commit, which is exactly the workload compaction exists for. Column
  * alignment, write-defaults and partition transforms are planned ONCE
  * as bound Catalyst expressions ([[IceLiteTable.planStreamingWrite]]) —
  * the hot path is two UnsafeProjections per row.
  *
  * Reference: /root/reference/README.md:1136–1150 (streaming upsert into
  * the lakehouse table; this is that loop as a first-class DSv2 sink). */
class IceLiteStreamingWrite(
    location: String,
    inputSchema: StructType,
    queryId: String) extends StreamingWrite {

  private def spark: SparkSession = SparkSession.active
  private def table: IceLiteTable = IceLite.load(spark, location)

  /** Epoch ledger key — per STREAMING QUERY (the stable checkpoint id,
    * not the per-run id), so two queries feeding one table don't share a
    * ledger and a restart keeps replay protection. */
  private val epochKey = s"streaming.sink.$queryId.last-epoch"

  // pinned at query start (see planStreamingWrite scaladoc)
  private val plan = table.planStreamingWrite(inputSchema)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    IceLiteStreamWriterFactory(plan.layout)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    table.commitStreamEpoch(epochKey, epochId, written(messages),
      plan.schemaId, plan.specId)

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val f = IceLite.fs(spark, location)
    written(messages).foreach(w => f.delete(new org.apache.hadoop.fs.Path(w.path), false))
  }

  /** The epoch's files, in task order. */
  private def written(messages: Array[WriterCommitMessage]) =
    messages.toSeq.collect { case m: WrittenFiles => m.files }.flatten
}

/** Serializable factory: everything executor-side is the writer layout
  * (bound expressions, an OutputWriterFactory, a conf) — no
  * SparkSession, no table handle. */
private[connector] case class IceLiteStreamWriterFactory(layout: WriteLayout)
    extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new TaskWriter(layout, partitionId, taskId)
}
