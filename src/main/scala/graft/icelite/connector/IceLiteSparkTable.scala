package graft.icelite.connector

import java.util

import graft.icelite.{IceLite, IceLiteTable, Snapshot, TableMetadata}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder, Statistics, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, WriteBuilder}
import org.apache.spark.sql.graft.SparkShims
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** DSv2 Table over an IceLite table, pinned to the metadata version it was
  * loaded at: schema, columns, properties, the AS OF snapshot and every
  * scan read that one version, so a SQL read sees the snapshot it was
  * analyzed against however many commits land before it runs.
  *
  * Read path: Spark's V2 pushdown hands the scan builder the query's
  * predicates and required columns, and the [[IceLiteScan]] it builds is
  * planned by [[IceLiteScanStrategy]] as the table's own parquet scan
  * (manifest stat pruning, merge-on-read deletes, PushedFilters,
  * whole-stage codegen). Every pushed predicate is also reported back as a
  * residual, so Spark re-applies it: a predicate the stats cannot use costs
  * performance only, never correctness. Write path: SQL INSERT crosses
  * `V1Write` into `tbl.append` / `tbl.overwrite` with the whole DataFrame —
  * the library's one batch write.
  *
  * `asOf`: Left(version) for VERSION AS OF (a snapshot id, else a branch
  * or tag name), Right(tsMillis) for TIMESTAMP AS OF.
  */
class IceLiteSparkTable(tbl: IceLiteTable, asOf: Option[Either[String, Long]])
    extends Table with SupportsRead with SupportsWrite {

  /** The one metadata version this relation reads. */
  private val pinned: TableMetadata = tbl.meta

  /** The AS OF snapshot, resolved against [[pinned]]; None reads the
    * current snapshot. */
  private val asOfSnapshot: Option[Snapshot] = asOf.map {
    case Left(version) => pinned.snapshot(version.toLongOption.getOrElse(
      pinned.refs.getOrElse(version,
        sys.error(s"no branch or tag '$version' on ${tbl.location}")).snapshotId))
    case Right(tsMillis) => pinned.snapshotAt(tsMillis)
  }

  /** The engine-side table handle — IceLiteDmlRule delegates SQL
    * UPDATE/DELETE/MERGE here. */
  def underlying: IceLiteTable = tbl

  override def name(): String = tbl.location

  // time travel projects the SNAPSHOT's schema (the engine's
  // snapshot-scoped-schema semantics, IceLiteTable.readAsOf) — the
  // relation must advertise the SAME columns or post-evolution
  // VERSION/TIMESTAMP AS OF reads fail analysis on the schema mismatch
  private def resolvedSchema: graft.icelite.TableSchema =
    asOfSnapshot.filter(_.schemaId >= 0).fold(pinned.currentSchema)(s => pinned.schema(s.schemaId))

  override def schema(): StructType =
    StructType(resolvedSchema.fields.map(f =>
      StructField(f.name, DataType.fromDDL(f.sparkDdl), nullable = true)))

  /** V2 columns carry the declared WRITE fill as the column's current
    * default, so a SQL INSERT that omits the column materializes it —
    * Spark's ResolveDefaultColumns reads the default from here. Only
    * foldable literals ever reach the metadata (setWriteDefault's
    * guard), so the eval below cannot touch session state. */
  override def columns(): Array[org.apache.spark.sql.connector.catalog.Column] = {
    import org.apache.spark.sql.connector.catalog.{Column => V2Column, ColumnDefaultValue}
    resolvedSchema.fields.map { f =>
      val dt = DataType.fromDDL(f.sparkDdl)
      val dflt = f.writeFill.filterNot(_.trim.equalsIgnoreCase("null")).flatMap { s =>
        scala.util.Try {
          val parsed = org.apache.spark.sql.SparkSession.active
            .sessionState.sqlParser.parseExpression(s)
          val v = org.apache.spark.sql.catalyst.expressions
            .Cast(parsed, dt, Some("UTC")).eval(null)
          new ColumnDefaultValue(s,
            org.apache.spark.sql.graft.SparkShims.literalValue(v, dt))
        }.toOption
      }
      dflt match {
        case Some(d) => V2Column.create(f.name, dt, true, null, d, null)
        case None    => V2Column.create(f.name, dt, true)
      }
    }.toArray
  }

  override def properties(): util.Map[String, String] = pinned.properties.asJava

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE).asJava

  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownCatalystFilters with SupportsPushDownRequiredColumns {
      private var pushed: Seq[Expression] = Seq()
      private var required: StructType = schema()

      override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
        pushed = filters
        filters // everything is also a residual — correctness never depends on us
      }
      override def pushedFilters: Array[Predicate] =
        pushed.flatMap(SparkShims.v2Predicate).toArray
      // top-level columns only: a nested-pruned struct would not match the
      // full struct the scan reads. An EMPTY required schema stays empty
      // (count(*) reads no column)
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = StructType(requiredSchema.fieldNames.map(schema()(_)))

      override def build(): Scan =
        new IceLiteScan(tbl, pinned, asOfSnapshot, pushed, required, options.asScala.toMap)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): V1Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          (data: DataFrame, overwriteFlag: Boolean) =>
            if (overwrite || overwriteFlag) tbl.overwrite(data) else tbl.append(data)
        /** `df.writeStream.toTable(...)`: per-epoch executor parquet
          * writes + one atomic append-with-epoch-ledger commit each
          * micro-batch (exactly-once across restarts). Append mode only —
          * a streaming truncate-per-epoch would rewrite the table's
          * history every batch. */
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          require(!overwrite,
            "icelite streaming sink: append output mode only (complete/truncate " +
              "would rewrite the table every epoch — aggregate downstream instead)")
          new IceLiteStreamingWrite(tbl.location, info.schema(), info.queryId())
        }
      }
    }
}

/** The one IceLite read: a pinned snapshot (current or AS OF), the
  * predicates Spark pushed and the columns the query needs. A batch read
  * is planned by [[IceLiteScanStrategy]] as [[plan]]; a stream read gets
  * [[toMicroBatchStream]]. */
class IceLiteScan(tbl: IceLiteTable, m: TableMetadata, asOf: Option[Snapshot],
    pushed: Seq[Expression], required: StructType, options: Map[String, String])
    extends Scan with SupportsReportStatistics {

  override def readSchema(): StructType = required

  /** The optimized plan of the snapshot scan, manifest-pruned by the pushed
    * predicates' stat filters, filtered by them (parquet gets them as
    * PushedFilters) and projected to the required columns. Built once, so
    * statistics, planning and AQE re-planning all see the same plan. */
  lazy val plan: LogicalPlan = {
    val conds = pushed.map(IceLiteScan.rebind)
    val statFilters = conds.flatMap(IceLite.statFiltersFromCondition)
    conds.foldLeft(tbl.readSnapshotAt(m, asOf, statFilters))(_ filter _)
      .select(required.fieldNames.map(n => SparkShims.columnOf(
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute.quoted(n))).toSeq: _*)
      .queryExecution.optimizedPlan
  }

  /** The inner plan's own estimate, so joins size this side by its files
    * rather than by `spark.sql.defaultSizeInBytes`. */
  override def estimateStatistics(): Statistics = {
    val st = plan.stats
    new Statistics {
      override def sizeInBytes(): util.OptionalLong =
        util.OptionalLong.of(st.sizeInBytes.min(Long.MaxValue).toLong)
      override def numRows(): util.OptionalLong =
        st.rowCount.fold(util.OptionalLong.empty())(n => util.OptionalLong.of(n.toLong))
    }
  }

  override def toBatch: Batch = throw new UnsupportedOperationException(
    s"IceLite table ${tbl.location}: SQL batch reads are planned by the session " +
      "extension; set spark.sql.extensions=graft.icelite.connector.IceLiteExtensions")

  /** `spark.readStream.table(...)`: the snapshot log serves as the
    * offset ledger — appended rows per micro-batch, checkpoint-
    * recovered, pruned to the required columns. Time travel and
    * streams don't compose (a pinned past cannot grow). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(asOf.isEmpty, "icelite stream: cannot stream VERSION/TIMESTAMP AS OF")
    new IceLiteMicroBatchStream(tbl.location, required, options)
  }
}

object IceLiteScan {
  /** A resolved expression as a Column over the table's own scan: each
    * attribute re-binds by NAME (the ids belong to the catalog relation),
    * and Spark 4's BETWEEN — a RuntimeReplaceable whose replacement is a
    * `With` binding the input once — is inlined first, as the optimizer
    * would, because its common-expression refs cannot re-resolve. */
  private[connector] def rebind(e: Expression): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, CommonExpressionRef, RuntimeReplaceable, With}
    val plain = e.transformDown {
      case r: RuntimeReplaceable if r.replacement.exists(_.isInstanceOf[With]) => r.replacement
    }.transformUp {
      case w: With =>
        val defs = w.defs.map(d => d.id -> d.child).toMap
        w.child.transform { case r: CommonExpressionRef => defs(r.id) }
    }
    SparkShims.columnOf(plain.transform {
      case a: AttributeReference =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute.quoted(a.name)
    })
  }
}
