package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-data-file V3 lineage constants, keyed by the file's canonical
  * path: `(firstRowId, dataSequence)`, a negative value meaning "none".
  * O(data files) driver metadata, broadcast once per read. `lookup` takes
  * the scan's URI-encoded `_metadata.file_path` and is called once per
  * file, behind [[FileLineage]]'s memo. */
final class LineageIndex(byPath: Map[String, Array[Long]]) extends Serializable {
  def lookup(path: UTF8String): Array[Long] =
    byPath.getOrElse(graft.icelite.IceLite.canonicalUri(path.toString), null)
}

object LineageIndex {
  val FirstRowId = 0
  val Sequence = 1
}

/** One lineage constant of the data file a row came from, codegen'd:
  * `slot` picks [[LineageIndex.FirstRowId]] or [[LineageIndex.Sequence]];
  * an unknown file or a negative constant reads as null (the inheritance
  * rule then leaves the column null, as a missed left join did).
  *
  * This replaces a broadcast hash join against a driver-built lookup
  * table: that join scheduled one Spark job per lineage read just to ship
  * O(data files) rows, and cut whole-stage codegen at the join. Like
  * [[PositionLive]], the broadcast rides the expression, `file` is
  * constant for long row runs of a scan task, and a one-entry
  * (lastFile → lastEntry) memo in generated mutable state makes the per-row
  * cost a UTF8String equality check.
  */
case class FileLineage(child: Expression, index: Broadcast[LineageIndex], slot: Int)
    extends UnaryExpression {

  override def prettyName: String = "file_lineage"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"file_lineage needs a STRING path, got ${child.dataType.sql}")

  // interpreted-mode memo (single-threaded per partition, as PositionLive)
  @transient private var lastFile: UTF8String = _
  @transient private var lastEntry: Array[Long] = _

  override protected def nullSafeEval(input: Any): Any = {
    val fu = input.asInstanceOf[UTF8String]
    if (lastFile == null || !lastFile.equals(fu)) {
      lastFile = fu.clone() // vectorized readers reuse string buffers
      lastEntry = index.value.lookup(fu)
    }
    if (lastEntry == null || lastEntry(slot) < 0) null else lastEntry(slot)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("linIndex", index, classOf[Broadcast[_]].getName)
    val idxCls = classOf[LineageIndex].getName
    // resolve the broadcast once per generated class, not per row
    val idxVar = ctx.addMutableState(idxCls, "linIdx",
      v => s"$v = ($idxCls) ((${classOf[Broadcast[_]].getName}) $bcRef).value();")
    val lastFileVar = ctx.addMutableState("UTF8String", "linLastFile")
    val lastEntryVar = ctx.addMutableState("long[]", "linLastEntry")
    val fEv = child.genCode(ctx)
    ev.copy(code = code"""
      ${fEv.code}
      boolean ${ev.isNull} = true;
      long ${ev.value} = -1L;
      if (!${fEv.isNull}) {
        if ($lastFileVar == null || !$lastFileVar.equals(${fEv.value})) {
          $lastFileVar = ${fEv.value}.clone();
          $lastEntryVar = $idxVar.lookup(${fEv.value});
        }
        if ($lastEntryVar != null && $lastEntryVar[$slot] >= 0) {
          ${ev.isNull} = false;
          ${ev.value} = $lastEntryVar[$slot];
        }
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): FileLineage =
    copy(child = newChild)
}
