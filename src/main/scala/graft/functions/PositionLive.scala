package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.icelite.DeleteIndex

/** Deletion-vector membership test, codegen'd: `(file, pos)` is alive iff
  * the data file's recorded delete-position set does not contain `pos`.
  *
  * This is the merge-on-read read-path filter (IceLiteTable.scanSnapshot):
  * a Scala UDF here would cut the whole-stage-codegen span right after the
  * vectorized parquet scan and pay boxing + Row conversion per row; this
  * expression generates an inline run-membership probe
  * ([[graft.icelite.DeleteIndex.runContains]] — binary search over packed
  * [start,len]* runs), so scan→filter→downstream stays one codegen stage.
  *
  * The broadcast carries a [[graft.icelite.DeleteIndex]] — delete-file
  * PATHS only, O(delete files) driver memory — and each task resolves its
  * own files' packed deleted-position RUNS lazily executor-side (O(runs)
  * task memory even for dense deletes — positions are never expanded).
  * Because a scan task reads one parquet split at a time, `file` is
  * constant for long row runs; a one-entry (lastFile → lastRuns) memo in
  * generated mutable state makes the per-row cost a UTF8String equality
  * check + O(log runs) search, with the index probe paid once per file
  * per task.
  */
case class PositionLive(
    left: Expression, right: Expression,
    index: Broadcast[DeleteIndex])
    extends BinaryExpression with Predicate {

  override def prettyName: String = "position_live"
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"position_live needs (STRING, BIGINT), got (${left.dataType.sql}, ${right.dataType.sql})")

  // interpreted-mode memo (a Predicate instance is per-partition, so this
  // is single-threaded state; worst case under sharing is a re-probe)
  @transient private var lastFile: UTF8String = _
  @transient private var lastArr: Array[Long] = _

  /** Null-safe and total: an (impossible) null lineage value reads as
    * alive — deletion may only ever suppress explicitly recorded
    * positions, never unknown rows. */
  override def eval(input: InternalRow): Any = {
    val f = left.eval(input)
    val p = right.eval(input)
    if (f == null || p == null) true
    else {
      val fu = f.asInstanceOf[UTF8String]
      if (lastFile == null || !lastFile.equals(fu)) {
        lastFile = fu.clone() // vectorized readers reuse string buffers
        lastArr = index.value.runsFor(fu)
      }
      !DeleteIndex.runContains(lastArr, p.asInstanceOf[Long])
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("delIndex", index, classOf[Broadcast[_]].getName)
    val idxCls = classOf[DeleteIndex].getName
    // the owner comes from the class; the method name stays a string the
    // compiler cannot check, so only a codegen'd merge-on-read read does
    val probe = DeleteIndex.getClass.getName + ".MODULE$.runContains"
    // resolve the broadcast once per generated class, not per row
    val idxVar = ctx.addMutableState(idxCls, "delIdx",
      v => s"$v = ($idxCls) ((${classOf[Broadcast[_]].getName}) $bcRef).value();")
    val lastFileVar = ctx.addMutableState("UTF8String", "delLastFile")
    val lastArrVar = ctx.addMutableState("long[]", "delLastArr")
    val fEv = left.genCode(ctx)
    val pEv = right.genCode(ctx)
    ev.copy(
      code = code"""
        ${fEv.code}
        ${pEv.code}
        boolean ${ev.value} = true;
        if (!${fEv.isNull} && !${pEv.isNull}) {
          if ($lastFileVar == null || !$lastFileVar.equals(${fEv.value})) {
            $lastFileVar = ${fEv.value}.clone();
            $lastArrVar = (long[]) $idxVar.runsFor(${fEv.value});
          }
          ${ev.value} =
            !$probe($lastArrVar, ${pEv.value});
        }""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PositionLive =
    copy(left = newLeft, right = newRight)
}
