package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** A path column in IceLite's canonical spelling, codegen'd: `canon` is
  * [[graft.icelite.IceLite.canonicalUri]] for a URI-encoded string (the
  * scan's `_metadata.file_path`), [[graft.icelite.IceLite.canonicalPath]]
  * for a stored Hadoop path string. Rows arrive in long runs of one path
  * (a scan task reads one file at a time; delete files are clustered by
  * path), so a one-entry (lastRaw → lastKey) memo in generated mutable
  * state, as in [[FileLineage]], makes the per-row cost a UTF8String
  * equality check. A UDF would do the same work but pulls Scala
  * reflection and input converters into every MoR DELETE/UPDATE. */
case class CanonicalPath(child: Expression, canon: String => String) extends UnaryExpression {

  override def prettyName: String = "canonical_path"
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"canonical_path needs a STRING path, got ${child.dataType.sql}")

  // interpreted-mode memo (single-threaded per partition, as FileLineage)
  @transient private var lastRaw: UTF8String = _
  @transient private var lastKey: UTF8String = _

  private[functions] def key(raw: UTF8String): UTF8String =
    UTF8String.fromString(canon(raw.toString))

  override protected def nullSafeEval(input: Any): Any = {
    val raw = input.asInstanceOf[UTF8String]
    if (lastRaw == null || !lastRaw.equals(raw)) {
      lastRaw = raw.clone() // vectorized readers reuse string buffers
      lastKey = key(raw)
    }
    lastKey
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("canonPath", this, classOf[CanonicalPath].getName)
    val lastRawVar = ctx.addMutableState("UTF8String", "canonLastRaw")
    val lastKeyVar = ctx.addMutableState("UTF8String", "canonLastKey")
    nullSafeCodeGen(ctx, ev, raw => s"""
      if ($lastRawVar == null || !$lastRawVar.equals($raw)) {
        $lastRawVar = $raw.clone();
        $lastKeyVar = $self.key($raw);
      }
      ${ev.value} = $lastKeyVar;""")
  }

  override protected def withNewChildInternal(newChild: Expression): CanonicalPath =
    copy(child = newChild)
}
