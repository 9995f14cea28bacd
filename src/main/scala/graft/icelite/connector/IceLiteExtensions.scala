package graft.icelite.connector

import graft.icelite.IceLiteTable
import org.apache.spark.sql.{Column, Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.graft.SparkShims

/** Session extensions completing the SQL surface over the `icelite`
  * catalog (the reference's Week-4 workflow runs these as Spark SQL,
  * /root/reference/README.md:954–967, 1111–1121):
  *
  * {{{
  * spark.sql.extensions = graft.icelite.connector.IceLiteExtensions
  *
  * UPDATE icelite.db.t SET price = 0 WHERE id % 2 = 0
  * DELETE FROM icelite.db.t WHERE id < 100
  * MERGE INTO icelite.db.t USING src ON t.id = src.id
  *   WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
  * }}}
  *
  * Two injections:
  *  1. [[IceLiteDmlRule]] (post-hoc resolution) — rewrites resolved
  *     UPDATE/DELETE/MERGE plans over IceLite relations into runnable
  *     commands delegating to the table's copy-on-write / merge-on-read DML
  *     (the analyzer-extension route the DSv2 row-level API also ends at,
  *     without its group-coordination machinery — our DML already rewrites
  *     only touched files).
  *  2. [[IceLiteScanStrategy]] (planner) — plans a pushed-down
  *     [[IceLiteScan]] as the table's own parquet scan, so SQL reads keep
  *     manifest pruning, parquet vectorization, pushed filters and
  *     whole-stage codegen. A session without it fails such a read loudly
  *     (`IceLiteScan.toBatch`).
  */
class IceLiteExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPostHocResolutionRule(_ => IceLiteDmlRule)
    ext.injectPlannerStrategy(_ => IceLiteScanStrategy)
    // the library's native expressions, injected at session build so ANY
    // SQL user of a graft-extended session has them — the per-query
    // register() calls stay for sessions built without the extension
    def inject(name: String, usage: String)(b: Seq[Expression] => Expression): Unit =
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", null, name, usage, ""), b))
    inject("dot_scaled",
      "dot_scaled(a, b) - scaled-int dot product of two float arrays") { e =>
      require(e.length == 2, s"dot_scaled takes 2 args, got ${e.length}")
      graft.functions.DotScaled(e.head, e(1))
    }
    inject("rolling_fingerprint",
      "rolling_fingerprint(s) - polynomial rolling hash of a string") { e =>
      require(e.length == 1, s"rolling_fingerprint takes 1 arg, got ${e.length}")
      graft.functions.RollingFingerprint(e.head)
    }
    inject("kmv_kth",
      "kmv_kth(h, k) - k-th smallest distinct hash (KMV sketch bound)") { e =>
      require(e.length == 2, s"kmv_kth takes 2 args, got ${e.length}")
      require(e(1).foldable, "kmv_kth: k must be a literal")
      graft.functions.KmvKth(e.head, e(1).eval().asInstanceOf[Number].intValue())
    }
    inject("nfc_normalize",
      "nfc_normalize(s) - Unicode NFC canonical normalization") { e =>
      require(e.length == 1, s"nfc_normalize takes 1 arg, got ${e.length}")
      graft.functions.NfcNormalize(e.head)
    }
    inject("misra_gries",
      "misra_gries(x, k) - heavy-hitter candidates with count lower bounds") { e =>
      require(e.length == 2, s"misra_gries takes 2 args, got ${e.length}")
      require(e(1).foldable, "misra_gries: k must be a literal")
      graft.functions.MisraGries(e.head, e(1).eval().asInstanceOf[Number].intValue())
    }
  }
}

/** A resolved DML statement over an IceLite table, executed on collect —
  * the standard eager-command shape (EXPLAIN shows it; running it commits
  * one IceLite snapshot). */
case class IceLiteDmlCommand(label: String, table: String)(body: () => Unit)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = { body(); Seq.empty }
  override def simpleString(maxFields: Int): String = s"IceLiteDml $label $table"
  // TreeNode.makeCopy must see the second (curried) constructor arg
  override protected def otherCopyArgs: Seq[AnyRef] = body :: Nil
}

object IceLiteDmlRule extends Rule[LogicalPlan] {

  private def iceTable(p: LogicalPlan): Option[IceLiteTable] = p match {
    case r: DataSourceV2Relation => r.table match {
      case t: IceLiteSparkTable => Some(t.underlying)
      case _                    => None
    }
    case SubqueryAlias(_, child) => iceTable(child)
    case _                       => None
  }

  /** Largest IN-subquery result materialized into a DML condition. A
    * result this size is broadcast-shaped (the same bound a broadcast
    * semi-join would impose); past it the right tool is MERGE with delete
    * clauses, and the error says so. */
  private val MaxInSubqueryValues = 1000000

  /** Re-express a resolved expression against the table's own DataFrame
    * ([[IceLiteScan.rebind]]: attributes re-bind by name). Covers every
    * deterministic scalar condition/assignment. UNCORRELATED subqueries
    * (`WHERE id IN (SELECT …)`, scalar comparisons) are materialized here —
    * the command runs eagerly anyway, so evaluating the subquery at
    * rewrite time is its natural schedule; the values become an IN-set
    * literal, the predicate shape of a broadcast semi-join. Correlated
    * subqueries are rejected with a clear error. */
  private def recol(e: Expression): Column = {
    import org.apache.spark.sql.catalyst.expressions.{In, InSubquery, Literal, ScalarSubquery, SubqueryExpression}
    val spark = SparkSession.active
    val noSub = e.transform {
      case s: ScalarSubquery =>
        require(s.outerAttrs.isEmpty,
          s"correlated subqueries in IceLite DML are unsupported: ${e.sql}")
        val rows = SparkShims.ofRows(spark, s.plan).limit(2).collect()
        require(rows.length <= 1, "scalar subquery in DML condition returned more than one row")
        Literal.create(if (rows.isEmpty) null else rows(0).get(0), s.dataType)
      case in: InSubquery =>
        require(in.query.outerAttrs.isEmpty,
          s"correlated subqueries in IceLite DML are unsupported: ${e.sql}")
        require(in.values.length == 1,
          s"only single-column IN subqueries are supported in IceLite DML: ${e.sql}")
        val vals = SparkShims.ofRows(spark, in.query.plan)
          .distinct().limit(MaxInSubqueryValues + 1).collect()
        require(vals.length <= MaxInSubqueryValues,
          s"IN-subquery result exceeds $MaxInSubqueryValues rows; express this DML as MERGE with clauses")
        if (vals.isEmpty) Literal(false) // x IN (empty set) is false
        else In(in.values.head,
          vals.toSeq.map(r => Literal.create(r.get(0), in.query.plan.output.head.dataType)))
    }
    require(!noSub.exists(_.isInstanceOf[SubqueryExpression]),
      s"this subquery shape is unsupported in IceLite DML conditions: ${e.sql}")
    // re-bind by NAME and wrap the tree directly — NOT a .sql text
    // round-trip, which would render a materialized IN-set of up to 10^6
    // literals into a multi-megabyte string and feed it back through the parser
    IceLiteScan.rebind(noSub)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case d @ DeleteFromTable(target, condition) if d.childrenResolved =>
      iceTable(target).map { t =>
        val cond = recol(condition)
        IceLiteDmlCommand("DELETE", t.location)(() => t.delete(cond))
      }.getOrElse(plan)

    case u: UpdateTable if u.childrenResolved =>
      iceTable(u.table).map { t =>
        val assigns = u.assignments.map { a =>
          val name = a.key match {
            case attr: AttributeReference => attr.name
            case other => sys.error(s"unsupported UPDATE target ${other.sql} (nested fields unsupported)")
          }
          name -> recol(a.value)
        }.toMap
        val cond = u.condition.map(recol).getOrElse(expr("true"))
        IceLiteDmlCommand("UPDATE", t.location)(() => t.update(cond, assigns))
      }.getOrElse(plan)

    case m: MergeIntoTable if m.childrenResolved =>
      iceTable(m.targetTable).map { t =>
        // rewire resolved expressions onto the joined frame the table's
        // merge machinery builds: source attributes (by exprId) become
        // `_s_<name>`, target attributes keep their names — so shared
        // column names never ambiguate after qualifier stripping
        val srcIds = m.sourceTable.output.map(a => a.exprId -> a.name).toMap
        val tgtIds = m.targetTable.output.map(a => a.exprId).toSet
        def rewire(e: Expression): Column = {
          require(!e.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression]),
            s"subqueries in MERGE clauses are unsupported: ${e.sql}")
          SparkShims.columnOf(e.transform {
            case a: AttributeReference if srcIds.contains(a.exprId) =>
              org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq("_s_" + srcIds(a.exprId)))
            case a: AttributeReference if tgtIds.contains(a.exprId) =>
              org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(a.name))
          })
        }
        val (tKey, sKey) = m.mergeCondition match {
          case EqualTo(l: AttributeReference, r: AttributeReference)
              if tgtIds.contains(l.exprId) && srcIds.contains(r.exprId) => (l.name, srcIds(r.exprId))
          case EqualTo(l: AttributeReference, r: AttributeReference)
              if srcIds.contains(l.exprId) && tgtIds.contains(r.exprId) => (r.name, srcIds(l.exprId))
          case other => sys.error(
            s"MERGE: the ON condition must be one target-source column equality, got ${other.sql}")
        }
        def assignsOf(assignments: Seq[Assignment]): Map[String, Column] =
          assignments.map { a =>
            val name = a.key match {
              case attr: AttributeReference => attr.name
              case other => sys.error(s"unsupported MERGE assignment target ${other.sql}")
            }
            name -> rewire(a.value)
          }.toMap
        def clauseOf(action: MergeAction): graft.icelite.IceLite.MergeClause = action match {
          case u: UpdateAction => graft.icelite.IceLite.MergeUpdate(u.condition.map(rewire), assignsOf(u.assignments))
          case d: DeleteAction => graft.icelite.IceLite.MergeDelete(d.condition.map(rewire))
          case other => sys.error(s"unsupported MERGE action $other")
        }
        val matched = m.matchedActions.map(clauseOf)
        val notMatched = m.notMatchedActions.map {
          case i: InsertAction => graft.icelite.IceLite.MergeInsert(i.condition.map(rewire), assignsOf(i.assignments))
          case other => sys.error(s"unsupported MERGE not-matched action $other")
        }
        val nmbs = m.notMatchedBySourceActions.map(clauseOf)
        val spark = SparkSession.active
        val sourceDf = SparkShims.ofRows(spark, m.sourceTable)
        IceLiteDmlCommand("MERGE", t.location)(() =>
          t.mergeClauses(sourceDf, tKey, sKey, matched, notMatched, nmbs))
      }.getOrElse(plan)

    case _ => plan
  }
}

/** Plans a DSv2 scan relation over an [[IceLiteScan]] as the scan's own
  * optimized plan (a FileSourceScan with the pushed predicates, under the
  * merge-on-read filters), aliased onto the relation's attribute ids, with
  * the projections and residual filters above it — the operator chain
  * Spark's own DSv2 strategy would otherwise claim for a `BatchScanExec`.
  * A planner strategy, not an optimizer rule: the extension API's optimizer
  * hooks run before Spark's V2 pushdown, so no logical rule sees the
  * pushed scan. */
object IceLiteScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(projects, filters, r: DataSourceV2ScanRelation) => r.scan match {
      case s: IceLiteScan =>
        val scan = ProjectExec(r.output.zip(s.plan.output).map { case (o, a) =>
          Alias(a, o.name)(exprId = o.exprId, qualifier = o.qualifier)
        }, planLater(s.plan))
        val filtered = filters.reduceOption(And).fold[SparkPlan](scan)(FilterExec(_, scan))
        (if (projects == r.output) filtered else ProjectExec(projects, filtered)) :: Nil
      case _ => Nil
    }
    case _ => Nil
  }
}
