package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One operation of a workload's op stream. `exec` is the timed part; it
  * returns whatever `check` needs to verify the result, untimed, after. A
  * `check` returning `Some(reason)` counts the op as failed. */
final case class Op(name: String, cls: String, exec: () => Any,
    check: Any => Option[String])

/** What one workload supplies to the closed loop in [[Main]]. */
trait Workload {
  def name: String
  /** One complete set-up on a fresh session, repeated to time it. */
  def setup(spark: SparkSession): Unit
  /** The ops of round `r`, in the order the seed gives them. The loop runs
    * whole rounds, so every run measures the same mix of ops. */
  def round(r: Int): Seq[Op]
  /** Checks that run once after the timed phase; each failure is a
    * message. */
  def finalChecks(): Seq[String] = Seq()
  /** Extra figures, by name, reported at the end of the run. */
  def extraMetrics(): Seq[(String, Double, String)] = Seq()
}

/** Context shared by the workloads: the generated input tables, a scratch
  * directory, the seed, the tracer and whether this is a traced run. */
final case class Ctx(dataDir: String, workDir: String, seed: Long, tracer: Tracer,
    trace: Boolean, expected: Map[String, String])

object Workload {
  /** Registry families per workload, as in the benchmark doc. */
  val OlapFamilies: Seq[(String, Seq[graft.QueryDef])] = {
    import graft.operators._
    Seq("Relational" -> Relational.defs, "Joins" -> Joins.defs,
      "WindowOps" -> WindowOps.defs, "TemporalOps" -> TemporalOps.defs,
      "SketchOps" -> SketchOps.defs, "VariantOps" -> VariantOps.defs,
      "GeoOps" -> GeoOps.defs, "BehaviorOps" -> BehaviorOps.defs,
      "QualityOps" -> QualityOps.defs, "Sources" -> Sources.defs)
  }
  val CurationFamilies: Seq[(String, Seq[graft.QueryDef])] = {
    import graft.operators._
    Seq("TextOps" -> TextOps.defs, "PipelineOps" -> PipelineOps.defs,
      "VectorOps" -> VectorOps.defs, "GraphOps" -> GraphOps.defs,
      "Multimodal" -> Multimodal.defs)
  }

  /** Panel strides: 11 of the 69 olap queries, 10 of the 81 curation ones. */
  val OlapStride = 12
  val CurationStride = 10

  /** The queries a run times: every `stride`-th query of each family in
    * registry order (at least one per family), so that a warm-up round
    * plus the timed rounds fit the run budget while every family stays
    * represented. */
  def panel(families: Seq[(String, Seq[graft.QueryDef])], stride: Int): Seq[String] =
    families.flatMap { case (_, defs) =>
      defs.map(_.name).zipWithIndex.collect { case (n, i) if i % stride == 0 => n }
    }

  def tableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolve and scan `tables` through the engine's loaders. */
  def loadTables(spark: SparkSession, ctx: Ctx, tables: Seq[String]): Unit = {
    import graft.Tables
    val loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
      "region" -> Tables.region, "nation" -> Tables.nation,
      "customer" -> Tables.customer, "supplier" -> Tables.supplier,
      "part" -> Tables.part, "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem, "events" -> Tables.events,
      "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)
    ctx.tracer.span("tables", "load") {
      tables.foreach(t => loaders(t)(spark, ctx.dataDir).count())
    }
  }

  /** A registry query as an op: build the DataFrame through the registry,
    * materialise the full result, and compare its fingerprint with the
    * committed expected one. */
  def queryOp(spark: SparkSession, ctx: Ctx, name: String): Op = {
    val fn = graft.Registry.queries(name)
    Op(name, "query",
      exec = () => {
        val df = ctx.tracer.span("operators", name)(fn(spark, ctx.dataDir))
        val rows = ctx.tracer.span("driver", "collect")(df.collect())
        (df.columns.toSeq, rows.toSeq)
      },
      check = {
        case (cols: Seq[String] @unchecked, rows: Seq[Row] @unchecked) =>
          val got = Fingerprint.of(cols, rows)
          ctx.expected.get(name) match {
            case None => Some(s"$name: no expected result")
            case Some(want) if want != got => Some(s"$name: fingerprint $got, expected $want")
            case _ => None
          }
        case other => Some(s"$name: unexpected result $other")
      })
  }

  /** Bytes of all regular files under `dir`. */
  def dirBytes(dir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  def shuffled[T](xs: Seq[T], seed: Long, round: Int): Seq[T] =
    new scala.util.Random(new java.util.SplittableRandom(seed * 1000003L + round).nextLong())
      .shuffle(xs)
}

/** `olap_queries` and `curation_batch`: registry queries in a seed-shuffled
  * order, one round after another. With `freshSession` each round runs on
  * its own `newSession()`, so session-keyed memos start cold per round. */
final class QueryWorkload(val name: String, base: SparkSession, ctx: Ctx,
    queries: Seq[String], tables: Seq[String], freshSession: Boolean) extends Workload {
  private var session: SparkSession = base

  def setup(spark: SparkSession): Unit = {
    session = spark
    Workload.loadTables(spark, ctx, tables)
  }

  def round(r: Int): Seq[Op] = {
    if (freshSession && r > 0) {
      session = session.newSession()
      if (ctx.trace) ctx.tracer.install(session)
    }
    val s = session
    Workload.shuffled(queries, ctx.seed, r).map(q => Workload.queryOp(s, ctx, q))
  }
}
