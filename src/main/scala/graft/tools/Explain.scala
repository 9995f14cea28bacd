package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** EXPLAIN surface (SURVEY.md §4): render any registry query's plan the way
  * the reference teaches EXPLAIN (/root/reference/README.md:666–687) — the
  * formatted physical plan with scan details (PushedFilters / ReadSchema /
  * PartitionFilters), or any other Spark explain mode (`simple`,
  * `extended`, `codegen`, `cost`).
  *
  * CLI: `sbt "runMain graft.tools.Explain <query> [mode] [sfDir]"`
  */
object Explain {

  /** Formatted (or `mode`) plan text for a registry query by name. */
  def explain(name: String, spark: SparkSession, sfDir: String,
      mode: String = "formatted"): String = {
    val fn = graft.Registry.queries.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown query '$name'; available: ${graft.Registry.queries.keys.toSeq.sorted.mkString(", ")}"))
    fn(spark, sfDir).queryExecution.explainString(ExplainMode.fromString(mode))
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Explain <query> [mode] [sfDir]")
    val name = args(0)
    val mode = if (args.length > 1) args(1) else "formatted"
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.001"
    val spark = graft.Engine.session()
    println(explain(name, spark, sfDir, mode))
    spark.stop()
  }
}
