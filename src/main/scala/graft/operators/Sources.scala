package graft.operators

import java.nio.file.Files

import graft.{Exact, QueryDef, Tables}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Storage/format operators (SURVEY.md §2.1 S4–S10): sinks, roundtrips,
  * partitioned layout, parquet footer introspection, file listing — the
  * reference's Week-2 Parquet pedagogy (/root/reference/README.md:204–217,
  * 313–346, 389–448, 470–484) as oracle-checkable pipelines.
  */
object Sources {

  private def scratch(name: String): String =
    Files.createTempDirectory(s"graft_$name").toString

  /** S4+S5+S7 `sink_roundtrip`: COPY TO csv + parquet (README.md:204–208),
    * read both back, prove content survives both formats (count + exact
    * sum per format). The reference's size-ratio observation lives in
    * StorageSpec (sizes aren't oracle-expressible; the ratio assertion is). */
  private val sinkRoundtrip = QueryDef(
    "sink_roundtrip",
    (s, dir) => {
      val out = scratch("sink")
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      ev.write.option("header", true).csv(s"$out/csv")
      ev.write.parquet(s"$out/parquet")
      val fromCsv = s.read.option("header", true)
        .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
        .csv(s"$out/csv")
      val fromParquet = s.read.parquet(s"$out/parquet")
      def agg(df: org.apache.spark.sql.DataFrame, fmt: String) =
        df.agg(count(lit(1)).as("cnt"), Exact.dsumR(col("value")).as("sum_value"))
          .select(lit(fmt).as("format"), col("cnt"), col("sum_value"))
      agg(fromCsv, "csv").unionAll(agg(fromParquet, "parquet")).orderBy("format")
    },
    Some(s"""SELECT 'csv' AS format, CAST(count(*) AS BIGINT) AS cnt,
             ${Exact.sqlSum("value")} AS sum_value FROM events
             UNION ALL
             SELECT 'parquet', CAST(count(*) AS BIGINT), ${Exact.sqlSum("value")}
             FROM events ORDER BY format"""),
  )

  /** S6+S3 `partitioned_sink_scan`: hive-layout write (year=YYYY dirs,
    * README.md:389–398) then a partition-pruned read over the glob
    * (README.md:404–421, 631–639) — the pruning is assertable in the plan
    * (PlanSpec) and the pruned aggregate is oracle-checked here. */
  private val partitionedSinkScan = QueryDef(
    "partitioned_sink_scan",
    (s, dir) => {
      val out = scratch("psink") + "/orders_by_year"
      val o = Tables.orders(s, dir).withColumn("year", year(col("o_orderdate")))
      o.repartition(col("year")).write.partitionBy("year").parquet(out)
      s.read.parquet(out)
        .filter(col("year") === 1996) // prunes to the year=1996 directory
        .agg(count(lit(1)).as("cnt"), Exact.dsumR(col("o_totalprice")).as("total"))
    },
    Some(s"""SELECT CAST(count(*) AS BIGINT) AS cnt,
             ${Exact.sqlSum("o_totalprice")} AS total
             FROM orders WHERE year(o_orderdate) = 1996"""),
  )

  /** S10 `file_listing_walk` (README.md:470–484): recursive walk of the
    * hive layout → (dir, files). Clustered writes put exactly one file per
    * year directory, which is what makes this oracle-able. */
  private val fileListingWalk = QueryDef(
    "file_listing_walk",
    (s, dir) => {
      import s.implicits._
      val out = scratch("walk") + "/orders_by_year"
      Tables.orders(s, dir).withColumn("year", year(col("o_orderdate")))
        .repartition(col("year")).write.partitionBy("year").parquet(out)
      val fs = new Path(out).getFileSystem(s.sessionState.newHadoopConf())
      val it = fs.listFiles(new Path(out), true)
      val rows = scala.collection.mutable.ArrayBuffer[(String, Long)]()
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.endsWith(".parquet"))
          rows += ((st.getPath.getParent.getName, 1L))
      }
      rows.toSeq.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
        .toDF("dir", "file_count").orderBy("dir")
    },
    Some("""SELECT 'year=' || CAST(year(o_orderdate) AS VARCHAR) AS dir,
            CAST(1 AS BIGINT) AS file_count
            FROM orders GROUP BY 1 ORDER BY dir"""),
  )

  /** S8 `schema_describe` (README.md:313–316): DESCRIBE of a parquet file —
    * names + Spark types from the footer. The oracle pins the expected
    * schema as literals, so drift in inference is caught. */
  private val schemaDescribe = QueryDef(
    "schema_describe",
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir).schema.fields.toSeq
        .map(f => (f.name, f.dataType.simpleString))
        .toDF("col_name", "data_type").orderBy("col_name")
    },
    Some("""WITH expected(col_name, data_type) AS (VALUES
              ('l_orderkey','bigint'), ('l_partkey','bigint'), ('l_suppkey','bigint'),
              ('l_linenumber','int'), ('l_quantity','double'), ('l_extendedprice','double'),
              ('l_discount','double'), ('l_tax','double'), ('l_returnflag','string'),
              ('l_linestatus','string'), ('l_shipdate','timestamp_ntz'))
            SELECT col_name, data_type FROM expected ORDER BY col_name"""),
  )

  /** S9 `parquet_footer_metadata` (README.md:320–337): row groups, per-
    * column value counts and min/max presence straight from the footer via
    * parquet-hadoop — the stats that drive row-group skipping. */
  private val footerMetadata = QueryDef(
    "parquet_footer_metadata",
    (s, dir) => {
      import s.implicits._
      val conf = s.sessionState.newHadoopConf()
      val p = new Path(s"$dir/lineitem.parquet")
      val fs = p.getFileSystem(conf)
      val files =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).map(_.getPath).filter(_.getName.endsWith(".parquet")).toSeq
        else Seq(p)
      val rows = files.flatMap { f =>
        val r = graft.icelite.Stats.open(f, conf)
        try {
          r.getFooter.getBlocks.asScala.flatMap(b =>
            b.getColumns.asScala.map(c =>
              (c.getPath.toDotString, c.getValueCount,
                c.getStatistics != null && !c.getStatistics.isEmpty)))
        } finally r.close()
      }
      rows.groupBy(_._1).map { case (name, cs) =>
        (name, cs.map(_._2).sum, cs.forall(_._3))
      }.toSeq.toDF("column_name", "total_values", "has_stats").orderBy("column_name")
    },
    Some("""WITH cols(column_name) AS (VALUES
              ('l_orderkey'),('l_partkey'),('l_suppkey'),('l_linenumber'),
              ('l_quantity'),('l_extendedprice'),('l_discount'),('l_tax'),
              ('l_returnflag'),('l_linestatus'),('l_shipdate'))
            SELECT column_name,
                   (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS total_values,
                   true AS has_stats
            FROM cols ORDER BY column_name"""),
  )

  /** JSON-lines + ORC sink/scan roundtrip — the other two formats a
    * training-data pipeline meets (raw crawl dumps arrive as JSONL; ORC is
    * the other columnar). Write → read back with an explicit schema →
    * prove content survives (count + exact sum per format). The oracle is
    * the same aggregate over the ORIGINAL table: a roundtrip is identity,
    * so DuckDB never needs to read the intermediate files. Spark's JSON
    * writer emits shortest-roundtrip doubles (Jackson), so value survives
    * bit-exactly.
    */
  private val jsonOrcRoundtrip = QueryDef(
    "json_orc_roundtrip",
    (s, dir) => {
      val out = scratch("jsonorc")
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      ev.write.json(s"$out/json")
      ev.write.orc(s"$out/orc")
      val fromJson = s.read
        .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
        .json(s"$out/json")
      val fromOrc = s.read.orc(s"$out/orc")
      def agg(df: org.apache.spark.sql.DataFrame, fmt: String) =
        df.agg(count(lit(1)).as("cnt"), Exact.dsumR(col("value")).as("sum_value"))
          .select(lit(fmt).as("format"), col("cnt"), col("sum_value"))
      agg(fromJson, "json").unionAll(agg(fromOrc, "orc")).orderBy("format")
    },
    Some(s"""SELECT 'json' AS format, CAST(count(*) AS BIGINT) AS cnt,
             ${Exact.sqlSum("value")} AS sum_value FROM events
             UNION ALL
             SELECT 'orc', CAST(count(*) AS BIGINT), ${Exact.sqlSum("value")}
             FROM events ORDER BY format"""),
  )

  /** Column-level data profiling — the ANALYZE TABLE shape: per column,
    * row/null/distinct counts and min/max, over ONE scan.
    *
    * Mixing several `countDistinct`s with plain aggs makes Catalyst
    * rewrite through Expand — every input row is replicated once per
    * distinct column and reshuffled (measured 2.8–4.2 s at sf0.1, the
    * most expensive query in the bench). The profile kernel below is the
    * shape real ANALYZE implementations use instead: one narrow
    * mapPartitions accumulates per-partition (nulls, capped distinct
    * tracker, min, max) per column, and only cap-bounded partials leave
    * the executors — no Expand, no shuffle at all (0.3 s at sf0.1). The
    * distinct tracker ([[ProfileKernel]]) is exact up to
    * `ProfileKernel.DefaultCap` values and degrades that column to a
    * bottom-cap md5 KMV sketch past it, so a high-NDV column (e.g.
    * `l_orderkey`) costs the driver O(partitions · cap) — the
    * single-scan shape is unchanged and `ndv_kind` reports
    * exact-vs-estimate per column. The three profiled columns here stay
    * under the cap at every sf (returnflag 3, quantity 50, shipdate ≤
    * ~2,530 calendar days), so their NDVs are exact and oracle-matched.
    *
    * Timestamps are pre-cast to string IN SPARK (zero-padded ISO strings
    * order chronologically, and the driver never re-formats — string
    * parity with the DuckDB oracle is Spark's cast, not the JVM's). The
    * double column stays typed until the end for the same reason. */
  private val tableProfile = QueryDef(
    "table_profile",
    (s, dir) => {
      import s.implicits._
      val src = Tables.lineitem(s, dir).select(
        col("l_quantity").cast("double"),
        col("l_shipdate").cast("string"),
        col("l_returnflag").cast("string"))
      val (n, stats) = ProfileKernel.profile(
        src, numeric = Array(true, false, false), cap = ProfileKernel.DefaultCap)
      val q = stats(0); val d = stats(1); val r = stats(2)
      // the double min/max go back through Spark's cast for oracle parity
      val qRow = Seq(("l_quantity", n, q.nNulls, q.ndv, q.ndvKind,
          Option(q.minD).map(_.doubleValue), Option(q.maxD).map(_.doubleValue)))
        .toDF("col_name", "n_rows", "n_nulls", "ndv", "ndv_kind", "min_d", "max_d")
        .select(col("col_name"), col("n_rows"), col("n_nulls"), col("ndv"), col("ndv_kind"),
          col("min_d").cast("string").as("min_val"), col("max_d").cast("string").as("max_val"))
      val strRows = Seq(
        ("l_returnflag", n, r.nNulls, r.ndv, r.ndvKind, r.minS, r.maxS),
        ("l_shipdate", n, d.nNulls, d.ndv, d.ndvKind, d.minS, d.maxS))
        .toDF("col_name", "n_rows", "n_nulls", "ndv", "ndv_kind", "min_val", "max_val")
      qRow.unionAll(strRows).orderBy("col_name")
    },
    Some("""WITH s AS (SELECT
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS q_nulls,
              CAST(count(DISTINCT l_quantity) AS BIGINT) AS q_ndv,
              CAST(min(l_quantity) AS VARCHAR) AS q_min, CAST(max(l_quantity) AS VARCHAR) AS q_max,
              CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS d_nulls,
              CAST(count(DISTINCT l_shipdate) AS BIGINT) AS d_ndv,
              CAST(min(l_shipdate) AS VARCHAR) AS d_min, CAST(max(l_shipdate) AS VARCHAR) AS d_max,
              CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS r_nulls,
              CAST(count(DISTINCT l_returnflag) AS BIGINT) AS r_ndv,
              CAST(min(l_returnflag) AS VARCHAR) AS r_min, CAST(max(l_returnflag) AS VARCHAR) AS r_max
            FROM lineitem)
            SELECT 'l_quantity' AS col_name, n AS n_rows, q_nulls AS n_nulls,
                   q_ndv AS ndv, 'exact' AS ndv_kind, q_min AS min_val, q_max AS max_val FROM s
            UNION ALL
            SELECT 'l_returnflag', n, r_nulls, r_ndv, 'exact', r_min, r_max FROM s
            UNION ALL
            SELECT 'l_shipdate', n, d_nulls, d_ndv, 'exact', d_min, d_max FROM s
            ORDER BY col_name"""),
  )

  /** Error-safe ingestion surface — dirty-feed casting without job
    * failure: a synthesized messy string column (valid ints, floats,
    * garbage, empties by key mod) goes through try_cast / guarded
    * division, and the query reports the salvage accounting (parsed /
    * rejected / divide-by-zero-nulled counts plus the salvaged sum).
    * ANSI mode would kill the whole 100 TB job on row one; `try_*` turns
    * malformed rows into NULLs that aggregate out — both engines agree on
    * every verdict (DuckDB TRY_CAST == Spark try_cast on these shapes).
    * Narrow map + one aggregate, no shuffle beyond the final gather. */
  private val safeIngest = QueryDef(
    "safe_ingest",
    (s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey").as("k"))
        .withColumn("raw",
          when(col("k") % 7 === 0, lit("oops"))
            .when(col("k") % 7 === 1, lit(""))
            .when(col("k") % 7 === 2, concat(lit("4."), (col("k") % 100).cast("string")))
            .otherwise((col("k") % 1000).cast("string")))
        .withColumn("denom", (col("k") % 5).cast("long"))
      o.select(
          expr("try_cast(raw AS DOUBLE)").as("v"),
          expr("try_divide(k, denom)").as("ratio"))
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("v")).as("n_parsed"),
          sum(col("v").isNull.cast("long")).as("n_rejected"),
          sum(col("ratio").isNull.cast("long")).as("n_div0"),
          sum(round(col("v") * 100d).cast("long")).as("salvaged_cents"))
    },
    Some("""WITH o AS (
              SELECT o_orderkey AS k,
                     CASE WHEN o_orderkey % 7 = 0 THEN 'oops'
                          WHEN o_orderkey % 7 = 1 THEN ''
                          WHEN o_orderkey % 7 = 2 THEN '4.' || CAST(o_orderkey % 100 AS VARCHAR)
                          ELSE CAST(o_orderkey % 1000 AS VARCHAR) END AS raw,
                     o_orderkey % 5 AS denom
              FROM orders),
            c AS (SELECT TRY_CAST(raw AS DOUBLE) AS v,
                         CASE WHEN denom = 0 THEN NULL
                              ELSE CAST(k AS DOUBLE) / denom END AS ratio
                  FROM o)
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(v) AS BIGINT) AS n_parsed,
                   CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rejected,
                   CAST(sum(CASE WHEN ratio IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_div0,
                   CAST(sum(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS salvaged_cents
            FROM c"""),
  )

  val defs: Seq[QueryDef] = Seq(safeIngest,
    sinkRoundtrip, partitionedSinkScan, fileListingWalk, schemaDescribe,
    footerMetadata, jsonOrcRoundtrip, tableProfile,
  )
}
