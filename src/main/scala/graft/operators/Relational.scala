package graft.operators

import graft.{Exact, QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Week 1–3 relational core (SURVEY.md §2.1–§2.6, §2.9).
  *
  * Each operator mirrors a query the reference tutorial runs
  * (/root/reference/README.md, cited per entry) re-expressed on the driver
  * testdata. All plans are single-stage scan→filter→hash-agg→sort shapes that
  * Catalyst whole-stage-codegens; filters and projections push down to the
  * parquet scan, so they scale linearly with input on a real cluster.
  */
object Relational {

  /** P1 `pk_lookup` — point lookup, README.md:115–117. Predicate pushes to
    * parquet row-group stats; at 100 TB this reads only matching row groups.
    */
  private val pkLookup = QueryDef(
    "pk_lookup",
    (s, dir) =>
      Tables.orders(s, dir)
        .filter(col("o_orderkey") === 500)
        .select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate").cast("date").as("o_orderdate"),
          col("o_orderpriority"))
        .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
            CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
            FROM orders WHERE o_orderkey = 500 ORDER BY o_orderkey"""),
  )

  /** P3 `pushdown_count` — count under an equality predicate,
    * README.md:680–687. The filter reaches the scan (PushedFilters) and only
    * `user_id` is read (ReadSchema) — the pedagogical point of the exercise.
    */
  private val pushdownCount = QueryDef(
    "pushdown_count",
    (s, dir) =>
      Tables.events(s, dir)
        .filter(col("user_id") === 42)
        .agg(count(lit(1)).as("cnt")),
    Some("SELECT CAST(count(*) AS BIGINT) AS cnt FROM events WHERE user_id = 42"),
  )

  /** P2+A6 `filter_range_agg` — range filter feeding an aggregate,
    * README.md:666–671. */
  private val filterRangeAgg = QueryDef(
    "filter_range_agg",
    (s, dir) =>
      Tables.events(s, dir)
        .filter(col("value") > 100)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), Exact.dsumR(col("value")).as("sum_value"))
        .orderBy("event_type"),
    Some(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
             ${Exact.sqlSum("value")} AS sum_value
             FROM events WHERE value > 100 GROUP BY event_type ORDER BY event_type"""),
  )

  /** A2 `event_type_agg` — the reference's workhorse group-by,
    * README.md:583–592: COUNT / ROUND(AVG) / ROUND(SUM) per event_type,
    * biggest groups first. */
  private val eventTypeAgg = QueryDef(
    "event_type_agg",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("cnt"),
          Exact.davgR(col("value")).as("avg_value"),
          Exact.dsumR(col("value")).as("sum_value"))
        .orderBy(col("cnt").desc, col("event_type")),
    Some(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
             ${Exact.sqlAvg("value")} AS avg_value,
             ${Exact.sqlSum("value")} AS sum_value
             FROM events GROUP BY event_type ORDER BY cnt DESC, event_type"""),
  )

  /** A1 `daily_count_avg` — time-bucketed COUNT/AVG, README.md:124–132
    * (DATE_TRUNC('month') there; the events fixture spans one month, so the
    * same operator runs at day grain — orders-based queries below cover the
    * month grain). */
  private val dailyCountAvg = QueryDef(
    "daily_count_avg",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("cnt"), Exact.davgR(col("value")).as("avg_value"))
        .orderBy("day"),
    Some(s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS cnt, ${Exact.sqlAvg("value")} AS avg_value
             FROM events GROUP BY 1 ORDER BY day"""),
  )

  /** A3 `monthly_revenue` — month trunc → count + revenue, first 6 months,
    * README.md:597–606 (on orders: the fixture's multi-year table). */
  private val monthlyRevenue = QueryDef(
    "monthly_revenue",
    (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(count(lit(1)).as("cnt"), Exact.dsumR(col("o_totalprice")).as("revenue"))
        .orderBy("month")
        .limit(6),
    Some(s"""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(count(*) AS BIGINT) AS cnt, ${Exact.sqlSum("o_totalprice")} AS revenue
             FROM orders GROUP BY 1 ORDER BY month LIMIT 6"""),
  )

  /** A4 `complex_agg` — the reference's benchmark aggregation
    * (month × category → COUNT/SUM/AVG, ORDER BY 1,2), README.md:799–809. */
  private val complexAgg = QueryDef(
    "complex_agg",
    (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(
          date_trunc("month", col("o_orderdate")).cast("date").as("month"),
          col("o_orderpriority"))
        .agg(
          count(lit(1)).as("cnt"),
          Exact.dsumR(col("o_totalprice")).as("total"),
          Exact.davgR(col("o_totalprice")).as("avg_price"))
        .orderBy("month", "o_orderpriority"),
    Some(s"""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
             ${Exact.sqlSum("o_totalprice")} AS total,
             ${Exact.sqlAvg("o_totalprice")} AS avg_price
             FROM orders GROUP BY 1, 2 ORDER BY month, o_orderpriority"""),
  )

  /** A5 `global_count_avg` — bare COUNT/AVG full scan, README.md:409–411. */
  private val globalCountAvg = QueryDef(
    "global_count_avg",
    (s, dir) =>
      Tables.events(s, dir)
        .agg(count(lit(1)).as("cnt"), Exact.davgR(col("value")).as("avg_value")),
    Some(s"""SELECT CAST(count(*) AS BIGINT) AS cnt,
             ${Exact.sqlAvg("value")} AS avg_value FROM events"""),
  )

  /** A7 `partition_group_count` — GROUP BY the would-be hive partition
    * columns (year, month), README.md:631–639. The partitioned-sink +
    * pruned-read pipeline itself is exercised in PartitionedSinkSpec (it
    * needs a scratch dir, which the oracle can't see). */
  private val partitionGroupCount = QueryDef(
    "partition_group_count",
    (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mon"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("yr", "mon"),
    Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
            CAST(month(o_orderdate) AS BIGINT) AS mon,
            CAST(count(*) AS BIGINT) AS cnt
            FROM orders GROUP BY 1, 2 ORDER BY yr, mon"""),
  )

  /** W1 `cumulative_revenue` — CTE + running SUM OVER (ORDER BY),
    * README.md:611–627. The running sum stays in exact decimal until the
    * final cast, so the window output is bit-identical to the oracle.
    * Note the unpartitioned window: fine here (≤ thousands of day buckets
    * reach the window, pre-aggregated), but at 100 TB the pre-aggregation is
    * what keeps the single-partition sort trivial. */
  private val cumulativeRevenue = QueryDef(
    "cumulative_revenue",
    (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(sum(col("value").cast("decimal(28,2)")).as("rev"))
      val w = Window.orderBy("day")
      daily
        .select(
          col("day"),
          round(col("rev").cast("double"), 2).as("revenue"),
          round(sum(col("rev")).over(w).cast("double"), 2).as("cumulative"))
        .orderBy("day")
    },
    Some("""WITH daily AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                     sum(CAST(value AS DECIMAL(28,2))) AS rev
              FROM events GROUP BY 1)
            SELECT day, round(CAST(rev AS DOUBLE), 2) AS revenue,
                   round(CAST(sum(rev) OVER (ORDER BY day) AS DOUBLE), 2) AS cumulative
            FROM daily ORDER BY day"""),
  )

  /** S1 `synthetic_events_gen` — generate_series + deterministic arithmetic
    * → synthetic events, README.md:188–200. The reference uses random();
    * for oracle parity both sides use the same integer hash-mix arithmetic
    * (seeded rand can't match across engines). Pure codegen, no input IO. */
  private val syntheticEventsGen = QueryDef(
    "synthetic_events_gen",
    (s, _) =>
      s.range(0, 10000).toDF("i")
        .select(
          col("i").as("event_id"),
          (col("i") * 2654435761L % 1000).as("user_id"),
          when(col("i") % 3 === 0, "click")
            .when(col("i") % 3 === 1, "view")
            .otherwise("purchase").as("event_type"),
          ((col("i") * 7919 % 100000) / 100.0).as("value"),
          (lit(1704067200L) + col("i") * 60).as("ts_epoch"))
        .orderBy("event_id"),
    Some("""SELECT i AS event_id, (i * 2654435761) % 1000 AS user_id,
            CASE i % 3 WHEN 0 THEN 'click' WHEN 1 THEN 'view' ELSE 'purchase' END AS event_type,
            ((i * 7919) % 100000) / 100.0 AS value,
            CAST(1704067200 + i * 60 AS BIGINT) AS ts_epoch
            FROM generate_series(0, 9999) t(i) ORDER BY event_id"""),
  )

  /** P4–P8 `derived_projection` — scalar-function row: YEAR/MONTH extraction
    * (README.md:393–394), CASE buckets (:192–196), casts (:103–106), string
    * concat (:104), floor. */
  private val derivedProjection = QueryDef(
    "derived_projection",
    (s, dir) =>
      Tables.events(s, dir)
        .filter(col("event_id") < 100)
        .select(
          col("event_id"),
          year(col("ts")).cast("long").as("yr"),
          month(col("ts")).cast("long").as("mon"),
          when(col("value") > 500, "high")
            .when(col("value") > 100, "mid")
            .otherwise("low").as("bucket"),
          floor(col("value")).cast("long").as("val_floor"),
          concat(lit("/api/v1/resource/"), col("user_id").cast("string")).as("path"))
        .orderBy("event_id"),
    Some("""SELECT event_id, CAST(year(ts) AS BIGINT) AS yr,
            CAST(month(ts) AS BIGINT) AS mon,
            CASE WHEN value > 500 THEN 'high' WHEN value > 100 THEN 'mid' ELSE 'low' END AS bucket,
            CAST(floor(value) AS BIGINT) AS val_floor,
            '/api/v1/resource/' || CAST(user_id AS VARCHAR) AS path
            FROM events WHERE event_id < 100 ORDER BY event_id"""),
  )

  /** V3 semi-structured: JSON path extraction from the `props` column,
    * README.md:1143–1152 (`payload:action` / JSON_VALUE). */
  private val jsonGet = QueryDef(
    "json_get",
    (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"), get_json_object(col("props"), "$.k").as("k"))
        .orderBy("event_id"),
    Some("""SELECT event_id, json_extract_string(props, '$.k') AS k
            FROM events ORDER BY event_id"""),
  )

  /** Aggregate over an extracted JSON field (README.md:1148–1152 pattern). */
  private val jsonBucketAgg = QueryDef(
    "json_bucket_agg",
    (s, dir) =>
      Tables.events(s, dir)
        .select((get_json_object(col("props"), "$.k").cast("long") % 10).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("bucket"),
    Some("""SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS bucket,
            CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1 ORDER BY bucket"""),
  )

  /** O2+O3 `order_topk` — ORDER BY … DESC LIMIT k (README.md:591, 606) →
    * TakeOrderedAndProject: each partition keeps k rows, driver merges k —
    * no global sort even at 100 TB. */
  private val orderTopk = QueryDef(
    "order_topk",
    (s, dir) =>
      Tables.orders(s, dir)
        .select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate").cast("date").as("o_orderdate"),
          col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(5),
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
            CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
            FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 5"""),
  )

  /** COUNT(DISTINCT) family: distinct users + events per type. Spark plans
    * the distinct as an expand + two-phase aggregate — the shuffle is on
    * (event_type, user_id), so cardinality per reducer stays bounded at
    * scale. */
  private val distinctAgg = QueryDef(
    "distinct_agg",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("cnt"))
        .orderBy("event_type"),
    Some("""SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
            CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY event_type ORDER BY event_type"""),
  )

  /** Skew-mitigation pattern: two-phase salted aggregation — partial
    * aggregate on (key, salt) spreads a hot key over 16 reducers, then the
    * final aggregate collapses the salts. Result is identical to the
    * direct groupBy (the oracle proves it); the shape is what survives a
    * hot key at 100 TB when AQE skew handling isn't available (e.g.
    * pre-AQE engines or custom shuffles). */
  private val skewSaltedAgg = QueryDef(
    "skew_salted_agg",
    (s, dir) =>
      Tables.events(s, dir)
        .withColumn("salt", (col("event_id") % 16).cast("int"))
        .groupBy("event_type", "salt")
        .agg(
          sum(col("value").cast("decimal(28,2)")).as("partial_sum"),
          count(lit(1)).as("partial_cnt"))
        .groupBy("event_type")
        .agg(
          round(sum(col("partial_sum")).cast("double"), 2).as("sum_value"),
          sum(col("partial_cnt")).as("cnt"))
        .orderBy("event_type"),
    Some(s"""SELECT event_type, ${Exact.sqlSum("value")} AS sum_value,
             CAST(count(*) AS BIGINT) AS cnt
             FROM events GROUP BY event_type ORDER BY event_type"""),
  )

  /** V3 TIMESTAMP_NS (SURVEY.md §7.6; README.md:1173–1179): Spark tops out
    * at µs precision, so nanosecond timestamps are carried as a raw
    * nanos-since-epoch LONG companion (lossless) next to the truncated µs
    * view. The oracle can only see the µs projection — DuckDB itself
    * truncates parquet ns→µs on read — so this query exposes the µs
    * agreement; TimestampNsSpec proves the Spark-side LONG really retains
    * sub-µs precision the µs path drops. Like Tables.events, branches on
    * the loaded schema: ns-as-long vintage divides down, µs vintage takes
    * unix_micros directly (already full source precision). */
  private val timestampNs = QueryDef(
    "timestamp_ns",
    (s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = Tables.raw(s, dir, "events")
      val micros = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => expr("ts div 1000")
        case _ => expr("unix_micros(cast(ts as timestamp))")
      }
      raw
        .select(
          col("event_id"),
          micros.as("ts_micros"),
          date_format(timestamp_micros(micros), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("ts_str")) // zero-padded µs — Spark's cast-to-string trims trailing zeros, DuckDB's %f doesn't
        .orderBy("event_id")
    },
    Some("""SELECT event_id, epoch_us(ts) AS ts_micros,
            strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
            FROM events ORDER BY event_id"""),
  )

  /** ROLLUP hierarchy totals (year → priority → grand total). Null group
    * keys are coalesced to a sentinel IN the query so both engines sort
    * identically (Spark orders NULLS FIRST asc, DuckDB NULLS LAST — a
    * sentinel sidesteps the divergence). */
  private val rollupAgg = QueryDef(
    "rollup_agg",
    (s, dir) =>
      Tables.orders(s, dir)
        .rollup(
          year(col("o_orderdate")).cast("string").as("yr"),
          col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), Exact.dsumR(col("o_totalprice")).as("total"))
        .select(
          coalesce(col("yr"), lit("<all>")).as("yr"),
          coalesce(col("o_orderpriority"), lit("<all>")).as("priority"),
          col("cnt"), col("total"))
        .orderBy("yr", "priority"),
    Some(s"""SELECT coalesce(CAST(year(o_orderdate) AS VARCHAR), '<all>') AS yr,
             coalesce(o_orderpriority, '<all>') AS priority,
             CAST(count(*) AS BIGINT) AS cnt, ${Exact.sqlSum("o_totalprice")} AS total
             FROM orders GROUP BY ROLLUP (CAST(year(o_orderdate) AS VARCHAR), o_orderpriority)
             ORDER BY yr, priority"""),
  )

  /** CUBE over (returnflag, linestatus): all four grouping-set levels in
    * one pass — Spark expands the sets map-side and aggregates them in the
    * same partial/final shuffle as a plain GROUP BY (no per-level rescan).
    * `gid` is computed as 2·grouping(a)+grouping(b) on both sides rather
    * than engine-specific grouping_id encodings; NULL group values are
    * coalesced to a sentinel so the total ORDER BY is engine-independent. */
  private val cubeAgg = QueryDef(
    "cube_agg",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("cnt"),
          Exact.dsumR(col("l_extendedprice")).as("revenue"),
          (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
            .cast("long").as("gid"))
        .select(
          coalesce(col("l_returnflag"), lit("<all>")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("<all>")).as("linestatus"),
          col("gid"), col("cnt"), col("revenue"))
        .orderBy("gid", "returnflag", "linestatus"),
    Some(s"""SELECT coalesce(l_returnflag, '<all>') AS returnflag,
             coalesce(l_linestatus, '<all>') AS linestatus,
             CAST(2*GROUPING(l_returnflag) + GROUPING(l_linestatus) AS BIGINT) AS gid,
             CAST(count(*) AS BIGINT) AS cnt, ${Exact.sqlSum("l_extendedprice")} AS revenue
             FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
             ORDER BY gid, returnflag, linestatus"""),
  )

  /** Arbitrary GROUPING SETS — the third grouping form next to CUBE and
    * ROLLUP: exactly the ((returnflag), (linestatus)) marginals, neither
    * the cross levels nor the grand total. Catalyst's single
    * Expand+aggregate covers both sets in ONE partial/final shuffle (no
    * per-set rescan — the same plan property as cube_agg); gid and NULL
    * sentinels keep the output totally ordered on both engines. Expressed
    * through SQL GROUP BY GROUPING SETS (the Dataset API has no direct
    * equivalent for arbitrary sets — SQL is the library surface here). */
  private val groupingSetsAgg = QueryDef(
    "grouping_sets_agg",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_gs")
      s.sql(s"""SELECT coalesce(l_returnflag, '<all>') AS returnflag,
                       coalesce(l_linestatus, '<all>') AS linestatus,
                       CAST(2*GROUPING(l_returnflag) + GROUPING(l_linestatus) AS BIGINT) AS gid,
                       CAST(count(*) AS BIGINT) AS cnt,
                       ${Exact.sqlSum("l_extendedprice")} AS revenue
                FROM lineitem_gs
                GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
                ORDER BY gid, returnflag, linestatus""")
    },
    Some(s"""SELECT coalesce(l_returnflag, '<all>') AS returnflag,
             coalesce(l_linestatus, '<all>') AS linestatus,
             CAST(2*GROUPING(l_returnflag) + GROUPING(l_linestatus) AS BIGINT) AS gid,
             CAST(count(*) AS BIGINT) AS cnt, ${Exact.sqlSum("l_extendedprice")} AS revenue
             FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
             ORDER BY gid, returnflag, linestatus"""),
  )

  /** Ordered LISTAGG (Spark 4's `listagg ... WITHIN GROUP` ≡ DuckDB's
    * `string_agg(... ORDER BY)`): per order priority, the distinct
    * statuses as one ordered CSV plus their count. The WITHIN GROUP
    * ordering is what makes a string aggregate oracle-able at all — an
    * unordered listagg concatenates in partition arrival order and can
    * never hash-match. Aggregated over DISTINCT of a low-cardinality
    * column, so the result string is bounded regardless of table size
    * (never listagg an unbounded group at 100 TB). */
  private val listaggAgg = QueryDef(
    "listagg_agg",
    (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_la")
      // DISTINCT runs in the subquery: Spark 4.1's listagg(DISTINCT ...)
      // WITHIN GROUP rejects the combination at analysis time
      s.sql("""SELECT o_orderpriority,
                      listagg(o_orderstatus, '|')
                        WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
                      CAST(count(o_orderstatus) AS BIGINT) AS n_statuses
               FROM (SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders_la)
               GROUP BY o_orderpriority
               ORDER BY o_orderpriority""")
    },
    Some("""SELECT o_orderpriority,
                   string_agg(o_orderstatus, '|' ORDER BY o_orderstatus) AS statuses,
                   CAST(count(o_orderstatus) AS BIGINT) AS n_statuses
            FROM (SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders)
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority"""),
  )

  /** PIVOT: event values spread into one column per event_type. Spark's
    * relational pivot with explicit values (stable output schema at any
    * scale — never let pivot infer distinct values on a 100 TB table);
    * oracle expresses the same as conditional aggregation. */
  private val pivotAgg = QueryDef(
    "pivot_agg",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
        .pivot("event_type", Seq("click", "view", "purchase"))
        .agg(Exact.dsumR(col("value")))
        .na.fill(0.0, Seq("click", "view", "purchase"))
        .orderBy("day"),
    Some(s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             coalesce(round(CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(28,2)) END) AS DOUBLE), 2), 0.0) AS click,
             coalesce(round(CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(28,2)) END) AS DOUBLE), 2), 0.0) AS view,
             coalesce(round(CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(28,2)) END) AS DOUBLE), 2), 0.0) AS purchase
             FROM events GROUP BY 1 ORDER BY day"""),
  )

  /** Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    * `quantile_cont`: both linear-interpolate over the sorted values, so
    * the doubles are bit-identical). At 100 TB you'd reach for
    * percentile_approx/t-digest; the exact form is the oracle-able
    * baseline it's validated against. */
  private val percentiles = QueryDef(
    "percentiles",
    (s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .agg(
          round(expr("percentile(o_totalprice, 0.25)"), 2).as("p25"),
          round(expr("percentile(o_totalprice, 0.5)"), 2).as("median"),
          round(expr("percentile(o_totalprice, 0.75)"), 2).as("p75"),
          count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority,
            round(quantile_cont(o_totalprice, 0.25), 2) AS p25,
            round(quantile_cont(o_totalprice, 0.5), 2) AS median,
            round(quantile_cont(o_totalprice, 0.75), 2) AS p75,
            CAST(count(*) AS BIGINT) AS cnt
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
  )

  val defs: Seq[QueryDef] = Seq(
    pkLookup, pushdownCount, filterRangeAgg, eventTypeAgg, dailyCountAvg,
    monthlyRevenue, complexAgg, globalCountAvg, partitionGroupCount,
    cumulativeRevenue, syntheticEventsGen, derivedProjection, jsonGet,
    jsonBucketAgg, orderTopk, distinctAgg, skewSaltedAgg, timestampNs,
    rollupAgg, cubeAgg, groupingSetsAgg, listaggAgg, pivotAgg, percentiles,
  )
}
