package perfbench

import java.net.{HttpURLConnection, URI}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, year}

import graft.icelite.{IceLite, IceLiteTable, RestCatalogServer}

/** The row the shadow model keeps per live order key. Prices are cents, so
  * sums are exact on both sides. */
final case class OrderRow(custkey: Long, status: String, cents: Long, epochDay: Int,
    priority: String) {
  def year: Int = java.time.LocalDate.ofEpochDay(epochDay).getYear
}

/** The seeded shadow model of the lakehouse table: the rows that must be
  * live, and an aggregate per committed snapshot for time-travel reads.
  * Every write is applied here after the engine commits it. */
final class ShadowModel(initial: Iterable[(Long, OrderRow)]) {
  val rows: mutable.Map[Long, OrderRow] = mutable.HashMap.from(initial)
  /** (snapshot id, live rows, price sum in cents), oldest first. */
  val history = mutable.ArrayBuffer[(Long, Long, Long)]()

  def insert(batch: Seq[(Long, OrderRow)]): Unit = batch.foreach { case (k, r) =>
    require(!rows.contains(k), s"insert of live key $k")
    rows(k) = r
  }
  def delete(lo: Long, hi: Long): Unit = (lo to hi).foreach(rows.remove)
  def update(lo: Long, hi: Long, addCents: Long, status: String): Unit =
    (lo to hi).foreach(k => rows.get(k).foreach(r =>
      rows(k) = r.copy(cents = r.cents + addCents, status = status)))
  /** MERGE ... WHEN MATCHED UPDATE SET * WHEN NOT MATCHED INSERT *. */
  def upsert(batch: Seq[(Long, OrderRow)]): Unit = batch.foreach { case (k, r) => rows(k) = r }

  def aggregate(p: ((Long, OrderRow)) => Boolean = _ => true): (Long, Long) =
    rows.iterator.filter(p).foldLeft((0L, 0L)) { case ((n, s), (_, r)) => (n + 1, s + r.cents) }

  def commit(snapshot: Long): Unit = {
    val (n, s) = aggregate()
    history += ((snapshot, n, s))
  }

  /** Forget snapshots the table no longer has. */
  def retain(live: Set[Long]): Unit = history.filterInPlace(h => live.contains(h._1))

  /** Differences between `table` and the model, at most `limit` of them. */
  def diff(table: Iterable[(Long, OrderRow)], limit: Int = 5): Seq[String] = {
    val seen = mutable.HashSet[Long]()
    val out = mutable.ArrayBuffer[String]()
    table.foreach { case (k, r) =>
      if (!seen.add(k)) out += s"key $k appears twice"
      else rows.get(k) match {
        case None => out += s"key $k is live in the table, not in the model"
        case Some(m) if m != r => out += s"key $k: table $r, model $m"
        case _ =>
      }
    }
    rows.keysIterator.filterNot(seen.contains).take(limit).foreach(k =>
      out += s"key $k is live in the model, not in the table")
    out.take(limit).toSeq
  }
}

/** Planner for the seeded op stream: which op comes next and with which
  * keys. Deletes, updates and merges aim at recently inserted keys. */
final class OpPlanner(seed: Long, firstNewKey: Long, years: Seq[Int]) {
  var nextKey: Long = firstNewKey

  def rng(round: Int) = new java.util.SplittableRandom(seed * 1000003L + round)

  /** A key near the top of the key space: the offset from the newest key
    * is exponential with mean `mean` keys. */
  def recentKey(r: java.util.SplittableRandom, mean: Double): Long = {
    val off = (-math.log(1.0 - r.nextDouble()) * mean).toLong
    math.max(0L, nextKey - 1 - off)
  }

  def newRow(r: java.util.SplittableRandom): OrderRow =
    OrderRow(r.nextLong(1000L), Seq("F", "O", "P")(r.nextInt(3)),
      100000L + r.nextLong(49900000L),
      java.time.LocalDate.of(years.last, 1, 1).toEpochDay.toInt + r.nextInt(200),
      Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(r.nextInt(5)))

  def freshBatch(r: java.util.SplittableRandom, n: Int): Seq[(Long, OrderRow)] =
    (0 until n).map { _ => val k = nextKey; nextKey += 1; k -> newRow(r) }
}

/** `lakehouse_mix`: an IceLite table seeded from `orders`, partitioned by
  * year with merge-on-read deletes and updates, driven by a seeded stream
  * of reads (pruned scans, time travel, REST loads) and SQL writes
  * (INSERT, DELETE, UPDATE, MERGE), with a maintenance cycle closing every
  * round. The table is compared with the shadow model after every
  * maintenance cycle and at the end. */
final class LakehouseWorkload(base: SparkSession, ctx: Ctx) extends Workload {
  val name = "lakehouse_mix"
  private val Ns = "bench"
  private val Tbl = s"icelite.$Ns.orders"
  /** One round is one maintenance cycle: these ops in a seeded order, half
    * reads and half writes, then maintenance. A fixed mix keeps every
    * seed's run comparable. */
  private val RoundKinds = Seq("insert", "insert", "delete", "update", "merge", "merge",
    "pruned_read", "pruned_read", "time_travel", "time_travel", "rest_load", "rest_load")
  /** Batch sizes are fixed, so every seed's round does the same work. */
  private val InsertRows = 40
  private val MergeRows = 30
  private val RangeKeys = 10

  private var spark: SparkSession = base
  private var warehouse: String = _
  private var server: RestCatalogServer = _
  private var port = 0
  private var setups = 0
  private var model: ShadowModel = _
  private var planner: OpPlanner = _
  private val seedRows: Seq[(Long, OrderRow)] = {
    val r = base.read.parquet(s"${ctx.dataDir}/orders.parquet")
      .selectExpr("o_orderkey", "o_custkey", "o_orderstatus",
        "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)", "CAST(o_orderdate AS DATE)",
        "o_orderpriority").collect()
    r.toSeq.map(x => x.getLong(0) -> OrderRow(x.getLong(1), x.getString(2), x.getLong(3),
      x.getDate(4).toLocalDate.toEpochDay.toInt, x.getString(5)))
  }
  private val years = seedRows.map(_._2.year).distinct.sorted

  private var schema: org.apache.spark.sql.types.StructType = _
  private var views = 0

  private def location = s"$warehouse/$Ns/orders"
  /** A fresh handle, as a user loads one; opening it is IceLite work. */
  private def table: IceLiteTable = IceLite.load(spark, location)
  private var bookkeeping: IceLiteTable = _
  private def currentSnapshot: Long = bookkeeping.meta.currentSnapshotId.getOrElse(-1L)

  def setup(s: SparkSession): Unit = {
    stopServer()
    spark = s
    setups += 1
    warehouse = s"${ctx.workDir}/warehouse$setups"
    s.conf.set("spark.sql.catalog.icelite", "graft.icelite.connector.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.icelite.warehouse", warehouse)
    Workload.loadTables(s, ctx, Seq("orders"))
    ctx.tracer.span("connector", "create") {
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS icelite.$Ns")
      s.sql(s"""CREATE TABLE $Tbl (o_orderkey BIGINT, o_custkey BIGINT,
                  o_orderstatus STRING, o_totalprice DECIMAL(12,2), o_orderdate DATE,
                  o_orderpriority STRING)
                PARTITIONED BY (years(o_orderdate))
                TBLPROPERTIES ('write.delete.mode'='merge-on-read',
                               'write.update.mode'='merge-on-read')""")
      graft.Tables.orders(s, ctx.dataDir).createOrReplaceTempView("seed_orders")
      s.sql(s"""INSERT INTO $Tbl SELECT o_orderkey, o_custkey, o_orderstatus,
                  CAST(o_totalprice AS DECIMAL(12,2)), CAST(o_orderdate AS DATE),
                  o_orderpriority FROM seed_orders""")
    }
    schema = s.table(Tbl).schema
    bookkeeping = table
    server = new RestCatalogServer(s, warehouse)
    port = server.start(0)
    model = new ShadowModel(seedRows)
    model.commit(currentSnapshot)
    planner = new OpPlanner(ctx.seed, seedRows.map(_._1).max + 1, years)
    metaBytes = Workload.dirBytes(s"$location/metadata")
  }

  def stopServer(): Unit = if (server != null) { server.stop(); server = null }

  /** Register a write's input rows as a local temp view; done while the
    * round is planned, so the timed op only runs the SQL. */
  private def rowsView(batch: Seq[(Long, OrderRow)]): String = {
    import scala.jdk.CollectionConverters._
    val data = batch.map { case (k, r) =>
      Row(k, r.custkey, r.status, java.math.BigDecimal.valueOf(r.cents, 2),
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(r.epochDay)), r.priority)
    }
    views += 1
    val view = s"batch_$views"
    spark.createDataFrame(data.asJava, schema).createOrReplaceTempView(view)
    view
  }

  /** Record the commit a write of `rows` rows just made and fold it into
    * the model; in traced rounds also the metadata bytes it added. */
  private def committed(rows: Int)(apply: => Unit): Option[String] = {
    apply
    val m = bookkeeping.meta
    model.commit(m.currentSnapshotId.getOrElse(-1L))
    val meta = Workload.dirBytes(s"$location/metadata")
    if (ctx.tracer.lastTraced) {
      rowsWritten += rows
      metaGrowth += meta - metaBytes
      commits += 1
      m.currentSnapshot.foreach { s =>
        dataFiles += s.dataFiles.size
        deleteFiles += s.deleteFiles.size
      }
      snapshots += m.snapshots.size
    }
    metaBytes = meta
    None
  }

  private def sql(text: String): Unit = ctx.tracer.span("connector", "sql")(spark.sql(text))

  /** One op of `kind`, its keys and rows drawn from `r`. */
  private def op(kind: String, r: java.util.SplittableRandom): Op = kind match {
    case "insert" =>
      val batch = planner.freshBatch(r, InsertRows)
      val view = rowsView(batch)
      Op("insert", "write",
        exec = () => sql(s"INSERT INTO $Tbl SELECT * FROM $view"),
        check = _ => committed(batch.size)(model.insert(batch)))
    case "delete" =>
      val lo = planner.recentKey(r, 400); val hi = lo + RangeKeys - 1
      Op("delete", "write",
        exec = () => sql(s"DELETE FROM $Tbl WHERE o_orderkey >= $lo AND o_orderkey <= $hi"),
        check = _ => committed(0)(model.delete(lo, hi)))
    case "update" =>
      val lo = planner.recentKey(r, 400); val hi = lo + RangeKeys - 1
      val add = 1 + r.nextInt(500)
      val addSql = java.math.BigDecimal.valueOf(add.toLong, 2).toPlainString
      Op("update", "write",
        exec = () => sql(s"""UPDATE $Tbl SET o_totalprice = o_totalprice + ${addSql}BD,
                               o_orderstatus = 'U' WHERE o_orderkey >= $lo AND o_orderkey <= $hi"""),
        check = _ => committed((lo to hi).count(model.rows.contains))(model.update(lo, hi, add, "U")))
    case "merge" =>
      val old = Iterator.continually(planner.recentKey(r, 400)).distinct
        .take(MergeRows / 2).toSeq.map(k => k -> planner.newRow(r))
      val batch = old ++ planner.freshBatch(r, MergeRows - old.size)
      val view = rowsView(batch)
      Op("merge", "write",
        exec = () => sql(s"""MERGE INTO $Tbl t USING $view s ON t.o_orderkey = s.o_orderkey
                  WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"""),
        check = _ => committed(batch.size)(model.upsert(batch)))
    case "pruned_read" =>
      val y = years(r.nextInt(years.size))
      val lo = r.nextLong(planner.nextKey); val hi = lo + 2000
      Op("pruned_read", "read",
        exec = () => {
          val cond = col("o_orderkey") >= lo && col("o_orderkey") < hi
          val df = ctx.tracer.span("icelite", "read")(table.read(
            prune = p => p.get("o_orderdate_year").contains(y.toString),
            statFilters = IceLite.statFiltersFromCondition(cond)))
          val got = ctx.tracer.span("driver", "collect")(
            df.filter(cond && year(col("o_orderdate")) === y)
              .agg(count(lit(1)), sum("o_totalprice")).collect().head)
          (got, df)
        },
        check = {
          case (got: Row, df: org.apache.spark.sql.DataFrame @unchecked) =>
            if (ctx.tracer.lastTraced) { filesRead += df.inputFiles.length; reads += 1 }
            expectAgg(got, model.aggregate { case (k, o) => k >= lo && k < hi && o.year == y },
              s"pruned read y=$y [$lo,$hi)")
          case other => Some(s"pruned read: $other")
        })
    case "time_travel" =>
      val back = r.nextInt(4)
      var want = (0L, 0L, 0L)
      Op("time_travel", "read",
        exec = () => {
          want = model.history(math.max(0, model.history.size - 1 - back))
          val df = ctx.tracer.span("connector", "sql")(spark.sql(
            s"SELECT count(*), sum(o_totalprice) FROM $Tbl VERSION AS OF ${want._1}"))
          ctx.tracer.span("driver", "collect")(df.collect().head)
        },
        check = got => expectAgg(got.asInstanceOf[Row], (want._2, want._3),
          s"VERSION AS OF ${want._1}"))
    case "rest_load" =>
      Op("rest_load", "read",
        exec = () => ctx.tracer.span("rest", "load")(restGet(s"/v1/namespaces/$Ns/tables/orders")),
        check = {
          case (code: Int, body: String) =>
            val cur = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
              .path("metadata").path("currentSnapshotId").asLong(-1L)
            if (code != 200) { restErrors += 1; Some(s"REST load: HTTP $code") }
            else if (cur != model.history.last._1)
              Some(s"REST load: snapshot $cur, expected ${model.history.last._1}")
            else None
          case other => Some(s"REST load: $other")
        })
  }

  private def maintOp(): Op = Op("maintenance", "write",
    exec = () => {
      ctx.tracer.span("icelite", "compact")(table.compact(4))
      ctx.tracer.span("icelite", "rewrite_deletes")(table.rewritePositionDeletes(1, 2))
      val snaps = table.meta.snapshots
      val keep = snaps.sortBy(_.timestampMs).takeRight(4).head.timestampMs
      ctx.tracer.span("icelite", "expire")(table.expireSnapshots(keep))
    },
    check = _ => {
      model.commit(currentSnapshot)
      model.retain(bookkeeping.meta.snapshots.map(_.id).toSet)
      metaBytes = Workload.dirBytes(s"$location/metadata")
      fullCheck("maintenance cycle")
    })

  /** Compare every live row of the table with the model. */
  private def fullCheck(where: String): Option[String] = {
    val rows = spark.sql(s"""SELECT o_orderkey, o_custkey, o_orderstatus,
        CAST(o_totalprice * 100 AS BIGINT), o_orderdate, o_orderpriority FROM $Tbl""").collect()
    val d = model.diff(rows.map(x => x.getLong(0) -> OrderRow(x.getLong(1), x.getString(2),
      x.getLong(3), x.getDate(4).toLocalDate.toEpochDay.toInt, x.getString(5))))
    if (d.isEmpty) None else Some(s"$where: ${d.mkString("; ")}")
  }

  private def expectAgg(got: Row, want: (Long, Long), what: String): Option[String] = {
    val n = got.getLong(0)
    val cents = Option(got.getDecimal(1)).map(_.movePointRight(2).longValueExact).getOrElse(0L)
    if ((n, cents) == want) None else Some(s"$what: got ($n, $cents), expected $want")
  }

  private def restGet(path: String): (Int, String) = {
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    try {
      val code = c.getResponseCode
      val in = if (code < 400) c.getInputStream else c.getErrorStream
      (code, new String(in.readAllBytes(), "UTF-8"))
    } finally c.disconnect()
  }

  def round(rnd: Int): Seq[Op] = {
    val r = planner.rng(rnd)
    // planned in order, so each op sees the keys the ops before it insert
    Workload.shuffled(RoundKinds, ctx.seed, rnd).map(op(_, r)) :+ maintOp()
  }

  private var metaBytes, metaGrowth, rowsWritten = 0L
  private var commits, dataFiles, deleteFiles, snapshots = 0
  private var filesRead = 0L
  private var reads = 0L
  private var restErrors = 0

  override def finalChecks(): Seq[String] = fullCheck("end of run").toSeq

  /** Warehouse bytes on disk ÷ bytes of the live rows written once as
    * plain parquet; plus the table's file and snapshot counts. */
  override def extraMetrics(): Seq[(String, Double, String)] = {
    val plain = s"${ctx.workDir}/plain"
    table.read().write.mode("overwrite").parquet(plain)
    def perCommit(x: Double) = if (commits == 0) 0.0 else x / commits
    val out = Seq(
      ("space_amp", Workload.dirBytes(location).toDouble / Workload.dirBytes(plain), "ratio"),
      // what the table holds just after a traced write, on average
      ("icelite.data_files", perCommit(dataFiles), "count"),
      ("icelite.delete_files", perCommit(deleteFiles), "count"),
      ("icelite.snapshots", perCommit(snapshots), "count"),
      ("icelite.metadata_bytes_per_commit", perCommit(metaGrowth.toDouble), "bytes"),
      ("icelite.rows_written_traced", rowsWritten.toDouble, "count"),
      ("icelite.files_per_read", if (reads == 0) 0.0 else filesRead.toDouble / reads, "count"),
      ("icelite.plain_bytes", Workload.dirBytes(plain).toDouble, "bytes"),
      ("icelite.live_rows", model.rows.size.toDouble, "count"),
      ("rest.errors", restErrors.toDouble, "count"))
    stopServer()
    out
  }
}
