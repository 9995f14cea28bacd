package graft.operators

import java.nio.file.Files

import graft.{QueryDef, Tables}
import graft.icelite.{Catalog, IceLite, IceLiteTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IceLite lakehouse operators (SURVEY.md §2.8 M1–M18). Each query builds a
  * scratch IceLite table from the `orders` testdata, applies the table
  * operation under test, and returns the resulting TABLE STATE — which the
  * driver's DuckDB oracle recomputes directly from the raw parquet. That
  * makes ACID machinery (snapshots, CoW/MoR DML, schema evolution, time
  * travel) hash-checkable even though the operations themselves aren't SQL.
  *
  * Ops whose effects are filesystem-shaped (expire file deletion, orphan
  * listing, partition pruning I/O) are asserted in IceLiteSpec instead.
  */
object LakehouseOps {

  /** Fresh scratch location per invocation (driver may call repeatedly). */
  private def scratch(name: String): String =
    Files.createTempDirectory(s"icelite_$name").toString + "/t"

  private def orders(s: SparkSession, dir: String): DataFrame = Tables.orders(s, dir)

  /** Canonical deterministic projection of the table state. */
  private def state(t: IceLiteTable): DataFrame = stateOf(t.read())
  private def stateOf(df: DataFrame): DataFrame =
    df.select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate").cast("date").as("o_orderdate"),
      col("o_orderpriority"))
      .orderBy("o_orderkey")

  private val ordersCols =
    """o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority"""

  /** Max of a BIGINT column from the table's own manifest stats — the
    * metadata answer to a footer-stats MAX, O(files) driver-side with no
    * Spark job (dogfoods the same stats the data-skipping path prunes
    * with). */
  private def maxKeyFromStats(t: IceLiteTable, colName: String): Long = {
    val fld = t.meta.currentSchema.fieldByName(colName)
    val files = t.meta.currentSnapshot.get.dataFiles
    val stats = files.flatMap(_.stats.get(fld.id))
    // stats answer only when EVERY live file bounds the column — a
    // stat-less file (fromFooter poisons columns on stat-less blocks)
    // could hold the true max; fall back to the distributed agg then
    if (stats.size == files.size && stats.nonEmpty) stats.map(_.max.toLong).max
    else t.read().agg(max(col(colName)).cast("bigint")).head.getLong(0)
  }

  private def mkTable(s: SparkSession, dir: String, name: String,
      partition: Seq[(String, String)] = Seq(),
      props: Map[String, String] = Map()): IceLiteTable = {
    val t = IceLite.createFrom(s, scratch(name), orders(s, dir), partition, props)
    t.append(orders(s, dir))
    t
  }

  /** M1+M2+read: CREATE TABLE + INSERT + full read-back
    * (README.md:944–951, 1136–1138). */
  private val appendRead = QueryDef(
    "icelite_append_read",
    (s, dir) => state(mkTable(s, dir, "append")),
    Some(s"SELECT $ordersCols FROM orders ORDER BY o_orderkey"),
  )

  /** M3a UPDATE (README.md:954–956): copy-on-write, constant assignment. */
  private val updateCow = QueryDef(
    "icelite_update",
    (s, dir) => {
      val t = mkTable(s, dir, "update")
      t.update(col("o_orderkey") % 100 === 0, Map("o_totalprice" -> lit(1500.0)))
      state(t)
    },
    Some(s"""SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 100 = 0 THEN 1500.0 ELSE o_totalprice END AS o_totalprice,
             CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
             FROM orders ORDER BY o_orderkey"""),
  )

  /** M3b DELETE copy-on-write (README.md:959–960). */
  private val deleteCow = QueryDef(
    "icelite_delete_cow",
    (s, dir) => {
      val t = mkTable(s, dir, "delcow")
      t.delete(col("o_orderkey") % 10 === 0)
      state(t)
    },
    Some(s"""SELECT $ordersCols FROM orders
             WHERE o_orderkey % 10 <> 0 ORDER BY o_orderkey"""),
  )

  /** M3c+M18 DELETE merge-on-read: deletion vectors via
    * write.delete.mode=merge-on-read (README.md:1111–1121). */
  private val deleteMor = QueryDef(
    "icelite_delete_mor",
    (s, dir) => {
      val t = mkTable(s, dir, "delmor",
        props = Map("write.delete.mode" -> "merge-on-read"))
      t.delete(col("o_orderkey") % 7 === 0)
      state(t)
    },
    Some(s"""SELECT $ordersCols FROM orders
             WHERE o_orderkey % 7 <> 0 ORDER BY o_orderkey"""),
  )

  /** M3a extension — UPDATE merge-on-read (`write.update.mode=
    * merge-on-read`): one commit = position deletes masking the old row
    * versions + tiny appended files carrying the updated ones. The
    * embedded requires prove the MoR promise: the original data files are
    * ALL still live (zero rewritten bytes — a CoW update would have
    * replaced every touched file) and position-delete files appeared.
    * Update cost is O(matched rows) at any file size. */
  private val updateMor = QueryDef(
    "icelite_update_mor",
    (s, dir) => {
      val t = mkTable(s, dir, "updmor",
        props = Map("write.update.mode" -> "merge-on-read"))
      val before = t.meta.currentSnapshot.get.dataFiles.map(_.path).toSet
      t.update(col("o_orderkey") % 9 === 0,
        Map("o_orderpriority" -> lit("0-MORUPD"),
          "o_totalprice" -> (col("o_totalprice") + lit(10.0))))
      val after = t.meta.currentSnapshot.get
      require(before.subsetOf(after.dataFiles.map(_.path).toSet),
        "MoR update must not rewrite existing data files")
      require(after.deleteFiles.nonEmpty,
        "MoR update must add position-delete files")
      state(t)
    },
    Some(s"""SELECT o_orderkey, o_custkey, o_orderstatus,
                    o_totalprice + 10.0 AS o_totalprice,
                    CAST(o_orderdate AS DATE) AS o_orderdate,
                    '0-MORUPD' AS o_orderpriority
             FROM orders WHERE o_orderkey % 9 = 0
             UNION ALL
             SELECT $ordersCols FROM orders WHERE o_orderkey % 9 <> 0
             ORDER BY o_orderkey"""),
  )

  /** M3c extension — EQUALITY deletes (Iceberg v2's second MoR delete
    * kind): delete by key content with NO table scan at delete time, then
    * re-insert a subset of the deleted keys — the sequence-number scoping
    * (eq delete applies only to files with a lower data sequence) is what
    * the oracle checks: re-inserted rows must survive. */
  private val deleteMorEq = QueryDef(
    "icelite_delete_mor_eq",
    (s, dir) => {
      val t = mkTable(s, dir, "deleq")
      t.deleteEq(orders(s, dir).filter(col("o_orderkey") % 7 === 0).select("o_orderkey"))
      t.append(orders(s, dir).filter(col("o_orderkey") % 14 === 0)) // re-insert half
      state(t)
    },
    Some(s"""SELECT $ordersCols FROM orders WHERE o_orderkey % 7 <> 0
             UNION ALL
             SELECT $ordersCols FROM orders WHERE o_orderkey % 14 = 0
             ORDER BY o_orderkey"""),
  )

  /** Streaming-style upsert in ONE commit (equality delete + append with a
    * shared sequence number): updates keys %100=0 in place and inserts
    * shifted copies of keys %500=0 — MERGE-equivalent output with O(source)
    * cost, no target scan or file rewrite (what a CDC sink needs at
    * 100 TB: upsert latency independent of table size). */
  private val upsertEq = QueryDef(
    "icelite_upsert_eq",
    (s, dir) => {
      val t = mkTable(s, dir, "upserteq")
      val o = orders(s, dir)
      val updates = o.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", lit(2222.0))
      val inserts = o.filter(col("o_orderkey") % 500 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 20000000L)
        .withColumn("o_orderstatus", lit("I"))
      t.upsertEq(updates.unionByName(inserts), Seq("o_orderkey"))
      state(t)
    },
    Some(s"""SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 100 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
             CASE WHEN o_orderkey % 100 = 0 THEN 2222.0 ELSE o_totalprice END AS o_totalprice,
             CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
             FROM orders
             UNION ALL
             SELECT o_orderkey + 20000000, o_custkey, 'I', o_totalprice,
             CAST(o_orderdate AS DATE), o_orderpriority
             FROM orders WHERE o_orderkey % 500 = 0
             ORDER BY o_orderkey"""),
  )

  /** DROP COLUMN (schema evolution, metadata-only — completes the DDL set
    * beside add/rename/widen): drop o_orderpriority, then ADD a column of
    * the same name. Field ids are never reused, so the re-added column is
    * a fresh field and must read back all-NULL — the oracle proves the old
    * files' orphaned values cannot bleed into the new column. */
  private val dropColumnDdl = QueryDef(
    "icelite_drop_column",
    (s, dir) => {
      val t = mkTable(s, dir, "dropcol")
      t.dropColumn("o_orderpriority")
      t.addColumn("o_orderpriority", "STRING")
      state(t)
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             CAST(o_orderdate AS DATE) AS o_orderdate,
             CAST(NULL AS VARCHAR) AS o_orderpriority
             FROM orders ORDER BY o_orderkey"""),
  )

  /** M4 MERGE INTO (README.md:963–967): updates keys %100=0, inserts
    * shifted copies of keys %500=0. */
  private val mergeInto = QueryDef(
    "icelite_merge",
    (s, dir) => {
      val t = mkTable(s, dir, "merge")
      val o = orders(s, dir)
      // insert keys rebase past max(o_orderkey) so they collide with no
      // existing key at ANY data scale (a fixed +10M offset overlapped the
      // key domain at the 100x scale-up). The bound comes from the
      // just-written table's MANIFEST STATS — a driver-side metadata
      // lookup, zero Spark jobs (the r10 agg job was the measured part of
      // the icelite_merge sf0.1 regression)
      val rebase = maxKeyFromStats(t, "o_orderkey") + 1L
      val updates = o.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_orderstatus", lit("M"))
        .withColumn("o_totalprice", lit(999.99))
      val inserts = o.filter(col("o_orderkey") % 500 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(rebase))
        .withColumn("o_orderstatus", lit("N"))
      t.merge(updates.unionByName(inserts), "o_orderkey")
      state(t)
    },
    Some(s"""WITH mx AS (SELECT 1 + max(o_orderkey) AS rebase FROM orders)
             SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 100 = 0 THEN 'M' ELSE o_orderstatus END AS o_orderstatus,
             CASE WHEN o_orderkey % 100 = 0 THEN 999.99 ELSE o_totalprice END AS o_totalprice,
             CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
             FROM orders
             UNION ALL
             SELECT o_orderkey + mx.rebase, o_custkey, 'N', o_totalprice,
             CAST(o_orderdate AS DATE), o_orderpriority
             FROM orders, mx WHERE o_orderkey % 500 = 0
             ORDER BY o_orderkey"""),
  )

  /** Incremental append scan (the Iceberg incremental-read analog): three
    * appends, consume only what snapshots 1→3 added — file-set diff on the
    * driver, scan proportional to the delta, not the table. */
  private val incrementalRead = QueryDef(
    "icelite_incremental",
    (s, dir) => {
      val o = orders(s, dir)
      val t = IceLite.createFrom(s, scratch("incr"), o)
      t.append(o.filter(col("o_orderkey") < 1000))
      t.append(o.filter(col("o_orderkey") >= 1000 && col("o_orderkey") < 3000))
      t.append(o.filter(col("o_orderkey") >= 3000))
      stateOf(t.readAppendedBetween(1, 3))
    },
    Some(s"""SELECT $ordersCols FROM orders
             WHERE o_orderkey >= 1000 ORDER BY o_orderkey"""),
  )

  /** M12 time travel VERSION AS OF (README.md:1007): two appends, read the
    * first snapshot. */
  private val timeTravel = QueryDef(
    "icelite_time_travel",
    (s, dir) => {
      val o = orders(s, dir)
      val t = IceLite.createFrom(s, scratch("tt"), o)
      t.append(o.filter(col("o_orderkey") < 1000))
      t.append(o.filter(col("o_orderkey") >= 1000))
      stateOf(t.readAsOf(1))
    },
    Some(s"""SELECT $ordersCols FROM orders
             WHERE o_orderkey < 1000 ORDER BY o_orderkey"""),
  )

  /** M13 time travel TIMESTAMP AS OF (README.md:1010). */
  private val timeTravelTs = QueryDef(
    "icelite_time_travel_ts",
    (s, dir) => {
      val o = orders(s, dir)
      val t = IceLite.createFrom(s, scratch("ttts"), o)
      t.append(o.filter(col("o_orderkey") < 1000))
      Thread.sleep(5) // distinct commit timestamps
      t.append(o.filter(col("o_orderkey") >= 1000))
      stateOf(t.readAsOfTimestamp(t.meta.snapshot(1).timestampMs))
    },
    Some(s"""SELECT $ordersCols FROM orders
             WHERE o_orderkey < 1000 ORDER BY o_orderkey"""),
  )

  /** M14 rollback_to_snapshot (README.md:1013): current state reverts,
    * history keeps both snapshots. */
  private val rollback = QueryDef(
    "icelite_rollback",
    (s, dir) => {
      val o = orders(s, dir)
      val t = IceLite.createFrom(s, scratch("rb"), o)
      t.append(o.filter(col("o_orderkey") < 1000))
      t.append(o.filter(col("o_orderkey") >= 1000))
      t.rollbackTo(1)
      state(t)
    },
    Some(s"""SELECT $ordersCols FROM orders
             WHERE o_orderkey < 1000 ORDER BY o_orderkey"""),
  )

  /** M5+M6+M7 schema evolution (README.md:976–979, 1159–1166): add column
    * with default (old files read it metadata-only), rename via field ids,
    * then append post-evolution rows with an explicit value. */
  private val schemaEvolution = QueryDef(
    "icelite_schema_evolution",
    (s, dir) => {
      val o = orders(s, dir)
      val t = mkTable(s, dir, "evo")
      t.addColumn("discount_rate", "DOUBLE", Some("0.05"))
      t.renameColumn("o_orderpriority", "priority")
      // appended keys rebase past max(o_orderkey): a fixed offset collides
      // with the key domain at large scale factors, making the final
      // ORDER BY tie-ambiguous (same fix as icelite_merge — and like
      // there, the bound reads from manifest stats, no Spark job)
      val rebase = maxKeyFromStats(t, "o_orderkey") + 1L
      t.append(
        o.filter(col("o_orderkey") < 100)
          .withColumn("o_orderkey", col("o_orderkey") + lit(rebase))
          .withColumn("discount_rate", lit(0.25))
          .withColumnRenamed("o_orderpriority", "priority"))
      t.read()
        .select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate").cast("date").as("o_orderdate"),
          col("priority"), col("discount_rate"))
        .orderBy("o_orderkey")
    },
    Some("""WITH mx AS (SELECT 1 + max(o_orderkey) AS rebase FROM orders)
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
            CAST(o_orderdate AS DATE) AS o_orderdate,
            o_orderpriority AS priority, 0.05 AS discount_rate
            FROM orders
            UNION ALL
            SELECT o_orderkey + mx.rebase, o_custkey, o_orderstatus, o_totalprice,
            CAST(o_orderdate AS DATE), o_orderpriority, 0.25
            FROM orders, mx WHERE o_orderkey < 100
            ORDER BY o_orderkey"""),
  )

  /** V3 `write-default` (schema-evolution family), driven END-TO-END
    * through the SQL surface: `ADD COLUMN … DEFAULT` sets both the
    * immutable read fill (`initial-default`, README.md:1159–1166) and
    * the write default; `ALTER COLUMN … SET DEFAULT` then diverges ONLY
    * the write side, and omitted-column `INSERT`s materialize whichever
    * write fill was declared at the time. Pre-add rows keep reading the
    * initial fill — three regimes, one oracled read. */
  private val writeDefaultEvo = QueryDef(
    "icelite_write_default",
    (s, dir) => {
      s.conf.set("spark.sql.catalog.icelite", "graft.icelite.connector.IceLiteCatalog")
      s.conf.set("spark.sql.catalog.icelite.warehouse",
        System.getProperty("java.io.tmpdir") + "/icelite_sql_wh")
      val o = orders(s, dir)
      o.createOrReplaceTempView("orders_src")
      val tbl = s"wdef_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      s.sql("CREATE NAMESPACE IF NOT EXISTS icelite.sqldemo")
      s.sql(s"CREATE TABLE icelite.sqldemo.$tbl (o_orderkey BIGINT)")
      s.sql(s"INSERT INTO icelite.sqldemo.$tbl SELECT o_orderkey FROM orders_src")
      s.sql(s"ALTER TABLE icelite.sqldemo.$tbl ADD COLUMN channel STRING DEFAULT 'web'")
      val rebase = o.agg(max("o_orderkey")).head.getLong(0) + 1L
      // omitted column → fills the add-time default ('web')
      s.sql(s"""INSERT INTO icelite.sqldemo.$tbl (o_orderkey)
                SELECT o_orderkey + $rebase FROM orders_src WHERE o_orderkey < 1000""")
      s.sql(s"ALTER TABLE icelite.sqldemo.$tbl ALTER COLUMN channel SET DEFAULT 'store'")
      // omitted column after SET DEFAULT → fills 'store'; the earlier
      // rows (pre-add reads AND the first insert's materialized fills)
      // must stay 'web' — initial-default is immutable
      s.sql(s"""INSERT INTO icelite.sqldemo.$tbl (o_orderkey)
                SELECT o_orderkey + ${2L * rebase} FROM orders_src WHERE o_orderkey < 1000""")
      s.sql(s"""SELECT o_orderkey, channel FROM icelite.sqldemo.$tbl
                ORDER BY o_orderkey""")
    },
    Some("""WITH mx AS (SELECT 1 + max(o_orderkey) AS rebase FROM orders)
            SELECT * FROM (
              SELECT o_orderkey, 'web' AS channel FROM orders
              UNION ALL
              SELECT o_orderkey + mx.rebase, 'web' FROM orders, mx
              WHERE o_orderkey < 1000
              UNION ALL
              SELECT o_orderkey + 2 * mx.rebase, 'store' FROM orders, mx
              WHERE o_orderkey < 1000)
            ORDER BY o_orderkey"""),
  )

  /** M8 partition evolution (README.md:991–992): first half unpartitioned,
    * evolve to month(o_orderdate), second half partitioned; one logical
    * table spans both specs. */
  private val partitionEvolution = QueryDef(
    "icelite_partition_evolution",
    (s, dir) => {
      val o = orders(s, dir)
      val t = IceLite.createFrom(s, scratch("pevo"), o)
      t.append(o.filter(col("o_orderkey") % 2 === 0))
      t.setPartitionSpec(Seq("o_orderdate" -> "month"))
      t.append(o.filter(col("o_orderkey") % 2 === 1))
      state(t)
    },
    Some(s"SELECT $ordersCols FROM orders ORDER BY o_orderkey"),
  )

  /** V3 extension — ROW LINEAGE (the V3 spec's row-identity feature,
    * alongside the deletion vectors the tutorial teaches at
    * README.md:1098–1121): every appended file owns a disjoint `_row_id`
    * block; a MoR delete leaves survivor ids untouched (files unrewritten)
    * and a CoW update PRESERVES ids (materialized into the rewritten
    * parquet) while re-stamping `_last_updated_sequence_number` to the
    * update commit's sequence. Deterministic against DuckDB: a
    * range-partitioned sorted append ⇒ id = rank(o_orderkey) − 1
    * regardless of where the sampled range boundaries fall (blocks are
    * assigned in file-path order = range order, so the rows before file
    * k are exactly the ranks before its first row); sequences are
    * 1 (append) and 2 (the update — position deletes apply to the exact
    * rows they name regardless of seq, so the MoR delete consumes no
    * data sequence). */
  private val rowLineage = QueryDef(
    "icelite_row_lineage",
    (s, dir) => {
      val t = IceLite.createFrom(s, scratch("rowlin"), orders(s, dir),
        properties = Map("write.delete.mode" -> "merge-on-read"))
      t.append(orders(s, dir)
        .repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"))
      t.delete(col("o_orderkey") % 7 === 0)
      t.update(col("o_orderkey") % 10 === 3, Map("o_totalprice" -> lit(999.0)))
      t.readRowLineage()
        .select(col("o_orderkey"),
          col(graft.icelite.IceLite.RowIdCol).as("row_id"),
          col(graft.icelite.IceLite.LastUpdatedCol).as("last_upd"),
          col("o_totalprice"))
        .orderBy("o_orderkey")
    },
    Some("""WITH ranked AS (
              SELECT o_orderkey, o_totalprice,
                     CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS BIGINT) AS row_id
              FROM orders)
            SELECT o_orderkey, row_id,
                   CAST(CASE WHEN o_orderkey % 10 = 3 THEN 2 ELSE 1 END AS BIGINT) AS last_upd,
                   CASE WHEN o_orderkey % 10 = 3 THEN 999.0 ELSE o_totalprice END AS o_totalprice
            FROM ranked WHERE o_orderkey % 7 <> 0 ORDER BY o_orderkey"""),
  )

  /** M15 compaction (README.md:1022): 16 small files → 2; content identical. */
  private val compaction = QueryDef(
    "icelite_compaction",
    (s, dir) => {
      val o = orders(s, dir)
      val t = IceLite.createFrom(s, scratch("compact"), o)
      t.append(o.filter(col("o_orderkey") % 2 === 0).repartition(8))
      t.append(o.filter(col("o_orderkey") % 2 === 1).repartition(8))
      t.compact(2)
      state(t)
    },
    Some(s"SELECT $ordersCols FROM orders ORDER BY o_orderkey"),
  )

  /** M15 extension — rewrite_position_delete_files (Iceberg's delete-file
    * maintenance; README.md:1105–1121): three MoR deletes accumulate
    * separate position-delete files, a CoW update then rewrites the files
    * it touches (stranding their recorded positions as dangling refs), and
    * the rewrite merges everything into ONE sorted delete file with the
    * dangling entries dropped — data files untouched, visible content
    * identical. The embedded requires prove both halves: ≥3 delete files
    * before, exactly one (position-kind) after. */
  private val rewriteDeletes = QueryDef(
    "icelite_rewrite_deletes",
    (s, dir) => {
      val o = orders(s, dir)
      // two append batches → disjoint even/odd data files, so the CoW
      // update below (odd keys only) strands SOME positions, not all
      val t = IceLite.createFrom(s, scratch("rwdel"), o, Seq(),
        Map("write.delete.mode" -> "merge-on-read"))
      t.append(o.filter(col("o_orderkey") % 2 === 0))
      t.append(o.filter(col("o_orderkey") % 2 === 1))
      t.delete(col("o_orderkey") % 7 === 0)
      t.delete(col("o_orderkey") % 11 === 3)
      t.delete(col("o_orderkey") % 13 === 5)
      // CoW update (default update mode) replaces the touched (odd-key)
      // data files: their recorded delete positions are now dangling,
      // while the even files' positions stay live
      t.update(col("o_orderkey") % 10 === 1, Map("o_totalprice" -> lit(999.0)))
      val before = t.meta.currentSnapshot.get.deleteFiles.count(_.kind == "pos")
      require(before >= 3, s"expected >=3 position delete files, got $before")
      t.rewritePositionDeletes()
      val after = t.meta.currentSnapshot.get.deleteFiles
      require(after.size == 1 && after.head.kind == "pos",
        s"rewrite must leave ONE merged position delete file, got ${after.map(_.kind)}")
      state(t)
    },
    Some(s"""SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 10 = 1 THEN 999.0 ELSE o_totalprice END AS o_totalprice,
             CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
             FROM orders
             WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 3 AND o_orderkey % 13 <> 5
             ORDER BY o_orderkey"""),
  )

  /** M16 expire_snapshots (README.md:1025): after expiry the current
    * snapshot still reads fully (expired-only files are gone from metadata
    * AND disk — the disk half is asserted in IceLiteSpec). */
  private val expire = QueryDef(
    "icelite_expire",
    (s, dir) => {
      val o = orders(s, dir)
      val t = IceLite.createFrom(s, scratch("expire"), o)
      t.append(o.filter(col("o_orderkey") < 1000))
      t.delete(col("o_orderkey") < 500) // snapshot 2 rewrites files
      t.append(o.filter(col("o_orderkey") >= 1000))
      t.expireSnapshots(System.currentTimeMillis() + 3600000L)
      state(t)
    },
    Some(s"""SELECT $ordersCols FROM orders
             WHERE o_orderkey >= 500 ORDER BY o_orderkey"""),
  )

  /** M9 snapshots metadata table (README.md:1004): operations + row counts
    * (timestamps/file counts excluded — not oracle-deterministic). */
  private val snapshotsTable = QueryDef(
    "icelite_snapshots",
    (s, dir) => {
      val t = mkTable(s, dir, "snaps")
      t.delete(col("o_orderkey") % 10 === 0)
      t.snapshotsDf.select(
        col("snapshot_id"), col("operation"), col("total_rows"))
        .orderBy("snapshot_id")
    },
    Some("""SELECT CAST(1 AS BIGINT) AS snapshot_id, 'append' AS operation,
            CAST(count(*) AS BIGINT) AS total_rows FROM orders
            UNION ALL
            SELECT 2, 'delete', count(*) FROM orders WHERE o_orderkey % 10 <> 0
            ORDER BY snapshot_id"""),
  )

  /** M11 partitions metadata table (README.md:995) on a month-partitioned
    * table: per-partition row counts. */
  private val partitionsTable = QueryDef(
    "icelite_partitions",
    (s, dir) => {
      val o = orders(s, dir)
      val t = IceLite.createFrom(s, scratch("parts"), o,
        partition = Seq("o_orderdate" -> "month"))
      t.append(o)
      t.partitionsDf.select(col("partition"), col("row_count")).orderBy("partition")
    },
    Some("""SELECT 'o_orderdate_month=' || strftime(o_orderdate, '%Y-%m') AS partition,
            CAST(count(*) AS BIGINT) AS row_count
            FROM orders GROUP BY 1 ORDER BY partition"""),
  )

  /** M10 history metadata table (README.md:982): the metadata log's
    * (version, note) pairs. Note strings are pinned deterministic (no file
    * counts — those vary with write parallelism), so the DuckDB oracle can
    * reconstruct them: append notes carry only the row count. */
  private val historyTable = QueryDef(
    "icelite_history",
    (s, dir) => {
      val t = mkTable(s, dir, "hist")
      t.renameColumn("o_orderpriority", "prio")
      t.historyDf.select(col("version"), col("note")).orderBy("version")
    },
    Some("""SELECT CAST(1 AS BIGINT) AS version, 'create table' AS note
            UNION ALL
            SELECT 2, 'append ' || count(*) || ' rows' FROM orders
            UNION ALL
            SELECT 3, 'rename o_orderpriority -> prio'
            ORDER BY version"""),
  )

  /** S11 catalog surface (README.md:1042–1068): namespaces → tables. */
  private val catalogList = QueryDef(
    "icelite_catalog",
    (s, dir) => {
      val wh = scratch("catalog")
      val cat = new Catalog(s, wh)
      val o = orders(s, dir).limit(10)
      cat.createTable("db", "orders_a", Seq("o_orderkey" -> "BIGINT"))
      cat.createTable("db", "orders_b", Seq("o_orderkey" -> "BIGINT"))
      cat.createTable("analytics", "events_t", Seq("event_id" -> "BIGINT"))
      cat.tablesDf.select(col("namespace"), col("table").as("table_name"))
        .orderBy("namespace", "table_name")
    },
    Some("""SELECT 'analytics' AS namespace, 'events_t' AS table_name
            UNION ALL SELECT 'db', 'orders_a'
            UNION ALL SELECT 'db', 'orders_b'
            ORDER BY namespace, table_name"""),
  )

  /** S11 via HTTP: the REST catalog endpoint end-to-end — create tables,
    * then LIST namespaces and tables over the wire (README.md:1042–1068's
    * GET /v1/namespaces + /v1/namespaces/{ns}/tables) and return the parsed
    * response as rows. The server is an ephemeral-port instance over a
    * scratch warehouse; catalog state lives on the filesystem, so the HTTP
    * front is stateless. */
  private val restCatalog = QueryDef(
    "icelite_rest_catalog",
    (s, dir) => {
      import com.fasterxml.jackson.databind.ObjectMapper
      import scala.jdk.CollectionConverters._
      val wh = scratch("rest")
      val cat = new Catalog(s, wh)
      cat.createTable("db", "orders_a", Seq("o_orderkey" -> "BIGINT"))
      cat.createTable("db", "orders_b", Seq("o_orderkey" -> "BIGINT"))
      cat.createTable("analytics", "events_t", Seq("event_id" -> "BIGINT"))
      val srv = new graft.icelite.RestCatalogServer(s, wh)
      val port = srv.start()
      try {
        val http = java.net.http.HttpClient.newHttpClient()
        val M = new ObjectMapper()
        def getJson(path: String) = M.readTree(http.send(
          java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:$port/v1$path")).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString()).body())
        val rows = for {
          nsNode <- getJson("/namespaces").get("namespaces").elements().asScala.toSeq
          ns = nsNode.get(0).asText()
          t <- getJson(s"/namespaces/$ns/tables").get("identifiers").elements().asScala.toSeq
        } yield (ns, t.get("name").asText())
        import s.implicits._
        rows.toDF("namespace", "table_name").orderBy("namespace", "table_name")
      } finally srv.stop()
    },
    Some("""SELECT 'analytics' AS namespace, 'events_t' AS table_name
            UNION ALL SELECT 'db', 'orders_a'
            UNION ALL SELECT 'db', 'orders_b'
            ORDER BY namespace, table_name"""),
  )

  /** S11 WRITE path: the catalog accepts commits from a foreign HTTP
    * client (the Iceberg REST spec's commit-table, metadata-swap subset —
    * the natural completion of the read-only client the reference builds
    * at README.md:1042–1068). The "external writer" here is plain JSON +
    * HTTP: it stages a physical-name parquet file into the warehouse,
    * GETs the current metadata, grafts an append snapshot onto it, and
    * POSTs with the version it built against; the server lands it through
    * the SAME version-file claim native writers use. The returned state
    * is read back by the NATIVE reader — proof the wire commit and the
    * table protocol are one. */
  private val restCommit = QueryDef(
    "icelite_rest_commit",
    (s, dir) => {
      import com.fasterxml.jackson.databind.ObjectMapper
      val wh = scratch("restcommit")
      val cat = new Catalog(s, wh)
      val src = orders(s, dir).filter(col("o_orderkey") % 7 === 0)
      cat.createTable("db", "orders_ext",
        src.schema.fields.toSeq.map(f => f.name -> f.dataType.sql))
      val tbl0 = cat.loadTable("db", "orders_ext")
      val phys = tbl0.meta.currentSchema.fields
      val dataDir = s"${tbl0.location}/data/rest-append"
      src.select(phys.map(f => col(f.name).as(f.physName)): _*)
        .coalesce(1).write.parquet(dataDir)
      val fsys = new org.apache.hadoop.fs.Path(dataDir)
        .getFileSystem(s.sessionState.newHadoopConf())
      val filePath = fsys.listStatus(new org.apache.hadoop.fs.Path(dataDir))
        .map(_.getPath.toString).find(_.endsWith(".parquet")).get
      val nRows = src.count()
      val srv = new graft.icelite.RestCatalogServer(s, wh)
      val port = srv.start()
      try {
        val http = java.net.http.HttpClient.newHttpClient()
        val M = new ObjectMapper()
        def send(req: java.net.http.HttpRequest) =
          http.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
        val loaded = M.readTree(send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port/v1/namespaces/db/tables/orders_ext"))
          .GET().build()).body())
        val meta = loaded.get("metadata")
          .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
        val sn = meta.withArray("snapshots").addObject()
        sn.put("id", 1L); sn.put("timestampMs", System.currentTimeMillis())
        sn.put("operation", "append"); sn.put("schemaId", 0)
        // file entries live once in the document's shared file table; a
        // snapshot lists its files by index into it
        val fileTable = meta.withArray("dataFileTable")
        val dfn = fileTable.addObject()
        dfn.put("path", filePath); dfn.put("rows", nRows)
        dfn.put("schemaId", 0); dfn.put("specId", 0); dfn.putObject("partition")
        sn.putArray("dataFileRefs").add(fileTable.size() - 1)
        meta.put("currentSnapshotId", 1L)
        val resp = send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port/v1/namespaces/db/tables/orders_ext"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            s"""{"expected-version": 1, "metadata": ${M.writeValueAsString(meta)}}"""))
          .build())
        require(resp.statusCode() == 200, s"rest commit failed: ${resp.body()}")
        state(cat.loadTable("db", "orders_ext"))
      } finally srv.stop()
    },
    Some(s"""SELECT $ordersCols FROM orders
             WHERE o_orderkey % 7 = 0 ORDER BY o_orderkey"""),
  )

  /** S11+DSv2: the whole pipeline through the SQL catalog — CREATE TABLE /
    * INSERT INTO ... SELECT / aggregate SELECT, plus a VERSION AS OF read,
    * entirely via spark.sql against the mounted `icelite` catalog. */
  private val sqlCatalog = QueryDef(
    "icelite_sql_catalog",
    (s, dir) => {
      // one fixed warehouse per JVM: Spark caches catalog instances by name,
      // so the warehouse conf only takes effect on first initialization
      s.conf.set("spark.sql.catalog.icelite", "graft.icelite.connector.IceLiteCatalog")
      s.conf.set("spark.sql.catalog.icelite.warehouse",
        System.getProperty("java.io.tmpdir") + "/icelite_sql_wh")
      val tbl = s"orders_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      s.sql("CREATE NAMESPACE IF NOT EXISTS icelite.sqldemo")
      s.sql(s"""CREATE TABLE icelite.sqldemo.$tbl (
                  o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE,
                  o_orderdate DATE)
                PARTITIONED BY (years(o_orderdate))""")
      orders(s, dir).createOrReplaceTempView("orders_src")
      s.sql(s"""INSERT INTO icelite.sqldemo.$tbl
                SELECT o_orderkey, o_orderstatus, o_totalprice,
                       CAST(o_orderdate AS DATE)
                FROM orders_src WHERE o_orderkey < 1000""")
      s.sql(s"""INSERT INTO icelite.sqldemo.$tbl
                SELECT o_orderkey, o_orderstatus, o_totalprice,
                       CAST(o_orderdate AS DATE)
                FROM orders_src WHERE o_orderkey >= 1000""")
      s.sql(s"""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
                       round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE), 2) AS total,
                       CAST((SELECT count(*) FROM icelite.sqldemo.$tbl VERSION AS OF 1) AS BIGINT) AS rows_v1
                FROM icelite.sqldemo.$tbl
                GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    },
    Some(s"""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
             ${graft.Exact.sqlSum("o_totalprice")} AS total,
             (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_orderkey < 1000) AS rows_v1
             FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
  )

  /** Shared SQL-catalog mount (one fixed warehouse per JVM — Spark caches
    * catalog instances by name, so the warehouse conf only takes effect on
    * first initialization). Returns a fresh unique table name. */
  private def sqlTable(s: SparkSession, tag: String): String = {
    s.conf.set("spark.sql.catalog.icelite", "graft.icelite.connector.IceLiteCatalog")
    s.conf.set("spark.sql.catalog.icelite.warehouse",
      System.getProperty("java.io.tmpdir") + "/icelite_sql_wh")
    s.sql("CREATE NAMESPACE IF NOT EXISTS icelite.sqldml")
    s"${tag}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
  }

  private def mkSqlOrders(s: SparkSession, dir: String, tag: String): String = {
    val tbl = sqlTable(s, tag)
    s.sql(s"""CREATE TABLE icelite.sqldml.$tbl (
                o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
                o_totalprice DOUBLE, o_orderdate DATE, o_orderpriority STRING)""")
    orders(s, dir).createOrReplaceTempView(s"orders_src_$tag")
    s.sql(s"""INSERT INTO icelite.sqldml.$tbl
              SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                     CAST(o_orderdate AS DATE), o_orderpriority
              FROM orders_src_$tag""")
    tbl
  }

  /** SQL row-level UPDATE through the DSv2 catalog (README.md:954–956) —
    * the analyzer extension routes it to the CoW rewrite. */
  private val sqlUpdate = QueryDef(
    "icelite_sql_update",
    (s, dir) => {
      val tbl = mkSqlOrders(s, dir, "u")
      s.sql(s"""UPDATE icelite.sqldml.$tbl
                SET o_orderstatus = 'X', o_totalprice = 1500.0
                WHERE o_orderkey % 100 = 0""")
      s.sql(s"SELECT * FROM icelite.sqldml.$tbl ORDER BY o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey,
            CASE WHEN o_orderkey % 100 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
            CASE WHEN o_orderkey % 100 = 0 THEN 1500.0 ELSE o_totalprice END AS o_totalprice,
            CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
            FROM orders ORDER BY o_orderkey"""),
  )

  /** SQL DELETE through the catalog (README.md:959–960, 1117–1121). */
  private val sqlDelete = QueryDef(
    "icelite_sql_delete",
    (s, dir) => {
      val tbl = mkSqlOrders(s, dir, "d")
      s.sql(s"DELETE FROM icelite.sqldml.$tbl WHERE o_orderkey % 10 = 0")
      s.sql(s"SELECT * FROM icelite.sqldml.$tbl ORDER BY o_orderkey")
    },
    Some(s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
             FROM orders WHERE o_orderkey % 10 <> 0 ORDER BY o_orderkey"""),
  )

  /** SQL MERGE INTO (README.md:963–967): UPDATE SET * / INSERT * — the
    * same semantics as `icelite_merge`, driven entirely from SQL. */
  private val sqlMerge = QueryDef(
    "icelite_sql_merge",
    (s, dir) => {
      val tbl = mkSqlOrders(s, dir, "m")
      // insert keys rebase past max(o_orderkey): a fixed offset collides
      // with the key domain at large scale factors (same fix as
      // icelite_merge), and the oracle computes the identical rebase
      s.sql(s"""MERGE INTO icelite.sqldml.$tbl AS t
                USING (
                  SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus,
                         999.99 AS o_totalprice, CAST(o_orderdate AS DATE) AS o_orderdate,
                         o_orderpriority
                  FROM orders_src_m WHERE o_orderkey % 100 = 0
                  UNION ALL
                  SELECT o_orderkey + (SELECT 1 + max(o_orderkey) FROM orders_src_m),
                         o_custkey, 'N', o_totalprice,
                         CAST(o_orderdate AS DATE), o_orderpriority
                  FROM orders_src_m WHERE o_orderkey % 500 = 0
                ) AS src
                ON t.o_orderkey = src.o_orderkey
                WHEN MATCHED THEN UPDATE SET *
                WHEN NOT MATCHED THEN INSERT *""")
      s.sql(s"SELECT * FROM icelite.sqldml.$tbl ORDER BY o_orderkey")
    },
    Some("""WITH mx AS (SELECT 1 + max(o_orderkey) AS rebase FROM orders)
            SELECT o_orderkey, o_custkey,
            CASE WHEN o_orderkey % 100 = 0 THEN 'M' ELSE o_orderstatus END AS o_orderstatus,
            CASE WHEN o_orderkey % 100 = 0 THEN 999.99 ELSE o_totalprice END AS o_totalprice,
            CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
            FROM orders
            UNION ALL
            SELECT o_orderkey + mx.rebase, o_custkey, 'N', o_totalprice,
            CAST(o_orderdate AS DATE), o_orderpriority
            FROM orders, mx WHERE o_orderkey % 500 = 0
            ORDER BY o_orderkey"""),
  )

  /** General SQL MERGE, beyond the reference's star shape (README.md:963–967
    * generalized): differing key names in the ON condition, a conditional
    * matched DELETE ahead of the UPDATE (first-match-wins), and a
    * conditional INSERT with an explicit column list. */
  private val sqlMergeCond = QueryDef(
    "icelite_sql_merge_cond",
    (s, dir) => {
      val tbl = mkSqlOrders(s, dir, "mc")
      // rebase unmatched keys past max(o_orderkey) — a fixed offset
      // collides with the key domain at large scale factors (same fix as
      // icelite_merge); the oracle computes the identical rebase
      s.sql(s"""MERGE INTO icelite.sqldml.$tbl AS t
                USING (
                  SELECT o_orderkey AS k, o_totalprice AS p
                  FROM orders_src_mc WHERE o_orderkey % 50 = 0
                  UNION ALL
                  SELECT o_orderkey + (SELECT 1 + max(o_orderkey) FROM orders_src_mc),
                         o_totalprice
                  FROM orders_src_mc WHERE o_orderkey % 500 = 0
                ) AS src
                ON t.o_orderkey = src.k
                WHEN MATCHED AND t.o_orderkey % 100 = 0 THEN DELETE
                WHEN MATCHED THEN UPDATE SET o_orderstatus = 'C', o_totalprice = src.p + 1.0
                WHEN NOT MATCHED AND src.p > 1000.0 THEN INSERT
                  (o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority)
                  VALUES (src.k, CAST(1 AS BIGINT), 'Z', src.p, DATE '1995-06-17', '1-URGENT')""")
      s.sql(s"SELECT * FROM icelite.sqldml.$tbl ORDER BY o_orderkey")
    },
    Some("""WITH mx AS (SELECT 1 + max(o_orderkey) AS rebase FROM orders),
            src AS (
              SELECT o_orderkey AS k, o_totalprice AS p FROM orders WHERE o_orderkey % 50 = 0
              UNION ALL
              SELECT o_orderkey + mx.rebase, o_totalprice FROM orders, mx WHERE o_orderkey % 500 = 0)
            SELECT t.o_orderkey, t.o_custkey,
                   CASE WHEN s.k IS NOT NULL THEN 'C' ELSE t.o_orderstatus END AS o_orderstatus,
                   CASE WHEN s.k IS NOT NULL THEN s.p + 1.0 ELSE t.o_totalprice END AS o_totalprice,
                   CAST(t.o_orderdate AS DATE) AS o_orderdate, t.o_orderpriority
            FROM orders t LEFT JOIN src s ON t.o_orderkey = s.k
            WHERE NOT (s.k IS NOT NULL AND t.o_orderkey % 100 = 0)
            UNION ALL
            SELECT k, CAST(1 AS BIGINT), 'Z', p, DATE '1995-06-17', '1-URGENT'
            FROM src, mx WHERE k >= mx.rebase AND p > 1000.0
            ORDER BY o_orderkey"""),
  )

  /** SQL metadata table `t.snapshots` (README.md:1004) resolved through
    * the catalog's 4-part identifier → driver-local scan. */
  private val sqlSnapshots = QueryDef(
    "icelite_sql_snapshots",
    (s, dir) => {
      val tbl = mkSqlOrders(s, dir, "sn")
      s.sql(s"DELETE FROM icelite.sqldml.$tbl WHERE o_orderkey % 10 = 0")
      s.sql(s"""SELECT snapshot_id, operation, total_rows
                FROM icelite.sqldml.$tbl.snapshots ORDER BY snapshot_id""")
    },
    Some("""SELECT CAST(1 AS BIGINT) AS snapshot_id, 'append' AS operation,
            CAST(count(*) AS BIGINT) AS total_rows FROM orders
            UNION ALL
            SELECT 2, 'delete', count(*) FROM orders WHERE o_orderkey % 10 <> 0
            ORDER BY snapshot_id"""),
  )

  /** `CALL icelite.system.*` maintenance pipeline via SQL
    * (README.md:1013–1028): rollback → compact → expire → orphan sweep,
    * then prove the table state. */
  private val sqlMaintenance = QueryDef(
    "icelite_sql_maintenance",
    (s, dir) => {
      val tbl = sqlTable(s, "mx")
      s.sql(s"""CREATE TABLE icelite.sqldml.$tbl (
                  o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)""")
      orders(s, dir).createOrReplaceTempView("orders_src_mx")
      s.sql(s"""INSERT INTO icelite.sqldml.$tbl
                SELECT o_orderkey, o_orderstatus, o_totalprice
                FROM orders_src_mx WHERE o_orderkey < 1000""")
      s.sql(s"""INSERT INTO icelite.sqldml.$tbl
                SELECT o_orderkey, o_orderstatus, o_totalprice
                FROM orders_src_mx WHERE o_orderkey >= 1000""")
      s.sql(s"CALL icelite.system.rollback_to_snapshot('sqldml.$tbl', 1)")
      s.sql(s"CALL icelite.system.rewrite_data_files('sqldml.$tbl', 2)")
      val future = System.currentTimeMillis() + 3600000L
      s.sql(s"CALL icelite.system.expire_snapshots('sqldml.$tbl', $future)")
      s.sql(s"CALL icelite.system.remove_orphan_files('sqldml.$tbl', $future)")
      s.sql(s"SELECT * FROM icelite.sqldml.$tbl ORDER BY o_orderkey")
    },
    Some("""SELECT o_orderkey, o_orderstatus, o_totalprice
            FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey"""),
  )

  /** V3 VARIANT column stored IN an IceLite table (README.md:1127–1153):
    * parse_json → VARIANT column written to table storage, schema-evolved
    * (metadata-only add), read back and path-extracted. */
  private val variantTable = QueryDef(
    "icelite_variant",
    (s, dir) => {
      val t = IceLite.create(s, scratch("variant"),
        Seq("event_id" -> "BIGINT", "payload" -> "VARIANT"))
      val ev = Tables.events(s, dir).filter(col("event_id") < 3000)
      t.append(ev.select(col("event_id"), expr("parse_json(props)").as("payload")))
      t.addColumn("src", "STRING", Some("'events'"))
      t.read()
        .select(
          col("event_id"),
          expr("variant_get(payload, '$.k', 'long')").as("k"),
          col("src"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
            'events' AS src
            FROM events WHERE event_id < 3000 ORDER BY event_id"""),
  )

  /** M17 remove_orphan_files (README.md:1028): plant an orphan in the data
    * dir, reclaim it, prove the table reads back intact. Oracle = content
    * unchanged (orphan removal must never touch referenced files). */
  private val orphans = QueryDef(
    "icelite_orphans",
    (s, dir) => {
      val t = mkTable(s, dir, "orphans")
      val orphan = new org.apache.hadoop.fs.Path(t.location, "data/orphan-file.parquet")
      val fs = orphan.getFileSystem(s.sessionState.newHadoopConf())
      val out = fs.create(orphan, true); out.write(42); out.close()
      // explicit threshold: the default 3 h grace period (in-flight-write
      // safety) would keep this just-planted orphan
      val removed = t.removeOrphanFiles(olderThanMs = System.currentTimeMillis() + 1000)
      require(removed.exists(_.endsWith("orphan-file.parquet")), s"orphan not removed: $removed")
      state(t)
    },
    Some(s"SELECT $ordersCols FROM orders ORDER BY o_orderkey"),
  )

  /** Branches + tags + write-audit-publish (Iceberg's branch model,
    * metadata-only: snapshots are shared, zero data copy). A good batch is
    * staged on a branch, audited there, and fast-forward published; a bad
    * batch staged on a second branch fails its audit and is dropped —
    * final table state is base + good batch only. Embedded requires prove
    * main never saw staged rows before publish. */
  private val branchWap = QueryDef(
    "icelite_branch_wap",
    (s, dir) => {
      val t = mkTable(s, dir, "wap")
      val o = orders(s, dir)
      val baseCount = o.count()
      t.createTag("pre-publish", t.meta.currentSnapshotId.get)
      t.createBranch("audit")
      val good = o.filter(col("o_orderkey") % 200 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 20000000L)
      t.appendToBranch("audit", good)
      require(t.read().count() == baseCount, "staged rows leaked into main before publish")
      require(t.readRef("audit").filter(col("o_totalprice") < 0).count() == 0, "audit failed")
      t.fastForward("audit")
      // bad batch: audit rejects, branch is dropped, main keeps the clean state
      t.createBranch("audit2")
      t.appendToBranch("audit2", good.withColumn("o_totalprice", lit(-1.0)))
      if (t.readRef("audit2").filter(col("o_totalprice") < 0).count() > 0) t.dropRef("audit2")
      require(t.readRef("pre-publish").count() == baseCount, "tag must stay pinned")
      state(t)
    },
    Some(s"""SELECT $ordersCols FROM orders
             UNION ALL
             SELECT o_orderkey + 20000000, o_custkey, o_orderstatus, o_totalprice,
                    CAST(o_orderdate AS DATE), o_orderpriority
             FROM orders WHERE o_orderkey % 200 = 0
             ORDER BY o_orderkey"""),
  )

  /** WRITE ORDERED BY: range-clustered sorted writes turn per-file min/max
    * stats into an index — the manifest prunes a sort-key range predicate
    * to a small fraction of files at plan time (embedded require), the
    * 100 TB answer to point/range queries without a full scan. */
  private val sortedWrite = QueryDef(
    "icelite_sorted_write",
    (s, dir) => {
      val t = IceLite.createFrom(s, scratch("sorted"), orders(s, dir))
      t.setSortOrder(Seq("o_custkey"))
      t.append(orders(s, dir))
      // re-cluster to an explicit file count: the plain append coalesces
      // small shuffles under AQE (file count ∝ data size), so at test SF it
      // may land in one file — the compaction pins 12 range-disjoint files
      t.compact(12)
      val cond = col("o_custkey") >= 100L && col("o_custkey") <= 200L
      val flts = IceLite.statFiltersFromCondition(cond)
      val m = t.meta
      val snap = m.currentSnapshot.get
      val hit = snap.dataFiles.count(f =>
        flts.forall(graft.icelite.Stats.mayContain(f, m.schema(f.schemaId), m.currentSchema, _)))
      require(snap.dataFiles.size == 1 || hit * 2 < snap.dataFiles.size,
        s"sorted write should prune most files: $hit of ${snap.dataFiles.size} survive")
      stateOf(t.read(statFilters = flts).filter(cond))
    },
    Some(s"""SELECT $ordersCols FROM orders
             WHERE o_custkey BETWEEN 100 AND 200 ORDER BY o_orderkey"""),
  )

  /** Z-ORDER rewrite: morton-interleaved clustering on (custkey,
    * totalprice) — after it, range predicates on EITHER column prune files
    * via manifest min/max (embedded require), where a linear sort order
    * serves only its leading column. */
  private val zorderWrite = QueryDef(
    "icelite_zorder",
    (s, dir) => {
      val t = IceLite.createFrom(s, scratch("zorder"), orders(s, dir))
      t.append(orders(s, dir))
      t.compactZOrder(12, "o_custkey", "o_totalprice")
      val m = t.meta
      val snap = m.currentSnapshot.get
      def hits(flts: Seq[graft.icelite.Stats.StatFilter]) = snap.dataFiles.count(f =>
        flts.forall(graft.icelite.Stats.mayContain(f, m.schema(f.schemaId), m.currentSchema, _)))
      val cf = Seq(graft.icelite.Stats.Ge("o_custkey", 100L),
        graft.icelite.Stats.Le("o_custkey", 200L))
      val pf = Seq(graft.icelite.Stats.Le("o_totalprice", 20000.0))
      require(snap.dataFiles.size == 1 ||
        (hits(cf) < snap.dataFiles.size && hits(pf) < snap.dataFiles.size),
        s"z-order should prune both dims: ${hits(cf)}, ${hits(pf)} of ${snap.dataFiles.size}")
      val cond = col("o_custkey") >= 100L && col("o_custkey") <= 200L
      stateOf(t.read(statFilters = cf).filter(cond))
    },
    Some(s"""SELECT $ordersCols FROM orders
             WHERE o_custkey BETWEEN 100 AND 200 ORDER BY o_orderkey"""),
  )

  /** CDC changelog (Iceberg's create_changelog_view): two appends, a CoW
    * delete, and a CoW update; the changelog over the whole range must
    * report the appended rows as inserts, the deleted rows as deletes, and
    * the update as its delete+insert pair — all reconstructible by the
    * oracle from the raw source table. Carried rows in the CoW rewrites
    * must NOT surface (the anti-join diff cancels them). */
  private val changelog = QueryDef(
    "icelite_changelog",
    (s, dir) => {
      val o = orders(s, dir)
      val t = IceLite.createFrom(s, scratch("cdc"), o)
      t.append(o.filter(col("o_orderkey") < 2000))                          // v1
      t.append(o.filter(col("o_orderkey") >= 2000 && col("o_orderkey") < 4000)) // v2
      t.delete(col("o_orderkey") < 500)                                     // v3 CoW
      t.update(col("o_orderkey") >= 3000 && col("o_orderkey") < 3200,       // v4 CoW
        Map("o_orderpriority" -> lit("0-CHANGED")))
      t.readChangesBetween(0, t.meta.currentSnapshot.get.id)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate").cast("date").as("o_orderdate"),
          col("o_orderpriority"), col("_change_type"), col("_commit_version"))
        .orderBy("_commit_version", "_change_type", "o_orderkey")
    },
    Some(s"""WITH src AS (SELECT $ordersCols FROM orders)
             SELECT * FROM (
               SELECT *, 'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
               FROM src WHERE o_orderkey < 2000
               UNION ALL
               SELECT *, 'insert', 2 FROM src WHERE o_orderkey >= 2000 AND o_orderkey < 4000
               UNION ALL
               SELECT *, 'delete', 3 FROM src WHERE o_orderkey < 500
               UNION ALL
               SELECT *, 'delete', 4 FROM src WHERE o_orderkey >= 3000 AND o_orderkey < 3200
               UNION ALL
               SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
                      '0-CHANGED', 'insert', 4
               FROM src WHERE o_orderkey >= 3000 AND o_orderkey < 3200)
             ORDER BY _commit_version, _change_type, o_orderkey"""),
  )

  /** Changelog in V3 row-lineage mode: change rows carry (`_row_id`,
    * `_last_updated_sequence_number`), so an UPDATE's delete+insert pair
    * shares one stable `_row_id` — consumers pair updates by row identity
    * instead of value heuristics. The oracle reconstructs ids by rank
    * (blocks are assigned in sorted-write path order, like
    * `icelite_row_lineage`): the delete side keeps the append's stamp
    * (seq 1), the insert side carries the update's (seq 2). */
  private val changelogLineage = QueryDef(
    "icelite_changelog_lineage",
    (s, dir) => {
      val t = IceLite.createFrom(s, scratch("cdclin"), orders(s, dir))
      t.append(orders(s, dir).filter(col("o_orderkey") < 4000)
        .repartitionByRange(4, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"))                                // v1
      t.update(col("o_orderkey") % 10 === 3,
        Map("o_totalprice" -> lit(777.0)))                                  // v2 CoW
      t.readChangesBetween(1, t.meta.currentSnapshot.get.id, rowLineage = true)
        .select(col("o_orderkey"),
          col(graft.icelite.IceLite.RowIdCol).as("row_id"),
          col(graft.icelite.IceLite.LastUpdatedCol).as("last_upd"),
          col("o_totalprice"), col("_change_type"), col("_commit_version"))
        .orderBy("o_orderkey", "_change_type")
    },
    Some("""WITH ranked AS (
              SELECT o_orderkey, o_totalprice,
                     CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS BIGINT) AS row_id
              FROM orders WHERE o_orderkey < 4000)
            SELECT * FROM (
              SELECT o_orderkey, row_id, CAST(1 AS BIGINT) AS last_upd,
                     o_totalprice, 'delete' AS _change_type,
                     CAST(2 AS BIGINT) AS _commit_version
              FROM ranked WHERE o_orderkey % 10 = 3
              UNION ALL
              SELECT o_orderkey, row_id, CAST(2 AS BIGINT), 777.0, 'insert',
                     CAST(2 AS BIGINT)
              FROM ranked WHERE o_orderkey % 10 = 3)
            ORDER BY o_orderkey, _change_type"""),
  )

  /** Incremental view maintenance from the CDC changelog — the consumer
    * side of `icelite_changelog`: a per-status aggregate (count + exact
    * cents) is maintained by FOLDING signed deltas (+row for insert, −row
    * for delete; an update is delete+insert) onto the base-version
    * aggregate, never rescanning the table — and the maintained result
    * must equal (and here hash-equals, via the oracle computing the final
    * state directly) a full recompute. This is the pattern that turns a
    * 100 TB nightly re-aggregation into an O(changed rows) merge: the
    * changelog is metadata-planned (changed files only), the fold is one
    * aggregate over deltas, and the join with the base aggregate is
    * group-cardinality-sized. */
  private val cdcApplyAgg = QueryDef(
    "icelite_cdc_apply",
    (s, dir) => {
      val o = orders(s, dir)
      val t = IceLite.createFrom(s, scratch("ivm"), o)
      t.append(o) // base state
      val baseVersion = t.meta.currentSnapshot.get.id
      t.append(o.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 20000000L))   // inserts
      t.delete(col("o_orderkey") % 10 === 3)                        // deletes
      t.update(col("o_orderkey") % 10 === 7,                        // delete+insert
        Map("o_totalprice" -> (col("o_totalprice") + lit(1.0))))
      val base = t.readAsOf(baseVersion)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("bn"),
          sum(round(col("o_totalprice") * 100d).cast("long")).as("bc"))
      val delta = t.readChangesBetween(baseVersion, t.meta.currentSnapshot.get.id)
        .select(col("o_orderstatus"),
          when(col("_change_type") === "insert", 1L).otherwise(-1L).as("sgn"),
          round(col("o_totalprice") * 100d).cast("long").as("cents"))
        .groupBy("o_orderstatus")
        .agg(sum(col("sgn")).as("dn"), sum(col("sgn") * col("cents")).as("dc"))
      base.join(delta, Seq("o_orderstatus"), "full_outer")
        .select(col("o_orderstatus"),
          (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_rows"),
          (coalesce(col("bc"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("cents"))
        .filter(col("n_rows") > 0)
        .orderBy("o_orderstatus")
    },
    Some("""WITH fin AS (
              SELECT o_orderstatus,
                     CASE WHEN o_orderkey % 10 = 7 THEN o_totalprice + 1.0
                          ELSE o_totalprice END AS p
              FROM orders WHERE o_orderkey % 10 <> 3
              UNION ALL
              SELECT o_orderstatus,
                     CASE WHEN (o_orderkey + 20000000) % 10 = 7 THEN o_totalprice + 1.0
                          ELSE o_totalprice END
              FROM orders WHERE o_orderkey % 5 = 0
                AND (o_orderkey + 20000000) % 10 <> 3)
            SELECT o_orderstatus,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM fin GROUP BY 1 HAVING count(*) > 0 ORDER BY o_orderstatus"""),
  )

  /** Tag reads pin BOTH data and SCHEMA: a tag cut before DDL shows the
    * original column shape (its snapshot's own schema — same rule as
    * VERSION AS OF time travel), while main shows the evolved shape with
    * the rename applied via field-id mapping and the added column's
    * default materialized at read time. The output interleaves per-side
    * aggregates over the SAME underlying files, so a schema-resolution
    * bug on either path is a hash mismatch. Metadata-only throughout —
    * zero data rewritten by the DDL. */
  private val tagSchemaRead = QueryDef(
    "icelite_tag_schema",
    (s, dir) => {
      val t = IceLite.createFrom(s, scratch("tagschema"), orders(s, dir))
      t.append(orders(s, dir))
      t.createTag("pin", t.meta.currentSnapshotId.get)
      t.addColumn("audit_flag", "BIGINT", Some("5"))
      t.renameColumn("o_totalprice", "o_price2")
      val tag = t.readRef("pin")
      val main = t.read()
      val tagRow = tag.agg(
        count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100d).cast("long")).as("cents"),
        lit(-1L).as("flag_sum"))
        .select(lit("tag").as("side"), col("n"), col("cents"), col("flag_sum"),
          lit(tag.columns.mkString(",")).as("cols"))
      val mainRow = main.agg(
        count(lit(1)).as("n"),
        sum(round(col("o_price2") * 100d).cast("long")).as("cents"),
        sum(col("audit_flag")).as("flag_sum"))
        .select(lit("main").as("side"), col("n"), col("cents"), col("flag_sum"),
          lit(main.columns.mkString(",")).as("cols"))
      tagRow.unionAll(mainRow).orderBy("side")
    },
    Some("""WITH base AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
                 FROM orders)
            SELECT 'main' AS side, n, cents, CAST(5 * n AS BIGINT) AS flag_sum,
                   'o_orderkey,o_custkey,o_orderstatus,o_price2,o_orderdate,o_orderpriority,audit_flag' AS cols
            FROM base
            UNION ALL
            SELECT 'tag', n, cents, -1,
                   'o_orderkey,o_custkey,o_orderstatus,o_totalprice,o_orderdate,o_orderpriority'
            FROM base
            ORDER BY side"""),
  )

  /** Auto-maintenance policies (Iceberg-style, round-11): the
    * `maintenance.auto.rewrite-deletes.file-threshold` table property
    * triggers rewrite_position_delete_files from the COMMIT path once the
    * accumulated delete-file count crosses it — no manual CALL. The
    * embedded requires prove the policy fired exactly once and collapsed
    * the files; the oracle proves maintenance never changed the logical
    * content. Race-safety and changelog-silence are spec'd in
    * AutoMaintenanceSpec. */
  private val autoMaintain = QueryDef(
    "icelite_auto_maintain",
    (s, dir) => {
      val t = mkTable(s, dir, "automaint",
        props = Map("write.delete.mode" -> "merge-on-read"))
      t.delete(col("o_orderkey") % 10 === 1)
      t.delete(col("o_orderkey") % 10 === 2)
      // files-per-delete grows with data scale (the sorted position write
      // parallelizes), so the threshold is set RELATIVE to the observed
      // accumulation — the next delete's files cross it at any sf
      val n2 = t.meta.currentSnapshot.get.deleteFiles.count(_.kind == "pos")
      require(n2 >= 2, "two MoR deletes must accumulate delete files")
      t.setProperties(Map(
        "maintenance.auto.rewrite-deletes.file-threshold" -> (n2 + 1).toString))
      t.delete(col("o_orderkey") % 10 === 3) // crosses → self-rewrite fires
      val m = t.meta
      require(m.currentSnapshot.get.deleteFiles.count(_.kind == "pos") == 1,
        "crossing the threshold must self-merge the delete files")
      require(m.snapshots.count(_.operation == "replace") == 1,
        "exactly one self-maintenance commit per crossing")
      state(t)
    },
    Some(s"""SELECT $ordersCols FROM orders
             WHERE o_orderkey % 10 NOT IN (1, 2, 3) ORDER BY o_orderkey"""),
  )

  /** V3 TIMESTAMP_NS stored IN the lakehouse (round-11;
    * README.md:1173–1179): a column declared TIMESTAMP_NS lands as a
    * lossless nanos-since-epoch BIGINT carrier ([[graft.icelite.Field.sparkDdl]]),
    * so sub-µs precision survives the IceLite write/DML/read cycle that
    * Spark's µs TIMESTAMP would truncate. The query ingests events with
    * exact nanosecond stamps, row-level-deletes a slice, and reads back
    * raw nanos — which DuckDB recomputes via epoch_ns (native ns reader
    * on the ns fixture vintage, µs×1000 on the µs vintage — both exactly
    * the Spark-side derivation). TimestampNsSpec proves the sub-µs bits
    * and long-domain stat pruning on the ns column. */
  private val timestampNsTable = QueryDef(
    "icelite_timestamp_ns",
    (s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = Tables.raw(s, dir, "events")
      val ns = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => col("ts")
        case _ => unix_micros(col("ts").cast("timestamp")) * 1000L
      }
      val t = IceLite.create(s, scratch("tsns"),
        Seq("event_id" -> "BIGINT", "ts_ns" -> "TIMESTAMP_NS"))
      t.append(raw.select(col("event_id"), ns.as("ts_ns")))
      t.delete(col("event_id") % 7 === 0)
      t.read().orderBy("event_id")
    },
    Some("""SELECT event_id, epoch_ns(ts) AS ts_ns FROM events
            WHERE event_id % 7 <> 0 ORDER BY event_id"""),
  )

  /** M3c in the V3 BITMAP representation (README.md:1098–1108: deletion
    * vectors hold delete info in bitmap form, applied at read):
    * `write.delete.vector.enabled` switches the position-delete carrier
    * to roaring-bitmap blobs inside Puffin containers
    * ([[graft.icelite.PuffinDv]] — the byte format the Iceberg V3 spec
    * publishes and real readers speak), with run containers for the
    * contiguous ranges predicates kill. Same merge-on-read semantics; the
    * oracle is carrier-blind, which is the point. `icelite_delete_dv_puffin`
    * named the Puffin carrier while a native RLE one was the default; both
    * names stay and now run the same carrier. */
  private def deleteDvQuery(name: String, tag: String) = QueryDef(
    name,
    (s, dir) => {
      val t = mkTable(s, dir, tag,
        props = Map("write.delete.mode" -> "merge-on-read",
          "write.delete.vector.enabled" -> "true"))
      t.delete(col("o_orderkey") % 6 === 0)
      t.update(col("o_orderkey") % 11 === 0, Map("o_orderstatus" -> lit("V")))
      state(t)
    },
    Some(s"""SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 11 = 0 THEN 'V' ELSE o_orderstatus END AS o_orderstatus,
             o_totalprice, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
             FROM orders WHERE o_orderkey % 6 <> 0 ORDER BY o_orderkey"""),
  )
  private val deleteDv = deleteDvQuery("icelite_delete_dv", "deldv")
  private val deleteDvPuffin = deleteDvQuery("icelite_delete_dv_puffin", "deldvpf")

  /** Cross-format interop round trip: the IceLite table EXPORTS as a
    * real-format Apache Iceberg table (metadata.json + avro manifest
    * list + avro manifests over name-addressable parquet,
    * [[graft.icelite.IcebergExport]]) and an independent Iceberg-format
    * reader ([[graft.icelite.IcebergInterop]] — parses the Iceberg spec's
    * artifacts directly, no IceLite metadata involved) reproduces the
    * exact table state, merge-on-read deletes materialized. The strongest
    * fidelity evidence that IceLite's metadata design is genuinely
    * Iceberg-shaped (README.md:830–1029). */
  private val icebergExportRead = QueryDef(
    "iceberg_export_read",
    (s, dir) => {
      val t = mkTable(s, dir, "iceexport",
        props = Map("write.delete.mode" -> "merge-on-read"))
      t.delete(col("o_orderkey") % 9 === 0)
      val mj = graft.icelite.IcebergExport.export(t, scratch("iceexport_dst"))
      stateOf(graft.icelite.IcebergInterop.read(s, mj))
    },
    Some(s"""SELECT $ordersCols FROM orders
             WHERE o_orderkey % 9 <> 0 ORDER BY o_orderkey"""),
  )

  /** VARIANT across the interop boundary (the last reference-taught
    * interop type gap, README.md:1127–1153): an IceLite table holding a
    * V3 VARIANT column — with a MoR delete keyed on a variant path on
    * top — exports as real-format Iceberg (format-version 3, parquet
    * VARIANT logical type) and the INDEPENDENT reader surfaces a
    * first-class variant column whose `variant_get` results the DuckDB
    * oracle recomputes from the raw JSON. */
  private val icebergExportVariant = QueryDef(
    "iceberg_export_variant",
    (s, dir) => {
      val t = IceLite.create(s, scratch("icevariant"),
        Seq("event_id" -> "BIGINT", "payload" -> "VARIANT"),
        properties = Map("write.delete.mode" -> "merge-on-read"))
      val ev = Tables.events(s, dir).filter(col("event_id") < 3000)
      t.append(ev.select(col("event_id"), expr("parse_json(props)").as("payload")))
      t.delete(expr("variant_get(payload, '$.k', 'long') % 5 = 0"))
      val mj = graft.icelite.IcebergExport.export(t, scratch("icevariant_dst"))
      graft.icelite.IcebergInterop.read(s, mj)
        .select(col("event_id"),
          expr("variant_get(payload, '$.k', 'long')").as("k"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events WHERE event_id < 3000
              AND CAST(json_extract_string(props, '$.k') AS BIGINT) % 5 <> 0
            ORDER BY event_id"""),
  )

  /** Migrate-IN (the reverse of `iceberg_export_read`, Iceberg's own
    * `migrate` action): a REAL-format Iceberg table is adopted in place
    * as a live IceLite table — zero data movement, foreign files
    * name-mapped by field id — and the lineage continues natively with
    * a merge-on-read delete over the ADOPTED files plus a fresh append.
    * The oracle recomputes the final state from raw parquet, so the
    * whole adopt → mutate → read loop is hash-checked. */
  private val icebergAdopt = QueryDef(
    "iceberg_adopt",
    (s, dir) => {
      val src = mkTable(s, dir, "adoptsrc")
      val foreign = scratch("adopt_foreign")
      val mj = graft.icelite.IcebergExport.export(src, foreign)
      val t = graft.icelite.IceLite.adopt(s, mj, foreign) // in-place migrate
      t.setProperties(Map("write.delete.mode" -> "merge-on-read"))
      t.delete(col("o_orderkey") % 11 === 0)
      t.append(orders(s, dir)
        .filter(col("o_orderkey") % 11 === 0 && col("o_orderkey") < 500))
      state(t)
    },
    Some(s"""SELECT * FROM (
               SELECT $ordersCols FROM orders WHERE o_orderkey % 11 <> 0
               UNION ALL
               SELECT $ordersCols FROM orders
               WHERE o_orderkey % 11 = 0 AND o_orderkey < 500
             ) ORDER BY o_orderkey"""),
  )

  /** Adopt HISTORY (time travel across the migrate-in boundary): every
    * foreign snapshot registers as an IceLite snapshot, so `VERSION AS
    * OF` a PRE-adoption snapshot id keeps serving — the tutorial's
    * time-travel centerpiece (README.md:1000–1015) surviving a table
    * migration. Real Iceberg writers mint RANDOM snapshot ids, so the
    * exported ids are rewritten to a non-monotone random-looking set
    * before adopting: the query proves the order-preserving id remap
    * (dense native ids + foreign-id lookup via table properties), not
    * just the monotone-id happy path. The returned frame is the
    * MID-lineage point BY ITS FOREIGN ID; head and first point are
    * require-checked in place. */
  private val icebergAdoptHistory = QueryDef(
    "iceberg_adopt_history",
    (s, dir) => {
      import com.fasterxml.jackson.databind.ObjectMapper
      val slice = (lo: Long, hi: Long) =>
        orders(s, dir).filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
      val src = IceLite.createFrom(s, scratch("adopthist_src"), orders(s, dir))
      src.append(slice(0L, 2000L))
      val s1 = src.meta.currentSnapshotId.get
      src.append(slice(2000L, 4000L))
      val s2 = src.meta.currentSnapshotId.get
      src.append(slice(4000L, Long.MaxValue))
      val s3 = src.meta.currentSnapshotId.get
      val foreign = scratch("adopthist_foreign")
      val mj = graft.icelite.IcebergExport.export(src, foreign, Seq(s1, s2, s3))
      // randomize the exported snapshot ids (non-monotone, like real
      // writers') — a JSON-TREE rewrite of the `snapshot-id` nodes and
      // the current pointer (substring editing could silently corrupt
      // the fixture on substring-colliding ids, e.g. 1 vs 11);
      // sequence-numbers keep the true commit order
      val rand = Map(s1 -> 7720249459238351L, s2 -> 112233445566L,
        s3 -> 9007111254740993L)
      val mp = java.nio.file.Paths.get(mj)
      val M = new ObjectMapper()
      val tree = M.readTree(mp.toFile)
      tree.get("snapshots").forEach { sn =>
        val o = sn.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        rand.get(o.get("snapshot-id").asLong()).foreach(o.put("snapshot-id", _))
      }
      val root = tree.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      rand.get(root.get("current-snapshot-id").asLong())
        .foreach(root.put("current-snapshot-id", _))
      java.nio.file.Files.write(mp,
        M.writerWithDefaultPrettyPrinter().writeValueAsBytes(tree))
      // the raw byte rewrite invalidates the Hadoop local-FS checksum
      // sidecar the export wrote — drop it or the next read fails CRC
      java.nio.file.Files.deleteIfExists(
        mp.resolveSibling("." + mp.getFileName + ".crc"))
      val t = graft.icelite.IceLite.adopt(s, mj, foreign)
      require(t.meta.snapshots.map(_.id) == Seq(1L, 2L, 3L),
        "random foreign ids must remap to a dense monotone native sequence")
      require(t.readAsOf(rand(s1)).count() == slice(0L, 2000L).count(),
        "VERSION AS OF the first foreign id must serve")
      require(t.read().count() == orders(s, dir).count(),
        "the adopted head must serve the full table")
      stateOf(t.readAsOf(rand(s2)))
    },
    Some(s"""SELECT $ordersCols FROM orders
             WHERE o_orderkey < 4000 ORDER BY o_orderkey"""),
  )

  /** Adopt a SCHEMA-EVOLVED foreign lineage (mid-history ADD COLUMN
    * DEFAULT + RENAME): every foreign schema registers under its own
    * schema-id, historical files resolve through the schema they were
    * WRITTEN under, pre-evolution time travel shows the columns the
    * table had then, and the HEAD serves the evolved schema with the
    * added column's initial-default filling pre-evolution rows — the
    * DuckDB oracle recomputes the head from raw parquet. */
  private val icebergAdoptEvolved = QueryDef(
    "iceberg_adopt_evolved",
    (s, dir) => {
      val o = orders(s, dir)
      val src = IceLite.create(s, scratch("adoptevo_src"),
        Seq("o_orderkey" -> "BIGINT", "o_totalprice" -> "DOUBLE"))
      src.append(o.filter(col("o_orderkey") < 3000)
        .select(col("o_orderkey"), col("o_totalprice")))
      val s1 = src.meta.currentSnapshotId.get
      src.addColumn("channel", "STRING", Some("'web'"))
      src.renameColumn("o_totalprice", "price")
      src.append(o.filter(col("o_orderkey") >= 3000)
        .select(col("o_orderkey"), col("o_totalprice").as("price"),
          lit("app").as("channel")))
      val s2 = src.meta.currentSnapshotId.get
      val foreign = scratch("adoptevo_foreign")
      val mj = graft.icelite.IcebergExport.export(src, foreign, Seq(s1, s2))
      val t = graft.icelite.IceLite.adopt(s, mj, foreign)
      require(t.meta.snapshots.map(_.id) == Seq(s1, s2),
        "the evolved lineage must adopt in full, not head-only")
      require(t.readAsOf(s1).columns.toSeq == Seq("o_orderkey", "o_totalprice"),
        "pre-evolution time travel shows the columns the table had then")
      require(t.readAsOf(s1).count() == o.filter(col("o_orderkey") < 3000).count(),
        "the pre-evolution point serves its full content")

      // the EXPIRED-adding-snapshot shape, oracled at every scale rung:
      // a pure ADD COLUMN lineage (no rename — the shape where a
      // vacuous-match footer fallback ties pre/post-ADD schemas and the
      // tie-break stamps POST-ADD files pre-ADD, silently filling the
      // default over real values). The middle snapshot is expired from
      // the exported metadata while its files stay live in the head's
      // chained manifests, so they MUST footer-resolve post-ADD: the
      // oracle hash diverges on their channel values if they don't.
      val src2 = IceLite.create(s, scratch("adoptevo2_src"),
        Seq("o_orderkey" -> "BIGINT", "o_totalprice" -> "DOUBLE"))
      src2.append(o.filter(col("o_orderkey") < 3000)
        .select(col("o_orderkey"), col("o_totalprice")))
      val e1 = src2.meta.currentSnapshotId.get
      src2.addColumn("channel", "STRING", Some("'web'"))
      src2.append(o.filter(col("o_orderkey") >= 3000 && col("o_orderkey") < 4500)
        .select(col("o_orderkey"), col("o_totalprice"), lit("app").as("channel")))
      val e2 = src2.meta.currentSnapshotId.get
      src2.append(o.filter(col("o_orderkey") >= 4500)
        .select(col("o_orderkey"), col("o_totalprice"), lit("app").as("channel")))
      val e3 = src2.meta.currentSnapshotId.get
      val foreign2 = scratch("adoptevo2_foreign")
      val mj2 = graft.icelite.IcebergExport.export(src2, foreign2, Seq(e1, e2, e3))
      val mp2 = java.nio.file.Paths.get(mj2)
      val M = new com.fasterxml.jackson.databind.ObjectMapper()
      val tree2 = M.readTree(mp2.toFile)
      val snapsArr = tree2.get("snapshots")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
      val victim = (0 until snapsArr.size())
        .find(i => snapsArr.get(i).get("snapshot-id").asLong() == e2).get
      snapsArr.remove(victim)
      java.nio.file.Files.write(mp2,
        M.writerWithDefaultPrettyPrinter().writeValueAsBytes(tree2))
      java.nio.file.Files.deleteIfExists(
        mp2.resolveSibling("." + mp2.getFileName + ".crc"))
      val t2 = graft.icelite.IceLite.adopt(s, mj2, foreign2)
      require(t2.meta.snapshots.map(_.id) == Seq(e1, e3),
        "the surviving lineage adopts around the expired middle snapshot")

      t.read().select(lit("renamed").as("lineage"),
          col("o_orderkey"), col("price"), col("channel"))
        .unionAll(t2.read().select(lit("expired").as("lineage"),
          col("o_orderkey"), col("o_totalprice").as("price"), col("channel")))
        .orderBy("lineage", "o_orderkey")
    },
    Some("""SELECT * FROM (
              SELECT 'renamed' AS lineage, o_orderkey,
                     CAST(o_totalprice AS DOUBLE) AS price,
                     CASE WHEN o_orderkey < 3000 THEN 'web' ELSE 'app' END AS channel
              FROM orders
              UNION ALL
              SELECT 'expired', o_orderkey, CAST(o_totalprice AS DOUBLE),
                     CASE WHEN o_orderkey < 3000 THEN 'web' ELSE 'app' END
              FROM orders)
            ORDER BY lineage, o_orderkey"""),
  )

  /** Adopt a foreign table WITH live merge-on-read position deletes: the
    * foreign (file_path, pos) delete parquet registers IN PLACE in the
    * native delete index (no refusal, no rewrite — it is the native
    * shape), the lineage continues with a native append, and DuckDB
    * recomputes the expected survivors from raw parquet. */
  private val icebergAdoptMor = QueryDef(
    "iceberg_adopt_mor",
    (s, dir) => {
      import org.apache.avro.Schema
      import org.apache.avro.file.DataFileWriter
      import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
      val loc = scratch("adoptmor")
      val fsys = new org.apache.hadoop.fs.Path(loc)
        .getFileSystem(s.sessionState.newHadoopConf())
      fsys.mkdirs(new org.apache.hadoop.fs.Path(s"$loc/metadata"))
      // one data parquet in o_orderkey order (positions are then ranks)
      val src = orders(s, dir).filter(col("o_orderkey") < 3000)
        .repartition(1).sortWithinPartitions("o_orderkey")
      src.write.parquet(s"$loc/data/b1")
      val dataFile = fsys.listStatus(new org.apache.hadoop.fs.Path(s"$loc/data/b1"))
        .map(_.getPath.toString).find(_.endsWith(".parquet")).get
      val nRows = src.count()
      // the foreign MoR delete: positions 0..9 (the 10 smallest keys)
      import s.implicits._
      (0L until 10L).map(p => (dataFile, p)).toDF("file_path", "pos")
        .coalesce(1).write.parquet(s"$loc/deletes/d1")
      val delFile = fsys.listStatus(new org.apache.hadoop.fs.Path(s"$loc/deletes/d1"))
        .map(_.getPath.toString).find(_.endsWith(".parquet")).get
      val entrySchema = new Schema.Parser().parse(
        """{"type":"record","name":"manifest_entry","fields":[
          | {"name":"status","type":"int"},
          | {"name":"snapshot_id","type":"long"},
          | {"name":"data_file","type":{"type":"record","name":"r2","fields":[
          |   {"name":"content","type":"int"},
          |   {"name":"file_path","type":"string"},
          |   {"name":"file_format","type":"string"},
          |   {"name":"record_count","type":"long"},
          |   {"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin)
      val mlSchema = new Schema.Parser().parse(
        """{"type":"record","name":"manifest_file","fields":[
          | {"name":"manifest_path","type":"string"},
          | {"name":"manifest_length","type":"long"},
          | {"name":"partition_spec_id","type":"int"},
          | {"name":"content","type":"int"},
          | {"name":"added_snapshot_id","type":"long"}]}""".stripMargin)
      def writeAvro(path: String, schema: Schema, rs: Seq[GenericRecord]): Unit = {
        val w = new DataFileWriter[GenericRecord](
          new GenericDatumWriter[GenericRecord](schema))
        w.create(schema, new java.io.File(path))
        try rs.foreach(w.append) finally w.close()
      }
      def entry(content: Int, p: String, n: Long): GenericRecord = {
        val df = new GenericData.Record(entrySchema.getField("data_file").schema())
        df.put("content", content); df.put("file_path", p)
        df.put("file_format", "PARQUET"); df.put("record_count", n)
        df.put("file_size_in_bytes", 1024L)
        val e = new GenericData.Record(entrySchema)
        e.put("status", 1); e.put("snapshot_id", 1L); e.put("data_file", df)
        e
      }
      def mlRow(p: String, content: Int): GenericRecord = {
        val r = new GenericData.Record(mlSchema)
        r.put("manifest_path", p); r.put("manifest_length", 512L)
        r.put("partition_spec_id", 0); r.put("content", content)
        r.put("added_snapshot_id", 1L)
        r
      }
      writeAvro(s"$loc/metadata/m1.avro", entrySchema, Seq(entry(0, dataFile, nRows)))
      writeAvro(s"$loc/metadata/dm1.avro", entrySchema, Seq(entry(1, delFile, 10)))
      writeAvro(s"$loc/metadata/snap-1.avro", mlSchema,
        Seq(mlRow(s"$loc/metadata/m1.avro", 0), mlRow(s"$loc/metadata/dm1.avro", 1)))
      val schemaJson = src.schema.fields.zipWithIndex.map { case (f, i) =>
        val t = f.dataType.typeName match {
          case "long" => "long"; case "double" => "double"; case "date" => "date"
          case "integer" => "int"
          case "timestamp_ntz" => "timestamp" // iceberg: without zone
          case "timestamp" => "timestamptz"
          case _ => "string"
        }
        s"""{"id": ${i + 1}, "name": "${f.name}", "required": false, "type": "$t"}"""
      }.mkString(", ")
      val mj = s"$loc/metadata/v1.metadata.json"
      java.nio.file.Files.write(java.nio.file.Paths.get(mj),
        s"""{
           |  "format-version": 2, "location": "$loc",
           |  "last-column-id": ${src.schema.size},
           |  "current-schema-id": 0,
           |  "schemas": [{"type": "struct", "schema-id": 0, "fields": [$schemaJson]}],
           |  "default-spec-id": 0, "partition-specs": [{"spec-id": 0, "fields": []}],
           |  "current-snapshot-id": 1,
           |  "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1700000000001,
           |    "summary": {"operation": "append"},
           |    "manifest-list": "$loc/metadata/snap-1.avro"}]
           |}""".stripMargin.getBytes("UTF-8"))
      val t = graft.icelite.IceLite.adopt(s, mj, s"$loc/adopted")
      require(t.meta.currentSnapshot.get.deleteFiles.nonEmpty,
        "the foreign position delete must carry into the native index")
      // the lineage continues natively over the carried deletes
      t.append(orders(s, dir)
        .filter(col("o_orderkey") >= 3000 && col("o_orderkey") < 3500))
      stateOf(t.read())
    },
    Some(s"""SELECT * FROM (
               SELECT $ordersCols FROM orders WHERE o_orderkey < 3000
               AND o_orderkey NOT IN (
                 SELECT o_orderkey FROM orders WHERE o_orderkey < 3000
                 ORDER BY o_orderkey LIMIT 10)
               UNION ALL
               SELECT $ordersCols FROM orders
               WHERE o_orderkey >= 3000 AND o_orderkey < 3500
             ) ORDER BY o_orderkey"""),
  )

  /** Delta-aware REST export cache: after an append-only commit, the next
    * `?format=iceberg` load CHAINS off the previous version's cached
    * export — only the appended rows move (require-checked on the data
    * dir), which is what keeps a 100 TB hot table from paying a
    * full-table rewrite per append. The final chained export is read by
    * the independent Iceberg reader and hash-checked by DuckDB. */
  private val restDeltaExport = QueryDef(
    "icelite_rest_delta",
    (s, dir) => {
      import com.fasterxml.jackson.databind.ObjectMapper
      val wh = scratch("restdelta")
      val cat = new Catalog(s, wh)
      val srcA = orders(s, dir).filter(col("o_orderkey") < 4000)
      val srcB = orders(s, dir).filter(col("o_orderkey") >= 4000)
      cat.createTable("db", "orders_hot",
        srcA.schema.fields.toSeq.map(f => f.name -> f.dataType.sql))
      cat.loadTable("db", "orders_hot").append(srcA)
      val srv = new graft.icelite.RestCatalogServer(s, wh)
      val port = srv.start()
      try {
        val http = java.net.http.HttpClient.newHttpClient()
        val M = new ObjectMapper()
        def load(): String = M.readTree(http.send(
          java.net.http.HttpRequest.newBuilder(java.net.URI.create(
            s"http://127.0.0.1:$port/v1/namespaces/db/tables/orders_hot?format=iceberg"))
            .GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString()).body())
          .get("metadata-location").asText()
        load() // full export of version 1
        val t1 = cat.loadTable("db", "orders_hot")
        t1.append(srcB)
        val sid = t1.meta.currentSnapshotId.get
        val mj2 = load() // must CHAIN: only srcB's rows move
        val dir2 = mj2.stripSuffix("/metadata/v1.metadata.json")
        val fsys = new org.apache.hadoop.fs.Path(dir2)
          .getFileSystem(s.sessionState.newHadoopConf())
        require(fsys.exists(new org.apache.hadoop.fs.Path(dir2, ".base")),
          "an append-only commit's export must chain off the previous one")
        val snapDirs = fsys.listStatus(new org.apache.hadoop.fs.Path(s"$dir2/data"))
          .map(_.getPath.getName).toSeq
        require(snapDirs == Seq(s"snap-$sid"),
          s"a chained export's data dir holds ONLY the delta, got $snapDirs")
        stateOf(graft.icelite.IcebergInterop.read(s, mj2))
      } finally srv.stop()
    },
    Some(s"SELECT $ordersCols FROM orders ORDER BY o_orderkey"),
  )

  /** The DSv2 micro-batch SOURCE (X104), oracled end-to-end: three
    * append commits stream through `spark.readStream.table(...)` under
    * Trigger.AvailableNow — the snapshot log is the offset ledger, each
    * micro-batch serves exactly one commit's appended files — and land
    * exactly-once in a second IceLite table via the idempotent batch-id
    * protocol. The output is the TARGET's content, which must hash-match
    * the source relation DuckDB recomputes: a dropped, duplicated or
    * mis-projected micro-batch cannot pass. Planning is O(appended
    * files) driver-side metadata per batch; the per-file readers are
    * Spark's own vectorized parquet reader — at 100 TB a poll reads the
    * delta, never the table. */
  private val streamRead = QueryDef(
    "icelite_stream_read",
    (s, dir) => {
      s.conf.set("spark.sql.catalog.icelite", "graft.icelite.connector.IceLiteCatalog")
      s.conf.set("spark.sql.catalog.icelite.warehouse",
        System.getProperty("java.io.tmpdir") + "/icelite_sql_wh")
      val wh = System.getProperty("java.io.tmpdir") + "/icelite_sql_wh"
      val o = orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val tbl = s"msrc_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val cat = new Catalog(s, wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS icelite.sqldemo")
      cat.createTable("sqldemo", tbl,
        o.schema.fields.toSeq.map(f => f.name -> f.dataType.sql))
      val src = cat.loadTable("sqldemo", tbl)
      src.append(o.filter(col("o_orderkey") % 3 === 0))
      src.append(o.filter(col("o_orderkey") % 3 === 1))
      src.append(o.filter(col("o_orderkey") % 3 === 2))
      val tgt = IceLite.createFrom(s, scratch("streamtgt"), o)
      val q = s.readStream
        .option("max-snapshots-per-trigger", "1") // one commit per micro-batch
        .table(s"icelite.sqldemo.$tbl")
        .writeStream
        .option("checkpointLocation", scratch("streamckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          tgt.appendIfNewBatch(id, df); ()
        }.start()
      q.awaitTermination()
      tgt.read().orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_orderstatus,
                   CAST(o_totalprice AS DOUBLE) AS o_totalprice
            FROM orders ORDER BY o_orderkey"""),
  )

  /** The full DSv2 streaming LOOP (X104 source → X105 sink), oracled:
    * `spark.readStream.table(src).writeStream.toTable(tgt)` — zero
    * foreachBatch, zero driver data movement. Three source commits drain
    * one-per-micro-batch under Trigger.AvailableNow; each epoch's rows
    * are written by executor FANOUT parquet writers into the target's
    * identity-partitioned layout and committed atomically with the
    * per-query epoch ledger (exactly-once across restarts). The output
    * is the target's content — a dropped/duplicated epoch, a
    * mis-projected column, or a partition-spelling mismatch between the
    * fanout and batch writers all break the DuckDB hash. */
  private val streamPipe = QueryDef(
    "icelite_stream_pipe",
    (s, dir) => {
      s.conf.set("spark.sql.catalog.icelite", "graft.icelite.connector.IceLiteCatalog")
      s.conf.set("spark.sql.catalog.icelite.warehouse",
        System.getProperty("java.io.tmpdir") + "/icelite_sql_wh")
      val wh = System.getProperty("java.io.tmpdir") + "/icelite_sql_wh"
      val o = orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val sfx = java.util.UUID.randomUUID().toString.replace("-", "")
      val cat = new Catalog(s, wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS icelite.sqldemo")
      cat.createTable("sqldemo", s"psrc_$sfx",
        o.schema.fields.toSeq.map(f => f.name -> f.dataType.sql))
      cat.createTable("sqldemo", s"ptgt_$sfx",
        o.schema.fields.toSeq.map(f => f.name -> f.dataType.sql),
        partition = Seq("o_orderstatus" -> "identity"))
      val src = cat.loadTable("sqldemo", s"psrc_$sfx")
      src.append(o.filter(col("o_orderkey") % 3 === 0))
      src.append(o.filter(col("o_orderkey") % 3 === 1))
      src.append(o.filter(col("o_orderkey") % 3 === 2))
      val q = s.readStream
        .option("max-snapshots-per-trigger", "1")
        .table(s"icelite.sqldemo.psrc_$sfx")
        .writeStream
        .option("checkpointLocation", scratch("streampipeckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"icelite.sqldemo.ptgt_$sfx")
      q.awaitTermination()
      cat.loadTable("sqldemo", s"ptgt_$sfx").read().orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_orderstatus,
                   CAST(o_totalprice AS DOUBLE) AS o_totalprice
            FROM orders ORDER BY o_orderkey"""),
  )

  /** The DSv2 streaming UPSERT sink (X106): `write.upsert.enabled=true` +
    * `write.upsert.key-columns` turn the same `writeStream.toTable` into
    * Iceberg's streaming CDC-upsert — each epoch's executor-written rows
    * commit WITH equality deletes on the key, so newer versions retire
    * older rows merge-on-read: O(batch) per epoch, no target scan or
    * rewrite, exactly-once across restarts. Three source commits carry
    * three versions of overlapping keys; the target must serve exactly
    * the LATEST version of every key — a missed epoch, a replayed epoch,
    * or same-seq deletes clobbering their own epoch's rows all break the
    * DuckDB hash. */
  private val streamUpsert = QueryDef(
    "icelite_stream_upsert",
    (s, dir) => {
      s.conf.set("spark.sql.catalog.icelite", "graft.icelite.connector.IceLiteCatalog")
      s.conf.set("spark.sql.catalog.icelite.warehouse",
        System.getProperty("java.io.tmpdir") + "/icelite_sql_wh")
      val wh = System.getProperty("java.io.tmpdir") + "/icelite_sql_wh"
      val o = orders(s, dir).select(col("o_orderkey"), col("o_totalprice"))
      val sfx = java.util.UUID.randomUUID().toString.replace("-", "")
      val cat = new Catalog(s, wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS icelite.sqldemo")
      cat.createTable("sqldemo", s"usrc_$sfx", Seq(
        "o_orderkey" -> "BIGINT", "price" -> "DOUBLE", "ver" -> "INT"))
      cat.createTable("sqldemo", s"utgt_$sfx", Seq(
        "o_orderkey" -> "BIGINT", "price" -> "DOUBLE", "ver" -> "INT"),
        properties = Map("write.upsert.enabled" -> "true",
          "write.upsert.key-columns" -> "o_orderkey"))
      val src = cat.loadTable("sqldemo", s"usrc_$sfx")
      // v1: every key; v2/v3 re-emit subsets with updated payloads — the
      // append-only source log of a CDC stream
      src.append(o.select(col("o_orderkey"), col("o_totalprice").as("price"),
        lit(1).as("ver")))
      src.append(o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") * 2).as("price"), lit(2).as("ver")))
      src.append(o.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") * 3).as("price"), lit(3).as("ver")))
      val q = s.readStream
        .option("max-snapshots-per-trigger", "1") // one CDC version per epoch
        .table(s"icelite.sqldemo.usrc_$sfx")
        .writeStream
        .option("checkpointLocation", scratch("streamupsertckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"icelite.sqldemo.utgt_$sfx")
      q.awaitTermination()
      cat.loadTable("sqldemo", s"utgt_$sfx").read().orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey,
                   CAST(CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 3
                             WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
                             ELSE o_totalprice END AS DOUBLE) AS price,
                   CASE WHEN o_orderkey % 5 = 0 THEN 3
                        WHEN o_orderkey % 3 = 0 THEN 2 ELSE 1 END AS ver
            FROM orders ORDER BY o_orderkey"""),
  )

  val defs: Seq[QueryDef] = Seq(
    appendRead, updateCow, updateMor, deleteCow, deleteMor, deleteMorEq, upsertEq, mergeInto,
    autoMaintain, timestampNsTable, icebergExportRead, icebergExportVariant, icebergAdopt,
    icebergAdoptHistory, icebergAdoptEvolved, icebergAdoptMor, restDeltaExport,
    deleteDv, deleteDvPuffin,
    dropColumnDdl, timeTravel,
    timeTravelTs, rollback, schemaEvolution, writeDefaultEvo, partitionEvolution,
    compaction, rewriteDeletes,
    expire, snapshotsTable, partitionsTable, historyTable, catalogList,
    sqlCatalog, orphans, sqlUpdate, sqlDelete, sqlMerge, sqlMergeCond, sqlSnapshots,
    sqlMaintenance, variantTable, restCatalog, restCommit, incrementalRead,
    branchWap, sortedWrite, zorderWrite, changelog, changelogLineage,
    cdcApplyAgg, tagSchemaRead,
    rowLineage, streamRead, streamPipe, streamUpsert,
  )
}
