package graft

import java.nio.file.Files

/** The DSv2 SQL surface (SURVEY.md §7.4): CREATE/INSERT/SELECT with time
  * travel, ALTER TABLE evolution, SHOW — all through `spark.sql` against
  * the `icelite` catalog, using a suite-private catalog name (Spark caches catalog instances per name, so a shared name would pin whichever warehouse initialized first), mirroring the reference's Spark-SQL-on-Iceberg
  * session (README.md:901–1029).
  */
class SqlCatalogSpec extends SparkSpec {

  private lazy val wh = Files.createTempDirectory("sqlcat_wh").toString

  private def initCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.ilsql", "graft.icelite.connector.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ilsql.warehouse", wh)
  }

  test("full SQL lifecycle: create, insert, select, time travel, alter") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ilsql.db")
    spark.sql("""CREATE TABLE ilsql.db.orders (
                   order_id BIGINT, status STRING, amount DOUBLE, order_date DATE)
                 PARTITIONED BY (months(order_date))""")
    assert(spark.sql("SHOW TABLES IN ilsql.db").collect().map(_.getString(1)).contains("orders"))

    spark.sql("""INSERT INTO ilsql.db.orders VALUES
                 (1, 'OPEN', 10.5, DATE'2024-01-05'),
                 (2, 'OPEN', 20.0, DATE'2024-02-10')""")
    spark.sql("INSERT INTO ilsql.db.orders VALUES (3, 'CLOSED', 30.0, DATE'2024-02-15')")

    assert(spark.sql("SELECT count(*) FROM ilsql.db.orders").head.getLong(0) == 3)
    // predicate + projection through the pushdown bridge
    val open = spark.sql(
      "SELECT order_id FROM ilsql.db.orders WHERE status = 'OPEN' ORDER BY order_id")
      .collect().map(_.getLong(0)).toSeq
    assert(open == Seq(1L, 2L))

    // time travel: snapshot 1 = first insert only
    assert(spark.sql("SELECT count(*) FROM ilsql.db.orders VERSION AS OF 1")
      .head.getLong(0) == 2)

    // schema evolution via SQL — metadata-only
    spark.sql("ALTER TABLE ilsql.db.orders ADD COLUMN note STRING")
    spark.sql("ALTER TABLE ilsql.db.orders RENAME COLUMN note TO comment")
    val cols = spark.sql("SELECT * FROM ilsql.db.orders").columns.toSeq
    assert(cols.contains("comment") && !cols.contains("note"))
    spark.sql("INSERT INTO ilsql.db.orders VALUES (4, 'OPEN', 5.0, DATE'2024-03-01', 'hi')")
    val note = spark.sql(
      "SELECT comment FROM ilsql.db.orders WHERE order_id = 4").head.getString(0)
    assert(note == "hi")
    assert(spark.sql(
      "SELECT comment FROM ilsql.db.orders WHERE order_id = 1").head.isNullAt(0))

    // DROP COLUMN via SQL — metadata-only; field id not reused, so a
    // same-name re-add reads all-NULL (no value bleed from old files)
    spark.sql("ALTER TABLE ilsql.db.orders DROP COLUMN comment")
    assert(!spark.sql("SELECT * FROM ilsql.db.orders").columns.contains("comment"))
    spark.sql("ALTER TABLE ilsql.db.orders ADD COLUMN comment STRING")
    assert(spark.sql(
      "SELECT count(*) FROM ilsql.db.orders WHERE comment IS NOT NULL")
      .head.getLong(0) == 0)
  }

  test("INSERT OVERWRITE replaces content in one snapshot") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ilsql.db2")
    spark.sql("CREATE TABLE ilsql.db2.t (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO ilsql.db2.t VALUES (1, 1.0), (2, 2.0)")
    spark.sql("INSERT OVERWRITE ilsql.db2.t VALUES (9, 9.0)")
    val rows = spark.sql("SELECT id FROM ilsql.db2.t").collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(9L))
    // previous content still reachable via time travel
    assert(spark.sql("SELECT count(*) FROM ilsql.db2.t VERSION AS OF 1").head.getLong(0) == 2)
  }

  test("TIMESTAMP AS OF resolves to the snapshot live at that time") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ilsql.db3")
    spark.sql("CREATE TABLE ilsql.db3.t (id BIGINT)")
    spark.sql("INSERT INTO ilsql.db3.t VALUES (1)")
    val cat = new graft.icelite.Catalog(spark, wh)
    val ts1 = cat.loadTable("db3", "t").meta.snapshot(1).timestampMs
    Thread.sleep(10)
    spark.sql("INSERT INTO ilsql.db3.t VALUES (2)")
    val tsStr = new java.sql.Timestamp(ts1).toString
    assert(spark.sql(s"SELECT count(*) FROM ilsql.db3.t TIMESTAMP AS OF '$tsStr'")
      .head.getLong(0) == 1)
  }

  test("SQL reads plan as a native vectorized parquet scan with pushdown") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ilsql.db4")
    spark.sql("CREATE TABLE ilsql.db4.t (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO ilsql.db4.t SELECT id, id * 1.5 FROM range(1000)")
    val df = spark.sql("SELECT v FROM ilsql.db4.t WHERE id = 7")
    assert(df.head.getDouble(0) == 10.5)
    val inner = df.queryExecution.executedPlan.toString
    // the read-substitution rule must splice a real FileScan (vectorized,
    // codegen-able), not the V1 df.rdd bridge's RowDataSourceScan
    assert(inner.contains("FileScan parquet"), s"not a native parquet scan:\n$inner")
    assert(!inner.contains("RowDataSourceScan"), s"V1 bridge still in the plan:\n$inner")
    assert(inner.contains("PushedFilters") && inner.contains("7"),
      s"filter not pushed into the scan:\n$inner")
  }

  test("SQL UPDATE and DELETE run copy-on-write through the catalog") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ilsql.dml")
    spark.sql("CREATE TABLE ilsql.dml.t (id BIGINT, status STRING, amount DOUBLE)")
    spark.sql("INSERT INTO ilsql.dml.t SELECT id, 'OPEN', CAST(id AS DOUBLE) FROM range(100)")
    spark.sql("UPDATE ilsql.dml.t SET status = 'CLOSED', amount = amount * 2 WHERE id % 10 = 0")
    val closed = spark.sql(
      "SELECT id, amount FROM ilsql.dml.t WHERE status = 'CLOSED' ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(closed == (0L until 100L by 10).map(i => (i, i * 2.0)))
    spark.sql("DELETE FROM ilsql.dml.t WHERE id >= 50")
    assert(spark.sql("SELECT count(*) FROM ilsql.dml.t").head.getLong(0) == 50)
    assert(spark.sql("SELECT count(*) FROM ilsql.dml.t WHERE status='CLOSED'").head.getLong(0) == 5)
    // unqualified-name conditions and qualified ones both resolve
    spark.sql("UPDATE ilsql.dml.t SET amount = 0 WHERE ilsql.dml.t.id = 1")
    assert(spark.sql("SELECT amount FROM ilsql.dml.t WHERE id = 1").head.getDouble(0) == 0.0)
  }

  // Spark 4 resolves BETWEEN into a common-expression `With`, which the
  // DML rewrite has to inline before it rebinds columns by name
  for (mode <- Seq("copy-on-write", "merge-on-read"))
    test(s"SQL DELETE and UPDATE with BETWEEN ($mode)") {
      initCatalog()
      val ns = "btw_" + mode.replace('-', '_')
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ilsql.$ns")
      spark.sql(s"""CREATE TABLE ilsql.$ns.t (id BIGINT, v DOUBLE)
                    TBLPROPERTIES ('write.delete.mode'='$mode', 'write.update.mode'='$mode')""")
      spark.sql(s"INSERT INTO ilsql.$ns.t SELECT id, 0.0 FROM range(20)")
      spark.sql(s"DELETE FROM ilsql.$ns.t WHERE id BETWEEN 3 AND 6")
      spark.sql(s"UPDATE ilsql.$ns.t SET v = id * 2.0 WHERE id BETWEEN 10 AND 12")
      val rows = spark.sql(s"SELECT id, v FROM ilsql.$ns.t ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = (0L until 20L).filterNot(i => i >= 3 && i <= 6)
        .map(i => (i, if (i >= 10 && i <= 12) i * 2.0 else 0.0))
      assert(rows == want, s"got $rows")
      val snap = new graft.icelite.Catalog(spark, wh).loadTable(ns, "t").meta.currentSnapshot.get
      assert(snap.deleteFiles.nonEmpty == (mode == "merge-on-read"),
        s"$mode left delete files ${snap.deleteFiles}")
    }

  test("SQL MERGE INTO updates matches and inserts the rest") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ilsql.mrg")
    spark.sql("CREATE TABLE ilsql.mrg.t (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO ilsql.mrg.t SELECT id, 1.0 FROM range(10)")
    spark.range(5, 15).toDF("id").createOrReplaceTempView("mrg_src")
    spark.sql("""MERGE INTO ilsql.mrg.t AS t
                 USING (SELECT id, 99.0 AS v FROM mrg_src) AS s
                 ON t.id = s.id
                 WHEN MATCHED THEN UPDATE SET *
                 WHEN NOT MATCHED THEN INSERT *""")
    val rows = spark.sql("SELECT id, v FROM ilsql.mrg.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows.size == 15)
    assert(rows.filter(_._1 < 5).forall(_._2 == 1.0), s"untouched rows changed: $rows")
    assert(rows.filter(_._1 >= 5).forall(_._2 == 99.0), s"matched/inserted rows wrong: $rows")
  }

  test("SQL DML with uncorrelated subquery conditions: IN and scalar") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ilsql.subq")
    spark.sql("CREATE TABLE ilsql.subq.t (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO ilsql.subq.t SELECT id, CAST(id AS DOUBLE) FROM range(20)")
    spark.range(0, 20, 4).toDF("bad").createOrReplaceTempView("subq_bad")
    spark.sql("DELETE FROM ilsql.subq.t WHERE id IN (SELECT bad FROM subq_bad)")
    val afterDelete = spark.sql("SELECT id FROM ilsql.subq.t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(afterDelete == (0L until 20L).filter(_ % 4 != 0), s"got $afterDelete")
    spark.sql("UPDATE ilsql.subq.t SET v = -1.0 WHERE id > (SELECT max(bad) - 2 FROM subq_bad)")
    val updated = spark.sql("SELECT id FROM ilsql.subq.t WHERE v = -1.0 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(updated == Seq(15L, 17L, 18L, 19L), s"got $updated")
    // NOT IN keeps working through the same rewrite
    spark.sql("DELETE FROM ilsql.subq.t WHERE id NOT IN (SELECT bad + 1 FROM subq_bad)")
    val afterNotIn = spark.sql("SELECT id FROM ilsql.subq.t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(afterNotIn == Seq(1L, 5L, 9L, 13L, 17L), s"got $afterNotIn")
  }

  test("SQL MERGE general clauses: differing key names, conditions, NOT MATCHED BY SOURCE") {
    initCatalog()
    val (driver, distributed) = onBothMergePlans { plan =>
      val ns = s"mrg2_$plan"
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ilsql.$ns")
      spark.sql(s"CREATE TABLE ilsql.$ns.t (id BIGINT, v DOUBLE, tag STRING)")
      spark.sql(s"INSERT INTO ilsql.$ns.t SELECT id, CAST(id AS DOUBLE), 'old' FROM range(10)")
      import spark.implicits._
      // local rows: the default threshold plans the MERGE on the driver
      (6L until 14L).toDF("sid").createOrReplaceTempView(s"${ns}_src")
      spark.sql(s"""MERGE INTO ilsql.$ns.t AS t
                   USING (SELECT sid, CAST(sid AS DOUBLE) * 10 AS sv FROM ${ns}_src) AS s
                   ON t.id = s.sid
                   WHEN MATCHED AND t.id = 7 THEN DELETE
                   WHEN MATCHED THEN UPDATE SET v = s.sv, tag = 'upd'
                   WHEN NOT MATCHED AND s.sid < 12 THEN INSERT (id, v, tag) VALUES (s.sid, s.sv, 'ins')
                   WHEN NOT MATCHED BY SOURCE AND t.id < 2 THEN DELETE
                   WHEN NOT MATCHED BY SOURCE AND t.id < 4 THEN UPDATE SET tag = 'stale'""")
      val rows = spark.sql(s"SELECT id, v, tag FROM ilsql.$ns.t ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
      // 0,1 deleted (NMBS); 2,3 tagged stale (NMBS); 4,5 untouched; 7 deleted
      // (matched); 6,8,9 updated; 10,11 inserted; 12,13 insert condition false
      assert(rows.map(_._1) == Seq(2L, 3L, 4L, 5L, 6L, 8L, 9L, 10L, 11L), s"got $rows")
      assert(rows.filter(r => Seq(2L, 3L).contains(r._1)).forall(_._3 == "stale"), s"got $rows")
      assert(rows.filter(r => Seq(4L, 5L).contains(r._1)).forall(r => r._3 == "old" && r._2 == r._1), s"got $rows")
      assert(rows.filter(r => Seq(6L, 8L, 9L).contains(r._1)).forall(r => r._3 == "upd" && r._2 == r._1 * 10), s"got $rows")
      assert(rows.filter(r => Seq(10L, 11L).contains(r._1)).forall(r => r._3 == "ins" && r._2 == r._1 * 10), s"got $rows")
      val t = new graft.icelite.Catalog(spark, wh).loadTable(ns, "t")
      assert(t.meta.metadataLog.last.note.contains(s"($plan plan)"), t.meta.metadataLog.last.note)
      t.readRowLineage().collect().toSeq.sortBy(_.getLong(0))
    }
    // same rows and the same V3 lineage (`_row_id`, `_last_updated_sequence_number`)
    assert(driver == distributed)
  }

  test("SQL metadata tables: snapshots, history, partitions, files") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ilsql.meta")
    spark.sql("""CREATE TABLE ilsql.meta.t (id BIGINT, d DATE)
                 PARTITIONED BY (months(d))""")
    spark.sql("INSERT INTO ilsql.meta.t VALUES (1, DATE'2024-01-05'), (2, DATE'2024-02-06')")
    spark.sql("DELETE FROM ilsql.meta.t WHERE id = 2")
    val snaps = spark.sql(
      "SELECT snapshot_id, operation FROM ilsql.meta.t.snapshots ORDER BY snapshot_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(snaps == Seq((1L, "append"), (2L, "delete")), s"got $snaps")
    assert(spark.sql("SELECT count(*) FROM ilsql.meta.t.history").head.getLong(0) >= 3)
    val parts = spark.sql(
      "SELECT partition, row_count FROM ilsql.meta.t.partitions ORDER BY partition")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(parts == Seq(("d_month=2024-01", 1L)), s"got $parts")
    assert(spark.sql("SELECT count(*) FROM ilsql.meta.t.files").head.getLong(0) == 1)
    // the plan is a driver-local scan — no V1 bridge, no file read
    val plan = spark.sql("SELECT * FROM ilsql.meta.t.snapshots")
      .queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), s"metadata table not LocalScan:\n$plan")
    // refs: implicit main + any named branches
    val loc = spark.sql("SELECT * FROM ilsql.meta.t.files").head.getString(0)
    val tblLoc = loc.substring(0, loc.indexOf("/data/"))
    graft.icelite.IceLite.load(spark, tblLoc).createBranch("audit")
    val refs = spark.sql("SELECT name, type FROM ilsql.meta.t.refs ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(refs == Seq(("audit", "branch"), ("main", "branch")), s"got $refs")
  }

  test("CALL icelite.system procedures run maintenance via SQL") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ilsql.proc")
    spark.sql("CREATE TABLE ilsql.proc.t (id BIGINT)")
    spark.sql("INSERT INTO ilsql.proc.t SELECT id FROM range(10)")
    spark.sql("INSERT INTO ilsql.proc.t SELECT id FROM range(10, 20)")
    // rollback to snapshot 1
    val rb = spark.sql("CALL ilsql.system.rollback_to_snapshot('proc.t', 1)").collect()
    assert(rb.head.getLong(0) == 3, s"rollback returned $rb") // new snapshot id
    assert(spark.sql("SELECT count(*) FROM ilsql.proc.t").head.getLong(0) == 10)
    // compact to 1 file
    spark.sql("INSERT INTO ilsql.proc.t SELECT id FROM range(10, 20)")
    val cp = spark.sql("CALL ilsql.system.rewrite_data_files('proc.t', 1)").collect()
    assert(cp.head.getLong(1) <= cp.head.getLong(0), s"compact returned ${cp.toSeq}")
    assert(spark.sql("SELECT count(*) FROM ilsql.proc.t").head.getLong(0) == 20)
    // expire everything but current
    val ex = spark.sql(
      s"CALL ilsql.system.expire_snapshots('proc.t', ${System.currentTimeMillis() + 3600000})").collect()
    assert(ex.head.getLong(0) == 1, s"expire left ${ex.toSeq}")
    // orphan sweep (nothing to remove)
    val orp = spark.sql(
      s"CALL ilsql.system.remove_orphan_files('proc.t', ${System.currentTimeMillis() + 3600000})").collect()
    assert(orp.head.getLong(0) == 0, s"orphans removed ${orp.toSeq}")
    assert(spark.sql("SELECT count(*) FROM ilsql.proc.t").head.getLong(0) == 20)
  }

  test("CALL rewrite_position_delete_files merges MoR delete files via SQL") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ilsql.rwd")
    spark.sql("CREATE TABLE ilsql.rwd.t (id BIGINT) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql("INSERT INTO ilsql.rwd.t SELECT id FROM range(100)")
    spark.sql("DELETE FROM ilsql.rwd.t WHERE id % 10 = 1")
    spark.sql("DELETE FROM ilsql.rwd.t WHERE id % 10 = 3")
    spark.sql("DELETE FROM ilsql.rwd.t WHERE id % 10 = 5")
    val r = spark.sql(
      "CALL ilsql.system.rewrite_position_delete_files('rwd.t', 1)").collect()
    assert(r.head.getLong(0) >= 3 && r.head.getLong(1) == 1,
      s"rewrite returned ${r.toSeq}")
    val want = (0L until 100L).filterNot(i => i % 10 == 1 || i % 10 == 3 || i % 10 == 5)
    assert(spark.sql("SELECT count(*), sum(id) FROM ilsql.rwd.t").collect()
      .map(x => (x.getLong(0), x.getLong(1))).head == (want.size.toLong, want.sum),
      "rewrite changed visible content through SQL")
  }

  test("CALL create_changelog_view exposes the CDC feed to SQL") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ilsql.cdc")
    spark.sql("CREATE TABLE ilsql.cdc.t (id BIGINT)")
    spark.sql("INSERT INTO ilsql.cdc.t SELECT id FROM range(5)")
    spark.sql("INSERT INTO ilsql.cdc.t SELECT id FROM range(5, 8)")
    spark.sql("DELETE FROM ilsql.cdc.t WHERE id = 1")
    val v = spark.sql(
      "CALL ilsql.system.create_changelog_view('cdc.t', 0, 3, 'cdc_changes')").collect()
    assert(v.head.getString(0) == "cdc_changes")
    val got = spark.sql(
      "SELECT id, _change_type, _commit_version FROM cdc_changes ORDER BY _commit_version, _change_type, id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val want = (0L until 5L).map(i => (i, "insert", 1L)) ++
      (5L until 8L).map(i => (i, "insert", 2L)) :+ ((1L, "delete", 3L))
    assert(got == want, s"got ${got.toSeq}")
  }

  test("CALL create_changelog_view with row_lineage pairs updates by identity") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ilsql.cdl")
    spark.sql("CREATE TABLE ilsql.cdl.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO ilsql.cdl.t SELECT id, concat('a', id) FROM range(5)")
    spark.sql("UPDATE ilsql.cdl.t SET v = 'upd' WHERE id = 2")
    spark.sql(
      "CALL ilsql.system.create_changelog_view('cdl.t', 0, 2, 'cdl_changes', true)")
    val cols = spark.sql("SELECT * FROM cdl_changes").columns.toSeq
    assert(cols.contains("_row_id") && cols.contains("_last_updated_sequence_number"),
      s"lineage mode must surface the V3 identity columns, got $cols")
    // the UPDATE's delete+insert pair shares one stable _row_id
    val pair = spark.sql(
      """SELECT _change_type, _row_id FROM cdl_changes
         WHERE _commit_version = 2 ORDER BY _change_type""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(pair.map(_._1) == Seq("delete", "insert"), s"got $pair")
    assert(pair.head._2 == pair.last._2,
      s"the update pair must share one _row_id, got $pair")
    // the 4-arg form still serves (no lineage columns)
    spark.sql("CALL ilsql.system.create_changelog_view('cdl.t', 0, 2, 'cdl_plain')")
    assert(!spark.sql("SELECT * FROM cdl_plain").columns.contains("_row_id"))
  }

  test("ALTER COLUMN SET DEFAULT and ADD COLUMN DEFAULT flow through SQL") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ilsql.wd")
    spark.sql("CREATE TABLE ilsql.wd.t (id BIGINT)")
    spark.sql("INSERT INTO ilsql.wd.t SELECT id FROM range(3)")
    // ADD COLUMN DEFAULT: read fill for pre-add rows AND write fill
    spark.sql("ALTER TABLE ilsql.wd.t ADD COLUMN ch STRING DEFAULT 'web'")
    assert(spark.sql("SELECT ch FROM ilsql.wd.t WHERE id = 0").head.getString(0) == "web")
    // SET DEFAULT diverges only the WRITE side (V3 write-default)
    spark.sql("ALTER TABLE ilsql.wd.t ALTER COLUMN ch SET DEFAULT 'store'")
    spark.sql("INSERT INTO ilsql.wd.t (id) VALUES (10)")
    val got = spark.sql("SELECT id, ch FROM ilsql.wd.t ORDER BY id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(0L) == "web", "pre-add rows keep the immutable initial fill")
    assert(got(10L) == "store", "post-SET omitted columns fill the new write default")
    // the engine-side guard surfaces through SQL: non-literal defaults refuse
    val e = intercept[Exception](
      spark.sql("ALTER TABLE ilsql.wd.t ALTER COLUMN ch SET DEFAULT now()"))
    assert(e.getMessage.contains("literal"), e.getMessage)
    // DROP DEFAULT = the "null" literal per the V3 convention
    spark.sql("ALTER TABLE ilsql.wd.t ALTER COLUMN ch DROP DEFAULT")
    spark.sql("INSERT INTO ilsql.wd.t (id) VALUES (11)")
    assert(spark.sql("SELECT ch FROM ilsql.wd.t WHERE id = 11").head.isNullAt(0))
  }

  test("branch/tag procedures and ref time travel run the WAP flow via SQL") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ilsql.wap")
    spark.sql("CREATE TABLE ilsql.wap.t (id BIGINT)")
    spark.sql("INSERT INTO ilsql.wap.t SELECT id FROM range(10)")
    val cb = spark.sql("CALL ilsql.system.create_branch('wap.t', 'stage')").collect()
    assert(cb.head.getLong(0) == 1, s"branch head ${cb.toSeq}")
    // stage rows on the branch (engine API; SQL INSERT targets main)
    val t = new graft.icelite.Catalog(spark, wh).loadTable("wap", "t")
    t.appendToBranch("stage", spark.range(10, 15).toDF("id"))
    assert(spark.sql("SELECT count(*) FROM ilsql.wap.t").head.getLong(0) == 10,
      "main must not see staged rows")
    assert(spark.sql("SELECT count(*) FROM ilsql.wap.t VERSION AS OF 'stage'")
      .head.getLong(0) == 15, "branch read via ref time travel")
    spark.sql("CALL ilsql.system.create_tag('wap.t', 'before-publish')")
    spark.sql("CALL ilsql.system.fast_forward('wap.t', 'stage')")
    assert(spark.sql("SELECT count(*) FROM ilsql.wap.t").head.getLong(0) == 15)
    assert(spark.sql("SELECT count(*) FROM ilsql.wap.t VERSION AS OF 'before-publish'")
      .head.getLong(0) == 10, "tag must pin the pre-publish state")
    spark.sql("CALL ilsql.system.drop_ref('wap.t', 'stage')")
    intercept[Exception](
      spark.sql("SELECT * FROM ilsql.wap.t VERSION AS OF 'stage'").collect())
  }

  test("CALL rewrite_zorder clusters a table from SQL") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ilsql.zo")
    spark.sql("CREATE TABLE ilsql.zo.t (x BIGINT, y BIGINT)")
    spark.sql("INSERT INTO ilsql.zo.t SELECT id % 64, (id * 37) % 64 FROM range(4096)")
    val out = spark.sql("CALL ilsql.system.rewrite_zorder('zo.t', 'x, y', 8)").collect()
    assert(out.head.getLong(0) >= 4, s"z-order produced ${out.toSeq} files")
    assert(spark.sql("SELECT count(*) FROM ilsql.zo.t").head.getLong(0) == 4096)
  }

  test("CREATE TABLE AS SELECT materializes a query into a new table") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ilsql.ctas")
    spark.sql("""CREATE TABLE ilsql.ctas.evens AS
                 SELECT id, id * 2 AS dbl FROM range(10) WHERE id % 2 = 0""")
    val rows = spark.sql("SELECT id, dbl FROM ilsql.ctas.evens ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((0L, 0L), (2L, 4L), (4L, 8L), (6L, 12L), (8L, 16L)), s"got $rows")
  }

  test("drop table and namespace") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ilsql.db5")
    spark.sql("CREATE TABLE ilsql.db5.gone (id BIGINT)")
    spark.sql("DROP TABLE ilsql.db5.gone")
    assert(spark.sql("SHOW TABLES IN ilsql.db5").collect().isEmpty)
    spark.sql("DROP NAMESPACE ilsql.db5")
    assert(!spark.sql("SHOW NAMESPACES IN ilsql").collect()
      .map(_.getString(0)).contains("db5"))
  }

  test("time travel across schema evolution serves the snapshot's own schema") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ilsql.db6")
    spark.sql("CREATE TABLE ilsql.db6.evo (a BIGINT)")
    spark.sql("INSERT INTO ilsql.db6.evo VALUES (1), (2)")
    spark.sql("ALTER TABLE ilsql.db6.evo ADD COLUMN b STRING")
    spark.sql("ALTER TABLE ilsql.db6.evo RENAME COLUMN a TO a2")
    spark.sql("INSERT INTO ilsql.db6.evo VALUES (3, 'x')")
    // the pre-evolution snapshot must read under ITS schema — the
    // relation used to advertise the CURRENT (a2, b) columns while the
    // scan returned (a), failing analysis on the mismatch
    val old = spark.sql("SELECT * FROM ilsql.db6.evo VERSION AS OF 1")
    assert(old.columns.toSeq == Seq("a"),
      s"snapshot-scoped schema expected, got ${old.columns.toSeq}")
    assert(old.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(spark.sql("SELECT count(*) FROM ilsql.db6.evo VERSION AS OF 1")
      .head.getLong(0) == 2L)
    // current read serves the evolved schema
    assert(spark.sql("SELECT * FROM ilsql.db6.evo").columns.toSeq == Seq("a2", "b"))
  }

  test("unknown 4-part identifiers surface NOT FOUND, not a namespace error") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ilsql.db7")
    spark.sql("CREATE TABLE ilsql.db7.t (id BIGINT)")
    // .typo is not a metadata-table kind and .missing doesn't exist —
    // both must resolve to TABLE_OR_VIEW_NOT_FOUND (Spark only treats
    // NoSuchTableException as "try other resolutions / report not found")
    for (bad <- Seq("ilsql.db7.t.typo", "ilsql.db7.missing.files")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT * FROM $bad").collect()
      }
      assert(e.getCondition != null &&
        e.getCondition.contains("TABLE_OR_VIEW_NOT_FOUND"),
        s"$bad must be NOT FOUND, got ${e.getCondition}: ${e.getMessage.take(120)}")
    }
  }

  test("a multi-change ALTER validates up front — a bad change applies nothing") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ilsql.db8")
    spark.sql("CREATE TABLE ilsql.db8.t (id BIGINT, v STRING)")
    val cat = new graft.icelite.connector.IceLiteCatalog()
    cat.initialize("ilsql_direct",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("warehouse", wh)))
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("db8"), "t")
    import org.apache.spark.sql.connector.catalog.TableChange
    def underlying = cat.loadTable(ident)
      .asInstanceOf[graft.icelite.connector.IceLiteSparkTable].underlying
    val before = underlying.currentVersion
    intercept[IllegalArgumentException] {
      cat.alterTable(ident,
        TableChange.addColumn(Array("x"), org.apache.spark.sql.types.LongType),
        TableChange.addColumn(Array("v"), org.apache.spark.sql.types.LongType))
    }
    val t = underlying
    assert(t.currentVersion == before,
      "a failed multi-change ALTER must leave no half-applied commit")
    assert(!t.meta.currentSchema.fields.exists(_.name == "x"),
      "the first change must not survive the statement's failure")
  }

  test("ALTER validation mirrors apply-stage guards: narrowing and guarded drops apply nothing") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ilsql.db8b")
    spark.sql(
      "CREATE TABLE ilsql.db8b.t (id BIGINT, v BIGINT) PARTITIONED BY (id)")
    val cat = new graft.icelite.connector.IceLiteCatalog()
    cat.initialize("ilsql_direct2",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("warehouse", wh)))
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("db8b"), "t")
    import org.apache.spark.sql.connector.catalog.TableChange
    import org.apache.spark.sql.types.{IntegerType, LongType}
    def underlying = cat.loadTable(ident)
      .asInstanceOf[graft.icelite.connector.IceLiteSparkTable].underlying
    val before = underlying.currentVersion
    // a NARROWING type change ordered after an add: the up-front pass must
    // reject it before the add commits its own version
    intercept[IllegalArgumentException] {
      cat.alterTable(ident,
        TableChange.addColumn(Array("x"), LongType),
        TableChange.updateColumnType(Array("v"), IntegerType))
    }
    assert(underlying.currentVersion == before,
      "a narrowing ALTER must commit nothing")
    assert(!underlying.meta.currentSchema.fields.exists(_.name == "x"))
    // a drop of a PARTITION-SOURCE column ordered after an add
    intercept[IllegalArgumentException] {
      cat.alterTable(ident,
        TableChange.addColumn(Array("y"), LongType),
        TableChange.deleteColumn(Array("id"), java.lang.Boolean.FALSE))
    }
    assert(underlying.currentVersion == before,
      "a guarded drop must commit nothing")
    assert(!underlying.meta.currentSchema.fields.exists(_.name == "y"))
    // the same changes split into legal statements still work
    cat.alterTable(ident, TableChange.addColumn(Array("x"), LongType))
    assert(underlying.meta.currentSchema.fields.exists(_.name == "x"))
  }

  test("procedures reject a dot-less table argument with a clear message") {
    initCatalog()
    val e = intercept[Exception] {
      spark.sql("CALL ilsql.system.expire_snapshots('nodot', 0)").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("db.table")),
      s"expected a 'db.table' format hint, got: ${e.getMessage}")
  }

  test("a SQL read returns the snapshot it was analyzed against") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ilsql.pin")
    spark.sql("CREATE TABLE ilsql.pin.t (id BIGINT)")
    spark.sql("INSERT INTO ilsql.pin.t SELECT id FROM range(5)")
    val df = spark.sql("SELECT id FROM ilsql.pin.t WHERE id >= 0")
    spark.sql("INSERT INTO ilsql.pin.t SELECT id FROM range(5, 10)")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (0L until 5L),
      "the read must not move to a snapshot committed after analysis")
    assert(spark.sql("SELECT count(*) FROM ilsql.pin.t").head.getLong(0) == 10)
  }

  test("IceLite tables as DML sources: MERGE USING a table, DELETE with an IN subquery over one") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ilsql.src")
    spark.sql("CREATE TABLE ilsql.src.a (id BIGINT, v DOUBLE)")
    spark.sql("CREATE TABLE ilsql.src.b (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO ilsql.src.a SELECT id, 1.0 FROM range(10)")
    spark.sql("INSERT INTO ilsql.src.b SELECT id, 2.0 FROM range(5, 15)")
    spark.sql("""MERGE INTO ilsql.src.a AS t USING ilsql.src.b AS s ON t.id = s.id
                 WHEN MATCHED THEN UPDATE SET v = s.v
                 WHEN NOT MATCHED THEN INSERT *""")
    def rows = spark.sql("SELECT id, v FROM ilsql.src.a ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows == (0L until 15L).map(i => (i, if (i < 5) 1.0 else 2.0)), s"got $rows")
    spark.sql(
      "DELETE FROM ilsql.src.a WHERE id IN (SELECT id FROM ilsql.src.b WHERE id >= 12)")
    assert(rows == (0L until 12L).map(i => (i, if (i < 5) 1.0 else 2.0)), s"got $rows")
  }

  test("merge-on-read SQL reads equal the library read and run no more jobs") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ilsql.mor")
    spark.sql("""CREATE TABLE ilsql.mor.t (id BIGINT, v DOUBLE)
                 TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.sql("INSERT INTO ilsql.mor.t SELECT id, id * 0.5 FROM range(200)")
    spark.sql("DELETE FROM ilsql.mor.t WHERE id % 7 = 0") // parquet position deletes
    spark.sql("ALTER TABLE ilsql.mor.t SET TBLPROPERTIES ('write.delete.vector.enabled'='true')")
    spark.sql("DELETE FROM ilsql.mor.t WHERE id % 11 = 0") // Puffin deletion vectors
    val t = new graft.icelite.Catalog(spark, wh).loadTable("mor", "t")
    import spark.implicits._
    t.deleteEq(Seq(1L, 2L, 3L).toDF("id"))                 // equality deletes
    val kinds = t.meta.currentSnapshot.get.deleteFiles
    assert(kinds.exists(_.kind == "eq") && kinds.exists(_.path.endsWith(".puffin")) &&
      kinds.exists(d => d.kind != "eq" && d.path.endsWith(".parquet")), s"delete files $kinds")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val want = sorted(t.read())
    assert(want.map(_._1) == (4L until 200L).filterNot(i => i % 7 == 0 || i % 11 == 0),
      s"library read kept ${want.size} rows")
    assert(sorted(spark.sql("SELECT * FROM ilsql.mor.t")) == want)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val lib = jobsOf(t.read().collect())
    val sql = jobsOf(spark.sql("SELECT * FROM ilsql.mor.t").collect())
    assert(sql <= lib, s"SQL read ran $sql jobs, the library read $lib")
  }

  test("a SQL join sizes an IceLite side by its files and broadcasts it") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ilsql.stats")
    spark.sql("CREATE TABLE ilsql.stats.small (id BIGINT, tag STRING)")
    spark.sql("INSERT INTO ilsql.stats.small VALUES (1, 'a'), (500000, 'b'), (999999, 'c')")
    val df = spark.sql("""SELECT s.tag, r.id FROM ilsql.stats.small s
                          JOIN range(1000000) r ON s.id = r.id""")
    assert(df.collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b", "c"))
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val joins = helper.collect(df.queryExecution.executedPlan) { case j: BroadcastHashJoinExec => j }
    assert(joins.size == 1, s"expected one broadcast hash join:\n${df.queryExecution.executedPlan}")
    val build = if (joins.head.buildSide == BuildLeft) joins.head.left else joins.head.right
    assert(helper.collect(build) { case f: FileSourceScanExec => f }.nonEmpty,
      s"the broadcast side is not the IceLite scan:\n${df.queryExecution.executedPlan}")
  }

  test("without the session extension a SQL batch read fails naming it") {
    initCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ilsql.noext")
    spark.sql("CREATE TABLE ilsql.noext.t (id BIGINT)")
    val cat = new graft.icelite.connector.IceLiteCatalog()
    cat.initialize("ilsql_noext", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("warehouse", wh)))
    val scan = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("noext"), "t"))
      .asInstanceOf[graft.icelite.connector.IceLiteSparkTable]
      .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()).build()
    val e = intercept[UnsupportedOperationException](scan.toBatch)
    assert(e.getMessage.contains("spark.sql.extensions=graft.icelite.connector.IceLiteExtensions"),
      e.getMessage)
  }
}
