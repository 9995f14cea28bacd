package graft

import java.nio.file.Files

import graft.icelite.{IceLite, Stats}
import org.apache.spark.sql.functions._

/** File-level data skipping: min/max stats land in the manifest at write
  * and prune the file list at read — without changing results.
  */
class DataSkippingSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(n: String) = {
    val loc = Files.createTempDirectory(s"skip_$n").toString + "/t"
    // 4 files with disjoint id ranges → range predicates can skip files
    val df = spark.range(0, 400).toDF("id")
      .withColumn("bucket", (col("id") / 100).cast("int"))
      .withColumn("name", concat(lit("row"), col("id")))
      .withColumn("amount", (col("id") * 2).cast("double"))
    val t = IceLite.createFrom(spark, loc, df.drop("bucket"))
    (0 until 4).foreach(b => t.append(df.filter(col("bucket") === b).drop("bucket")))
    t
  }

  test("writer harvests min/max stats into the manifest") {
    val t = mkTable("harvest")
    val files = t.meta.currentSnapshot.get.dataFiles
    assert(files.size == 4)
    val idField = t.meta.currentSchema.fieldByName("id")
    files.foreach { f =>
      val cs = f.stats(idField.id)
      assert(cs.max.toLong - cs.min.toLong == 99, s"bad stats $cs")
    }
    // string stats too
    val nameField = t.meta.currentSchema.fieldByName("name")
    assert(files.forall(_.stats.contains(nameField.id)))
  }

  test("range and equality predicates skip non-matching files; results exact") {
    val t = mkTable("prune")
    def filesRead(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.length.toLong }.getOrElse(-1L)

    val eq = t.read(statFilters = Seq(Stats.Eq("id", 150L)))
    assert(filesRead(eq) == 1, s"Eq should touch 1 file, got ${filesRead(eq)}")
    assert(eq.filter(col("id") === 150).count() == 1)

    val gt = t.read(statFilters = Seq(Stats.Gt("id", 299L)))
    assert(filesRead(gt) == 1)
    assert(gt.filter(col("id") > 299).count() == 100)

    val le = t.read(statFilters = Seq(Stats.Le("amount", 199.0)))
    assert(filesRead(le) == 1) // amount = id*2 < 200 ⇒ id < 100 ⇒ first file
    assert(le.filter(col("amount") <= 199.0).count() == 100)

    val s = t.read(statFilters = Seq(Stats.Eq("name", "row42")))
    assert(filesRead(s) <= 4) // string min/max pruning is lexicographic — best effort
    assert(s.filter(col("name") === "row42").count() == 1)
  }

  test("SQL predicates through the DSv2 catalog prune files") {
    spark.conf.set("spark.sql.catalog.ilskip", "graft.icelite.connector.IceLiteCatalog")
    val wh = Files.createTempDirectory("skip_wh").toString
    spark.conf.set("spark.sql.catalog.ilskip.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ilskip.db")
    spark.sql("CREATE TABLE ilskip.db.t (id BIGINT, v DOUBLE)")
    (0 until 4).foreach(b =>
      spark.sql(s"INSERT INTO ilskip.db.t SELECT id, id*1.0 FROM range(${b * 100}, ${b * 100 + 100})"))
    val cat = new graft.icelite.Catalog(spark, wh)
    val t = cat.loadTable("db", "t")
    val total = t.meta.currentSnapshot.get.dataFiles.size
    assert(total >= 4, s"need multiple files, got $total") // 4 inserts × write parallelism
    val res = spark.sql("SELECT count(*) FROM ilskip.db.t WHERE id >= 350")
    assert(res.head.getLong(0) == 50)
    // same stat filter at the library surface proves the pruning the SQL
    // path goes through (the V1 relation hides inner scan metrics)
    val pruned = t.read(statFilters = Seq(Stats.Ge("id", 350L)))
    val nFiles = pruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.length }
    assert(nFiles.exists(n => n < total), s"no pruning: $nFiles of $total")
    assert(pruned.filter(col("id") >= 350).count() == 50)
    // the SQL query's own executed scan lists fewer files than the snapshot
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def sqlScanFiles(q: String, rows: Long): Seq[Int] = {
      val df = spark.sql(q)
      assert(df.collect().head.getLong(0) == rows, q)
      helper.collect(df.queryExecution.executedPlan) {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.length }
    }
    val sqlFiles = sqlScanFiles("SELECT count(*) FROM ilskip.db.t WHERE id >= 350", 50)
    assert(sqlFiles.nonEmpty && sqlFiles.forall(_ < total),
      s"SQL read planned $sqlFiles of $total files")
    // time travel prunes against the snapshot's own manifests
    val v = t.meta.currentSnapshot.get.id
    spark.sql("INSERT INTO ilskip.db.t SELECT id, id*1.0 FROM range(400, 500)")
    val asOfFiles =
      sqlScanFiles(s"SELECT count(*) FROM ilskip.db.t VERSION AS OF $v WHERE id >= 350", 50)
    assert(asOfFiles.nonEmpty && asOfFiles.forall(_ < total),
      s"VERSION AS OF read planned $asOfFiles of $total files")
  }

  test("CoW DML conditions translate to manifest stat filters") {
    import graft.icelite.IceLite.statFiltersFromCondition
    assert(statFiltersFromCondition(col("id") === 150L) == Seq(Stats.Eq("id", 150L)))
    assert(statFiltersFromCondition(lit(10) < col("id")) == Seq(Stats.Gt("id", 10)))
    assert(statFiltersFromCondition(col("id") >= 5L && col("amount") <= 2.0) ==
      Seq(Stats.Ge("id", 5L), Stats.Le("amount", 2.0)))
    // strings come out of Catalyst literals as JVM strings, not UTF8String
    assert(statFiltersFromCondition(col("name") === "row42") == Seq(Stats.Eq("name", "row42")))
    // non-translatable shapes are conservatively dropped, never wrong
    assert(statFiltersFromCondition(col("id") % 10 === 0) == Seq())
    assert(statFiltersFromCondition(col("id") === 1L || col("id") === 2L) == Seq())
    // DELETE touching one file's range rewrites only that file, and the
    // discovery scan was admitted by stats (results stay exact)
    val t = mkTable("dml")
    val before = t.meta.currentSnapshot.get.dataFiles.map(_.path).toSet
    t.delete(col("id") >= 300L && col("id") < 310L)
    val after = t.meta.currentSnapshot.get.dataFiles.map(_.path).toSet
    assert((before -- after).size == 1, "only the admitted file should be rewritten")
    assert(t.read().count() == 390)
  }

  test("selective UPDATE's touched-file discovery reads only stat-surviving files") {
    val t = mkTable("dmlupd")
    // count records read by every Spark task during the update: with
    // manifest pruning the discovery scan reads ONE 100-row file (plus the
    // hit file's rewrite reads) — without it, discovery alone reads all
    // 400 rows and the total crosses 450
    @volatile var records = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) records += te.taskMetrics.inputMetrics.recordsRead
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      t.update(col("id") === 150L, Map("amount" -> lit(-1.0)))
      // listener events are posted asynchronously — poll to quiescence
      var last = -1L
      var spins = 0
      while (records != last && spins < 50) {
        last = records; Thread.sleep(100); spins += 1
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(records > 0, "listener saw no input records")
    assert(records < 450,
      s"update read $records records — discovery scan is not manifest-pruned " +
        "(a full-table discovery alone reads 400)")
    // rewrite granularity: exactly the one admitted file was rewritten
    val note = t.meta.metadataLog.last.note
    assert(note.contains("rewrote 1 files"), s"unexpected commit note: $note")
    assert(t.read().filter(col("amount") === -1.0).count() == 1)
    assert(t.read().count() == 400)
  }

  test("declared sort order range-clusters writes so the sort key prunes files") {
    val loc = Files.createTempDirectory("skip_sorted").toString + "/t"
    // k = id*37 mod 4000 is a bijection on [0,4000): arrival order is fully
    // shuffled w.r.t. k, so without clustering every file would span ~the
    // whole k domain and stats could prune nothing
    val df = spark.range(0, 4000).toDF("id")
      .withColumn("k", pmod(col("id") * 37, lit(4000)))
    val t = IceLite.createFrom(spark, loc, df)
    t.setSortOrder(Seq("k"))
    t.append(df)
    // the plain append coalesces under AQE (file count ∝ data size — right
    // at scale, where partitions are advisory-sized); compaction takes an
    // explicit file target, which pins the range partitioning
    t.compact(8)
    val m = t.meta
    val files = m.currentSnapshot.get.dataFiles
    assert(files.size > 4, s"expected a multi-file range-clustered write, got ${files.size}")
    // near-disjoint coverage: total span ≈ domain size, not files × domain
    val kf = m.currentSchema.fieldByName("k")
    val covered = files.map(f => f.stats(kf.id).max.toLong - f.stats(kf.id).min.toLong + 1).sum
    assert(covered <= 4000 + files.size, s"files overlap: covered=$covered")
    // a point predicate on the sort key plans down to exactly one file
    val flts = Seq(Stats.Eq("k", 1234L))
    val hit = files.count(f => flts.forall(Stats.mayContain(f, m.schema(f.schemaId), m.currentSchema, _)))
    assert(hit == 1, s"point lookup should touch 1 file, got $hit")
    assert(t.read(statFilters = flts).filter(col("k") === 1234).count() == 1)
  }

  test("write.sort-order grammar ties parens to the transform: mismatched entries fail loudly") {
    import graft.icelite.SortOrders
    assert(SortOrders.parse("truncate[4](code) desc nulls-last, id").map(_.render)
      == Seq("truncate[4](code) desc nulls-last", "id"))
    // unclosed / stray / bare parens must reach the malformed branch, not
    // parse as something else (a mis-parsed order clusters the wrong way)
    for (bad <- Seq("truncate[4](code", "code)", "(code)", "truncate[4]code)",
        "day(ts) desc)"))
      assert(intercept[RuntimeException](SortOrders.parse(bad))
        .getMessage.contains("malformed"), s"'$bad' must fail loudly")
  }

  test("setSortOrder refuses a transform the column type cannot satisfy at DDL time") {
    val loc = Files.createTempDirectory("skip_badsort").toString + "/t"
    val t = IceLite.create(spark, loc, Seq("id" -> "BIGINT", "v" -> "STRING"))
    // day(bigint) only fails once Catalyst RESOLVES the transform — the
    // validation must analyze, not merely build, or the error surfaces at
    // the first WRITE instead of this DDL
    intercept[Exception](t.setSortOrder(Seq("day(id)")))
    assert(t.meta.properties.get("write.sort-order").isEmpty,
      "a refused order must leave no property behind")
    t.append(Seq((1L, "a")).toDF("id", "v")) // writes stay unaffected
    assert(t.read().count() == 1)
  }

  test("z-order rewrite prunes on BOTH dimensions; linear sort only on one") {
    def hits(t: graft.icelite.IceLiteTable, flts: Seq[Stats.StatFilter]): Int = {
      val m = t.meta
      m.currentSnapshot.get.dataFiles.count(f =>
        flts.forall(Stats.mayContain(f, m.schema(f.schemaId), m.currentSchema, _)))
    }
    // x, y independent uniform dims (y decorrelated from x via multiplicative hash)
    val df = spark.range(0, 4096).toDF("id")
      .withColumn("x", col("id") % 64)
      .withColumn("y", pmod(col("id") * 2654435761L, lit(4096)) % 64)
      .withColumn("payload", col("id"))
    val xq = Seq(Stats.Ge("x", 10L), Stats.Le("x", 17L)) // 1/8 of the x domain
    val yq = Seq(Stats.Ge("y", 10L), Stats.Le("y", 17L))

    // baseline: linear sort on x — x prunes, y cannot
    val loc1 = Files.createTempDirectory("zorder_lin").toString + "/t"
    val lin = IceLite.createFrom(spark, loc1, df)
    lin.setSortOrder(Seq("x"))
    lin.append(df)
    lin.compact(16)
    val linTotal = lin.meta.currentSnapshot.get.dataFiles.size
    assert(hits(lin, xq) * 2 < linTotal, s"sort on x must prune x: ${hits(lin, xq)}/$linTotal")
    assert(hits(lin, yq) == linTotal, "sorting by x leaves y unprunable — every file spans y")

    // z-order on (x, y): both dimensions prune
    val loc2 = Files.createTempDirectory("zorder_z").toString + "/t"
    val zt = IceLite.createFrom(spark, loc2, df)
    zt.append(df)
    zt.compactZOrder(16, "x", "y")
    val zTotal = zt.meta.currentSnapshot.get.dataFiles.size
    assert(zTotal > 8, s"expected ~16 z files, got $zTotal")
    val (hx, hy) = (hits(zt, xq), hits(zt, yq))
    assert(hx < zTotal && hy < zTotal, s"z-order must prune both dims: x=$hx y=$hy of $zTotal")
    assert(hx + hy < 2 * zTotal * 3 / 4, s"expected real pruning on both dims: x=$hx y=$hy of $zTotal")
    // content is unchanged by the rewrite
    assert(zt.read().agg(sum(col("payload"))).head.getLong(0) == 4096L * 4095 / 2)
    // and the filtered read is exact
    assert(zt.read(statFilters = xq).filter(col("x").between(10, 17)).count() ==
      df.filter(col("x").between(10, 17)).count())
  }

  /** Every live row with its V3 lineage, in key order. */
  private def lineageRows(t: graft.icelite.IceLiteTable) =
    t.readRowLineage().collect().toSeq.sortBy(_.getLong(0))

  test("MERGE discovery prunes target files by the source key range") {
    val (driver, distributed) = onBothMergePlans { plan =>
      val t = mkTable(s"dmlmerge_$plan")
      // source keys confined to one file's id range (100–199): dynamic
      // pruning scans ONE 100-row file during discovery — unpruned
      // discovery alone reads all 400 rows. Local rows, so the default
      // threshold plans the MERGE on the driver.
      val src = (150L until 155L).toDF("id")
        .withColumn("name", concat(lit("merged"), col("id")))
        .withColumn("amount", lit(-5.0))
      // deterministic pruning assertion: maxPlannedFiles is driver-side
      // metadata arithmetic (no async task-metric listeners) — every scan
      // the MERGE runs (discovery AND the hit rewrite) must plan only the
      // single file whose stats admit the source key range [150, 154]
      val total = t.meta.currentSnapshot.get.dataFiles.size
      assert(total == 4, s"fixture expects 4 files, got $total")
      t.maxPlannedFiles.set(0)
      t.merge(src, "id")
      val planned = t.maxPlannedFiles.get
      assert(planned == 1,
        s"$plan plan: merge planned $planned of $total files — discovery is not pruned " +
          "by the source key range")
      val note = t.meta.metadataLog.last.note
      assert(note.contains("rewrote 1 files") && note.contains(s"($plan plan)"),
        s"unexpected commit note: $note")
      // semantics unchanged: 5 updates in place, no inserts
      assert(t.read().count() == 400)
      assert(t.read().filter(col("amount") === -5.0).count() == 5)
      assert(t.read().filter(col("name") === "merged152").count() == 1)
      (planned, lineageRows(t))
    }
    assert(driver == distributed, "both MERGE plans plan and produce the same")
  }

  test("MERGE with out-of-range insert keys still inserts (pruning misses nothing)") {
    val (driver, distributed) = onBothMergePlans { plan =>
      val t = mkTable(s"dmlmergeins_$plan")
      // keys 150–154 update file 1; keys 900–901 match nothing → inserts.
      // the wide source range disables most pruning — correctness must not
      // depend on it
      val src = ((150L until 155L) ++ (900L until 902L)).toDF("id")
        .withColumn("name", concat(lit("m"), col("id")))
        .withColumn("amount", lit(-7.0))
      t.maxPlannedFiles.set(0)
      t.merge(src, "id")
      val planned = t.maxPlannedFiles.get
      assert(t.meta.metadataLog.last.note.contains(s"($plan plan)"), t.meta.metadataLog.last.note)
      assert(t.read().count() == 402)
      assert(t.read().filter(col("amount") === -7.0).count() == 7)
      assert(t.read().filter(col("id") === 900L).count() == 1)
      (planned, lineageRows(t))
    }
    assert(driver == distributed, "both MERGE plans plan and produce the same")
  }

  test("pruning is conservative after schema evolution (no stats → keep)") {
    val t = mkTable("evo")
    t.addColumn("extra", "BIGINT", Some("7"))
    // files written before the column have no stats for it → never pruned
    val r = t.read(statFilters = Seq(Stats.Eq("extra", 7L)))
    assert(r.count() == 400)
    assert(r.filter(col("extra") === 7).count() == 400)
  }
}
