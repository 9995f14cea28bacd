package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.{col, sum}
import graft.icelite.{Catalog, RestCatalogServer}

/** The HTTP REST catalog front (README.md:1042–1068 analog): list/create
  * namespaces and tables, serve table metadata over the wire, 404 on
  * unknowns — full loop against a live ephemeral-port server.
  */
class RestCatalogSpec extends SparkSpec {

  private val M = new ObjectMapper()
  private val http = HttpClient.newHttpClient()

  private def get(url: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(url: String, body: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("REST catalog serves namespaces, tables and metadata over HTTP") {
    val wh = Files.createTempDirectory("rest_wh").toString
    val cat = new Catalog(spark, wh)
    cat.createTable("db", "orders", Seq("o_orderkey" -> "BIGINT", "note" -> "STRING"))
    val srv = new RestCatalogServer(spark, wh)
    val port = srv.start()
    val base = s"http://127.0.0.1:$port/v1"
    try {
      // config
      assert(M.readTree(get(s"$base/config").body())
        .get("defaults").get("warehouse").asText() == wh)

      // list namespaces
      val ns = M.readTree(get(s"$base/namespaces").body()).get("namespaces")
      assert(ns.get(0).get(0).asText() == "db")

      // create a namespace over the wire
      assert(post(s"$base/namespaces", """{"namespace": ["analytics"]}""").statusCode() == 200)
      assert(cat.listNamespaces().contains("analytics"))

      // create a table over the wire
      val created = post(s"$base/namespaces/analytics/tables",
        """{"name": "events", "schema": [{"name": "event_id", "type": "BIGINT"}]}""")
      assert(created.statusCode() == 200)
      assert(M.readTree(created.body()).get("metadata").get("formatVersion").asInt() == 3)
      assert(cat.listTables("analytics") == Seq("events"))

      // list tables
      val tl = M.readTree(get(s"$base/namespaces/db/tables").body()).get("identifiers")
      assert(tl.get(0).get("name").asText() == "orders")

      // load table metadata: the GetTable response analog
      val load = M.readTree(get(s"$base/namespaces/db/tables/orders").body())
      assert(load.get("metadata-location").asText().endsWith("v1.json"))
      val fields = load.get("metadata").get("schemas").get(0).get("fields")
      assert(fields.get(0).get("name").asText() == "o_orderkey")

      // metadata reflects table evolution made OUTSIDE the server (stateless)
      cat.loadTable("db", "orders").renameColumn("note", "comment")
      val reloaded = M.readTree(get(s"$base/namespaces/db/tables/orders").body())
      assert(reloaded.get("metadata").get("schemas").get(1).get("fields")
        .get(1).get("name").asText() == "comment")

      // 404s
      assert(get(s"$base/namespaces/db/tables/nope").statusCode() == 404)
      assert(get(s"$base/namespaces/ghost").statusCode() == 404)

      // drop over the wire
      val del = http.send(HttpRequest.newBuilder(
        URI.create(s"$base/namespaces/analytics/tables/events")).DELETE().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(del.statusCode() == 204)
      assert(cat.listTables("analytics").isEmpty)
    } finally srv.stop()
  }

  test("?format=iceberg serves a REAL Iceberg export over HTTP, readable by the independent reader") {
    import spark.implicits._
    val wh = Files.createTempDirectory("rest_ice_wh").toString
    val cat = new Catalog(spark, wh)
    cat.createTable("db", "orders", Seq("o_orderkey" -> "BIGINT", "note" -> "STRING"))
    cat.loadTable("db", "orders")
      .append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("o_orderkey", "note"))
    val srv = new RestCatalogServer(spark, wh)
    val port = srv.start()
    val base = s"http://127.0.0.1:$port/v1"
    try {
      // the full Week 4–5 loop closed outward: an external Iceberg REST
      // client GETs the table and receives real-format metadata it can
      // follow without any IceLite code
      val r = get(s"$base/namespaces/db/tables/orders?format=iceberg")
      assert(r.statusCode() == 200)
      val doc = M.readTree(r.body())
      val mj = doc.get("metadata-location").asText()
      assert(mj.endsWith("metadata/v1.metadata.json"))
      assert(doc.get("metadata").get("format-version").asInt() >= 2)
      assert(doc.get("metadata").get("schemas").get(0).get("fields")
        .get(0).get("name").asText() == "o_orderkey")
      // follow metadata-location with the independent Iceberg-format reader
      val rows = graft.icelite.IcebergInterop.read(spark, mj)
        .as[(Long, String)].collect().sorted.toSeq
      assert(rows == Seq((1L, "a"), (2L, "b"), (3L, "c")))

      // unchanged table → the SAME cached export (no re-rewrite per GET)
      val again = M.readTree(get(
        s"$base/namespaces/db/tables/orders?format=iceberg").body())
      assert(again.get("metadata-location").asText() == mj)

      // table evolves → a NEW export under the new version
      cat.loadTable("db", "orders").append(Seq((4L, "d")).toDF("o_orderkey", "note"))
      val v2 = M.readTree(get(
        s"$base/namespaces/db/tables/orders?format=iceberg").body())
      assert(v2.get("metadata-location").asText() != mj)
      assert(graft.icelite.IcebergInterop.read(spark,
        v2.get("metadata-location").asText()).count() == 4L)

      // an empty table has no snapshot to export: typed 409, not a 500
      cat.createTable("db", "empty", Seq("id" -> "BIGINT"))
      val empty = get(s"$base/namespaces/db/tables/empty?format=iceberg")
      assert(empty.statusCode() == 409)
    } finally srv.stop()
  }

  test("?format=iceberg chains append-only commits: a new version's export moves only the appended rows") {
    import spark.implicits._
    val wh = Files.createTempDirectory("rest_chain_wh").toString
    val cat = new Catalog(spark, wh)
    cat.createTable("db", "big", Seq("id" -> "BIGINT", "note" -> "STRING"))
    cat.loadTable("db", "big")
      .append((0L until 20000L).map(i => (i, s"note-$i")).toDF("id", "note"))
    val srv = new RestCatalogServer(spark, wh)
    val port = srv.start()
    val base = s"http://127.0.0.1:$port/v1"
    try {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(wh), spark.sessionState.newHadoopConf())
      def dataBytes(dir: String): Long = {
        val p = new org.apache.hadoop.fs.Path(s"$dir/data")
        if (!fs.exists(p)) 0L
        else fs.getContentSummary(p).getLength
      }
      val mj1 = M.readTree(get(s"$base/namespaces/db/tables/big?format=iceberg")
        .body()).get("metadata-location").asText()
      val dir1 = mj1.stripSuffix("/metadata/v1.metadata.json")
      val fullBytes = dataBytes(dir1)

      // an append commit: the NEXT export must move only the 3 new rows
      val t1 = cat.loadTable("db", "big")
      t1.append(Seq((20000L, "x"), (20001L, "y"), (20002L, "z")).toDF("id", "note"))
      val s2 = t1.meta.currentSnapshotId.get
      val mj2 = M.readTree(get(s"$base/namespaces/db/tables/big?format=iceberg")
        .body()).get("metadata-location").asText()
      val dir2 = mj2.stripSuffix("/metadata/v1.metadata.json")
      assert(dir2 != dir1)
      assert(fs.exists(new org.apache.hadoop.fs.Path(dir2, ".base")),
        "the append export must CHAIN off the previous one")
      val snapDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir2/data"))
        .map(_.getPath.getName).toSeq
      assert(snapDirs == Seq(s"snap-$s2"),
        s"a chained export's data dir holds ONLY the new snapshot, got $snapDirs")
      assert(spark.read.parquet(s"$dir2/data/snap-$s2").count() == 3L,
        "only the appended rows move")
      assert(dataBytes(dir2) < fullBytes / 10,
        s"chained export bytes (${dataBytes(dir2)}) must be a small delta " +
          s"of the full export ($fullBytes)")
      // ...and the chained export reads complete + time-travels to the base
      val got = graft.icelite.IcebergInterop.read(spark, mj2)
      assert(got.count() == 20003L)
      assert(got.agg(sum("id")).head.getLong(0) == (0L until 20003L).map(BigInt(_)).sum.toLong)
      val snaps = graft.icelite.IcebergInterop.snapshots(mj2).map(_._1)
      assert(snaps.size == 2, "the chain carries the base snapshot's lineage")
      assert(graft.icelite.IcebergInterop.readAsOf(spark, mj2, snaps.head)
        .count() == 20000L, "VERSION AS OF the base snapshot still serves")

      // a METADATA-ONLY DDL (rename — version bump, same snapshot head)
      // chains as one metadata.json: ZERO data moves, the head re-points
      // at the renamed schema, field-id resolution covers the old files
      cat.loadTable("db", "big").renameColumn("note", "memo")
      val mjR = M.readTree(get(s"$base/namespaces/db/tables/big?format=iceberg")
        .body()).get("metadata-location").asText()
      val dirR = mjR.stripSuffix("/metadata/v1.metadata.json")
      assert(dirR != dir2)
      assert(fs.exists(new org.apache.hadoop.fs.Path(dirR, ".base")),
        "a metadata-only bump must chain, not re-export")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dirR/data")),
        "a rename on a 20k-row table must move ZERO data (nor would it on 100 TB)")
      val gotR = graft.icelite.IcebergInterop.read(spark, mjR)
      assert(gotR.columns.toSeq == Seq("id", "memo"),
        "the chained metadata surfaces the renamed column")
      assert(gotR.count() == 20003L)
      assert(gotR.agg(sum("id")).head.getLong(0) ==
        (0L until 20003L).map(BigInt(_)).sum.toLong)

      // a rewrite (CoW delete) breaks the chain: next export is FULL again
      val t2 = cat.loadTable("db", "big")
      t2.delete(col("id") === 500L)
      val mj3 = M.readTree(get(s"$base/namespaces/db/tables/big?format=iceberg")
        .body()).get("metadata-location").asText()
      val dir3 = mj3.stripSuffix("/metadata/v1.metadata.json")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(dir3, ".base")),
        "a rewrite must fall back to a full export")
      assert(graft.icelite.IcebergInterop.read(spark, mj3).count() == 20002L)
    } finally srv.stop()
  }

  test("?format=iceberg exports are GC'd past the metadata window and survive a concurrent first load") {
    import spark.implicits._
    val wh = Files.createTempDirectory("rest_gc_wh").toString
    val cat = new Catalog(spark, wh)
    cat.createTable("db", "hot", Seq("id" -> "BIGINT"))
    // retention window of 2: exports for versions the metadata log no
    // longer retains must be swept, or a hot table accumulates one full
    // export per commit forever
    cat.loadTable("db", "hot")
      .setProperties(Map("write.metadata.previous-versions-max" -> "2"))
    val srv = new RestCatalogServer(spark, wh)
    val port = srv.start()
    val base = s"http://127.0.0.1:$port/v1"
    try {
      val seen = scala.collection.mutable.ArrayBuffer[String]()
      (1 to 4).foreach { i =>
        cat.loadTable("db", "hot").append(Seq(i.toLong).toDF("id"))
        val r = M.readTree(get(s"$base/namespaces/db/tables/hot?format=iceberg").body())
        seen += r.get("metadata-location").asText()
      }
      assert(seen.distinct.size == 4, "each version serves its own export")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(wh), spark.sessionState.newHadoopConf())
      val exportRoot = new org.apache.hadoop.fs.Path(
        cat.loadTable("db", "hot").location, "_iceberg_export")
      // append-only commits CHAIN: the retained head references the whole
      // chain's data in place, so GC must keep the chain's bases alive even
      // past the window (storage stays bounded — each link is delta-sized)
      val liveChained = fs.listStatus(exportRoot).map(_.getPath.getName)
        .filter(_.startsWith("v")).sorted.toSeq
      assert(graft.icelite.IcebergInterop.read(spark, seen.last).count() == 4L,
        "the newest (chained) export serves the full table")

      // a rewrite breaks the chain; once NO retained export references the
      // old chain, one GC pass sweeps all of it
      cat.loadTable("db", "hot").delete(col("id") === 1L) // CoW rewrite
      seen += M.readTree(get(
        s"$base/namespaces/db/tables/hot?format=iceberg").body())
        .get("metadata-location").asText()
      (5 to 6).foreach { i =>
        cat.loadTable("db", "hot").append(Seq(i.toLong).toDF("id"))
        seen += M.readTree(get(
          s"$base/namespaces/db/tables/hot?format=iceberg").body())
          .get("metadata-location").asText()
      }
      val live = fs.listStatus(exportRoot).map(_.getPath.getName)
        .filter(_.startsWith("v")).sorted.toSeq
      assert(live.size <= 3, s"the dereferenced old chain must be GC'd, found $live")
      liveChained.take(4).foreach { n =>
        assert(!fs.exists(new org.apache.hadoop.fs.Path(exportRoot, n)),
          s"old chain dir $n must be gone once nothing retained references it")
      }
      assert(graft.icelite.IcebergInterop.read(spark, seen.last).count() == 5L,
        "the post-rewrite chain serves the current table")

      // concurrent first load: another instance already CLAIMED this
      // version's export but hasn't finished — this server must WAIT for
      // the winner's metadata.json and then serve it, not 500
      val tbl = cat.loadTable("db", "hot")
      tbl.append(Seq(99L).toDF("id"))
      val fresh = cat.loadTable("db", "hot")
      val dest = s"${fresh.location}/_iceberg_export/v${fresh.currentVersion}"
      fs.mkdirs(new org.apache.hadoop.fs.Path(dest))
      fs.create(new org.apache.hadoop.fs.Path(dest, ".export-claim"), false).close()
      val winner = new Thread(() => {
        Thread.sleep(300)
        graft.icelite.IcebergExport.export(fresh, dest)
      })
      winner.start()
      val r = get(s"$base/namespaces/db/tables/hot?format=iceberg")
      winner.join()
      assert(r.statusCode() == 200, s"loser must wait and serve, got ${r.statusCode()}: ${r.body()}")
      assert(M.readTree(r.body()).get("metadata-location").asText().startsWith(dest))
    } finally srv.stop()
  }

  test("REST write path: a foreign HTTP client creates, appends and loses a racing commit") {
    import spark.implicits._
    val wh = Files.createTempDirectory("rest_commit_wh").toString
    val srv = new RestCatalogServer(spark, wh)
    val port = srv.start()
    val base = s"http://127.0.0.1:$port/v1"
    try {
      // 1. create over the wire
      assert(post(s"$base/namespaces", """{"namespace": ["db"]}""").statusCode() == 200)
      val created = post(s"$base/namespaces/db/tables",
        """{"name": "ext", "schema": [{"name": "id", "type": "BIGINT"},
          |{"name": "note", "type": "STRING"}]}""".stripMargin)
      assert(created.statusCode() == 200)
      val doc0 = M.readTree(created.body())
      val location = doc0.get("metadata").get("location").asText()
      assert(doc0.get("metadata-location").asText().endsWith("v1.json"))

      // 2. the client stages its own data file (physical f<fieldId>
      //    columns, like any IceLite writer) straight into the warehouse…
      val dataDir = s"$location/data/ext-append"
      Seq((7L, "seven"), (8L, "eight")).toDF("f1", "f2")
        .coalesce(1).write.parquet(dataDir)
      val filePath = Files.list(java.nio.file.Paths.get(dataDir)).toArray
        .map(_.toString).find(_.endsWith(".parquet")).get

      // 3. …then POSTs the next metadata document: previous doc + one
      //    appended snapshot, built with nothing but JSON
      val meta = M.readTree(get(s"$base/namespaces/db/tables/ext").body())
        .get("metadata").deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      val sn = meta.withArray("snapshots").addObject()
      sn.put("id", 1L); sn.put("timestampMs", 1700000000000L)
      sn.put("operation", "append"); sn.put("schemaId", 0)
      // file entries live once in the document's shared file table; a
      // snapshot lists its files by index into it
      val fileTable = meta.withArray("dataFileTable")
      val df = fileTable.addObject()
      df.put("path", filePath); df.put("rows", 2L)
      df.put("schemaId", 0); df.put("specId", 0)
      df.putObject("partition")
      sn.putArray("dataFileRefs").add(fileTable.size() - 1)
      meta.put("currentSnapshotId", 1L)
      val commit = post(s"$base/namespaces/db/tables/ext",
        s"""{"expected-version": 1, "metadata": ${M.writeValueAsString(meta)}}""")
      assert(commit.statusCode() == 200, s"commit failed: ${commit.body()}")
      assert(M.readTree(commit.body()).get("metadata-location").asText().endsWith("v2.json"))

      // a NATIVE reader sees the REST-committed rows (one protocol)
      val tbl = new Catalog(spark, wh).loadTable("db", "ext")
      assert(tbl.read().as[(Long, String)].collect().sorted.toSeq ==
        Seq((7L, "seven"), (8L, "eight")))

      // 4. conflict: a second commit built against the SAME version loses
      //    with a typed 409 (the version-file claim is the arbiter)
      val stale = post(s"$base/namespaces/db/tables/ext",
        s"""{"expected-version": 1, "metadata": ${M.writeValueAsString(meta)}}""")
      assert(stale.statusCode() == 409, s"stale commit must 409, got ${stale.statusCode()}")
      assert(M.readTree(stale.body()).get("error").get("type").asText()
        == "CommitFailedException")

      // malformed commits refuse BEFORE anything is written
      assert(post(s"$base/namespaces/db/tables/ext",
        """{"expected-version": 2}""").statusCode() == 400)
      assert(post(s"$base/namespaces/db/tables/ext",
        """{"expected-version": 2, "metadata": {"bogus": true}}""").statusCode() == 400)
      val moved = meta.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      moved.put("location", "/somewhere/else")
      assert(post(s"$base/namespaces/db/tables/ext",
        s"""{"expected-version": 2, "metadata": ${M.writeValueAsString(moved)}}""")
        .statusCode() == 400, "a commit must not relocate the table")
      assert(tbl.currentVersion == 2, "failed commits must leave no version behind")

      // 5. metadata-location variant: stage the document as a file and
      //    POST only its path
      val meta2 = M.readTree(get(s"$base/namespaces/db/tables/ext").body())
        .get("metadata").deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      meta2.put("currentSnapshotId", 1L) // no-op change, still a commit
      val staged = s"$location/metadata/staged-rest.json"
      java.nio.file.Files.write(java.nio.file.Paths.get(staged),
        M.writeValueAsString(meta2).getBytes("UTF-8"))
      val byLoc = post(s"$base/namespaces/db/tables/ext",
        s"""{"expected-version": 2, "metadata-location": "$staged"}""")
      assert(byLoc.statusCode() == 200, s"metadata-location commit failed: ${byLoc.body()}")
      assert(new Catalog(spark, wh).loadTable("db", "ext").currentVersion == 3)

      // 6. confinement: a client-supplied metadata-location must not read
      //    files outside the warehouse — dot-segment traversal that passes
      //    a naive prefix check is rejected after normalization, as is a
      //    same-path URI on a different scheme/authority
      for (evil <- Seq(
          s"$wh/../../../../etc/passwd",
          s"$location/metadata/../../../../../../../etc/passwd",
          "/etc/passwd",
          s"file://evil-host$staged",
          s"http://evil$staged",
          wh)) {
        val r = post(s"$base/namespaces/db/tables/ext",
          s"""{"expected-version": 3, "metadata-location": "$evil"}""")
        assert(r.statusCode() == 400,
          s"traversal/out-of-warehouse path must 400, got ${r.statusCode()} for $evil")
      }
      assert(new Catalog(spark, wh).loadTable("db", "ext").currentVersion == 3,
        "rejected commits must leave no version behind")
    } finally srv.stop()
  }

  test("REST commit cannot regress the row-id counter (pre-lineage client docs clamp)") {
    import spark.implicits._
    val wh = Files.createTempDirectory("rest_rowlin_wh").toString
    val cat = new Catalog(spark, wh)
    val tbl = cat.createTable("db", "t1", Seq("id" -> "BIGINT"))
    tbl.append((0L until 10L).map(i => Tuple1(i)).toDF("id").coalesce(1))
    val before = tbl.meta.nextRowId
    assert(before == 10L)
    val srv = new RestCatalogServer(spark, wh)
    val port = srv.start()
    val base = s"http://127.0.0.1:$port/v1"
    try {
      // a pre-lineage client round-trips metadata WITHOUT nextRowId (it
      // rebuilds the doc rather than echoing unknown fields)
      val meta = M.readTree(get(s"$base/namespaces/db/tables/t1").body())
        .get("metadata").deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      meta.remove("nextRowId")
      val commit = post(s"$base/namespaces/db/tables/t1",
        s"""{"expected-version": ${tbl.currentVersion}, "metadata": ${M.writeValueAsString(meta)}}""")
      assert(commit.statusCode() == 200, s"commit failed: ${commit.body()}")
      val after = new Catalog(spark, wh).loadTable("db", "t1")
      assert(after.meta.nextRowId == before,
        "the monotone id counter must survive a client doc that omits it")
      // and the next native append draws NON-colliding ids
      after.append(Seq(Tuple1(100L)).toDF("id"))
      val rl = after.readRowLineage()
        .select(col("id"), col(graft.icelite.IceLite.RowIdCol))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rl(100L) >= before, s"fresh id must clear the old blocks, got ${rl(100L)}")
      assert(rl.values.toSeq.distinct.size == rl.size, "row ids must stay unique")
    } finally srv.stop()
  }

  test("confinement tolerates URI-illegal but filesystem-legal warehouse paths (spaces)") {
    // "/wh with space/…" is not a parseable java.net.URI — the check must
    // fall back to raw-path normalization, NOT reject every commit (which
    // would make the register endpoint unusable for that warehouse), and
    // traversal must still be caught under the fallback reading
    val wh = Files.createTempDirectory("rest wh space").toString
    assert(wh.contains(" "), "fixture must exercise a URI-illegal path")
    val cat = new Catalog(spark, wh)
    cat.createTable("db", "t1", Seq("id" -> "BIGINT"))
    val srv = new RestCatalogServer(spark, wh)
    val port = srv.start()
    val base = s"http://127.0.0.1:$port/v1"
    try {
      val loaded = M.readTree(get(s"$base/namespaces/db/tables/t1").body())
      val location = loaded.get("metadata").get("location").asText()
      val meta2 = loaded.get("metadata")
        .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      val staged = s"$location/metadata/staged-space.json"
      java.nio.file.Files.write(java.nio.file.Paths.get(staged),
        M.writeValueAsString(meta2).getBytes("UTF-8"))
      val ok = post(s"$base/namespaces/db/tables/t1",
        s"""{"expected-version": 1, "metadata-location": "$staged"}""")
      assert(ok.statusCode() == 200,
        s"staged commit under a space-path warehouse must work: ${ok.body()}")
      for (evil <- Seq(s"$wh/../../../../etc/passwd", "/etc/passwd")) {
        val r = post(s"$base/namespaces/db/tables/t1",
          s"""{"expected-version": 2, "metadata-location": "$evil"}""")
        assert(r.statusCode() == 400,
          s"traversal must 400 under the fallback reading, got ${r.statusCode()} for $evil")
      }
    } finally srv.stop()
  }

  test("error paths conform to the Iceberg REST spec: 409 on exists, 404 on absent parents, 400 on bad bodies, typed error model") {
    val wh = Files.createTempDirectory("rest_err_wh").toString
    val cat = new Catalog(spark, wh)
    cat.createTable("db", "t1", Seq("id" -> "BIGINT"))
    val srv = new RestCatalogServer(spark, wh)
    val port = srv.start()
    val base = s"http://127.0.0.1:$port/v1"
    def errorOf(r: HttpResponse[String]) = M.readTree(r.body()).get("error")
    try {
      // 409 AlreadyExists: namespace, then table
      val dupNs = post(s"$base/namespaces", """{"namespace": ["db"]}""")
      assert(dupNs.statusCode() == 409)
      assert(errorOf(dupNs).get("type").asText() == "AlreadyExistsException")
      assert(errorOf(dupNs).get("code").asInt() == 409)
      val dupTbl = post(s"$base/namespaces/db/tables",
        """{"name": "t1", "schema": [{"name": "id", "type": "BIGINT"}]}""")
      assert(dupTbl.statusCode() == 409)
      assert(errorOf(dupTbl).get("type").asText() == "AlreadyExistsException")
      // ...and the table was NOT clobbered
      assert(cat.loadTable("db", "t1").currentVersion == 1)

      // 404 NoSuchNamespace: create-table into and list under a ghost ns
      val ghostCreate = post(s"$base/namespaces/ghost/tables",
        """{"name": "x", "schema": [{"name": "id", "type": "BIGINT"}]}""")
      assert(ghostCreate.statusCode() == 404)
      assert(errorOf(ghostCreate).get("type").asText() == "NoSuchNamespaceException")
      val ghostList = get(s"$base/namespaces/ghost/tables")
      assert(ghostList.statusCode() == 404,
        "listing under an absent namespace must be 404, not an empty 200")

      // 404 NoSuchTable carries the typed model too
      val noTbl = get(s"$base/namespaces/db/tables/nope")
      assert(noTbl.statusCode() == 404)
      assert(errorOf(noTbl).get("type").asText() == "NoSuchTableException")

      // 400 BadRequest: malformed JSON and missing required fields
      assert(post(s"$base/namespaces", "{not json").statusCode() == 400)
      val missing = post(s"$base/namespaces", """{"wrong": 1}""")
      assert(missing.statusCode() == 400)
      assert(errorOf(missing).get("type").asText() == "BadRequestException")
      assert(post(s"$base/namespaces/db/tables", """{"name": "x"}""").statusCode() == 400)
    } finally srv.stop()
  }
}
