package graft.icelite

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** HTTP REST catalog endpoint over an IceLite warehouse — the wire-protocol
  * analog of the Iceberg REST catalog the reference runs as its tutorial
  * backend (/root/reference/README.md:1042–1068: GET /v1/namespaces,
  * /v1/namespaces/{ns}/tables, /v1/namespaces/{ns}/tables/{t}).
  *
  * Served with the JDK's built-in HttpServer (zero dependencies):
  *
  *  - `GET  /v1/config`                        → catalog defaults
  *  - `GET  /v1/namespaces`                    → {"namespaces": [["db"], …]}
  *  - `POST /v1/namespaces`                    → create ({"namespace": ["db"]})
  *  - `GET  /v1/namespaces/{ns}/tables`        → {"identifiers": [{…}, …]}
  *  - `POST /v1/namespaces/{ns}/tables`        → create table
  *    (body {"name": "t", "schema": [{"name": "id", "type": "BIGINT"}, …]})
  *  - `GET  /v1/namespaces/{ns}/tables/{t}`    → {"metadata-location", "metadata"}
  *  - `POST /v1/namespaces/{ns}/tables/{t}`    → commit (metadata swap; see
  *    [[commitTable]] — races serialize through the version-file claim)
  *  - `DELETE /v1/namespaces/{ns}/tables/{t}`  → drop
  *
  * The metadata payload is the IceLite table-metadata document (MetaJson) —
  * the GetTable response analog. Catalog state lives on the filesystem, so
  * the server is stateless and any number of instances can front one
  * warehouse; commits stay safe under concurrent writers because the table
  * protocol (version-file claim + hint swap) does the locking, not HTTP. */
class RestCatalogServer(spark: SparkSession, warehouse: String) {
  private val cat = new Catalog(spark, warehouse)
  private val M = new ObjectMapper()
  private var server: HttpServer = _

  /** Start on `port` (0 = ephemeral); returns the bound port. */
  def start(port: Int = 0): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/v1", (ex: HttpExchange) => handle(ex))
    server.setExecutor(null) // single-threaded: metadata-scale traffic
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) server.stop(0)

  private def handle(ex: HttpExchange): Unit =
    try {
      val parts = ex.getRequestURI.getPath.stripPrefix("/v1").split("/").filter(_.nonEmpty).toList
      val method = ex.getRequestMethod
      (method, parts) match {
        case ("GET", List("config")) =>
          val root = M.createObjectNode()
          root.putObject("defaults").put("warehouse", warehouse)
          root.putObject("overrides")
          json(ex, 200, M.writeValueAsString(root))

        case ("GET", List("namespaces")) =>
          val root = M.createObjectNode()
          val arr = root.putArray("namespaces")
          cat.listNamespaces().foreach(ns => arr.addArray().add(ns))
          json(ex, 200, M.writeValueAsString(root))

        case ("POST", List("namespaces")) =>
          val body = M.readTree(ex.getRequestBody)
          if (body == null || body.get("namespace") == null)
            error(ex, 400, "BadRequestException", "missing field: namespace")
          else {
            val ns = body.get("namespace").elements().asScala.map(_.asText()).mkString(".")
            // Iceberg REST spec: creating an existing namespace is 409
            if (cat.listNamespaces().contains(ns))
              error(ex, 409, "AlreadyExistsException", s"namespace $ns already exists")
            else {
              cat.createNamespace(ns)
              json(ex, 200, M.writeValueAsString(M.createObjectNode()
                .set[com.fasterxml.jackson.databind.node.ObjectNode](
                  "namespace", M.createArrayNode().add(ns))))
            }
          }

        case ("GET", List("namespaces", ns)) =>
          if (!cat.listNamespaces().contains(ns))
            error(ex, 404, "NoSuchNamespaceException", s"namespace $ns not found")
          else {
            val root = M.createObjectNode()
            root.putArray("namespace").add(ns)
            root.putObject("properties")
            json(ex, 200, M.writeValueAsString(root))
          }

        case ("GET", List("namespaces", ns, "tables")) =>
          // listing under a missing namespace is 404, not an empty list —
          // the Iceberg REST spec distinguishes "empty" from "absent"
          if (!cat.listNamespaces().contains(ns))
            error(ex, 404, "NoSuchNamespaceException", s"namespace $ns not found")
          else {
            val root = M.createObjectNode()
            val arr = root.putArray("identifiers")
            cat.listTables(ns).foreach { t =>
              val id = arr.addObject()
              id.putArray("namespace").add(ns)
              id.put("name", t)
            }
            json(ex, 200, M.writeValueAsString(root))
          }

        case ("POST", List("namespaces", ns, "tables")) =>
          val body = M.readTree(ex.getRequestBody)
          if (body == null || body.get("name") == null || body.get("schema") == null)
            error(ex, 400, "BadRequestException", "missing field: name or schema")
          else if (!cat.listNamespaces().contains(ns))
            error(ex, 404, "NoSuchNamespaceException", s"namespace $ns not found")
          else {
            val name = body.get("name").asText()
            if (cat.listTables(ns).contains(name))
              error(ex, 409, "AlreadyExistsException", s"table $ns.$name already exists")
            else {
              val schema = body.get("schema").elements().asScala.toSeq
                .map(f => f.get("name").asText() -> f.get("type").asText())
              cat.createTable(ns, name, schema)
              json(ex, 200, loadTableJson(ns, name))
            }
          }

        case ("POST", List("namespaces", ns, "tables", t)) =>
          if (!cat.listTables(ns).contains(t))
            error(ex, 404, "NoSuchTableException", s"table $ns.$t not found")
          else commitTable(ex, ns, t)

        case ("GET", List("namespaces", ns, "tables", t)) =>
          if (!cat.listTables(ns).contains(t))
            error(ex, 404, "NoSuchTableException", s"table $ns.$t not found")
          else if (Option(ex.getRequestURI.getQuery).exists(_.contains("format=iceberg"))) {
            val tbl = cat.loadTable(ns, t)
            if (tbl.meta.currentSnapshotId.isEmpty)
              error(ex, 409, "CommitFailedException",
                s"table $ns.$t has no snapshot to export yet")
            else json(ex, 200, loadIcebergTableJson(tbl))
          } else json(ex, 200, loadTableJson(ns, t))

        case ("DELETE", List("namespaces", ns, "tables", t)) =>
          if (!cat.listTables(ns).contains(t))
            error(ex, 404, "NoSuchTableException", s"table $ns.$t not found")
          else { cat.dropTable(ns, t); ex.sendResponseHeaders(204, -1); ex.close() }

        case _ => error(ex, 404, "NoSuchRouteException", s"no route: $method /v1/${parts.mkString("/")}")
      }
    } catch {
      case e: com.fasterxml.jackson.core.JacksonException =>
        error(ex, 400, "BadRequestException", String.valueOf(e.getMessage))
      case e: Exception =>
        error(ex, 500, "InternalServerError", String.valueOf(e.getMessage))
    }

  /** CommitTableResponse analog — the WRITE path of the catalog (the
    * Iceberg REST spec's commit-table, in its metadata-swap subset): a
    * foreign client GETs the table, stages new data files into the
    * warehouse itself, and POSTs the next metadata document with the
    * version it built against. Body:
    * `{"expected-version": N, "metadata": {…}}` (or `"metadata-location"`
    * pointing at a staged document instead of inlining it).
    *
    * The commit rides the SAME claim the native writers use — an atomic
    * create-if-absent of `v<N+1>.json` — so REST commits, SQL commits and
    * API commits all serialize through one protocol: of two racing
    * commits against the same version exactly one lands, the other gets
    * a typed 409 CommitFailedException and must re-read + rebase, exactly
    * like Iceberg's REST conflict contract. The document is re-parsed and
    * re-serialized through [[MetaJson]] (a malformed commit fails as a
    * 400 before anything is written) and must keep the table's location. */
  private def commitTable(ex: HttpExchange, ns: String, t: String): Unit = {
    val body = M.readTree(ex.getRequestBody)
    if (body == null || body.get("expected-version") == null ||
        (body.get("metadata") == null && body.get("metadata-location") == null)) {
      error(ex, 400, "BadRequestException",
        "missing field: expected-version and metadata (or metadata-location)")
      return
    }
    val tbl = cat.loadTable(ns, t)
    val expected = body.get("expected-version").asInt()
    // confinement: metadata-location is a client-supplied path on an
    // unauthenticated endpoint — restrict the read to documents staged
    // under the warehouse (where a client with staging access writes),
    // or the server becomes an arbitrary-local-file read oracle
    if (body.get("metadata-location") != null) {
      val ml = body.get("metadata-location").asText()
      if (!RestCatalogServer.confinedUnder(warehouse, ml)) {
        error(ex, 400, "BadRequestException",
          s"metadata-location must resolve under the warehouse ($warehouse)")
        return
      }
    }
    val metaText =
      if (body.get("metadata") != null) M.writeValueAsString(body.get("metadata"))
      else tbl.store.readString(
        new org.apache.hadoop.fs.Path(body.get("metadata-location").asText()))
    val next =
      try MetaJson.fromJson(metaText, tbl.manifestIO)
      catch {
        case e: Exception =>
          error(ex, 400, "BadRequestException", s"unparseable metadata: ${e.getMessage}")
          return
      }
    if (next.location != tbl.location) {
      error(ex, 400, "BadRequestException",
        s"metadata location ${next.location} does not match table location ${tbl.location}")
      return
    }
    if (expected != tbl.currentVersion) {
      error(ex, 409, "CommitFailedException",
        s"expected version $expected but table is at ${tbl.currentVersion}")
      return
    }
    val vNew = expected + 1
    // V3 row lineage: the id counter is MONOTONE for the table's life. A
    // client document that omits the field (any pre-lineage client) or
    // regresses it must not make a later native commit re-mint id blocks
    // that collide with live rows — clamp to the current table counter.
    val curNextRowId = tbl.meta.nextRowId
    val stamped = next.copy(
      nextRowId = math.max(next.nextRowId, curNextRowId),
      metadataLog = next.metadataLog :+
        MetadataLogEntry(vNew, System.currentTimeMillis(), s"rest commit ($ns.$t)"))
    val metaDir = new org.apache.hadoop.fs.Path(tbl.location, "metadata")
    try tbl.store.createExclusive(
      new org.apache.hadoop.fs.Path(metaDir, s"v$vNew.json"), MetaJson.toJson(stamped))
    catch {
      case _: java.io.IOException =>
        // the atomic claim lost: a racing commit (REST or native) took
        // this version first — the client re-reads and rebases
        error(ex, 409, "CommitFailedException",
          s"version $vNew was claimed by a concurrent commit")
        return
    }
    IceLite.swapHintForward(tbl.store,
      new org.apache.hadoop.fs.Path(metaDir, IceLite.HINT), vNew)
    json(ex, 200, loadTableJson(ns, t))
  }

  /** LoadTableResponse in REAL Iceberg format (`?format=iceberg`): the
    * table is materialized through [[IcebergExport]] (cached per table
    * version under `_iceberg_export/v<N>` — a repeat load of an unchanged
    * table serves the existing export) and the response carries the
    * exported `metadata.json` as metadata-location + inline document, so
    * ANY external Iceberg REST client can consume IceLite tables — the
    * reference's Week 4–5 catalog loop (README.md:1035–1088) closed in
    * both directions (IceLite reads real Iceberg via [[IcebergInterop]];
    * real readers load IceLite through this route). */
  private def loadIcebergTableJson(tbl: IceLiteTable): String = {
    // pin (version, metadata) as ONE consistent unit: the export below is
    // cached under `v$ver`, so a commit landing between reading the
    // version and exporting must not leak the NEWER table state into the
    // older version's cache entry (it would serve wrong data forever)
    val (ver, pinnedMeta) = tbl.versionedMeta
    val dest = s"${tbl.location}/_iceberg_export/v$ver"
    val conf = spark.sessionState.newHadoopConf()
    val mj = new org.apache.hadoop.fs.Path(s"$dest/metadata/v1.metadata.json")
    val fs = org.apache.hadoop.fs.FileSystem.get(mj.toUri, conf)
    if (!fs.exists(mj)) {
      // two concurrent first loads (multiple stateless instances front one
      // warehouse) race here: a claim file created with overwrite=false
      // picks ONE exporter (the same conditional-PUT primitive the table
      // commit protocol rides); the loser waits for the winner's
      // metadata.json — written LAST by the export, so its existence
      // means the export is complete — instead of surfacing a 500
      val claim = new org.apache.hadoop.fs.Path(dest, ".export-claim")
      fs.mkdirs(claim.getParent)
      val won =
        try { fs.create(claim, false).close(); true }
        catch { case _: java.io.IOException => false }
      if (won) {
        // delta-aware: chain off the newest completed prior export when
        // the lineage since it is pure appends — the new version's export
        // then moves ONLY the appended rows (the base's data is referenced
        // in place). A 100 TB hot table must not pay a full-table rewrite
        // per append commit. Rewrites/deletes/spec changes fall back to a
        // full export, which restarts the chain.
        val exportRoot0 = new org.apache.hadoop.fs.Path(
          s"${tbl.location}/_iceberg_export")
        val prior =
          if (!fs.exists(exportRoot0)) None
          else fs.listStatus(exportRoot0).map(_.getPath.getName)
            .filter(n => n.length > 1 && n.startsWith("v") &&
              n.drop(1).forall(_.isDigit) && n.drop(1).toInt < ver)
            .map(_.drop(1).toInt).sorted.reverse
            .map(v => s"$exportRoot0/v$v")
            .find(d => fs.exists(new org.apache.hadoop.fs.Path(
              s"$d/metadata/v1.metadata.json")))
        val basePath = new org.apache.hadoop.fs.Path(dest, ".base")
        val chained = prior.exists { p =>
          // record the chain edge BEFORE moving data: a concurrent
          // request's GC pass must see the base as referenced while this
          // export is still copying against it (the edge is removed again
          // if the lineage turns out not to chain)
          val out = fs.create(basePath, true)
          try out.write(new org.apache.hadoop.fs.Path(p).getName
            .getBytes("UTF-8")) finally out.close()
          val ok = IcebergExport.exportChained(tbl, dest,
            s"$p/metadata/v1.metadata.json", Some(pinnedMeta)).isDefined
          if (!ok) fs.delete(basePath, false)
          ok
        }
        if (!chained) IcebergExport.export(tbl, dest, pinned = Some(pinnedMeta))
      }
      else {
        val deadline = System.currentTimeMillis() + 30000
        while (!fs.exists(mj) && System.currentTimeMillis() < deadline) Thread.sleep(50)
        require(fs.exists(mj), s"concurrent iceberg export of $dest did not complete")
      }
    }
    // GC: exports for table versions older than the retained metadata
    // history can never be served again (their version files are pruned by
    // the same window), so sweep them — EXCEPT dirs that retained exports
    // chain off (`.base` edges): a chained export references its base's
    // manifests and data in place, so the base must outlive it. Chained
    // exports keep storage bounded anyway — each adds only delta files.
    val keepFrom = ver - pinnedMeta.properties
      .getOrElse("write.metadata.previous-versions-max", "100").toInt
    val exportRoot = new org.apache.hadoop.fs.Path(s"${tbl.location}/_iceberg_export")
    if (keepFrom > 0 && fs.exists(exportRoot)) {
      val dirs = fs.listStatus(exportRoot).map(_.getPath.getName)
        .filter(n => n.length > 1 && n.startsWith("v") && n.drop(1).forall(_.isDigit))
      def baseOf(n: String): Option[String] = {
        val p = new org.apache.hadoop.fs.Path(exportRoot, s"$n/.base")
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          try Some(new String(
            org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8").trim)
          finally in.close()
        }
      }
      // transitive closure of chain bases reachable from RETAINED exports
      val keep = scala.collection.mutable.Set[String]()
      dirs.filter(_.drop(1).toInt >= keepFrom).foreach { n =>
        var cur = Option(n)
        while (cur.isDefined && keep.add(cur.get)) cur = baseOf(cur.get)
      }
      dirs.foreach { n =>
        if (n.drop(1).toInt < keepFrom && !keep.contains(n))
          fs.delete(new org.apache.hadoop.fs.Path(exportRoot, n), true)
      }
    }
    val doc = {
      val in = fs.open(mj)
      try M.readTree(in) finally in.close()
    }
    val root = M.createObjectNode()
    root.put("metadata-location", mj.toString)
    root.set[com.fasterxml.jackson.databind.node.ObjectNode]("metadata", doc)
    M.writeValueAsString(root)
  }

  /** LoadTableResponse analog: metadata-location + full metadata doc. */
  private def loadTableJson(ns: String, t: String): String = {
    val tbl = cat.loadTable(ns, t)
    val root = M.createObjectNode()
    root.put("metadata-location",
      s"${tbl.location}/metadata/v${tbl.currentVersion}.json")
    root.set[com.fasterxml.jackson.databind.node.ObjectNode](
      "metadata", M.readTree(MetaJson.toJson(tbl.meta)))
    M.writeValueAsString(root)
  }

  private def json(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Iceberg REST spec ErrorModel: {"error": {message, type, code}} — a
    * client can dispatch on `type` (NoSuchTableException vs
    * AlreadyExistsException) without parsing prose. */
  private def error(ex: HttpExchange, code: Int, errType: String, msg: String): Unit = {
    val root = M.createObjectNode()
    val e = root.putObject("error")
    e.put("message", msg); e.put("type", errType); e.put("code", code)
    json(ex, code, M.writeValueAsString(root))
  }
}

object RestCatalogServer {
  /** Is `ml` a path STRICTLY under `warehouse`? Both sides are read by
    * the one path rule, [[IceLite.canonicalPath]], and their paths
    * normalized through java.nio (a `..` at the root survives the Hadoop
    * parse, so a prefix check alone is traversal-bypassable); scheme and
    * authority are compared too — a different host/bucket with a
    * matching path must not pass. A trailing `/` names the same path and
    * gives a scheme-only warehouse (`s3://bucket`) its root. A string
    * that has no canonical form → not confined. */
  private[icelite] def confinedUnder(warehouse: String, ml: String): Boolean = {
    def parts(s: String): Option[(String, String, java.nio.file.Path)] =
      try {
        val u = new org.apache.hadoop.fs.Path(IceLite.canonicalPath(s + "/")).toUri
        Some((u.getScheme, Option(u.getAuthority).getOrElse(""),
          java.nio.file.Paths.get(u.getPath).normalize()))
      } catch { case _: IllegalArgumentException => None } // InvalidPathException is one
    (parts(warehouse), parts(ml)) match {
      case (Some((rs, ra, rp)), Some((ms, ma, mp))) =>
        rs == ms && ra == ma && mp.startsWith(rp) && mp != rp
      case _ => false
    }
  }
}
