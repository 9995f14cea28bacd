package graft.icelite.connector

import java.util

import graft.icelite.{Catalog, IceLite, IceLiteTable}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Literal, Transform}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

/** DSv2 TableCatalog over IceLite (SURVEY.md §7.4) — mounts the lakehouse
  * into Spark SQL proper:
  *
  * {{{
  * spark.sql.catalog.icelite           = graft.icelite.connector.IceLiteCatalog
  * spark.sql.catalog.icelite.warehouse = /path/to/warehouse
  *
  * CREATE TABLE icelite.db.orders (...) PARTITIONED BY (months(o_orderdate))
  * INSERT INTO icelite.db.orders SELECT ...
  * SELECT * FROM icelite.db.orders VERSION AS OF 3
  * SELECT * FROM icelite.db.orders TIMESTAMP AS OF '2026-01-01 00:00:00'
  * ALTER TABLE icelite.db.orders ADD COLUMN note STRING DEFAULT 'none'
  * ALTER TABLE icelite.db.orders ALTER COLUMN note SET DEFAULT 'gift'
  * ALTER TABLE icelite.db.orders RENAME COLUMN note TO comment
  * ALTER TABLE icelite.db.orders DROP COLUMN note
  * }}}
  *
  * The analog of the reference's Spark↔Iceberg REST-catalog wiring
  * (/root/reference/README.md:862–874, 901–919) with IceLite as the table
  * format. Single-level namespaces (catalog.db.table).
  */
class IceLiteCatalog extends TableCatalog with SupportsNamespaces with ProcedureCatalog {
  private var catalogName: String = _
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active
  private def cat: Catalog = new Catalog(spark, warehouse)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse"))
      .getOrElse(sys.error(s"catalog $name needs spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  private def ns1(namespace: Array[String]): String = {
    require(namespace.length == 1, s"only single-level namespaces: ${namespace.mkString(".")}")
    namespace.head
  }

  // ------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] =
    cat.listTables(ns1(namespace)).map(t => Identifier.of(namespace, t)).toArray

  private def load(ident: Identifier): IceLiteTable = {
    // a non-single-level namespace here is an unresolved multi-part
    // identifier (icelite.db.t.typo, icelite.db.missing.files): signal
    // NOT FOUND so Spark's resolver reports TABLE_OR_VIEW_NOT_FOUND (or
    // tries other resolutions) instead of aborting on a require error
    if (ident.namespace().length != 1) throw new NoSuchTableException(ident)
    val loc = cat.tableLocation(ns1(ident.namespace()), ident.name())
    val fs = new Path(loc).getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new Path(loc, "metadata/version-hint.text")))
      throw new NoSuchTableException(ident)
    IceLite.load(spark, loc)
  }

  override def loadTable(ident: Identifier): Table = {
    // 4-part metadata tables: icelite.db.t.snapshots|history|partitions|files
    // (README.md:982–1004) — namespace resolves to [db, t], name to the kind
    if (ident.namespace().length == 2 && IceLiteMetaTable.Kinds(ident.name().toLowerCase)) {
      val Array(ns, tn) = ident.namespace()
      val loc = cat.tableLocation(ns, tn)
      val fs = new Path(loc).getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(new Path(loc, "metadata/version-hint.text")))
        return new IceLiteMetaTable(IceLite.load(spark, loc), ident.name().toLowerCase)
    }
    new IceLiteSparkTable(load(ident), None)
  }

  /** `VERSION AS OF <n | 'ref'>` (README.md:1007): a numeric version is a
    * snapshot id; a string names a branch or tag (Iceberg's ref time
    * travel), resolved against the table's pinned metadata. */
  override def loadTable(ident: Identifier, version: String): Table =
    new IceLiteSparkTable(load(ident), Some(Left(version)))

  /** TIMESTAMP AS OF — Spark hands micros since epoch (README.md:1010). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    new IceLiteSparkTable(load(ident), Some(Right(timestampMicros / 1000L)))

  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val partSpec = partitions.toSeq.map { t =>
      val column = t.references().head.fieldNames().head
      t.name() match {
        case "identity" => column -> "identity"
        case "years"    => column -> "year"
        case "months"   => column -> "month"
        case "days"     => column -> "day"
        case "bucket" =>
          val n = t.arguments().collectFirst { case l: Literal[_] => l.value.toString }.get
          column -> s"bucket[$n]"
        case other => sys.error(s"unsupported partition transform $other")
      }
    }
    val props = properties.asScala.toMap -- Seq("owner", "provider", "location")
    cat.createTable(
      ns1(ident.namespace()), ident.name(),
      schema.fields.toSeq.map(f => f.name -> f.dataType.sql), partSpec, props)
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = load(ident)
    // validate EVERY change up front — each change commits its own
    // metadata version, so a mid-statement failure would otherwise leave
    // the ALTER half-applied (x added, y's bad type aborts the statement)
    val m0 = t.meta
    val sch = m0.currentSchema
    // track name -> (field id if pre-existing, current dtype) so the
    // validation pass can mirror the APPLY-stage guards too — existence
    // alone is not enough: a multi-change ALTER like (ADD COLUMN x,
    // ALTER COLUMN v TYPE INT narrowing) would pass an existence-only
    // check, half-apply, and abort mid-statement
    val cols = scala.collection.mutable.LinkedHashMap(
      sch.fields.map(f => f.name -> (Option(f.id), f.dtype)): _*)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1, "nested add unsupported")
        require(!cols.contains(add.fieldNames().head),
          s"column ${add.fieldNames().head} exists")
        org.apache.spark.sql.types.DataType.fromDDL(add.dataType().sql)
        Option(add.defaultValue()).foreach(d =>
          require(IceLite.isFoldableLiteral(spark, d.getSql),
            s"default for ${add.fieldNames().head} must be a literal, got ${d.getSql}"))
        cols += add.fieldNames().head -> (None, add.dataType().sql)
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames().length == 1, "nested rename unsupported")
        require(cols.contains(ren.fieldNames().head),
          s"no column ${ren.fieldNames().head}")
        require(!cols.contains(ren.newName()), s"column ${ren.newName()} exists")
        val entry = cols.remove(ren.fieldNames().head).get
        cols += ren.newName() -> entry
      case upd: TableChange.UpdateColumnType =>
        require(upd.fieldNames().length == 1, "nested type change unsupported")
        val nm = upd.fieldNames().head
        require(cols.contains(nm), s"no column $nm")
        org.apache.spark.sql.types.DataType.fromDDL(upd.newDataType().sql)
        val (fid, cur) = cols(nm)
        require(graft.icelite.IceLite.isWidening(cur, upd.newDataType().sql),
          s"cannot narrow $cur to ${upd.newDataType().sql}")
        cols(nm) = (fid, upd.newDataType().sql)
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1, "nested drop unsupported")
        val nm = del.fieldNames().head
        require(cols.contains(nm), s"no column $nm")
        require(cols.size > 1, s"cannot drop the only column $nm")
        // mirror dropColumn's apply-stage guards (partition source,
        // sort order, retained equality deletes) — only pre-existing
        // fields carry an id; a column added earlier in this statement
        // can always be dropped
        cols(nm)._1.foreach { fid =>
          require(!m0.specs.exists(_.fields.exists(_.sourceId == fid)),
            s"$nm is a partition source column; evolve the partition spec first")
          require(!m0.snapshots.exists(_.deletes.eqFieldIdSet.contains(fid)),
            s"$nm keys an equality delete in a retained snapshot; " +
              "compact, then expire those snapshots first")
        }
        require(!m0.properties.get("write.sort-order").exists(
          graft.icelite.SortOrders.columns(_).contains(nm)),
          s"$nm is in the declared sort order; clear it first")
        cols -= nm
      case upd: TableChange.UpdateColumnDefaultValue =>
        // ALTER COLUMN … SET DEFAULT — V3 write-default (DROP DEFAULT
        // arrives as an EMPTY sql and lowers to the "null" literal, the
        // engine's drop convention); restricted to foldable literals,
        // the same guard setWriteDefault itself applies
        require(upd.fieldNames().length == 1, "nested default change unsupported")
        val nm = upd.fieldNames().head
        require(cols.contains(nm), s"no column $nm")
        require(IceLite.isFoldableLiteral(spark, IceLiteCatalog.defaultSql(upd)),
          s"write default for $nm must be a literal, got ${upd.newDefaultValue()}")
      case _: TableChange.SetProperty => ()
      case other => throw new UnsupportedOperationException(s"table change $other")
    }
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1, "nested add unsupported")
        t.addColumn(add.fieldNames().head, add.dataType().sql,
          Option(add.defaultValue()).map(_.getSql))
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames().length == 1, "nested rename unsupported")
        t.renameColumn(ren.fieldNames().head, ren.newName())
      case set: TableChange.SetProperty =>
        t.setProperties(Map(set.property() -> set.value()))
      case upd: TableChange.UpdateColumnType =>
        require(upd.fieldNames().length == 1, "nested type change unsupported")
        t.updateColumnType(upd.fieldNames().head, upd.newDataType().sql)
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1, "nested drop unsupported")
        t.dropColumn(del.fieldNames().head)
      case upd: TableChange.UpdateColumnDefaultValue =>
        t.setWriteDefault(upd.fieldNames().head, IceLiteCatalog.defaultSql(upd))
      case other => throw new UnsupportedOperationException(s"table change $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val exists = cat.listTables(ns1(ident.namespace())).contains(ident.name())
    if (exists) cat.dropTable(ns1(ident.namespace()), ident.name())
    exists
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("rename table")

  // ------------------------------------------------------------- procedures

  /** `CALL icelite.system.<proc>(...)` (README.md:1013–1028). */
  override def loadProcedure(ident: Identifier): procedures.UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"procedures live in the `system` namespace, got ${ident.namespace().mkString(".")}")
    IceLiteProcedures.load(warehouse, ident.name())
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      IceLiteProcedures.Names.map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  // ------------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] =
    cat.listNamespaces().map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace.toSeq)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && cat.listNamespaces().contains(namespace.head)

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace.toSeq)
    Map.empty[String, String].asJava
  }

  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit =
    cat.createNamespace(ns1(namespace))

  override def alterNamespace(
      namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("alter namespace")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    val tables = cat.listTables(ns1(namespace))
    require(cascade || tables.isEmpty, s"namespace not empty: $tables")
    val fs = new Path(warehouse).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(warehouse, ns1(namespace)), true)
  }
}

object IceLiteCatalog {
  /** The SQL text of an ALTER COLUMN default change — DROP DEFAULT
    * arrives as an empty/absent sql and lowers to the engine's "null"
    * drop convention. */
  private def defaultSql(upd: TableChange.UpdateColumnDefaultValue): String =
    Option(upd.newDefaultValue()).map(_.trim).filter(_.nonEmpty).getOrElse("null")
}
