package graft.icelite

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** IceLite keys every file by one canonical path (the qualified Hadoop
  * `Path` string). Table locations whose names Spark URI-encodes in
  * `_metadata.file_path` — a space, a non-ASCII letter, `+` and `%` — go
  * through every write, delete carrier, maintenance op and the Iceberg
  * round trip, and read back exactly the rows they should. */
class PathSpellingSpec extends SparkSpec {

  private lazy val base = Files.createTempDirectory("path_spelling").toString

  // the SQL surface: a catalog over `base`, so namespace `<dir>` holds
  // table `t` at `<base>/<dir>/t`
  private lazy val sqlCatalog: String = {
    spark.conf.set("spark.sql.catalog.pathsp", "graft.icelite.connector.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.pathsp.warehouse", base)
    "pathsp"
  }

  private def rows(df: DataFrame): Set[(Long, Long)] = {
    import spark.implicits._
    df.select(col("id").cast("bigint"), col("v").cast("bigint")).as[(Long, Long)].collect().toSet
  }

  for (dir <- Seq("a table", "a table é", "a+b%c"))
    test(s"create, MoR deletes, SQL UPDATE, maintenance and export/adopt under '$dir'") {
      import spark.implicits._
      val loc = s"$base/$dir/t"
      val t = IceLite.create(spark, loc, Seq("id" -> "BIGINT", "v" -> "BIGINT"),
        properties = Map("write.delete.mode" -> "merge-on-read"))
      t.append(spark.range(0, 20).select(col("id"), col("id").as("v")).coalesce(1))
      t.append(spark.range(20, 40).select(col("id"), col("id").as("v")).coalesce(1))
      var expected = (0L until 40L).map(i => (i, i)).toSet
      assert(rows(t.read()) == expected)
      val dataPaths = t.meta.currentSnapshot.get.dataFiles.map(_.path)
      assert(dataPaths.forall(_.startsWith(s"file:$base/$dir/t/data/")), dataPaths)

      // MoR DELETE, parquet position deletes: the rows name the data files
      // by exactly the paths the manifests hold
      t.delete(col("id") < 5)
      expected = expected.filter(_._1 >= 5)
      assert(rows(t.read()) == expected)
      val posDel = t.meta.currentSnapshot.get.deleteFiles
      assert(posDel.nonEmpty && posDel.forall(d => !d.path.endsWith(PuffinDv.Ext)))
      val referenced = spark.read.parquet(posDel.map(_.path): _*)
        .select("file_path").distinct().as[String].collect().toSet
      assert(referenced.nonEmpty && referenced.subsetOf(dataPaths.toSet), referenced)

      // MoR DELETE, Puffin deletion vectors
      t.setProperties(Map("write.delete.vector.enabled" -> "true"))
      t.delete(col("id") >= 20 && col("id") < 25)
      expected = expected.filterNot(r => r._1 >= 20 && r._1 < 25)
      assert(rows(t.read()) == expected)
      assert(t.meta.currentSnapshot.get.deleteFiles.exists(_.path.endsWith(PuffinDv.Ext)))

      // SQL UPDATE through the catalog (copy-on-write)
      spark.sql(s"UPDATE $sqlCatalog.`$dir`.t SET v = -1 WHERE id >= 35")
      expected = expected.map(r => if (r._1 >= 35) (r._1, -1L) else r)
      assert(rows(spark.table(s"$sqlCatalog.`$dir`.t")) == expected)

      // maintenance: merge both carriers, then compact them away
      assert(t.rewritePositionDeletes())
      assert(rows(t.read()) == expected)
      t.compact(1)
      assert(t.meta.currentSnapshot.get.deleteFiles.isEmpty)
      assert(rows(t.read()) == expected)

      // Iceberg round trip: export, read foreign, adopt, and delete again
      val mj = IcebergExport.export(t, s"$base/$dir/exported")
      assert(rows(IcebergInterop.read(spark, mj)) == expected)
      val adopted = IceLite.adopt(spark, mj, s"$base/$dir/adopted")
      assert(rows(adopted.read()) == expected)
      adopted.setProperties(Map("write.delete.mode" -> "merge-on-read"))
      adopted.delete(col("id") === 30)
      assert(rows(adopted.read()) == expected.filterNot(_._1 == 30))
    }

  test("a table stored with scheme-less paths keeps its lineage, deletes and DML") {
    import spark.implicits._
    // the stored shape of a table at a plain-path location written before
    // paths were canonical: scheme-less data-file paths and `file_path`
    // bounds, forged into a new metadata version
    val loc = s"$base/legacy/t"
    val t = IceLite.create(spark, loc, Seq("id" -> "BIGINT", "v" -> "BIGINT"),
      properties = Map("write.delete.mode" -> "merge-on-read"))
    t.append(spark.range(0, 20).select(col("id"), col("id").as("v")).coalesce(1))
    t.append(spark.range(20, 40).select(col("id"), col("id").as("v")).coalesce(1))
    t.delete(col("id") < 3)
    t.deleteEq(Seq(10L, 30L).toDF("id"))
    val (v, m) = (t.currentVersion, t.meta)
    def plain(p: String) = p.stripPrefix("file:")
    val next = m.copy(
      snapshots = m.snapshots.map(s => s.copy(
        dataFiles = s.dataFiles.map(f => f.copy(path = plain(f.path))),
        deleteFiles = s.deleteFiles.map(d =>
          d.copy(pathLo = d.pathLo.map(plain), pathHi = d.pathHi.map(plain))))),
      metadataLog = m.metadataLog :+ MetadataLogEntry(v + 1, System.currentTimeMillis(), "forged"))
    val json = MetaJson.toJson(next)
    assert(json.contains(s"\"$loc/data/") && !json.contains(s"\"file:$loc/data/"))
    t.store.createExclusive(new Path(loc, s"metadata/v${v + 1}.json"), json)
    IceLite.swapHintForward(t.store, new Path(loc, s"metadata/${IceLite.HINT}"), v + 1)

    val old = IceLite.load(spark, loc)
    assert(old.currentVersion == v + 1)
    assert(old.meta.currentSnapshot.get.dataFiles.forall(_.path.startsWith(s"file:$loc/data/")))
    // position and equality deletes apply (the latter needs each file's
    // data sequence, looked up by path)
    var expected = (0L until 40L).filterNot(Set(0L, 1L, 2L, 10L, 30L)).map(i => (i, i)).toSet
    assert(rows(old.read()) == expected)
    val lin = old.readRowLineage()
      .select(col(IceLite.RowIdCol), col(IceLite.LastUpdatedCol)).collect()
    assert(lin.length == expected.size && lin.forall(r => !r.isNullAt(0) && !r.isNullAt(1)),
      "row lineage resolves for every file")
    assert(lin.map(_.getLong(0)).distinct.length == lin.length)
    // merge-on-read, then copy-on-write DML on the old files
    old.delete(col("id") === 15)
    old.setProperties(Map("write.delete.mode" -> "copy-on-write"))
    old.delete(col("id") === 25)
    expected = expected.filterNot(r => r._1 == 15 || r._1 == 25)
    assert(rows(old.read()) == expected)
    assert(rows(IceLite.load(spark, loc).read()) == expected)
  }

  test("a string naming no absolute file path, or a plain location on a non-local fs, fails naming it") {
    val enc = intercept[IllegalArgumentException](IceLite.canonicalUri("file:/tmp/a b/x.parquet"))
    assert(enc.getMessage.contains("'file:/tmp/a b/x.parquet'"), enc.getMessage)
    val rel = intercept[IllegalArgumentException](IceLite.canonicalPath("data/x.parquet"))
    assert(rel.getMessage.contains("'data/x.parquet'"), rel.getMessage)
    // both spellings of one file meet in one key
    assert(IceLite.canonicalUri("file:/tmp/a%20b%25c/x.parquet") == "file:/tmp/a b%c/x.parquet")
    assert(IceLite.canonicalUri("file:///tmp/a+b/x.parquet") == "file:/tmp/a+b/x.parquet")
    assert(IceLite.canonicalPath("/tmp/a b%c/x.parquet") == "file:/tmp/a b%c/x.parquet")
    // a scheme-less location is a local file, so a table is refused one
    // that would resolve against a non-local default file system
    val other = spark.newSession()
    other.conf.set("fs.ram.impl", classOf[RamFileSystem].getName)
    other.conf.set("fs.defaultFS", "ram://wh")
    val fsErr = intercept[IllegalArgumentException](IceLite.fs(other, s"$base/plain/t"))
    assert(fsErr.getMessage.contains(s"'$base/plain/t'") && fsErr.getMessage.contains("ram:"),
      fsErr.getMessage)
    assert(IceLite.fs(other, s"file:$base/plain/t").getUri.getScheme == "file")
  }
}
