package graft.tools

/** Minimal SQL runner against the mounted IceLite catalog — the dev-loop
  * surface for poking the DSv2 connector by hand:
  *
  *   sbt 'runMain graft.tools.SqlShell "SELECT * FROM icelite.db.t" ...'
  *
  * Warehouse defaults to /tmp/icelite_sql_wh (override with
  * SPARK_GRAFT_WAREHOUSE). Each argument is one SQL statement; results
  * print with show(20).
  */
object SqlShell {
  def main(args: Array[String]): Unit = {
    val wh = sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE",
      System.getProperty("java.io.tmpdir") + "/icelite_sql_wh")
    val spark = graft.Engine.session(iceliteWarehouse = Some(wh))
    args.foreach { sql =>
      println(s"icelite> $sql")
      try spark.sql(sql).show(20, truncate = false)
      catch { case e: Exception =>
        println(s"ERROR[${e.getClass.getSimpleName}]: ${e.getMessage.linesIterator.next()}")
      }
    }
    spark.stop()
  }
}
