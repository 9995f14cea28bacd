package graft.icelite

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** IceLite's one writer ([[TaskWriter]]): each task writes its files in
  * place and reports their entries, so a write is one Spark job, its
  * entry order is a function of the write alone, and a failed write
  * leaves only orphans the grace sweep reclaims. */
class TaskWriterSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("taskwriter").toString

  /** Task partition id of a written file: its name's leading number. */
  private def task(f: DataFile): Int = new Path(f.path).getName.takeWhile(_ != '-').toInt

  test("identical multi-task partitioned appends commit one entry sequence, ordered by (task, partition tuple)") {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false") // keep the shuffle's 4 tasks apart
    try {
      val base = tmp()
      val df = spark.range(0, 600, 1, 3)
        .select(col("id"), (col("id") % 6).cast("string").as("p"))
      def entries(name: String): Seq[DataFile] = {
        val loc = s"$base/$name"
        IceLite.create(spark, loc, Seq("id" -> "BIGINT", "p" -> "STRING"),
          partition = Seq("p" -> "identity")).append(df)
        IceLite.load(spark, loc).meta.currentSnapshot.get.dataFiles
      }
      val a = entries("a")
      val b = entries("b")
      assert(a.map(f => (f.partition, f.rows, f.firstRowId)) ==
        b.map(f => (f.partition, f.rows, f.firstRowId)))
      def tuple(f: DataFile) = f.partition.values.head
      assert(a.map(tuple).sorted == (0 until 6).map(_.toString))
      assert(a.map(task).distinct.size > 1, s"the write must span tasks: ${a.map(_.path)}")
      assert(a.groupBy(task).values.exists(_.size > 1),
        s"some task must write several tuples: ${a.map(_.path)}")
      assert(a.sortBy(f => (task(f), tuple(f))) == a,
        s"entries must follow (task, tuple): ${a.map(f => (task(f), f.partition))}")
      // V3 row-id blocks follow the entry order
      val ids = a.map(_.firstRowId.get)
      assert(ids.zip(ids.tail).zip(a).forall { case ((x, y), f) => y == x + f.rows }, ids)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a null or empty partition value keeps the stored spelling __HIVE_DEFAULT_PARTITION__") {
    import spark.implicits._
    val loc = s"${tmp()}/t"
    val t = IceLite.create(spark, loc, Seq("id" -> "BIGINT", "p" -> "STRING"),
      partition = Seq("p" -> "identity"))
    t.append(Seq((1L, Option("a")), (2L, None), (3L, Some(""))).toDF("id", "p"))
    val files = IceLite.load(spark, loc).meta.currentSnapshot.get.dataFiles
    assert(files.map(_.partition.values.head).toSet ==
      Set("a", TaskWriter.DefaultPartition), files.map(_.partition))
    assert(t.read().filter(col("p").isNull).select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("an unpartitioned append writing more than 16 files runs one Spark job") {
    val loc = s"${tmp()}/t"
    val t = IceLite.create(spark, loc, Seq("id" -> "BIGINT"))
    val df = spark.range(0, 1700, 1, 17).toDF("id")
    val jobs = jobsOf(t.append(df))
    val files = IceLite.load(spark, loc).meta.currentSnapshot.get.dataFiles
    assert(files.size == 17 && files.map(_.rows).sum == 1700)
    assert(jobs == 1, s"the write and its entries are one job, got $jobs")
  }

  test("a write that fails inside a task leaves only metadata and committed files after the orphan sweep") {
    val loc = s"${tmp()}/t"
    val t = IceLite.create(spark, loc, Seq("id" -> "BIGINT"))
    t.append(spark.range(0, 10, 1, 1).toDF("id"))
    val bad = spark.range(0, 400, 1, 4).select(
      when(col("id") === 350, raise_error(lit("boom"))).otherwise(col("id")).as("id"))
    intercept[Exception](t.append(bad))
    // tasks of the failed job still running write no file after the sweep
    val deadline = System.currentTimeMillis() + 30000
    while (spark.sparkContext.statusTracker.getExecutorInfos.exists(_.numRunningTasks > 0) &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)
    val t2 = IceLite.load(spark, loc)
    t2.removeOrphanFiles(System.currentTimeMillis() + 1000)
    val committed = t2.meta.snapshots
      .flatMap(s => s.dataFiles.map(_.path) ++ s.deleteFiles.map(_.path)).toSet
    assert(committed.size == 1)
    val fs = new Path(loc).getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(new Path(loc), true)
    val left = Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString).toSeq
    val metaDir = IceLite.canonicalPath(s"$loc/metadata") + "/"
    val stray = left.filterNot(p => p.startsWith(metaDir) || committed.contains(p))
    assert(stray.isEmpty, s"files outside metadata and the commits: $stray")
    assert(t2.read().count() == 10)
  }
}
