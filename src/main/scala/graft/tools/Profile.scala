package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Empirical per-job profiler (optimization guide §1.1/§1.5): run one
  * registry query N times on the engine session and print, for the
  * LAST run, every Spark job's wall time, task count, first-stage name and
  * the GAP since the previous job ended — the local-mode substitute for the
  * Spark UI (disabled in this sandbox), answering "where do the seconds of
  * query X actually go" including driver-side planning/commit time between
  * jobs.
  *
  * CLI: `sbt "runMain graft.tools.Profile <query> [reps] [sfDir] [cpus]"`
  */
object Profile {
  private case class JobRow(id: Int, desc: String, started: Long, nTasks: Int,
      var ended: Long = 0L)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <query> [reps] [sfDir] [cpus]")
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 3) args(3).toInt else graft.Engine.Cpus
    val spark = graft.Engine.session(cpus)
    val fn = graft.Registry.queries(name)

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    @volatile var collecting = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = if (collecting) {
        val stageName = js.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')).getOrElse("?")
        val tasks = js.stageInfos.map(_.numTasks).sum
        jobs.put(js.jobId, JobRow(js.jobId, stageName, js.time, tasks))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = if (collecting) {
        Option(jobs.get(je.jobId)).foreach(_.ended = je.time)
      }
    }
    spark.sparkContext.addSparkListener(listener)

    var last = 0.0
    var t0 = 0L
    var tEnd = 0L
    (1 to reps).foreach { i =>
      graft.operators.TextOps.resetSessionMemo()
      if (i == reps) { jobs.clear(); collecting = true }
      t0 = System.nanoTime()
      fn(spark, sfDir).count()
      tEnd = System.nanoTime()
      last = (tEnd - t0) / 1e9
      if (i == reps) collecting = false
      println(f"[profile] $name rep $i: $last%.3f s")
    }
    Thread.sleep(300) // let listener events drain
    import scala.jdk.CollectionConverters._
    val rows = jobs.values.asScala.toSeq.sortBy(_.started)
    println(f"[profile] last rep total $last%.3f s, ${rows.size} jobs (gap = driver time since previous job end):")
    var prevEnd = 0L
    rows.foreach { r =>
      val dur = if (r.ended > 0) (r.ended - r.started) / 1000.0 else -1.0
      val gap = if (prevEnd > 0) (r.started - prevEnd) / 1000.0 else 0.0
      prevEnd = if (r.ended > 0) r.ended else prevEnd
      println(f"[profile]   job ${r.id}%4d gap $gap%7.3f  run $dur%7.3f  tasks ${r.nTasks}%4d  ${r.desc.take(120)}")
    }
    val totalRun = rows.filter(_.ended > 0).map(r => r.ended - r.started).sum / 1000.0
    println(f"[profile] sum of job walls: $totalRun%.3f s; total-minus-jobs = driver-side")
    spark.stop()
  }
}
