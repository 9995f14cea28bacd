package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` builds it, generates the
  * inputs and launches it; see perfbench/README.md.
  *
  * Modes:
  *  - `run`: one workload, closed loop with one client, whole rounds for
  *    at least `--seconds`; prints a report and, last, the result JSON.
  *  - `fingerprints`: every query of both query workloads once, writing
  *    the engine's fingerprint per query (used by `expected.py`);
  *  - `probe`: the calibration probe alone, in a JVM of its own (run
  *    before and after each workload run, and for `quiet_ref.json`);
  *  - `train`: one set-up and warm-up round of each workload (run once per
  *    build by `run.py` to dump the JVM's class-data-sharing archive). */
object Main {
  final case class Args(mode: String = "run", workload: String = "", seed: Long = 1,
      seconds: Double = 10, trace: Boolean = false, data: String = "", work: String = "",
      expected: String = "")

  def parse(a: List[String], acc: Args = Args()): Args = a match {
    case Nil => acc
    case "--mode" :: v :: t => parse(t, acc.copy(mode = v))
    case "--workload" :: v :: t => parse(t, acc.copy(workload = v))
    case "--seed" :: v :: t => parse(t, acc.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, acc.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, acc.copy(trace = v == "1"))
    case "--data" :: v :: t => parse(t, acc.copy(data = v))
    case "--work" :: v :: t => parse(t, acc.copy(work = v))
    case "--expected" :: v :: t => parse(t, acc.copy(expected = v))
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  val Cores = 4
  val Workloads = Seq("olap_queries", "lakehouse_mix", "curation_batch")

  /** Exactly graft.Bench's session confs, plus what the launcher pins:
    * `local[4]`, 4 shuffle partitions, and local and warehouse directories
    * inside the run's scratch directory. */
  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.fs.file.impl", "graft.icelite.NioLocalFs")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.extensions", "graft.icelite.connector.IceLiteExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def readExpected(path: String): Map[String, String] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path)).path("queries")
    val out = mutable.Map[String, String]()
    root.properties().forEach(e => out(e.getKey) = e.getValue.path("fp").asText())
    out.toMap
  }

  def main(argv: Array[String]): Unit = {
    val code = try {
      val a = parse(argv.toList)
      a.mode match {
        case "run" => Runner(a).run()
        case "fingerprints" => fingerprints(a)
        case "probe" => println(s"probe_ms ${Probe.run()}"); 0
        case "train" =>
          // a set-up and a warm-up round of every workload, so that the
          // class-data-sharing archive dumped at exit holds what runs load
          Workloads.map(w => Runner(a.copy(workload = w), train = true).run()).max
        case m => System.err.println(s"unknown mode $m"); 2
      }
    } catch { case e: Throwable =>
      // Spark's non-daemon threads would keep a failed JVM alive
      e.printStackTrace()
      2
    }
    Console.out.flush()
    Runtime.getRuntime.halt(code)
  }

  /** Write, as JSON to `--expected`, the engine's fingerprint and the
    * oracle SQL of every query of both query workloads, run once on the
    * generated inputs. */
  private def fingerprints(a: Args): Int = {
    val spark = session(a.work)
    val M = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = M.createObjectNode()
    var failed = 0
    for ((family, defs) <- Workload.OlapFamilies ++ Workload.CurationFamilies; d <- defs) {
      val q = root.putObject(d.name)
      q.put("family", family)
      d.oracle.foreach(q.put("oracle", _))
      try {
        val df = d.fn(spark, a.data)
        q.put("engine", Fingerprint.of(df.columns.toSeq, df.collect().toSeq))
      } catch { case e: Exception =>
        failed += 1
        q.put("error", s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    M.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(a.expected), root)
    spark.stop()
    if (failed == 0) 0 else 1
  }
}

/** One record per timed op. */
final case class OpRec(name: String, cls: String, ms: Double, traced: Boolean)

object Runner {
  /** The highest percentile reported; runs are sized so that it has ten
    * samples beyond it. */
  val TailPct = 50.0
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3
  val PerRunConfs = Set("spark.app.id", "spark.app.name", "spark.app.startTime",
    "spark.driver.host", "spark.driver.port", "spark.local.dir", "spark.sql.warehouse.dir")
}

final case class Runner(a: Main.Args, train: Boolean = false) {
  private val tracer = new Tracer
  private def say(s: String): Unit = println(s"[perfbench] $s")

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Heap still in use after a full collection: what the session keeps
    * (caches, memos, listener state) once the timed rounds are done. The
    * collections repeat with pauses so that Spark's ContextCleaner can drop
    * the blocks of RDDs and broadcasts the previous one found unreachable. */
  private def heapLiveMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def gcMs: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
  }

  def run(): Int = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val base = Main.session(a.work)
    if (a.trace) tracer.install(base)
    val expected = if (a.expected.nonEmpty) Main.readExpected(a.expected) else Map[String, String]()
    val ctx = Ctx(a.data, a.work, a.seed, tracer, a.trace, expected)
    val wl: Workload = a.workload match {
      case "olap_queries" => new QueryWorkload("olap_queries", base, ctx,
        Workload.panel(Workload.OlapFamilies, Workload.OlapStride),
        Workload.tableNames, freshSession = false)
      case "curation_batch" => new QueryWorkload("curation_batch", base, ctx,
        Workload.panel(Workload.CurationFamilies, Workload.CurationStride),
        Seq("documents", "embeddings"), freshSession = true)
      case "lakehouse_mix" => new LakehouseWorkload(base, ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // set-up, timed several times on fresh sessions; the last one stays
    tracer.enabled = a.trace
    val setupS = (1 to (if (train) 1 else Runner.Setups)).map { _ =>
      val t0 = System.nanoTime()
      val s = base.newSession()
      if (a.trace) tracer.install(s)
      wl.setup(s)
      (System.nanoTime() - t0) / 1e9
    }
    val readyS = (System.currentTimeMillis() - jvmStart) / 1e3
    tracer.enabled = false

    val failures = mutable.ArrayBuffer[String]()
    val recs = mutable.ArrayBuffer[OpRec]()
    var opId = 0
    var attempted = 0
    def runRound(r: Int, record: Boolean): Unit = {
      wl.round(r).foreach { op =>
        opId += 1
        // with --trace, an op kind is traced in every other round, so over
        // an even number of rounds traced and untraced ops are the same mix
        val traced = a.trace && record && Math.floorMod(op.name.hashCode + r, 2) == 1
        val t0 = System.nanoTime()
        val res = try Right(tracer.op(opId, base, op.name, traced)(op.exec()))
          catch { case e: Exception => Left(s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}") }
        val ms = (System.nanoTime() - t0) / 1e6
        val err = res.fold(Some(_), v => try op.check(v) catch {
          case e: Exception => Some(s"${op.name}: check failed: ${e.getMessage}") })
        err.foreach(failures += _)
        attempted += 1
        if (record) recs += OpRec(op.name, op.cls, ms, traced)
      }
    }

    // one untimed round warms the JIT and the engine's caches
    val tw = System.nanoTime()
    runRound(0, record = false)
    val warmS = (System.nanoTime() - tw) / 1e9
    if (train) return 0

    // whole rounds until --seconds have passed and the reported
    // percentile has its samples
    val gc0 = gcMs
    val t0 = System.nanoTime()
    var r = 1
    def more = (System.nanoTime() - t0) / 1e9 < a.seconds ||
      recs.size < Stats.samplesNeeded(Runner.TailPct) || (a.trace && r % 2 == 0)
    while (r == 1 || more) {
      runRound(r, record = true)
      r += 1
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    val gcRun = gcMs - gc0
    val liveMb = heapLiveMb()
    val finalFailures = wl.finalChecks()
    attempted += 1
    failures ++= finalFailures
    val extra = wl.extraMetrics()
    tracer.drain(base)

    val timed = recs.toSeq
    // every op counts, warm-up included, plus the end-of-run check as one
    val failed = failures.size - finalFailures.size + (if (finalFailures.isEmpty) 0 else 1)

    say(s"workload ${wl.name} seed ${a.seed} trace ${if (a.trace) 1 else 0}")
    say(s"conf ${confJson(base)}")
    say(f"rounds ${r - 1} ops ${timed.size} elapsed_s $elapsedS%.2f warm_s $warmS%.2f " +
      f"jvm_to_ready_s $readyS%.2f setups ${setupS.map(s => f"$s%.3f").mkString(",")}")
    failures.take(10).foreach(f => System.err.println(s"[perfbench] FAILED $f"))

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) endToEnd(timed, setupS, liveMb, failed, attempted, extra)
      else Layers.metrics(tracer, timed, extra, gcRun)
    val bad = metrics.filter(m => m._2.isNaN || m._2.isInfinite)
    bad.foreach(m => System.err.println(s"[perfbench] metric ${m._1} is not a number"))
    val correct = failed == 0 && bad.isEmpty
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {${body.mkString(", ")}}}""")
    Console.out.flush()
    // halt: the scratch directory goes with the run, so Spark's shutdown
    // hooks (seconds of cleanup) have nothing left worth doing
    if (correct) 0 else 1
  }

  /** All digits, in JSON number syntax; a non-number (already reported,
    * and failing the run) as 0. */
  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)

  /** The session's effective confs, less the per-run identities. */
  private def confJson(s: SparkSession): String =
    s.conf.getAll.toSeq.sortBy(_._1).filterNot(kv => Runner.PerRunConfs(kv._1))
      .map { case (k, v) => "\"" + k + "\": \"" + v.replace("\"", "\\\"") + "\"" }
      .mkString("{", ", ", "}")

  /** The end-to-end metrics as measured, each printed with its unit and
    * sample count. `run.py` brings the timings to the reference speed. */
  private def endToEnd(ops: Seq[OpRec], setupS: Seq[Double], liveMb: Double, failed: Int,
      attempted: Int, extra: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val lat = ops.map(_.ms)
    def pct(xs: Seq[Double], p: Double, label: String): Unit = {
      val n = xs.size
      if (n == 0) say(s"$label p$p: no samples")
      else say(f"$label%-10s p${p.toInt}%-2d = ${Stats.percentile(xs, p)}%9.2f ms  " +
        s"(n=$n, ${Stats.beyond(n, p)} beyond${if (Stats.supports(n, p)) "" else ", UNDER-SAMPLED"})")
    }
    Seq(50.0, 75.0, 90.0).foreach(p => pct(lat, p, "op"))
    for (cls <- Seq("read", "write") if ops.exists(_.cls == cls))
      Seq(50.0, 90.0).foreach(p => pct(ops.filter(_.cls == cls).map(_.ms), p, cls))
    say(f"failed_ratio = ${failed.toDouble / attempted.max(1)}%.4f ratio (failed $failed of $attempted ops)")
    extra.foreach { case (n, v, u) => say(f"$n = $v%.4f $u") }
    // ops over the time spent in them: the one client's throughput,
    // without the benchmark's own result checks
    val m = Seq(
      ("setup_s", Stats.median(setupS), "s"),
      ("ops_per_s", ops.size / (lat.sum / 1e3), "1/s"),
      ("op_geomean_ms", Stats.geomeanOfMedians(ops.map(o => o.name -> o.ms)), "ms"),
      ("heap_live_mb", liveMb, "MB"))
    ops.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (k, xs) =>
      say(f"  $k%-28s n=${xs.size}%-3d median ${Stats.median(xs.map(_.ms))}%9.2f ms  " +
        xs.map(x => f"${x.ms}%.1f").mkString("[", " ", "]"))
    }
    say(f"op_p50_ms = ${Stats.percentile(lat, 50)}%.4f ms (n=${lat.size} ops)")
    say(f"peak_rss_mb = $peakRssMb%.1f MB (VmHWM; varies with the collector's heap sizing)")
    m.foreach { case (n, v, u) =>
      val count = n match {
        case "setup_s" => s"${setupS.size} set-ups"
        case "op_geomean_ms" => s"${ops.map(_.name).distinct.size} op kinds, ${ops.size} ops"
        case _ => s"${ops.size} ops"
      }
      say(f"$n as measured = $v%.4f $u (n=$count)")
    }
    m
  }
}
