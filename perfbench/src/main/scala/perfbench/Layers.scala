package perfbench

import scala.collection.mutable

/** Turns a traced run into per-layer figures.
  *
  * Within one op (root span `op`), each millisecond of wall time belongs to
  * exactly one layer:
  *  - `exec`: inside a Spark job of the op;
  *  - `catalyst`: inside an analysis, optimization or planning phase of one
  *    of the op's QueryExecutions, and in no job;
  *  - any harness span's layer (`operators`, `driver`, `icelite`,
  *    `connector`, `rest`, `tables`): inside that span, and in no job,
  *    phase or nested span — its self time. The `driver` span wraps the
  *    action that runs a built DataFrame, so its self time is the driver's
  *    gap between and around jobs (`driver.gap_ms`);
  *  - `harness`: the op's own remainder (the benchmark's loop code).
  *
  * Self times therefore add up to the op wall; `trace.coverage` is the
  * share of it the engine's layers account for, harness excluded. All
  * figures are per traced op unless the name says otherwise. */
object Layers {
  import Intervals._

  val SelfLayers = Seq("operators", "catalyst", "exec", "driver", "icelite",
    "connector", "rest", "harness")
  private val Phases = Seq("analysis", "optimization", "planning")

  /** Self time per layer of one op, plus per-phase Catalyst time. */
  def selfTimes(root: Span, spans: Seq[Span], jobs: Seq[Iv], phases: Seq[(String, Iv)])
      : Map[String, Double] = {
    val r = (root.start, root.end)
    val j = clip(jobs, r)
    val p = clip(phases.map(_._2), r)
    val out = mutable.Map[String, Double]().withDefaultValue(0.0)
    out("exec") = length(j)
    out("catalyst") = length(j ++ p) - length(j)
    Phases.foreach(ph => out(s"catalyst.$ph") =
      length(j ++ clip(phases.filter(_._1 == ph).map(_._2), r)) - length(j))
    val children = spans.groupBy(_.parent)
    def self(s: Span): Double = {
      val iv = (s.start, s.end)
      val kids = children.getOrElse(s.id, Seq()).map(k => (k.start, k.end))
      s.ms - length(clip(kids ++ j ++ p, iv))
    }
    spans.foreach(s => out(s.layer) += self(s))
    out("harness") += self(root)
    out.toMap
  }

  def metrics(t: Tracer, ops: Seq[OpRec], extra: Seq[(String, Double, String)], gcMs: Double)
      : Seq[(String, Double, String)] = {
    val roots = t.spans.filter(s => s.layer == "op" && s.op >= 0).toSeq
    val byOp = t.spans.filter(s => s.layer != "op" && s.op >= 0).toSeq.groupBy(_.op)
    val jobsByOp = t.jobs.values.toSeq.groupBy(_.op)
    val phasesByOp = t.phases.toSeq.groupBy(_._1)
    val n = roots.size.max(1).toDouble
    val tot = mutable.Map[String, Double]().withDefaultValue(0.0)
    roots.foreach { root =>
      val st = selfTimes(root, byOp.getOrElse(root.op, Seq()),
        jobsByOp.getOrElse(root.op, Seq()).map(j => (j.start, j.end)),
        phasesByOp.getOrElse(root.op, Seq()).map(x => (x._2, (x._3, x._4))))
      st.foreach { case (k, v) => tot(k) += v }
      tot("wall") += root.ms
    }
    val spans = t.spans.toSeq
    def meanMs(f: Span => Boolean): Double = {
      val xs = spans.filter(f).map(_.ms)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    def opsNamed(names: Set[String]): Set[Int] = roots.filter(r => names(r.name)).map(_.op).toSet
    val writeOps = opsNamed(Set("insert", "delete", "update", "merge"))
    val dml = spans.filter(s => s.layer == "connector" && writeOps(s.op))
    val dmlJobs = dml.map(s => length(clip(jobsByOp.getOrElse(s.op, Seq()).map(j => (j.start, j.end)),
      (s.start, s.end))))
    val dmlSelf = dml.map(s => selfTimes(s, byOp.getOrElse(s.op, Seq()).filter(_.parent == s.id),
      jobsByOp.getOrElse(s.op, Seq()).map(j => (j.start, j.end)),
      phasesByOp.getOrElse(s.op, Seq()).map(x => (x._2, (x._3, x._4))))("harness"))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val tasks = t.taskTotals.filter(kv => roots.exists(_.op == kv._1)).values.toSeq
    def taskSum(f: TaskTotals => Double) = tasks.map(f).sum / n
    val opIds = roots.map(_.op).toSet
    val jobWall = tot("exec") / n
    val taskRun = taskSum(_.runMs)
    val outputByOp = t.taskTotals.toMap
    val traced = ops.filter(_.traced)
    val untraced = ops.filterNot(_.traced)
    val overhead = if (traced.isEmpty || untraced.isEmpty) 0.0
      else mean(traced.map(_.ms)) - mean(untraced.map(_.ms))
    val writeBytes = (writeOps ++ opsNamed(Set("maintenance")))
      .toSeq.flatMap(outputByOp.get).map(_.output).sum.toDouble
    val ex = extra.map(e => e._1 -> e._2).toMap
    val plainPerRow = ex.getOrElse("icelite.plain_bytes", 0.0) / ex.getOrElse("icelite.live_rows", 1.0).max(1.0)
    val rowsWritten = ex.getOrElse("icelite.rows_written_traced", 0.0)

    Seq(
      ("operators.build_ms", spans.filter(s => s.layer == "operators" && opIds(s.op)).map(_.ms).sum / n, "ms"),
      ("catalyst.analysis_ms", tot("catalyst.analysis") / n, "ms"),
      ("catalyst.optimization_ms", tot("catalyst.optimization") / n, "ms"),
      ("catalyst.planning_ms", tot("catalyst.planning") / n, "ms"),
      ("catalyst.queries", roots.map(r => t.queries(r.op)).sum / n, "count"),
      ("exec.jobs", roots.map(r => jobsByOp.getOrElse(r.op, Seq()).size).sum / n, "count"),
      ("exec.stages", roots.map(r => t.stagesDone(r.op)).sum / n, "count"),
      ("exec.tasks", taskSum(_.tasks.toDouble), "count"),
      ("exec.aqe_updates", roots.map(r => t.aqeUpdates(r.op)).sum / n, "count"),
      ("driver.gap_ms", tot("driver") / n, "ms"),
      ("exec.job_wall_ms", jobWall, "ms"),
      ("exec.task_run_ms", taskRun, "ms"),
      ("exec.task_cpu_ms", taskSum(_.cpuMs), "ms"),
      ("exec.gc_ms", taskSum(_.gcMs), "ms"),
      ("exec.slot_util", if (jobWall > 0) taskRun / (jobWall * Main.Cores) else 0.0, "ratio"),
      ("exec.shuffle_write_bytes", taskSum(_.shuffleWrite.toDouble), "bytes"),
      ("exec.shuffle_read_bytes", taskSum(_.shuffleRead.toDouble), "bytes"),
      ("exec.spill_bytes", taskSum(_.spill.toDouble), "bytes"),
      ("exec.failed_tasks", taskSum(_.failed.toDouble), "count"),
      ("exec.input_bytes", taskSum(_.input.toDouble), "bytes"),
      ("exec.output_bytes", taskSum(_.output.toDouble), "bytes"),
      ("icelite.read_plan_ms", meanMs(s => s.layer == "icelite" && s.name == "read"), "ms"),
      ("icelite.read_exec_ms", meanMs(s => s.layer == "driver" && opsNamed(Set("pruned_read"))(s.op)), "ms"),
      ("icelite.files_per_read", ex.getOrElse("icelite.files_per_read", 0.0), "count"),
      ("connector.dml_ms", mean(dml.map(_.ms)), "ms"),
      ("connector.dml_exec_ms", mean(dmlJobs), "ms"),
      ("connector.dml_driver_ms", mean(dmlSelf), "ms"),
      ("icelite.metadata_bytes_per_commit", ex.getOrElse("icelite.metadata_bytes_per_commit", 0.0), "bytes"),
      ("icelite.maint_ms", meanMs(s => s.layer == "op" && s.name == "maintenance"), "ms"),
      ("icelite.data_files", ex.getOrElse("icelite.data_files", 0.0), "count"),
      ("icelite.delete_files", ex.getOrElse("icelite.delete_files", 0.0), "count"),
      ("icelite.snapshots", ex.getOrElse("icelite.snapshots", 0.0), "count"),
      ("icelite.write_amp", if (rowsWritten > 0 && plainPerRow > 0) writeBytes / (rowsWritten * plainPerRow) else 0.0, "ratio"),
      ("icelite.space_amp", ex.getOrElse("space_amp", 0.0), "ratio"),
      ("rest.load_ms", meanMs(_.layer == "rest"), "ms"),
      ("rest.errors", ex.getOrElse("rest.errors", 0.0), "count"),
      ("tables.load_ms", meanMs(s => s.layer == "tables"), "ms"),
      ("jvm.gc_ms", gcMs / ops.size.max(1), "ms"),
      ("trace.op_wall_ms", tot("wall") / n, "ms"),
      ("trace.overhead_ms", overhead, "ms"),
      ("trace.coverage", if (tot("wall") > 0) (tot("wall") - tot("harness")) / tot("wall") else 0.0, "ratio"),
    ) ++ SelfLayers.map(l => (s"$l.self_ms", tot(l) / n, "ms"))
  }
}
