package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One harness span around a call into a layer's public entry point.
  * Times are epoch milliseconds, the clock Spark's listener events use. */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** Interval arithmetic over half-open `[start, end)` millisecond ranges. */
object Intervals {
  type Iv = (Double, Double)

  def union(xs: Seq[Iv]): Seq[Iv] = {
    val out = mutable.ArrayBuffer[Iv]()
    xs.filter(x => x._2 > x._1).sortBy(_._1).foreach { x =>
      if (out.nonEmpty && x._1 <= out.last._2)
        out(out.size - 1) = (out.last._1, math.max(out.last._2, x._2))
      else out += x
    }
    out.toSeq
  }

  def length(xs: Seq[Iv]): Double = union(xs).map(x => x._2 - x._1).sum

  def clip(xs: Seq[Iv], to: Iv): Seq[Iv] =
    xs.map(x => (math.max(x._1, to._1), math.min(x._2, to._2))).filter(x => x._2 > x._1)
}

/** Per-job record from the listener bus. */
final case class JobRec(op: Int, start: Double, var end: Double)

/** Task-level totals, summed per op. */
final class TaskTotals {
  var tasks, failed = 0L
  var runMs, cpuMs, gcMs = 0.0
  var shuffleWrite, shuffleRead, spill, input, output = 0L
}

/** Collects harness spans plus Spark's own job, stage, task, AQE and
  * Catalyst-phase events, all keyed by the op that caused them.
  *
  * Ops run one at a time (one closed-loop client), so a Catalyst phase or
  * SQL execution is attributed to the op whose interval contains its
  * start; jobs carry their op id as a local property. Spark events are
  * recorded for every op, since the listener bus delivers them after the
  * fact; harness spans only while `enabled`, which the loop switches per
  * op so that traced and untraced ops alternate in one JVM. Everything
  * stays in memory until the run ends. */
final class Tracer {
  @volatile var enabled = false
  /** Whether the last op run was traced; read by the untimed checks. */
  @volatile var lastTraced = false
  @volatile private var curOp = -1
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble

  def now: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private val lock = new Object
  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private var stack = List.empty[Int]

  val jobs = mutable.Map[Int, JobRec]()
  private val stageOp = mutable.Map[Int, Int]()
  val stagesDone = mutable.Map[Int, Int]().withDefaultValue(0)
  val taskTotals = mutable.Map[Int, TaskTotals]()
  /** (op, phase, start, end) from QueryExecution.tracker. */
  val phases = mutable.ArrayBuffer[(Int, String, Double, Double)]()
  val queries = mutable.Map[Int, Int]().withDefaultValue(0)
  private val execOp = mutable.Map[Long, Int]()
  /** (op, start, end) of every op, traced or not. */
  private val opIvs = mutable.ArrayBuffer[(Int, Double, Double)]()
  val aqeUpdates = mutable.Map[Int, Int]().withDefaultValue(0)

  /** Time `f` as a span of `layer`, nested under the innermost open span. */
  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = lock.synchronized { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = now
      try f
      finally {
        val t1 = now
        stack = stack.tail
        lock.synchronized { spans += Span(id, parent, curOp, layer, name, t0, t1) }
      }
    }

  /** Run `f` as op `op`, traced or not; a traced op is the root span of
    * everything it calls. */
  def op[T](op: Int, spark: SparkSession, name: String, traced: Boolean)(f: => T): T = {
    curOp = op
    enabled = traced
    lastTraced = traced
    spark.sparkContext.setLocalProperty(Tracer.OpProp, op.toString)
    val t0 = now
    try span("op", name)(f)
    finally {
      lock.synchronized { opIvs += ((op, t0, now)) }
      enabled = false
      curOp = -1
      spark.sparkContext.setLocalProperty(Tracer.OpProp, null)
    }
  }

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.OpProp))).map(_.toInt).getOrElse(-1)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val op = opOf(e.properties)
      jobs(e.jobId) = JobRec(op, e.time.toDouble, e.time.toDouble)
      e.stageIds.foreach(s => stageOp(s) = op)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stageOp.get(e.stageInfo.stageId).foreach(op => stagesDone(op) += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageOp.get(e.stageId).foreach { op =>
        val t = taskTotals.getOrElseUpdate(op, new TaskTotals)
        t.tasks += 1
        if (e.reason != org.apache.spark.Success) t.failed += 1
        val m = e.taskMetrics
        if (m != null) {
          t.runMs += m.executorRunTime
          t.cpuMs += m.executorCpuTime / 1e6
          t.gcMs += m.jvmGCTime
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          t.input += m.inputMetrics.bytesRead
          t.output += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        opAt(s.time.toDouble).foreach(op => execOp(s.executionId) = op)
      }
      case a: SparkListenerSQLAdaptiveExecutionUpdate => lock.synchronized {
        execOp.get(a.executionId).foreach(op => aqeUpdates(op) += 1)
      }
      case _ =>
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs.toDouble, p.endTimeMs.toDouble) }
      lock.synchronized {
        ps.headOption.flatMap(p => opAt(ps.map(_._2).min)).foreach { op =>
          queries(op) += 1
          ps.foreach { case (n, s, e) => phases += ((op, n, s, e)) }
        }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** The op running at epoch-ms `t`: a finished op whose interval holds
    * it, else the op still running. */
  private def opAt(t: Double): Option[Int] =
    opIvs.reverseIterator.find(o => o._2 <= t && t <= o._3).map(_._1)
      .orElse(Some(curOp).filter(_ >= 0))

  private var busListener = false
  private val sessions = mutable.Set[SparkSession]()

  /** Listen on the shared context once, and on each session's query
    * executions (every `newSession()` has its own listener manager). */
  def install(spark: SparkSession): Unit = lock.synchronized {
    if (!busListener) { spark.sparkContext.addSparkListener(listener); busListener = true }
    if (sessions.add(spark)) spark.listenerManager.register(qeListener)
  }

  /** Listener events are delivered asynchronously; wait for them before
    * attributing. */
  def drain(spark: SparkSession): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}

object Tracer {
  val OpProp = "perfbench.op"
}
