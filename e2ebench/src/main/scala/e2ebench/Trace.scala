package e2ebench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.{Catalog, Model, TableSink}

/** One clock for spans and listener events: epoch milliseconds, read
  * through nanoTime so spans keep sub-millisecond resolution. Spark's
  * own event times are whole milliseconds on the same epoch.
  */
object Clock {
  private val n0 = System.nanoTime()
  private val m0 = System.currentTimeMillis().toDouble
  def ms: Double = m0 + (System.nanoTime() - n0) / 1e6
}

/** Half-open interval arithmetic over milliseconds. */
object Intervals {
  type Iv = (Double, Double)

  def union(xs: Iterable[Iv]): Seq[Iv] = {
    val out = mutable.ArrayBuffer.empty[Iv]
    xs.filter(x => x._2 > x._1).toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (out.nonEmpty && s <= out.last._2) out(out.size - 1) = (out.last._1, math.max(out.last._2, e))
      else out += ((s, e))
    }
    out.toSeq
  }

  def length(xs: Iterable[Iv]): Double = union(xs).map(x => x._2 - x._1).sum

  def clip(xs: Iterable[Iv], lo: Double, hi: Double): Seq[Iv] =
    xs.map(x => (math.max(x._1, lo), math.min(x._2, hi))).filter(x => x._2 > x._1).toSeq
}

/** Root SQL executions — one per Spark action. Always registered, in
  * traced and untraced runs alike: on the DAG workloads an execution is
  * the "query" whose latency the end-to-end metrics report. The SQL
  * start/end events give each execution's interval (whole ms); the
  * QueryExecutionListener callback gives its duration in ns.
  */
final class Executions extends SparkListener with QueryExecutionListener {
  import Executions._
  private val open = new ConcurrentHashMap[Long, (Double, String)]()
  private val done = new ConcurrentLinkedQueue[Exec]()
  private val actions = new ConcurrentLinkedQueue[Action]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
      open.put(s.executionId, (s.time.toDouble, s.description))
    case x: SparkListenerSQLExecutionEnd =>
      Option(open.remove(x.executionId)).foreach { case (t, d) =>
        done.add(Exec(x.executionId, t, x.time.toDouble, d))
      }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val starts = qe.tracker.phases.values.map(_.startTimeMs)
    if (starts.nonEmpty) actions.add(Action(starts.min.toDouble, durationNs / 1e9))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  private def in(lo: Double, hi: Double)(t: Double) = t >= math.floor(lo) && t <= math.ceil(hi)

  /** Executions that ran inside [lo, hi] (event times are whole ms). */
  def within(lo: Double, hi: Double): Seq[Exec] =
    done.asScala.filter(e => in(lo, hi)(e.start) && in(lo, hi)(e.end)).toSeq

  /** Actions whose planning started inside [lo, hi]. */
  def actionsWithin(lo: Double, hi: Double): Seq[Action] =
    actions.asScala.filter(x => in(lo, hi)(x.start)).toSeq
}

object Executions {
  final case class Exec(id: Long, start: Double, end: Double, description: String)
  final case class Action(start: Double, seconds: Double)
}

/** The traced run's recorder: bench-side spans around the engine's
  * public calls, plus Spark job/stage/task records and each action's
  * Catalyst phase times. Everything stays in memory until the end.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var opId = ""

  /** Open a root span for one operation (a build, a refresh, a query). */
  def op[T](name: String, id: String)(f: => T): T = {
    opId = id
    span(name)(f)
  }

  def span[T](name: String)(f: => T): T = {
    val id = spans.synchronized { spans += null; spans.size - 1 }
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val t0 = Clock.ms
    try f
    finally {
      stack.pop()
      spans.synchronized { spans(id) = Span(id, name, t0, Clock.ms, parent, opId) }
    }
  }

  // ------------------------------------------------------------ Spark side
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val phases = new ConcurrentLinkedQueue[Phase]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    jobs.put(e.jobId, new Job(e.jobId, e.time.toDouble, exec))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    job(e.stageInfo.stageId).foreach(j => j.synchronized(j.stages += 1))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (j <- job(e.stageId); m <- Option(e.taskMetrics)) j.synchronized {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      j.spillB += m.diskBytesSpilled
      j.inputB += m.inputMetrics.bytesRead
      j.inputRows += m.inputMetrics.recordsRead
      j.outputB += m.outputMetrics.bytesWritten
      j.outputRows += m.outputMetrics.recordsWritten
    }
  private def job(stage: Int): Option[Job] = Option(stageJob.get(stage)).flatMap(i => Option(jobs.get(i)))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      phases.add(Phase(name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }

  // --------------------------------------------------------------- ledger

  def spansOf(op: String): Seq[Span] = spans.synchronized(spans.filter(s => s != null && s.op == op).toSeq)
  def allSpans: Seq[Span] = spans.synchronized(spans.filter(_ != null).toSeq)

  /** Per-layer figures of one operation, from its root span, the spans
    * under it, and the Spark work that ran inside its interval.
    * `execs` are the root SQL executions of the same interval.
    */
  def ledger(op: String, execs: Executions, cores: Int): Map[String, Double] = {
    val ss = spansOf(op)
    val root = ss.find(_.parent == -1).get
    val (lo, hi) = (root.start, root.end)
    val wall = hi - lo
    def inside(t: Double) = t >= math.floor(lo) && t <= math.ceil(hi)
    val js = jobs.values.asScala.filter(j => inside(j.start)).toSeq
    val ex = execs.within(lo, hi)
    val ph = phases.asScala.filter(p => inside(p.start)).toSeq
    val named = (n: String) => ss.filter(_.name == n)
    val ivs = (xs: Seq[Span]) => xs.map(s => (s.start, s.end))
    def jobsIn(xs: Seq[Span]) = js.filter(j => xs.exists(s => j.start >= math.floor(s.start) && j.start <= math.ceil(s.end)))

    val testExecs = ex.filter(_.description.startsWith("isEmpty"))
    val testExecIds = testExecs.map(_.id).toSet
    val constructSpans = named("model.transform") ++ named("registry.construct")
    val sinkSpans = named("sink.write")
    val sinkJobs = jobsIn(sinkSpans)
    val jobIvs = js.map(j => (j.start, if (j.end > 0) j.end else hi))
    val phaseIvs = ph.map(p => (p.start, p.end))
    val busyMs = Intervals.length(Intervals.clip(jobIvs, lo, hi))
    val phaseSum = (n: String) => ph.filter(_.name == n).map(p => p.end - p.start).sum / 1e3
    val idleMs = wall - Intervals.length(Intervals.clip(jobIvs ++ phaseIvs, lo, hi))
    val catalystS = Seq("analysis", "optimization", "planning").map(phaseSum).sum
    // module cut: bench spans below the root plus the test actions
    val childIvs = ivs(ss.filter(_.parent == root.id)) ++ testExecs.map(e => (e.start, e.end))
    val dagSelfMs = wall - Intervals.length(Intervals.clip(childIvs, lo, hi))
    val sumS = (xs: Seq[Span]) => xs.map(s => s.end - s.start).sum / 1e3
    val testsS = testExecs.map(e => e.end - e.start).sum / 1e3
    val moduleS = sumS(named("catalog.table")) + sumS(named("model.transform")) +
      sumS(named("registry.construct")) + sumS(named("registry.execute")) + sumS(sinkSpans) +
      testsS + dagSelfMs / 1e3
    val cpuS = js.map(_.cpuNs).sum / 1e9
    val mb = 1024.0 * 1024.0
    Map(
      "wall_s" -> wall / 1e3,
      "catalog.table_s" -> sumS(named("catalog.table")),
      "catalog.input_mb" -> js.map(_.inputB).sum / mb,
      "catalog.input_rows" -> js.map(_.inputRows).sum.toDouble,
      "model.transform_s" -> (sumS(named("model.transform")) + sumS(named("registry.construct"))),
      "model.construct_jobs" -> jobsIn(constructSpans).size.toDouble,
      "dag.self_s" -> dagSelfMs / 1e3,
      "tests.s" -> testsS,
      "tests.actions" -> testExecs.size.toDouble,
      "tests.jobs" -> js.count(j => j.exec.exists(testExecIds)).toDouble,
      "sink.write_s" -> sumS(sinkSpans),
      "sink.jobs" -> sinkJobs.size.toDouble,
      "sink.written_mb" -> js.map(_.outputB).sum / mb,
      "sink.rows_written" -> js.map(_.outputRows).sum.toDouble,
      "catalyst.analysis_s" -> phaseSum("analysis"),
      "catalyst.optimization_s" -> phaseSum("optimization"),
      "catalyst.planning_s" -> phaseSum("planning"),
      "catalyst.actions" -> ex.size.toDouble,
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> js.map(_.stages).sum.toDouble,
      "exec.tasks" -> js.map(_.tasks).sum.toDouble,
      "exec.job_active_s" -> busyMs / 1e3,
      "exec.run_s" -> js.map(_.runMs).sum / 1e3,
      "exec.cpu_s" -> cpuS,
      "exec.gc_s" -> js.map(_.gcMs).sum / 1e3,
      "exec.shuffle_write_mb" -> js.map(_.shuffleWriteB).sum / mb,
      "exec.spill_mb" -> js.map(_.spillB).sum / mb,
      "exec.cores_busy" -> (if (wall > 0) cpuS / (wall / 1e3 * cores) else 0.0),
      "driver.idle_s" -> idleMs / 1e3,
      // closure: independently measured parts against the wall
      "ledger.closure" -> (if (wall > 0) math.abs((catalystS * 1e3 + busyMs + idleMs) / wall - 1) else 0.0),
      "ledger.module_closure" -> (if (wall > 0) math.abs(moduleS * 1e3 / wall - 1) else 0.0),
    )
  }
}

object Tracer {
  final case class Span(id: Int, name: String, start: Double, end: Double, parent: Int, op: String)
  final case class Phase(name: String, start: Double, end: Double)
  final class Job(val id: Int, val start: Double, val exec: Option[Long]) {
    var end = 0.0
    var stages, tasks = 0
    var runMs, cpuNs, gcMs, shuffleWriteB, spillB, inputB, inputRows, outputB, outputRows = 0L
  }

  /** Delegating catalog: times each `table()` call. */
  final class TracedCatalog(inner: Catalog, t: Tracer) extends Catalog {
    override def table(name: String): DataFrame = t.span("catalog.table")(inner.table(name))
  }

  /** Delegating sink: times each `write()` call. */
  final class TracedSink(inner: TableSink, t: Tracer) extends TableSink {
    override def write(name: String, df: DataFrame): DataFrame = t.span("sink.write")(inner.write(name, df))
  }

  /** The same model — name, deps, materialization, tests — with its
    * transform closure timed.
    */
  def model(m: Model, t: Tracer): Model =
    Model(m.name, m.deps, m.materialization, m.tests)(in => t.span("model.transform")(m.transform(in)))
}
