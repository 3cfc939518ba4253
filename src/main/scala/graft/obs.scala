package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.engine.Partitioning

/** The measurement kernel every main shares: one session policy
  * ([[session]]), one span timer ([[span]]) and one JSON emitter
  * ([[json]]). Bench, Verify, DumpPlans, WindowAudit and the
  * [[graft.tools.Legs]] measurement legs all go through it, so a
  * session, timing or escaping fix lands in one place and the
  * correctness dump runs under the same configuration it is timed in.
  */
object obs {

  /** Local-mode thread count: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Shuffle partitions for a session over `dataDir`: the
    * `SPARK_GRAFT_SHUFFLE_PARTITIONS` override when set, else
    * max(cpus, data-sized count from the measured input bytes —
    * [[graft.engine.Partitioning]]). Partitions = cpus alone is a
    * memory hazard at scale: at 30× data under a small heap it put a
    * quarter of the corpus in one task, and the spill-merge fan-in
    * (one read-ahead buffer per spill file) OOMed regardless of plan
    * quality. At sf0.1 (17 MiB of input) the cpus floor wins; at
    * 30×/100× the count grows with the corpus. A missing or empty
    * `dataDir` sizes to the cpus floor.
    */
  def shufflePartitions(cpus: Int, dataDir: String): Int =
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.toInt).getOrElse(
      math.max(cpus, Partitioning.partitionsFor(Partitioning.dirBytes(dataDir))))

  /** The one session policy: `local[cpus]`, [[shufflePartitions]], UTC,
    * nanosecond parquet timestamps read as longs, UI off, and the task
    * metrics listener [[span]] reads attached.
    */
  def session(cpus: Int, dataDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions(cpus, dataDir).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    listener(s.sparkContext)
    s
  }

  /** `spark` while its context is up, else a fresh [[session]] under
    * the same policy. An executor-thread OutOfMemoryError in local mode
    * kills the SHARED SparkContext, and every later action would fail
    * on "stopped SparkContext"; a long-running main calls this before
    * each unit of work so one bad unit cannot poison the rest.
    */
  def revive(spark: SparkSession, cpus: Int, dataDir: String): SparkSession =
    if (!spark.sparkContext.isStopped) spark
    else {
      System.err.println("[obs] SparkContext died — rebuilding session")
      listeners.remove(spark.sparkContext)
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      session(cpus, dataDir)
    }

  /** Sums TaskMetrics across every task that ends between reset() and
    * snapshot(); `max_task_ms` is the longest single task (the
    * straggler signal: a window over a hot key serializes its whole
    * partition into one task). Spans on one context run one at a time,
    * so the window attribution is exact once the listener bus is
    * drained.
    */
  private final class TaskMetricsAgg extends SparkListener {
    private val m = new ConcurrentHashMap[String, AtomicLong]()
    private def cell(k: String) = m.computeIfAbsent(k, _ => new AtomicLong())
    def reset(): Unit = m.clear()
    def snapshot(): Map[String, Long] =
      m.asScala.map { case (k, v) => k -> v.get }.toMap
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val tm = t.taskMetrics
      if (tm != null) {
        cell("tasks").addAndGet(1L)
        cell("shuffle_read_b").addAndGet(tm.shuffleReadMetrics.totalBytesRead)
        cell("shuffle_write_b").addAndGet(tm.shuffleWriteMetrics.bytesWritten)
        cell("shuffle_rows").addAndGet(tm.shuffleWriteMetrics.recordsWritten)
        cell("spill_mem_b").addAndGet(tm.memoryBytesSpilled)
        cell("spill_disk_b").addAndGet(tm.diskBytesSpilled)
        cell("input_b").addAndGet(tm.inputMetrics.bytesRead)
        cell("input_rows").addAndGet(tm.inputMetrics.recordsRead)
        cell("cpu_ms").addAndGet(tm.executorCpuTime / 1000000L)
        cell("run_ms").addAndGet(tm.executorRunTime)
        cell("gc_ms").addAndGet(tm.jvmGCTime)
        cell("peak_mem_b").updateAndGet(p => math.max(p, tm.peakExecutionMemory))
        if (t.taskInfo != null)
          cell("max_task_ms").updateAndGet(p => math.max(p, t.taskInfo.duration))
      }
    }
  }

  private val listeners = new ConcurrentHashMap[SparkContext, TaskMetricsAgg]()

  /** The context's metrics listener, attached on first use — so a span
    * also measures on a session this kernel did not build (a spec's). */
  private def listener(sc: SparkContext): TaskMetricsAgg =
    listeners.computeIfAbsent(sc, { c =>
      val a = new TaskMetricsAgg
      c.addSparkListener(a)
      a
    })

  /** Listener events are delivered async; flush them so a snapshot sees
    * every task of the work that just finished. `listenerBus` is
    * private[spark] in source but public in bytecode — reflection keeps
    * this a dev-metrics concern with zero library-API footprint.
    */
  private def drainListenerBus(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethods.find(_.getName == "listenerBus").get.invoke(sc)
      bus.getClass.getMethods
        .find(x => x.getName == "waitUntilEmpty" && x.getParameterCount == 0)
        .get.invoke(bus)
    } catch { case _: Throwable => Thread.sleep(500) }

  /** What a [[span]] measured: the body's value, its wall seconds and
    * the summed task metrics of every task that ended inside it.
    */
  final case class Span[T](value: T, wallS: Double, metrics: Map[String, Long]) {
    def tasks: Long = metrics.getOrElse("tasks", 0L)
  }

  /** Time `body` and collect the task metrics of everything it ran.
    * The window is: reset the listener, t0, body, dt, drain the
    * listener bus, snapshot — setup the caller wants excluded (a
    * clearCache, say) goes before the call. `label` names the body's
    * jobs (the Spark job description). Spans on one context must not
    * overlap or nest: they share the context's listener.
    */
  def span[T](label: String)(body: => T)(implicit spark: SparkSession): Span[T] = {
    val sc = spark.sparkContext
    val agg = listener(sc)
    sc.setJobDescription(label)
    try {
      agg.reset()
      val t0 = System.nanoTime()
      val v = body
      val dt = (System.nanoTime() - t0) / 1e9
      drainListenerBus(sc)
      Span(v, dt, agg.snapshot())
    } finally sc.setJobDescription(null)
  }

  /** One JSON object, fields in the given order. Values: String,
    * Int, Long, Double (NaN and ±Infinity as null), and a
    * `collection.Map[String, _]` as a nested object in its iteration
    * order.
    */
  def json(fields: (String, Any)*): String = {
    val sb = new StringBuilder
    obj(sb, fields)
    sb.toString
  }

  private def obj(sb: StringBuilder, fields: Iterable[(String, Any)]): Unit = {
    sb.append('{')
    var first = true
    fields.foreach { case (k, v) =>
      if (!first) sb.append(',')
      first = false
      quote(sb, k)
      sb.append(':')
      value(sb, v)
    }
    sb.append('}')
  }

  private def value(sb: StringBuilder, v: Any): Unit = v match {
    case s: String => quote(sb, s)
    case d: Double => if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
    case n @ (_: Int | _: Long) => sb.append(n.toString)
    case m: collection.Map[_, _] =>
      obj(sb, m.toSeq.map { case (k, x) => k.toString -> x })
    case other =>
      throw new IllegalArgumentException(s"obs.json: unsupported value ${other.getClass.getName}")
  }

  /** JSON string escaping: backslash, quote, every control char
    * (< 0x20) and every UTF-16 surrogate as \u00XX / \uXXXX. Escaping
    * surrogates keeps a message cut between the two halves of a pair
    * encodable (a lone surrogate has no UTF-8 form), while whole pairs
    * decode back to the same code point.
    */
  private def quote(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '"' => sb.append("\\\"")
      case c if c < 0x20 || Character.isSurrogate(c) => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}
