package e2ebench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run: one workload, one seed, one JVM.
  * `run.py` generates the inputs and starts this main; the result line
  * and a detail file land in the files named by `--out` and `--work`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, input: String, expected: String, t0Ms: Long, genS: Double, out: String,
      bless: Option[String])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m("input"), m("expected"), m("t0-ms").toLong, m("gen-s").toDouble, m("out"),
      m.get("bless"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val t = System.nanoTime()
    val spark = session(a, cores)
    val ctx = new Ctx(spark, a, cores, sessionS = (System.nanoTime() - t) / 1e9)
    val env = ctx.env
    a.bless.foreach { path =>
      try RegistryMix.bless(ctx, path) finally spark.stop()
      return
    }
    val outcome =
      try a.workload match {
        case "trends_dag" => TrendsDag.run(ctx)
        case "registry_mix" => RegistryMix.run(ctx)
      }
      finally spark.stop()
    Json.write(s"${a.work}/detail.json", outcome.detail ++ Map("env" -> env))
    ctx.tracer.foreach(tr => Json.write(s"${a.work}/spans.json", tr.allSpans.map(s =>
      Map("id" -> s.id, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "parent" -> s.parent, "op" -> s.op))))
    Json.write(a.out, Map(
      "correct" -> (outcome.failed == 0 && outcome.checked),
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "metrics" -> ListMap(outcome.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }: _*)))
  }

  /** One session policy for traced and untraced runs: `local[k]` with
    * k ≤ the machine's cores, shuffle partitions from the engine's
    * data-sized policy (as Bench sizes them), no UI, every scratch
    * directory inside the run's work directory.
    */
  private def session(a: Args, cores: Int): SparkSession = {
    val partitions = math.max(cores,
      graft.engine.Partitioning.partitionsFor(graft.engine.Partitioning.dirBytes(a.input)))
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"e2ebench-${a.workload}")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // keep only recent job/stage/SQL history in the status store, so
      // retained heap reflects the engine, not the run's length
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "100")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** What a workload hands back to [[Main]]. `metrics` maps a name to
  * (value, unit); `checked` says every output check ran.
  */
final case class Outcome(metrics: Seq[(String, (Double, String))], attempted: Int, failed: Int,
    checked: Boolean, detail: Map[String, Any])

/** Shared run state: the session, the always-on execution listener,
  * the tracer of a traced run, and the helpers every workload uses.
  */
final class Ctx(val spark: SparkSession, val a: Main.Args, val cores: Int, val sessionS: Double) {
  val executions = new Executions
  spark.sparkContext.addSparkListener(executions)
  spark.listenerManager.register(executions)
  val tracer: Option[Tracer] = if (a.trace) Some(new Tracer) else None
  private var tracing = false

  /** Register or remove the tracer's listeners. Pending events are
    * delivered first so no traced operation loses its tail.
    */
  def setTracing(on: Boolean): Unit = tracer.foreach { tr =>
    if (on != tracing) {
      drain()
      if (on) { spark.sparkContext.addSparkListener(tr); spark.listenerManager.register(tr) }
      else { spark.sparkContext.removeSparkListener(tr); spark.listenerManager.unregister(tr) }
      tracing = on
    }
  }
  def traced: Option[Tracer] = if (tracing) tracer else None

  /** Deliver every queued listener event. `listenerBus` is private[spark]
    * in source but public in bytecode, hence the reflection.
    */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethods.find(_.getName == "listenerBus").get.invoke(sc)
    bus.getClass.getMethods.find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .get.invoke(bus)
  }

  /** One timed operation. Returns its result, wall seconds, and its
    * interval on the shared clock.
    */
  def op[T](phase: String, id: String)(f: => T): (T, Double, (Double, Double)) = {
    val lo = Clock.ms
    val t0 = System.nanoTime()
    val r = traced match {
      case Some(tr) => tr.op(phase, id)(f)
      case None => f
    }
    val dt = (System.nanoTime() - t0) / 1e9
    (r, dt, (lo, Clock.ms))
  }

  /** Wall seconds since process start, as `run.py` passed it. */
  def sinceStart: Double = (System.currentTimeMillis() - a.t0Ms) / 1e3

  /** Warm-up: `n` runs of `iter`, which returns its seconds. Returns
    * the curve and whether its last two points are within 5%.
    */
  def warmUp(n: Int)(iter: Int => Double): (Seq[Double], Boolean) = {
    val curve = (0 until n).map(iter)
    (curve, curve.size >= 2 && curve.last >= 0.95 * curve(curve.size - 2))
  }

  /** Run `cycle` until `seconds` have passed; every cycle completes. */
  def window(cycle: Int => Unit): (Int, Double) = {
    val t0 = System.nanoTime()
    var n = 0
    while ((System.nanoTime() - t0) / 1e9 < a.seconds) { cycle(n); n += 1 }
    (n, (System.nanoTime() - t0) / 1e9)
  }

  /** Driver heap in MiB still used after a full collection: the least
    * of three readings, each a collection after a pause that lets
    * Spark's ContextCleaner drop the broadcasts and shuffles the
    * previous collection found unreachable.
    */
  def heapRetainedMb(): Double = {
    System.gc()
    (1 to 3).map { _ =>
      Thread.sleep(400)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  def deleteTree(path: String): Unit = org.apache.commons.io.FileUtils.deleteQuietly(new File(path))

  /** Contention hygiene, recorded with every result. */
  def env: Map[String, Any] = Map(
    "cpus_available" -> Runtime.getRuntime.availableProcessors,
    "master" -> spark.sparkContext.master,
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "ui_enabled" -> spark.conf.get("spark.ui.enabled"),
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"),
    "traced" -> a.trace,
    "seed" -> a.seed,
    "seconds" -> a.seconds,
  )
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val i = pos.toInt
      if (i + 1 < s.size) s(i) + (pos - i) * (s(i + 1) - s(i)) else s(i)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
