package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** Result of one DAG run. `relations` holds every successfully built
  * model (views lazily, tables post-materialization); `tests` every
  * executed data test; `skipped` models not built because an upstream
  * model's tests failed (dbt `build` gating, SURVEY.md §3.1 step 6).
  */
final case class RunResult(
    relations: Map[String, DataFrame],
    tests: Seq[TestResult],
    skipped: Seq[String]
) {
  def allTestsPassed: Boolean = tests.forall(_.passed)
  def apply(name: String): DataFrame = relations(name)
}

/** Dependency-ordered DAG executor — the one piece of dbt-core the
  * warehouse doesn't provide (SURVEY.md §3.4). Pure Scala scheduling;
  * all data movement stays inside Spark.
  *
  * Semantics matched to `dbt build` (SURVEY.md §3.1):
  *   1. topo-sort models; unknown deps resolve against the catalog
  *      (= dbt sources).
  *   2. View models stay lazy DataFrames (warehouse view inlining —
  *      Catalyst pushes predicates/pruning through them for free).
  *   3. Table models materialize through the [[TableSink]].
  *   4. Each model's tests run right after materialization; a failed
  *      test marks all transitive descendants skipped.
  *
  * Scale note: view models are never materialized, but every data
  * test is its own Spark action ([[DataTest.passes]]), and a test on a
  * view re-runs the view's plan from its sources. A trends build runs
  * 68 test actions, 30 of them on the four staging views. A table
  * model costs its write plus the sink's read-back, and a write is
  * several jobs: in a traced trends build (`e2ebench --trace 1`) the
  * three marts' `TableSink.Parquet` writes fired 13 jobs. With
  * `maxParallelism > 1`, independent models of a wave are submitted
  * from separate threads; at 100 TB the writes dominate.
  */
final class DagRunner(
    catalog: Catalog,
    sink: TableSink = new TableSink.Cached,
    maxParallelism: Int = 1) {

  /** [[DagRunner.topoSort]]. */
  def topoSort(models: Seq[Model]): Seq[Model] = DagRunner.topoSort(models)

  /** Run the DAG in dependency waves. Within a wave no model depends
    * on another, so with `maxParallelism > 1` the wave's builds +
    * tests are submitted concurrently (dbt's thread pool, Spark-side:
    * concurrent actions share the cluster via the Spark scheduler —
    * useful when single jobs don't saturate it, e.g. many small
    * staging materializations). Results are deterministic regardless
    * of parallelism: they're collected in wave-then-declaration order,
    * and the test/skip gating semantics are identical to the
    * sequential path.
    */
  def run(models: Seq[Model]): RunResult = {
    val modelNames = models.map(_.name).toSet
    val built = mutable.LinkedHashMap.empty[String, DataFrame]
    val results = mutable.ArrayBuffer.empty[TestResult]
    val failedOrSkipped = mutable.Set.empty[String]
    val skipped = mutable.ArrayBuffer.empty[String]

    val waves = DagRunner.waveIndex(models).groupBy(_._2).toSeq.sortBy(_._1).map(_._2.map(_._1))

    /** Build + materialize + test one model (its deps are complete). */
    def process(m: Model): (String, DataFrame, Seq[TestResult]) = {
      val inputs: Map[String, DataFrame] =
        m.deps.map { d =>
          d -> (if (modelNames.contains(d)) built(d) else catalog.table(d))
        }.toMap
      val df = m.transform(inputs)
      val rel = m.materialization match {
        case Materialization.View  => df
        case Materialization.Table => sink.write(m.name, df)
      }
      (m.name, rel, m.tests.map(t => TestResult(m.name, t.name, t.passes(rel))))
    }

    for (wave <- waves) {
      val (toSkip, toRun) = wave.partition(_.deps.exists(failedOrSkipped.contains))
      toSkip.foreach { m => failedOrSkipped += m.name; skipped += m.name }
      val outcomes: Seq[util.Try[(String, DataFrame, Seq[TestResult])]] =
        if (maxParallelism <= 1 || toRun.size <= 1) toRun.map(m => util.Try(process(m)))
        else {
          import scala.concurrent.{Await, ExecutionContext, Future}
          import scala.concurrent.duration.Duration
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(maxParallelism, toRun.size))
          implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
          // Every future is lifted to Try and the wave is awaited to
          // COMPLETION before any failure propagates: a sibling model
          // that finished (and possibly materialized through the sink)
          // is recorded below rather than silently discarded while its
          // Spark job races a shut-down pool.
          try Await.result(
            Future.sequence(toRun.map(m => Future(process(m)).transform(util.Success(_)))),
            Duration.Inf)
          finally pool.shutdown()
        }
      outcomes.foreach {
        case util.Success((name, rel, testRs)) =>
          built += name -> rel
          results ++= testRs
          if (testRs.exists(!_.passed)) failedOrSkipped += name
        case util.Failure(_) => () // rethrown below, after the wave is recorded
      }
      outcomes.collectFirst { case util.Failure(e) => e }.foreach(throw _)
    }
    RunResult(built.toMap, results.toSeq, skipped.toSeq)
  }
}

object DagRunner {

  /** Kahn topo-sort over model-to-model edges; deterministic order
    * (insertion-ordered among ready nodes); throws on cycles, naming
    * the models left unsorted. Deps that are not models are sources.
    */
  def topoSort(models: Seq[Model]): Seq[Model] = {
    val byName = models.map(m => m.name -> m).toMap
    val indeg = mutable.LinkedHashMap(models.map(m => m.name -> 0): _*)
    val out = mutable.Map.empty[String, List[String]].withDefaultValue(Nil)
    for (m <- models; d <- m.deps if byName.contains(d)) {
      indeg(m.name) += 1
      out(d) ::= m.name
    }
    val ready = mutable.Queue(indeg.collect { case (n, 0) => n }.toSeq: _*)
    val order = mutable.ArrayBuffer.empty[Model]
    while (ready.nonEmpty) {
      val n = ready.dequeue()
      order += byName(n)
      for (c <- out(n).reverse) {
        indeg(c) -= 1
        if (indeg(c) == 0) ready += c
      }
    }
    if (order.size != models.size) {
      val stuck = indeg.collect { case (n, d) if d > 0 => n }
      throw new IllegalArgumentException(s"model DAG has a cycle involving: ${stuck.mkString(", ")}")
    }
    order.toSeq
  }

  /** Run a DAG into a temp warehouse and return one of its tables,
    * collected into a local relation — the registry rows that put a
    * whole production DAG through the driver's hash gate. `run` gets
    * the warehouse's [[TableSink.Parquet]]; the DAG must pass every
    * model test and skip nothing, or the row fails naming `gate`.
    * `pick` chooses the table, and must stay bounded by the row's
    * contract, since it is collected to the driver. The run executes
    * inside [[Caches.scoped]], which releases exactly the caches it
    * retained on this thread (the component fixpoint's loop state,
    * never a concurrent query's), and the warehouse is deleted
    * afterwards, so repeated registry builds stay storage-neutral.
    */
  def collectTable(s: SparkSession, gate: String)(run: TableSink => RunResult)(
      pick: RunResult => DataFrame): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-dag-reg")
    try Caches.scoped {
      val r = run(new TableSink.Parquet(wh.toString))
      require(r.allTestsPassed && r.skipped.isEmpty,
        s"$gate gated: ${r.tests.filterNot(_.passed).mkString(", ")}")
      val out = pick(r)
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally Scratch.deleteTree(wh)
  }

  /** The execution schedule: every model in topo order with its wave
    * index, the longest model-to-model dependency path from a source.
    * No model depends on another of its wave.
    */
  def waveIndex(models: Seq[Model]): Seq[(Model, Int)] = {
    val names = models.map(_.name).toSet
    val depth = mutable.Map.empty[String, Int]
    topoSort(models).map { m =>
      depth(m.name) = m.deps.filter(names.contains).map(depth(_) + 1).maxOption.getOrElse(0)
      m -> depth(m.name)
    }
  }
}
