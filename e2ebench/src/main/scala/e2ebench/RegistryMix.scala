package e2ebench

import scala.collection.mutable
import scala.util.{Random, Try}

import org.apache.spark.sql.DataFrame

import graft.SparkEntry
import graft.ext._
import graft.queries.Inventory

/** registry_mix: read-only ad-hoc queries. A fixed sample of
  * `Inventory.all` rows and of every other registry module's rows
  * ([[sample]]), run pass after pass in a seeded shuffled order
  * through the `noop` sink with `clearCache` before each execution, as
  * Bench runs them. One execution — build the row's DataFrame, then run
  * it — is one query; one pass over the sample is the workload's build.
  */
object RegistryMix {

  val Modules: Seq[(String, Seq[String])] = Seq(
    "Inventory" -> Inventory.all, "Dedup" -> Dedup.queries, "Similarity" -> Similarity.queries,
    "TextAnalysis" -> TextAnalysis.queries, "Sessions" -> Sessions.queries,
    "Pipelines" -> Pipelines.queries, "KMeans" -> KMeans.queries, "Clusters" -> Clusters.queries,
    "Graph" -> Graph.queries, "AsOf" -> AsOf.queries, "Multimodal" -> Multimodal.queries,
    "AnnIndexPipeline" -> graft.models.AnnIndexPipeline.queries,
  ).map { case (m, qs) => m -> qs.map(_._1) }

  /** Inventory rows per run; every other module contributes one row. */
  val InventoryRows = 6
  /** Rows slower than this (stored warm seconds) are not sampled. */
  val MaxWarmS = 1.0

  final case class Exec(pass: Int, row: String, module: String, traced: Boolean,
      wall: Double, error: Option[String])

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The stored table: row, module, fingerprint, warm seconds. */
  final case class Stored(module: String, fingerprint: String, warmS: Double)

  def readStored(path: String): Map[String, Stored] =
    scala.io.Source.fromFile(path).getLines().filterNot(_.startsWith("#")).map(_.split("\t")).collect {
      case Array(row, module, fp, s) => row -> Stored(module, fp, s.toDouble)
    }.toMap

  /** Fingerprint every registry row over the input, time three warm
    * executions of each, and store both.
    */
  def bless(ctx: Ctx, path: String): Unit = {
    val spark = ctx.spark
    val queries = SparkEntry.queries
    val lines = Modules.flatMap { case (m, rows) => rows.sorted.map { row =>
      spark.catalog.clearCache()
      val fp = Try(Fingerprint.of(queries(row)(spark, ctx.a.input)).toString).getOrElse("error")
      val warm = (1 to 3).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        Try(noop(queries(row)(spark, ctx.a.input)))
        (System.nanoTime() - t0) / 1e9
      }.min
      System.err.println(f"[bless] $m%-16s $row%-36s $warm%.3f s  $fp")
      s"$row\t$m\t$fp\t" + "%.4f".formatLocal(java.util.Locale.ROOT, warm)
    }}
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      "# row\tmodule\tfingerprint (rows:sum/xor of row hashes)\twarm seconds (min of 3)\n" +
        lines.mkString("", "\n", "\n"))
  }

  /** The rows of a run, the same for every seed. Candidates are the
    * rows whose stored warm time is at most `MaxWarmS` (interactive
    * queries; at this data size every Clusters and AnnIndexPipeline row
    * takes longer). `Inventory.all` candidates, sorted by warm time, are
    * cut into `InventoryRows` equal strata and the middle row of each
    * is taken; every other module gives the middle row of the cheapest
    * third of its candidates.
    */
  def sample(stored: Map[String, Stored]): Seq[(String, String)] =
    Modules.flatMap { case (m, names) =>
      val byCost = names.flatMap(n => stored.get(n).filter(_.warmS <= MaxWarmS).map(s => (s.warmS, n)))
        .sorted.map(_._2)
      def middle(xs: Seq[String]) = xs(xs.size / 2)
      val picks =
        if (byCost.isEmpty) Nil
        else if (m == "Inventory")
          (0 until InventoryRows).map(k =>
            middle(byCost.slice(k * byCost.size / InventoryRows, (k + 1) * byCost.size / InventoryRows)))
        else Seq(middle(byCost.take(math.max(1, byCost.size / 3))))
      picks.map(_ -> m)
    }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = ctx.a.input
    val queries = SparkEntry.queries
    val rng = new Random(ctx.a.seed)
    val stored = readStored(s"${ctx.a.expected}/registry.tsv")
    val rows = sample(stored)
    def fingerprint(row: String) = Try {
      spark.catalog.clearCache()
      Fingerprint.of(queries(row)(spark, dir)).toString
    }.getOrElse("error")

    /** One pass: every row once, in a fresh seeded order; each
      * execution builds the row's DataFrame and runs it to `noop`.
      */
    def pass(p: Int): Seq[Exec] = rng.shuffle(rows).map { case (row, module) =>
      spark.catalog.clearCache()
      val (r, wall, _) = ctx.op("query", s"query#$p#$row")(Try(ctx.traced match {
        case Some(tr) =>
          val df = tr.span("registry.construct")(queries(row)(spark, dir))
          tr.span("registry.execute")(noop(df))
        case None => noop(queries(row)(spark, dir))
      }))
      Exec(p, row, module, ctx.traced.isDefined, wall,
        r.failed.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
    }

    // warm-up: a pass that fingerprints every row (the output check,
    // and each row's cold run), then one full pass
    val fps = mutable.Map.empty[String, String]
    val warmErrors = mutable.ArrayBuffer.empty[String]
    val (curve, levelled) = ctx.warmUp(2) {
      case 0 =>
        val t0 = System.nanoTime()
        rows.foreach { case (row, _) => fps(row) = fingerprint(row) }
        (System.nanoTime() - t0) / 1e9
      case i =>
        val xs = pass(-i)
        warmErrors ++= xs.flatMap(_.error)
        xs.map(_.wall).sum
    }
    val setupS = ctx.sinceStart

    val execs = mutable.ArrayBuffer.empty[Exec]
    val (passes, windowS) = ctx.window { p =>
      ctx.setTracing(ctx.a.trace && p % 2 == 0)
      execs ++= pass(p)
    }
    ctx.setTracing(false)
    val heapMb = ctx.heapRetainedMb()
    ctx.drain()

    // every row's fingerprint must equal the one stored for it, which
    // an earlier execution in another JVM produced
    val badRows = rows.map(_._1).filter(r => !stored.get(r).exists(_.fingerprint == fps(r))).toSet
    val failed = execs.count(e => e.error.isDefined || badRows(e.row))

    val untraced = execs.filterNot(_.traced).toSeq
    val qs = untraced.map(_.wall)
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "build_s" -> (Stats.median(untraced.groupBy(_.pass).values.map(_.map(_.wall).sum).toSeq), "s"),
      "query_p50_s" -> (Stats.quantile(qs, 0.5), "s"),
      "query_p90_s" -> (Stats.quantile(qs, 0.9), "s"),
      "queries_per_s" -> (qs.size / qs.sum, "1/s"),
      "heap_retained_mb" -> (heapMb, "MiB"),
    )
    val (layers, ledgers) = ctx.tracer match {
      case Some(tr) => perLayer(ctx, tr, execs.toSeq)
      case None => (Nil, Nil)
    }
    Outcome(
      metrics = if (ctx.a.trace) layers else e2e,
      attempted = execs.size,
      failed = failed,
      checked = passes > 0 && rows.forall(r => stored.contains(r._1)),
      detail = Map(
        "rows" -> rows.map { case (r, m) => s"$m.$r" },
        "setup" -> Map("session_s" -> ctx.sessionS, "input_generation_s" -> ctx.a.genS,
          "warmup_pass_s" -> curve, "warmup_levelled" -> levelled, "warmup_errors" -> warmErrors),
        "passes" -> passes, "window_s" -> windowS,
        "queries" -> Map("samples" -> qs.size, "beyond_p90" -> qs.count(_ > Stats.quantile(qs, 0.9))),
        "row_s" -> untraced.groupBy(_.row).map { case (k, v) => k -> Stats.median(v.map(_.wall)) },
        "mismatches" -> badRows.toSeq.sorted.map(r =>
          s"$r: got ${fps(r)} stored ${stored.get(r).map(_.fingerprint)}"),
        "errors" -> execs.flatMap(e => e.error.map(m => s"${e.row}: $m")).distinct,
        "end_to_end" -> e2e.map { case (k, (v, _)) => k -> v }.toMap,
        "per_layer" -> layers.map { case (k, (v, _)) => k -> v }.toMap,
        "ledgers" -> ledgers,
      ))
  }

  /** Per-layer metrics of traced passes: each execution's ledger summed
    * over its pass (ratios weighted by wall), then averaged over passes.
    */
  private def perLayer(ctx: Ctx, tr: Tracer, execs: Seq[Exec]): (Seq[(String, (Double, String))], Seq[Map[String, Any]]) = {
    val traced = execs.filter(_.traced)
    val untraced = execs.filterNot(_.traced)
    val ledgers = traced.map(e => e -> tr.ledger(s"query#${e.pass}#${e.row}", ctx.executions, ctx.cores))
    val ratios = Set("ledger.closure", "ledger.module_closure", "exec.cores_busy")
    val perPass = ledgers.groupBy(_._1.pass).values.map(_.map(_._2)).toSeq.map { ls =>
      val wall = ls.map(_("wall_s")).sum
      ls.head.keys.map { k =>
        k -> (if (ratios(k)) ls.map(l => l(k) * l("wall_s")).sum / math.max(wall, 1e-9) else ls.map(_(k)).sum)
      }.toMap
    }
    val passes = math.max(1, perPass.size)
    val modules = Layers.RegistryModules.flatMap { m =>
      val mine = ledgers.filter(_._1.module == m).map(_._2)
      Seq(s"registry.$m.s" -> (mine.map(_("wall_s")).sum / passes, "s"),
        s"registry.$m.construct_jobs" -> (mine.map(_("model.construct_jobs")).sum / passes, "count"))
    }
    def passWall(xs: Seq[Exec]) = Stats.median(xs.groupBy(_.pass).values.map(_.map(_.wall).sum).toSeq)
    val overhead = Seq(
      "trace.overhead_build_s" -> (passWall(traced) - passWall(untraced), "s"),
      "trace.overhead_query_p50_s" -> (Stats.median(traced.map(_.wall)) - Stats.median(untraced.map(_.wall)), "s"))
    (Layers.complete(Layers.ledger(perPass) ++ modules ++ overhead),
      ledgers.map { case (e, l) => Map("op" -> s"query#${e.pass}#${e.row}") ++ l })
  }
}
