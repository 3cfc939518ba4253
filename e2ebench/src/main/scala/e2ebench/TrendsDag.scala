package e2ebench

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import graft.engine._
import graft.models.{TrendsModels, TrendsModelsSql}

/** trends_dag: the reference's seven-model DAG and its 68 data tests
  * (`TrendsModels.all`) over seeded Google-Trends-shaped sources read
  * through `ParquetCatalog`, built back to back by `DagRunner` through
  * `TableSink.Parquet`, each build into a fresh warehouse. A build is
  * one operation; every Spark action inside it (a data test, a table
  * write) is one query.
  */
object TrendsDag {

  final case class Build(n: Int, traced: Boolean, wall: Double, iv: (Double, Double), error: Option[String])

  private val marts = TrendsModels.all.filter(_.materialization == Materialization.Table).map(_.name)
  private val testCount = TrendsModels.all.map(_.tests.size).sum

  /** One `DagRunner.run`; a thrown error, a failed or missing test, or
    * a skipped model fails the build. A traced build wraps the catalog,
    * the sink and every model in their delegating, timed twins.
    */
  private def build(ctx: Ctx, src: Catalog, n: Int, wh: String): Build = {
    val sink = new TableSink.Parquet(wh)
    val (res, wall, iv) = ctx.op("build", s"build#$n") {
      Try(ctx.traced match {
        case Some(tr) =>
          new DagRunner(new Tracer.TracedCatalog(src, tr), new Tracer.TracedSink(sink, tr))
            .run(TrendsModels.all.map(Tracer.model(_, tr)))
        case None => new DagRunner(src, sink).run(TrendsModels.all)
      })
    }
    val error = res match {
      case Failure(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      case Success(r) if !r.allTestsPassed =>
        Some("failed tests: " + r.tests.filterNot(_.passed).map(_.test).mkString(","))
      case Success(r) if r.tests.size != testCount => Some(s"ran ${r.tests.size} of $testCount tests")
      case Success(r) if r.skipped.nonEmpty => Some("skipped: " + r.skipped.mkString(","))
      case _ => None
    }
    Build(n, ctx.traced.isDefined, wall, iv, error)
  }

  /** Longest-path wave count of the DAG, as DagRunner schedules it. */
  private def waves(models: Seq[Model]): Int = {
    val names = models.map(_.name).toSet
    val depth = mutable.Map.empty[String, Int]
    new DagRunner(new MapCatalog(Map.empty)).topoSort(models).foreach { m =>
      depth(m.name) = m.deps.filter(names).map(depth(_) + 1).maxOption.getOrElse(0)
    }
    depth.values.max + 1
  }

  def run(ctx: Ctx): Outcome = {
    val src = new ParquetCatalog(ctx.spark, ctx.a.input)
    val whRoot = s"${ctx.a.work}/warehouse"

    // warm-up: three builds, each warehouse deleted right after
    val warmErrors = mutable.ArrayBuffer.empty[String]
    val (curve, levelled) = ctx.warmUp(3) { i =>
      val b = build(ctx, src, -1 - i, s"$whRoot/warm-$i")
      ctx.deleteTree(s"$whRoot/warm-$i")
      warmErrors ++= b.error
      b.wall
    }
    val setupS = ctx.sinceStart

    // timed window; a traced run alternates traced and untraced builds
    // so that the tracing overhead is read off the same run
    val builds = mutable.ArrayBuffer.empty[Build]
    val (_, windowS) = ctx.window { i =>
      ctx.setTracing(ctx.a.trace && i % 2 == 0)
      builds += build(ctx, src, i, s"$whRoot/b-$i")
    }
    ctx.setTracing(false)
    val heapMb = ctx.heapRetainedMb()
    ctx.drain()

    // output checks, outside the window: every mart of every build must
    // equal the same mart of the SQL-text DAG over the same sources
    val refWh = s"$whRoot/reference"
    val refRun = Try(new DagRunner(src, new TableSink.Parquet(refWh)).run(TrendsModelsSql.all))
    val ref: Map[String, Fingerprint.Fp] = refRun match {
      case Success(r) if r.allTestsPassed && r.tests.size == testCount =>
        marts.map(m => m -> Fingerprint.of(ctx.spark.read.parquet(s"$refWh/$m"))).toMap
      case _ => Map.empty
    }
    val mismatches = for {
      b <- builds.toSeq
      m <- marts
      got = Try(Fingerprint.of(ctx.spark.read.parquet(s"$whRoot/b-${b.n}/$m"))).toOption
      if !ref.get(m).exists(got.contains)
    } yield (b.n, m, got.map(_.toString).getOrElse("unreadable"))
    ctx.deleteTree(whRoot)
    val badBuilds = mismatches.map(_._1).toSet
    val failed = builds.count(b => b.error.isDefined || badBuilds(b.n))

    val actions = (bs: Seq[Build]) => bs.flatMap(b => ctx.executions.actionsWithin(b.iv._1, b.iv._2))
    val untraced = builds.filterNot(_.traced).toSeq
    val qs = actions(untraced).map(_.seconds)
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "build_s" -> (Stats.median(untraced.map(_.wall)), "s"),
      "query_p50_s" -> (Stats.quantile(qs, 0.5), "s"),
      "query_p90_s" -> (Stats.quantile(qs, 0.9), "s"),
      "queries_per_s" -> (qs.size / untraced.map(_.wall).sum, "1/s"),
      "heap_retained_mb" -> (heapMb, "MiB"),
    )

    val (layers, ledgers) = ctx.tracer match {
      case None => (Nil, Nil)
      case Some(tr) =>
        val ls = builds.filter(_.traced).map(b => b -> tr.ledger(s"build#${b.n}", ctx.executions, ctx.cores)).toSeq
        val traced = builds.filter(_.traced).toSeq
        def overhead(f: Seq[Build] => Double) = f(traced) - f(untraced)
        val written = Stats.mean(ls.map(_._2("sink.written_mb"))) * 1024 * 1024
        val measured = Layers.ledger(ls.map(_._2)) ++ Seq(
          "dag.waves" -> (waves(TrendsModels.all).toDouble, "count"),
          "sink.write_amp" -> (written / math.max(1L, Partitioning.dirBytes(ctx.a.input)), "ratio"),
          "trace.overhead_build_s" -> (overhead(bs => Stats.median(bs.map(_.wall))), "s"),
          "trace.overhead_query_p50_s" -> (overhead(bs => Stats.median(actions(bs).map(_.seconds))), "s"))
        (Layers.complete(measured), ls.map { case (b, l) => Map("op" -> s"build#${b.n}") ++ l })
    }

    Outcome(
      metrics = if (ctx.a.trace) layers else e2e,
      attempted = builds.size,
      failed = failed,
      checked = builds.nonEmpty && ref.size == marts.size,
      detail = Map(
        "setup" -> Map("session_s" -> ctx.sessionS, "input_generation_s" -> ctx.a.genS,
          "warmup_build_s" -> curve, "warmup_levelled" -> levelled, "warmup_errors" -> warmErrors),
        "window_s" -> windowS,
        "builds" -> builds.map(b => Map("n" -> b.n, "traced" -> b.traced, "wall_s" -> b.wall, "error" -> b.error)),
        "queries" -> Map("samples" -> qs.size, "beyond_p90" -> qs.count(_ > Stats.quantile(qs, 0.9))),
        "reference" -> ref.map { case (k, v) => k -> v.toString },
        "mismatches" -> mismatches.map { case (n, m, g) => s"build $n $m: $g" },
        "end_to_end" -> e2e.map { case (k, (v, _)) => k -> v }.toMap,
        "per_layer" -> layers.map { case (k, (v, _)) => k -> v }.toMap,
        "ledgers" -> ledgers,
      ))
  }
}
