package graft

import scala.collection.immutable.{TreeMap, VectorMap}

/** Benchmark main (driver contract): run every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, print ONE JSON line with per-query seconds.
  *
  * Queries execute through the `noop` sink so the full plan — every
  * column, every operator — actually runs (a bare `count()` would let
  * Catalyst prune projections and undercount the work).
  *
  * Beside wall seconds, a task-metrics listener records per-query
  * shuffle bytes, spill, input bytes, task CPU and GC time. Wall time
  * on a shared box is contaminated by whatever else runs (the round-8
  * official bench inflated carried queries 13–23× while a concurrent
  * session compiled; round 12 repeated the episode with a ~30 s
  * starvation window over five ann_* rows); bytes shuffled/read and
  * rows produced by a fixed plan are invariant under contention, and
  * task CPU time nearly so — so round-over-round plan regressions stay
  * adjudicable from the artifact alone even when wall is poisoned.
  *
  * Timing runs TWO serialized passes and reports the per-query MIN
  * (standard best-of-N steady-state practice): transient external
  * contention only adds time, so min-of-2 bounds a single burst's
  * damage to whichever pass it hit. Both raw passes land in
  * target/bench.json (`queries_p1`/`queries_p2`) for audit.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = obs.cpus
    var spark = obs.session(cpus, sfDir)
    // One OOM row must not cost the rest of the pass its measurement
    // (the r14 30x sweep: dedup_components OOMed the 1 GiB heap and 25
    // healthy rows failed on the stopped context). The OOM row itself
    // stays LOUD in the artifact: its error is recorded.
    def ensureLive(): Unit = spark = obs.revive(spark, cpus, sfDir)
    // Codegen/JIT warmup: every query has its own generated code, and a
    // cold first run is dominated by compiling it (measured 5.3 s cold
    // vs 0.9 s warm for the shingle pipeline alone) — noise that says
    // nothing about throughput at scale. Warm EVERY query shape once on
    // the smallest dataset available (falling back to sfDir), so the
    // measured pass below reports steady-state execution. Warmup
    // failures must never abort the bench.
    val warmDir = Seq("/root/testdata/sf0.001", sfDir)
      .find(p => new java.io.File(p).isDirectory).getOrElse(sfDir)
    // Local-iteration filter (comma-separated names). The driver never
    // sets it — official rounds always time the full registry.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      try { ensureLive(); fn(spark, warmDir).write.format("noop").mode("overwrite").save() }
      catch { case e: Throwable => System.err.println(s"[bench] warmup $name failed: ${e.getMessage}") }
    }
    // One serialized timed pass over every selected query.
    type Row = (String, Double, Map[String, Long], Option[String])
    def timedPass(pass: Int): Seq[Row] =
      selected.map { case (name, fn) =>
        // Self-contained timing: no cached relation (several queries
        // .cache() by convention — customer_rfm base, components labels,
        // pagerank ranks) may carry storage or GC pressure into the next
        // measurement. clearCache sits OUTSIDE the timed window.
        ensureLive()
        spark.catalog.clearCache()
        // A failed query must be LOUD in the artifact: round 9 had nine
        // analysis failures run as ~0.05 s no-ops, which IMPROVED the
        // headline total while silently dropping ~6 s of real work.
        val obs.Span(err, dt, tm) = obs.span(name) {
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            Some(Option(e.getMessage).getOrElse(e.getClass.getName)
              .linesIterator.take(2).mkString(" ").take(300))
          }
        }(spark)
        System.err.println(f"[bench p$pass] $name%-28s $dt%8.2f s  cpu=${tm.getOrElse("cpu_ms", 0L) / 1000.0}%7.1f s" +
          f"  shuf=${tm.getOrElse("shuffle_write_b", 0L) / 1048576.0}%8.1f MiB" +
          f"  spill=${tm.getOrElse("spill_disk_b", 0L) / 1048576.0}%6.1f MiB" +
          err.map(m => s"  ERROR: $m").getOrElse(""))
        (name, dt, tm, err)
      }
    // Best-of-2: the r12 official pass carried a ~30 s external CPU-
    // starvation window (queries #20–24 inflated 4–23× wall with task
    // counts IDENTICAL to archived passes and ann_recall_eval at wall
    // 3.9× / cpu 1.04× — pure core starvation, not code; see BENCHNOTES
    // r13 adjudication). A fixed plan's steady-state cost is the
    // per-query MIN across serialized passes: transient contention can
    // only ever ADD time, never subtract it. Both raw passes are
    // persisted in target/bench.json (queries_p1/p2) so the headline
    // number stays auditable against its inputs.
    // Pass count knob for the SCALE-SWEEP harness only (pass/fail
    // memory-ceiling runs don't need best-of-2 and the second pass
    // doubles a multi-hour 1 GiB sweep): official rounds never set it
    // — the driver runs the default, which stays 2.
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    val pass1 = timedPass(1)
    val pass2 = if (nPasses > 1) timedPass(2) else pass1
    val results = pass1.zip(pass2).map { case (r1 @ (n1, d1, _, e1), r2 @ (_, d2, _, e2)) =>
      // prefer a successful pass; among successes, the faster one
      (e1, e2) match {
        case (Some(_), None) => r2
        case (None, Some(_)) => r1
        case _               => if (d1 <= d2) r1 else r2
      }
    }
    // Single-pass mode emits ONLY queries_p1 — duplicating pass 1 into
    // a fabricated queries_p2 would show a reader two "passes" that
    // never both ran (ADVICE r14); the "timing" marker names the mode.
    val passes = Seq(1 -> pass1) ++ (if (nPasses > 1) Seq(2 -> pass2) else Nil)
    def seconds(p: Seq[Row], round: Double => Double = identity) =
      VectorMap.from(p.map { case (k, v, _, _) => k -> round(v) })
    def errors(p: Seq[Row]) = VectorMap.from(p.collect { case (k, _, _, Some(m)) => k -> m })
    val failed = errors(results)
    val total = results.map(_._2).sum
    // "timing" marks the methodology IN the artifact (ADVICE r13):
    // cross-round readers must not attribute the best-of-2 vs
    // single-pass delta to code.
    val timing = if (nPasses > 1) "min_of_2" else "single_pass"
    // Stdout carries the ONE contract JSON line INCLUDING the
    // per-query seconds map (VERDICT r21 #2: PERF_r20/r21 both landed
    // `per_query: {}` because the compact line carried no "queries"
    // field, so the driver could not attribute per-query regressions).
    // Per-query values are rounded to 0.1 ms to keep the line compact
    // (~6 KB); full-precision seconds per pass plus task metrics and
    // errors are persisted to target/bench.json (`detail` points at
    // it) and archived as BENCH_detail_rN.json at round close. Because
    // historical rounds saw a ~2 KB tail-capture window cut an
    // embedded map mid-JSON (BENCH_r06..r16 `parsed: null`; r16's map
    // truncated at 55 keys), a compact summary WITHOUT the map is
    // also printed to stderr right before — any tail window that
    // clips the full line still contains one complete parseable
    // summary object.
    try {
      val out = java.nio.file.Paths.get("target", "bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      val full = obs.json(Seq("metric" -> "total", "value" -> total, "unit" -> "sec",
        "timing" -> timing, "queries" -> seconds(results)) ++
        passes.map { case (i, p) => s"queries_p$i" -> seconds(p) } ++
        passes.map { case (i, p) => s"errors_p$i" -> errors(p) } ++
        Seq("task_metrics" -> VectorMap.from(results.map { case (k, _, tm, _) => k -> TreeMap.from(tm) }),
          "n_failed" -> failed.size, "errors" -> failed, "sf" -> sfDir): _*)
      java.nio.file.Files.write(out, (full + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] file write failed: ${e.getMessage}") }
    // errors ride along only while they fit a ~3.5 KB tail window
    // beside the rest of the line; a mass-failure round points at the
    // detail file instead of truncating mid-JSON
    val head = Seq("metric" -> "total", "value" -> total, "unit" -> "sec", "timing" -> timing,
      "n_queries" -> results.size, "n_failed" -> failed.size,
      "errors" -> (if (failed.size <= 3) failed else "see detail"))
    val tail = Seq("detail" -> "target/bench.json", "sf" -> sfDir)
    System.err.println(obs.json(head ++ tail: _*))
    // 0.1 ms-rounded per-query seconds for the contract line (additions
    // only: every registry name stays; target/bench.json keeps full
    // precision)
    println(obs.json(head ++ Seq("queries" -> seconds(results, v => math.rint(v * 10000) / 10000)) ++ tail: _*))
    spark.stop()
  }
}
