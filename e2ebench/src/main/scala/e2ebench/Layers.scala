package e2ebench

/** The per-layer metric set every traced run prints, in a fixed order.
  * A layer a workload does not exercise reads 0 there (`sink.*` and
  * `tests.*` on registry_mix, `registry.*` on trends_dag).
  */
object Layers {
  /** Modules registry_mix samples (Clusters and AnnIndexPipeline rows
    * are all slower than its interactive cut-off). */
  val RegistryModules: Seq[String] = Seq("Inventory", "Dedup", "Similarity", "TextAnalysis",
    "Sessions", "Pipelines", "KMeans", "Graph", "AsOf", "Multimodal")

  val all: Seq[String] = Seq(
    "catalog.table_s", "catalog.input_mb", "catalog.input_rows",
    "model.transform_s", "model.construct_jobs",
    "dag.self_s", "dag.waves",
    "tests.s", "tests.actions", "tests.jobs",
    "sink.write_s", "sink.jobs", "sink.written_mb", "sink.rows_written", "sink.write_amp",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s", "catalyst.actions",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.job_active_s", "exec.run_s", "exec.cpu_s",
    "exec.gc_s", "exec.shuffle_write_mb", "exec.spill_mb", "exec.cores_busy",
    "driver.idle_s", "ledger.closure", "ledger.module_closure", "ledger.counts_repeat",
  ) ++ RegistryModules.flatMap(m => Seq(s"registry.$m.s", s"registry.$m.construct_jobs")) ++
    Seq("trace.overhead_build_s", "trace.overhead_query_p50_s")

  def unit(k: String): String =
    if (k.endsWith("_mb")) "MiB"
    else if (k.endsWith("_s") || k.endsWith(".s")) "s"
    else if (k.endsWith("cores_busy")) "cores"
    else if (k.endsWith("write_amp")) "ratio"
    else if (k.endsWith("closure")) "fraction"
    else if (k.endsWith("counts_repeat")) "bool"
    else "count"

  /** The mean of each ledger figure over the traced operations, and
    * whether the job, task and test-job counts repeated exactly.
    */
  def ledger(ls: Seq[Map[String, Double]]): Seq[(String, (Double, String))] = {
    val keys = ls.headOption.map(_.keys.toSeq).getOrElse(Nil).filterNot(_ == "wall_s")
    val repeat = Seq("exec.jobs", "exec.tasks", "tests.jobs").forall(k => ls.map(_(k)).distinct.size <= 1)
    keys.map(k => k -> (Stats.mean(ls.map(_(k))), unit(k))) :+
      ("ledger.counts_repeat" -> ((if (repeat) 1.0 else 0.0), "bool"))
  }

  /** Every metric of [[all]] in order; those not measured, or not
    * measurable in this run (an overhead with no untraced operation),
    * read 0.
    */
  def complete(xs: Seq[(String, (Double, String))]): Seq[(String, (Double, String))] = {
    val m = xs.toMap.filterNot(_._2._1.isNaN)
    all.map(k => k -> m.getOrElse(k, (0.0, unit(k))))
  }
}
