package graft

/** Building a registry row's DataFrame runs no Spark job, except on
  * the rows named here, each with the call that runs them. A row that
  * starts firing jobs while it is built, or an entry whose row stopped
  * firing them, fails the census with the names to add or prune. The
  * census builds every row over sf0.001 and never runs one; each
  * build's jobs are counted by a listener.
  */
class ConstructionJobsSpec extends SparkSpec {

  private val rangedPid =
    "Windows.rangedPid's `.rdd` boundary: AQE runs the range exchange while the plan is finalized"
  private val pairProbe =
    "Dedup.jaccardPairsFrom's Measured route: pairSkewProbe's head() picks the pair route"
  private val components =
    "connected-components fixpoint: a count/head action per round (Clusters.connectedComponents*)"
  private val dagRow =
    "DagRunner.collectTable: runs the whole DAG (writes, data tests) and collects the picked table"

  private val allowed: Map[String, String] = Map(
    "customer_rfm" -> rangedPid,
    "events_concurrency" -> rangedPid,
    "events_gini" -> rangedPid,
    "text_vocab_coverage" -> rangedPid,
    "dedup_sorted_neighborhood" -> rangedPid,
    "dedup_record_linkage" -> rangedPid,
    "pipeline_classifier_eval" -> rangedPid,
    "pipeline_classifier_calibration" -> rangedPid,
    "pipeline_rater_agreement" -> rangedPid,
    "pipeline_quality_classifier" -> rangedPid,
    "pipeline_pack_sequences" -> rangedPid,
    "pipeline_token_budget" -> rangedPid,
    "pipeline_curriculum" -> rangedPid,
    "dedup_jaccard_pairs" -> pairProbe,
    "dedup_minhash_estimate" -> pairProbe,
    "dedup_incremental" -> "Dedup.incremental: the broadcast gate's head() over the batch's sizes",
    "dedup_components" -> components,
    "dedup_components_star" -> components,
    "dedup_keep_best" -> components,
    "dedup_semdedup_keep" -> components,
    "graph_kcore_words" -> "Graph.kcorePeel: localCheckpoint and count() per peeling round",
    "emb_top_eigen" -> "Similarity.topEigenSolve: collects the d×d covariance for the driver-side power steps",
    "emb_project_top" -> "Similarity.topEigenSolve: collects the d×d covariance for the driver-side power steps",
    "dedup_semdedup_auto" -> "KMeans.semdedupAuto: e.count() sizes the formula k",
    "dedup_semdedup_twolevel" -> "KMeans.twoLevelCandidates: cents.collect() builds the coarse level on the driver",
    "dedup_funnel_keep" -> dagRow,
    "dedup_semdedup_funnel_keep" -> dagRow,
    "pipeline_packed_docs" -> dagRow,
    "ann_ivfpq_from_index" ->
      "AnnIndexPipeline.fromIndex: builds the index DAG into a temp warehouse and collects the search")

  test("building a registry row fires no Spark job, except the allow-listed rows") {
    val queries = SparkEntry.queries
    val counts = SparkEntry.registryNames.map { name =>
      val jobs = jobsDuring(queries(name)(spark, sf()))._2
      spark.catalog.clearCache()
      name -> jobs
    }
    val firing = counts.filter(_._2 > 0).toMap
    val unexpected = (firing.keySet -- allowed.keySet).toSeq.sorted.map(n => s"$n (${firing(n)} jobs)")
    val stale = (allowed.keySet -- firing.keySet).toSeq.sorted
    info(s"${firing.size} of ${counts.size} rows fire jobs while built: " +
      firing.toSeq.sortBy(_._1).map { case (n, j) => s"$n=$j" }.mkString(", "))
    assert(unexpected.isEmpty, s"rows that fire jobs while built, not allow-listed: ${unexpected.mkString(", ")}")
    assert(stale.isEmpty, s"allow-listed rows that no longer fire jobs while built (prune): ${stale.mkString(", ")}")
  }
}
