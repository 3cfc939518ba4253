package graft.models

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.{Catalog, DagRunner, Materialization, Model, NotNull, ParquetCatalog, RunResult, TableSink, Unique}
import graft.ext.{KMeans, Similarity}

/** The ANN index BUILD as a materialized DAG — the production
  * lifecycle of the registry's IVF+PQ search
  * (`ann_ivfpq_topk`, whose standalone form re-trains per query by
  * the driver contract; `PLANS.md` documents that cost). A real
  * vector-search deployment trains and encodes ONCE per corpus
  * version and every query after that reads the index tables:
  *
  * {{{
  *   embeddings ──> ann_centroids (Table) ──> ann_cells (Table) ──────┐
  *   embeddings ──> ann_pq_codebook (Table) ──> ann_pq_codes (Table) ─┼─> ann_index_report (View)
  *                         (cells ⋈ encode: cell-major, by-cluster)   │
  *                  search reads centroids + codebook + codes ────────┘
  * }}}
  *
  * Why this shape at 100 TB: the codes table IS the stored index —
  * PqBlocks 4-bit-ish codes per vector, ~64× smaller than the float
  * corpus — and cells/codebook/centroids are broadcast-sized. Codes
  * are stored CELL-MAJOR (cluster stamped at build, directory
  * partitioned by cluster under [[cellMajorSink]]), so search cost is
  * a probe join that DYNAMICALLY PRUNES to the probed cells'
  * directories + LUT-sum — and the assignment table drops out of the
  * query path entirely. Model tests gate the build the dbt way:
  * duplicate cell assignments or a hole in the codebook skip the
  * downstream emit instead of shipping a corrupt index.
  *
  * EngineSpec pins the contract that matters: [[search]] over the
  * MATERIALIZED tables returns row-for-row the registry query's
  * result — materialization must never change answers.
  */
object AnnIndexPipeline {

  val centroids: Model =
    Model("ann_centroids", Seq("embeddings"), Materialization.Table,
      tests = Seq(Unique("cluster"), NotNull("centroid"))) { in =>
      KMeans.trained(in("embeddings"))
    }

  val cells: Model =
    Model("ann_cells", Seq("embeddings", "ann_centroids"), Materialization.Table,
      tests = Seq(Unique("vec_id"), NotNull("cluster"))) { in =>
      KMeans.assign(in("embeddings"), in("ann_centroids"))
        .select("vec_id", "cluster")
    }

  val codebook: Model =
    Model("ann_pq_codebook", Seq("embeddings"), Materialization.Table,
      tests = Seq(NotNull("cv"))) { in =>
      Similarity.pqTrainCodebook(in("embeddings"))
    }

  /** CELL-MAJOR codes: the PQ encode joined (on vec_id, the key both
    * tables are unique on) with the cell assignment, so every code row
    * carries its IVF cluster. This is what lets the index store codes
    * partitioned BY CELL — search then probe-joins codes directly
    * (dynamic partition pruning reads only probed cells) and never
    * scans the assignment table at query time. The join happens once
    * at build; the assignment side reads the MATERIALIZED ann_cells
    * (bucketed by vec_id under [[cellMajorSink]], so its scan arrives
    * pre-partitioned for the join).
    */
  val codes: Model =
    Model("ann_pq_codes", Seq("embeddings", "ann_pq_codebook", "ann_cells"),
      Materialization.Table,
      tests = Seq(NotNull("code"), NotNull("cluster"))) { in =>
      Similarity.pqEncodeCodes(in("embeddings"), in("ann_pq_codebook"))
        .join(in("ann_cells").select("vec_id", "cluster"), Seq("vec_id"))
        .select("vec_id", "cluster", "blk", "code")
    }

  /** Index health: cell-size balance and code-usage coverage — the
    * monitoring view an index rebuild job watches (an empty cell or a
    * dead codeword signals training drift before recall decays).
    */
  val report: Model =
    Model("ann_index_report",
      Seq("ann_centroids", "ann_cells", "ann_pq_codebook", "ann_pq_codes"),
      Materialization.View) { in =>
      val cellSizes = in("ann_cells").groupBy("cluster")
        .agg(count(lit(1)).as("n_vecs"))
      val codeUse = in("ann_pq_codes").groupBy("blk")
        .agg(countDistinct(col("code")).as("codes_used"))
      cellSizes.agg(
        count(lit(1)).as("n_cells"),
        sum(col("n_vecs")).as("n_indexed"),
        min(col("n_vecs")).as("min_cell"),
        max(col("n_vecs")).as("max_cell"))
        .crossJoin(codeUse.agg(
          min(col("codes_used")).as("min_codes_used"),
          max(col("codes_used")).as("max_codes_used")))
    }

  val all: Seq[Model] = Seq(centroids, cells, codebook, codes, report)

  /** The production physical layout (VERDICT r12 ask #3): both index
    * fact tables directory-partitioned by cluster — cell-major, the
    * IVF layout, so a probe's cluster join prunes to the probed
    * cells' directories — and ann_cells additionally bucketed by its
    * unique key vec_id, so the build's codes⋈cells join and any
    * index-maintenance id-join read it pre-partitioned (cluster may
    * not appear in both specs — Spark's rule). Bucket count is
    * harness-sized; size it to the larger table's target partition
    * bytes in production (the class scaladoc's caveat).
    */
  def cellMajorSink(dir: String, catalogPrefix: String = ""): TableSink =
    new TableSink.BucketedParquet(dir,
      buckets = Map("ann_cells" -> (4, Seq("vec_id"))),
      partitions = Map(
        "ann_pq_codes" -> Seq("cluster"),
        "ann_cells" -> Seq("cluster")),
      catalogPrefix = catalogPrefix)

  /** IVF+PQ top-k against the MATERIALIZED index. `embeddings` is the
    * raw corpus (query vectors come from it by the registry's
    * vec_id < NumQueries convention). Search reads centroids,
    * codebook, and the cell-major codes — the assignment table is a
    * build-time input only.
    */
  def search(embeddings: org.apache.spark.sql.DataFrame,
      catalogRead: String => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    Similarity.ivfpqSearchFromIndex(embeddings,
      catalogRead("ann_centroids"),
      catalogRead("ann_pq_codebook"), catalogRead("ann_pq_codes"))

  /** INCREMENTAL refresh: encode a NEW vector batch against the
    * FROZEN materialized index (codebook + centroids stay fixed) and
    * upsert its codes and cell assignments — the production path when
    * vectors arrive continuously: per-batch cost is encode-only
    * (broadcast codebook, no training), and retraining is a scheduled
    * REBUILD that swaps the whole index version. Same-key rows
    * replace (re-ingest of a vector re-encodes it); the staged-swap
    * upsert keeps readers consistent mid-refresh.
    */
  def refresh(spark: SparkSession, warehouse: String,
      batch: org.apache.spark.sql.DataFrame): Unit = {
    val sink = new TableSink.ParquetUpsert(warehouse, Map(
      "ann_cells" -> Seq("vec_id"),
      "ann_pq_codes" -> Seq("vec_id", "blk")))
    val cents = ParquetCatalog.read(spark, s"$warehouse/ann_centroids")
    val cb = ParquetCatalog.read(spark, s"$warehouse/ann_pq_codebook")
    val assigned = KMeans.assign(batch, cents).select("vec_id", "cluster")
    sink.write("ann_cells", assigned)
    // codes are cell-major: stamp the batch's fresh assignments on its
    // codes (batch-sized join; at scale pair the upsert with dynamic
    // partition overwrite so only the touched cells' directories
    // rewrite)
    sink.write("ann_pq_codes",
      Similarity.pqEncodeCodes(batch, cb).join(assigned, Seq("vec_id"))
        .select("vec_id", "cluster", "blk", "code"))
  }

  /** Build the index over a harness data directory. */
  def run(spark: SparkSession, dir: String,
      sink: TableSink = new TableSink.Cached): RunResult =
    run(new ParquetCatalog(spark, dir), sink)

  def run(catalog: Catalog, sink: TableSink): RunResult =
    new DagRunner(catalog, sink).run(all)

  /** The production READ path as a registry row (VERDICT r11 ask #7):
    * build the index DAG into a parquet warehouse, then answer with
    * [[search]] over the MATERIALIZED tables — so the driver
    * hash-checks the whole materialize-then-read lifecycle against
    * the same oracle as the standalone `ann_ivfpq_topk` (search is
    * pinned row-equal by EngineSpec; this makes it driver-verified
    * too), and the official bench prices the lifecycle every round.
    * BENCHNOTES r12 decomposes the cost into build+write vs
    * search-only. A corrupt build (failed model test) must never
    * serve: the gate requires on the DAG's own test results.
    */
  val fromIndex: graft.queries.Inventory.Q = graft.queries.Inventory.Q(
    (s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-annidx-reg")
      // catalog namespace unique to THIS build: the bucketed ann_cells
      // write needs a catalog entry, and an unprefixed one would DROP a
      // session's real `ann_cells` during a registry run (ADVICE r14)
      val pfx = wh.getFileName.toString.toLowerCase.replaceAll("[^a-z0-9]", "_") + "_"
      try {
        val r = run(s, d, cellMajorSink(wh.toString, pfx))
        require(r.allTestsPassed && r.skipped.isEmpty,
          s"index build gated: ${r.tests.filterNot(_.passed).mkString(", ")}")
        val out = search(ParquetCatalog.read(s, s"$d/embeddings.parquet"), r(_))
        // The result is bounded (NumQueries × TopK rows): materialize
        // it eagerly so the temp warehouse can be deleted HERE instead
        // of leaking one directory (and two catalog entries) per run —
        // the caller gets a local relation with the identical schema.
        s.createDataFrame(
          java.util.Arrays.asList(out.collect(): _*), out.schema)
      } finally {
        // only ann_cells gets a catalog entry under cellMajorSink
        // (bucket metadata needs one; the partition-only codes table
        // does not) — drop just the PREFIXED entry this run created,
        // so a session's own ann_* tables survive a registry run
        s.sql(s"DROP TABLE IF EXISTS `${pfx}ann_cells`")
        // temp-dir delete; best-effort by design (stream-closing walk)
        graft.engine.Scratch.deleteTree(wh)
      }
    },
    graft.ext.Similarity.ivfpqTopK.oracle)

  val queries: Seq[(String, graft.queries.Inventory.Q)] =
    Seq("ann_ivfpq_from_index" -> fromIndex)
}
