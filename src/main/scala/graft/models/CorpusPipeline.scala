package graft.models

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.engine.{Catalog, DagRunner, Materialization, Model, NotNull, ParquetCatalog, RunResult, TableSink, Unique, Windows}
import graft.engine.Functions.roundPortable
import graft.ext.{Clusters, Dedup, Pipelines, TextAnalysis}

/** The corpus-curation pipeline as ONE materialized DAG — the full
  * training-data story, fusing the clean/decontaminate/cap/pack chain
  * with the near-dup funnel (previously the sibling [[DedupFunnel]]
  * shape, which still demonstrates the funnel standalone over raw
  * documents):
  *
  * {{{
  *   documents ─> corpus_cleaned ─> corpus_postings ─> corpus_pairs
  *                      │                 │                 v
  *                      │                 │          corpus_labels ─> corpus_keep_list
  *                      │                 │                                 v
  *                      └────────────────────────────────────────────> corpus_neardup
  *                                        │                                 v
  *                                        └──────────────────> corpus_decontaminated
  *     ─> corpus_resampled ─> corpus_capped ─> corpus_budget ─> corpus_packed
  * }}}
  *
  * Stage semantics reuse the SAME shared building blocks as the
  * registry queries — `TextAnalysis.qualityCols` for the gate,
  * `Dedup.shinglePostsDf`/`jaccardPairsFrom` for shingles and the pair
  * join, `Clusters.connectedComponents`/`keepBest` for the funnel, the
  * `Pipelines.DomainCap`/`PackBudget` constants — so the pipeline
  * cannot silently fork from the published per-stage metrics.
  *
  * Why materialize every stage: each Table write is the checkpoint the
  * next stage scans — tokenization runs ONCE (`corpus_cleaned` scores,
  * `corpus_postings` shingles) and BOTH pair generation and
  * decontamination read the postings checkpoint instead of
  * re-shingling; pair verification runs once and both the labels and
  * every downstream consumer read kilobyte-scale parquet. A failed
  * stage test (duplicate doc, missing label, leaked benchmark doc)
  * gates the descendants instead of shipping a corrupt training set.
  * At 100 TB each stage is one bounded pass: clean is a scan + one
  * partial-aggregated keep-first (min_by per content hash),
  * postings one shingle pass, pairs one `Dedup.jaccardPairsFrom` call
  * (a posting-list equi-join, or its prefix filter when the postings
  * probe df-skewed), labels
  * vertex-set-only propagation, keep/near-dup one argmax aggregate + semi-join,
  * decontaminate broadcasts the benchmark shingles, resample trains
  * the bigram LM on the surviving checkpoint and gates on per-lang
  * perplexity thirds (the one post-clean stage that re-reads text,
  * by design), cap a bounded top-K heap aggregate per lang, budget the
  * two-level waterline (bin aggregate + per-bin running sum — never a
  * global ordered window), pack the two-level per-lang offset sum —
  * no stage windows over a degeneracy-prone key (`text_hash` and
  * `lang` both fan wide at web scale; see Windows.topKPerGroup /
  * groupedPrefixSum scaladocs).
  */
object CorpusPipeline {

  /** Quality gate threshold shared with `Pipelines.cleanCorpus`. */
  val QualityMin = 0.5

  /** Columns of the cleaned corpus; the delta variant must emit the
    * same set for the upsert union.
    */
  private val CleanedCols =
    Seq("doc_id", "lang", "source", "text", "n_tokens", "quality")

  /** Clean + score + exact-dedup a documents relation (per-doc work +
    * one content-hash window). `text_hash` is retained so the
    * incremental path can drop batch docs whose content already exists
    * in the standing corpus; [[cleaned]] drops it at the end.
    */
  private def cleanBody(docs: DataFrame): DataFrame = {
    val qc = TextAnalysis.qualityCols(col("text"))
    // gate on the RAW score (same predicate as the registry
    // cleanCorpus query — the 6dp-rounded `quality` is for
    // output/ranking only, so the DAG cannot fork from the
    // published metrics on a score inside the rounding epsilon)
    val scored = docs
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        qc.nTokens.cast("long").as("n_tokens"),
        qc.score.as("quality_raw"),
        roundPortable(qc.score, 6).as("quality"),
        qc.stopRatio.as("stop_ratio"),
        md5(encode(col("text"), "UTF-8")).as("text_hash"))
      .filter(col("quality_raw") >= QualityMin && col("stop_ratio") > 0)
    // exact dedup: keep the smallest doc_id per content hash — as ONE
    // partial-aggregated min_by, not a window. The hottest content
    // hash in a web corpus (empty page, boilerplate) repeats 10⁸
    // times; a `row_number over text_hash` window serializes that
    // whole posting into one sorted task, while min_by map-side
    // combines to ≤1 surviving row per (hash, task) before the
    // shuffle (same family as the registry `dedup_exact` at
    // ext/Dedup.scala and the r17 spanFlagged conversion; doc_id is
    // unique, so the argmin is tie-free and order-independent).
    scored.groupBy("text_hash")
      .agg(min_by(struct(CleanedCols.map(col): _*), col("doc_id")).as("__w"))
      .select(col("text_hash") +: CleanedCols.map(c => col(s"__w.$c").as(c)): _*)
  }

  val cleaned: Model =
    Model("corpus_cleaned", Seq("documents"), Materialization.Table,
      tests = Seq(Unique("doc_id"), NotNull("lang"))) { in =>
      cleanBody(in("documents")).select(CleanedCols.map(col): _*)
    }

  val postings: Model =
    Model("corpus_postings", Seq("corpus_cleaned"), Materialization.Table,
      tests = Seq(NotNull("hs"))) { in =>
      Dedup.shinglePostsDf(in("corpus_cleaned"))
    }

  val pairs: Model =
    Model("corpus_pairs", Seq("corpus_postings"), Materialization.Table,
      tests = Seq(NotNull("doc_a"), NotNull("doc_b"))) { in =>
      // the measured route (VERDICT r20 #1): the probe is one
      // column-pruned scan of the postings CHECKPOINT; a flat-df corpus
      // keeps the direct posting join, a boilerplate-heavy one (the
      // 100 TB web-corpus case — the r20 100× legs priced the direct
      // join at 428–473 s / 65–74 GB spill there) takes ascending-df
      // prefix filtering. Both exact, identical rows — the gate moves
      // cost, never output.
      Dedup.jaccardPairsFrom(in("corpus_postings"))
    }

  val labels: Model =
    Model("corpus_labels", Seq("corpus_cleaned", "corpus_pairs"), Materialization.Table,
      tests = Seq(Unique("doc_id"), NotNull("cluster_id"))) { in =>
      Clusters.connectedComponents(
        in("corpus_cleaned").select("doc_id"),
        in("corpus_pairs").select("doc_a", "doc_b"))
    }

  val keepList: Model =
    Model("corpus_keep_list", Seq("corpus_labels", "documents"), Materialization.Table,
      tests = Seq(Unique("cluster_id"), NotNull("kept_doc"))) { in =>
      Clusters.keepBest(in("corpus_labels"), in("documents"))
    }

  val neardup: Model =
    Model("corpus_neardup", Seq("corpus_cleaned", "corpus_keep_list"), Materialization.Table,
      tests = Seq(Unique("doc_id"))) { in =>
      // one row per near-dup cluster survives: keep exactly the
      // cluster representatives (keep list is one row per cluster, so
      // the semi-join drops every non-representative member)
      in("corpus_cleaned").join(
        in("corpus_keep_list").select(col("kept_doc").as("doc_id")),
        Seq("doc_id"), "left_semi")
    }

  val decontaminated: Model =
    Model("corpus_decontaminated",
      Seq("corpus_neardup", "corpus_postings", "documents"), Materialization.Table,
      tests = Seq(Unique("doc_id"))) { in =>
      // benchmark = the harness eval stand-in (same split as the
      // pipeline_decontaminate registry query); its shingles broadcast.
      // Corpus shingles come from the postings CHECKPOINT (semi-joined
      // down to the near-dup survivors), not a re-shingle of the text.
      val bench = Dedup.shinglePostsDf(
        in("documents").filter(col("doc_id") < Pipelines.BenchmarkDocs))
        .select(col("hs"), col("doc_id").as("bench_id"))
      val corpusDocs = in("corpus_neardup")
        .filter(col("doc_id") >= Pipelines.BenchmarkDocs)
      val posts = in("corpus_postings")
        .join(corpusDocs.select("doc_id"), Seq("doc_id"), "left_semi")
      val frac = col("shared").cast(DoubleType) / col("sz")
      val contaminated = posts.join(broadcast(bench), Seq("hs"))
        .groupBy("doc_id", "bench_id", "sz")
        .agg(count(lit(1)).as("shared"))
        .filter(frac >= Pipelines.ContaminationTau)
        .select("doc_id").distinct()
      corpusDocs.join(contaminated, Seq("doc_id"), "left_anti")
    }

  val resampled: Model =
    Model("corpus_resampled", Seq("corpus_decontaminated"), Materialization.Table,
      tests = Seq(Unique("doc_id"))) { in =>
      // the model-scored gate (CCNet shape): train the bigram LM on
      // the decontaminated checkpoint itself, cut per-lang perplexity
      // thirds, keep head / coin-flip middle / drop tail — the same
      // `Pipelines.resampleKept` predicate the registry query
      // publishes. This is the one stage that re-reads `text` after
      // cleaning, BY DESIGN: the LM must train on the corpus that
      // survives decontamination, not on raw ingest.
      Pipelines.resampleKept(in("corpus_decontaminated"))
    }

  val capped: Model =
    Model("corpus_capped", Seq("corpus_resampled"), Materialization.Table,
      tests = Seq(Unique("doc_id"))) { in =>
      // bounded top-K per lang (quality desc, doc_id tiebreak) — the
      // partial-aggregated Windows.topKPerGroup, not a per-lang rank
      // window: at 100 TB the `en` partition is most of the corpus in
      // ONE sorted task under the window form, while the heap
      // aggregate ships ≤ DomainCap rows per (lang, task). The kept
      // id set is identical to `row_number() <= DomainCap` under
      // topKPerGroup's HARD no-NaN/no-null score contract (see its
      // scaladoc: the heap drops NaN where the window ranks it first)
      // — satisfied here BY CONSTRUCTION: `quality` is the 6dp
      // rounding of a score that passed `quality_raw >= QualityMin`
      // in cleanBody (NaN fails every comparison), so no NaN or null
      // reaches the heap. Ties break toward the smaller doc_id; the
      // ≤ DomainCap·|langs|-row keep list broadcasts back as a
      // semi-join on the unique doc_id.
      val kept = Windows.topKPerGroup(in("corpus_resampled"), Seq("lang"),
        col("quality"), col("doc_id"), Pipelines.DomainCap, idCol = "doc_id")
      in("corpus_resampled")
        .join(broadcast(kept.select("doc_id")), Seq("doc_id"), "left_semi")
    }

  val budgeted: Model =
    Model("corpus_budget", Seq("corpus_capped"), Materialization.Table,
      tests = Seq(Unique("doc_id"))) { in =>
      // the final cut: spend Pipelines.CorpusBudget tokens on the
      // best-quality survivors via the shared waterline building block
      // (`pipeline_token_budget`'s core). Binning here quantizes the
      // 6dp-rounded `quality` column the checkpoint carries (raw score
      // would mean re-tokenizing text downstream — the one thing this
      // DAG never does); bin width 1e-3 dwarfs the 1e-6 rounding, and
      // within-bin order is doc_id, so the rounding cannot reorder the
      // waterline, only relabel a score sitting exactly on a bin edge.
      val base = in("corpus_capped").select(col("doc_id"), col("n_tokens"),
        floor(col("quality") * Pipelines.BudgetBins).cast("long").as("qbin"))
      in("corpus_capped").join(
        Pipelines.budgetWaterline(base, Pipelines.CorpusBudget)
          .filter(col("selected")).select("doc_id"),
        Seq("doc_id"), "left_semi")
    }

  val packed: Model =
    Model("corpus_packed", Seq("corpus_budget"), Materialization.Table,
      tests = Seq(NotNull("pack_id"))) { in =>
      // per-lang running token sum via the two-level offset algebra
      // (Windows.groupedPrefixSum) — value-identical to
      // `sum OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED
      // PRECEDING)` but a degenerate lang is range-split across
      // partitions instead of serializing into one sorted task
      Windows.groupedPrefixSum(
        in("corpus_budget").select(col("doc_id"), col("lang"), col("n_tokens")),
        Seq("lang"), Seq(col("doc_id")), col("n_tokens"), "cum")
        .withColumn("pack_id", expr(s"(cum - n_tokens) div ${Pipelines.PackBudget}"))
        .select("doc_id", "lang", "n_tokens", "pack_id")
    }

  val all: Seq[Model] = Seq(cleaned, postings, pairs, labels, keepList,
    neardup, decontaminated, resampled, capped, budgeted, packed)

  // ------------------------------------------------------------------
  // Incremental refresh — the daily-ingest shape. The three
  // TEXT-BEARING stages (clean/score, shingle, pair-gen) are replaced
  // by batch-delta variants; paired with a [[TableSink.ParquetUpsert]]
  // keyed by [[incrementalKeys]], each delta merges onto the standing
  // table and every downstream stage recomputes from the merged
  // checkpoints (cheap: they shuffle ids and metadata, never text).
  //
  // Only the batch shuffles: the clean delta scans batch documents
  // only; the postings delta shingles the batch's new docs only; the
  // pair delta is `jaccardPairsFrom(postings, Some(batchFrom))`, whose
  // direct route BROADCASTS the batch postings so the standing posting
  // list streams map-side off its parquet scan (a df-skewed standing
  // corpus takes the batch-restricted prefix route instead; both emit
  // the same delta edges). Labels then re-run
  // global propagation over the merged edge set — which is what makes
  // the refresh EXACT: a batch doc that bridges two standing clusters
  // merges them, same as a full rebuild (`EngineSpec` pins
  // row-identity of every table against a from-scratch run).
  //
  // Exactness preconditions, asserted in [[incremental]]: batch
  // doc_ids strictly greater than every standing doc_id (append-only
  // ingest — gives keep-smallest exact-dedup and the `doc_a < doc_b`
  // delta-edge completeness), and `batchFrom > Pipelines.BenchmarkDocs`
  // so the benchmark stand-in is stable across refreshes.
  // ------------------------------------------------------------------

  /** Upsert keys for the standing tables; stages absent here fully
    * recompute (and overwrite) from the merged checkpoints.
    */
  val incrementalKeys: Map[String, Seq[String]] = Map(
    "corpus_cleaned" -> Seq("doc_id"),
    "corpus_postings" -> Seq("doc_id"),
    "corpus_pairs" -> Seq("doc_a", "doc_b"))

  /** Catalog name for the pre-refresh cleaned table (the standing
    * corpus the clean delta anti-joins for cross-batch exact dedup).
    */
  val BaseCleaned = "corpus_cleaned__base"

  /** The DAG with batch-delta variants of the text-bearing stages:
    * docs with `doc_id >= batchFrom` are the new ingest.
    */
  def incremental(batchFrom: Long): Seq[Model] = {
    require(batchFrom > Pipelines.BenchmarkDocs,
      s"batchFrom=$batchFrom would move the benchmark stand-in (doc_id < ${Pipelines.BenchmarkDocs})")

    val cleanedDelta =
      Model("corpus_cleaned", Seq("documents", BaseCleaned), Materialization.Table,
        tests = Seq(Unique("doc_id"), NotNull("lang"))) { in =>
        // clean the batch alone, then drop batch docs whose content
        // already exists in the standing corpus — with batch ids above
        // all standing ids, the merged table equals a global
        // keep-smallest exact dedup
        cleanBody(in("documents").filter(col("doc_id") >= batchFrom))
          .join(in(BaseCleaned).select(md5(encode(col("text"), "UTF-8")).as("text_hash")),
            Seq("text_hash"), "left_anti")
          .select(CleanedCols.map(col): _*)
      }

    val postingsDelta =
      Model("corpus_postings", Seq("corpus_cleaned"), Materialization.Table,
        tests = Seq(NotNull("hs"))) { in =>
        // in("corpus_cleaned") is POST-merge; the batch's survivors are
        // exactly its rows at or above the threshold
        Dedup.shinglePostsDf(in("corpus_cleaned").filter(col("doc_id") >= batchFrom))
      }

    val pairsDelta =
      Model("corpus_pairs", Seq("corpus_postings"), Materialization.Table,
        tests = Seq(NotNull("doc_a"), NotNull("doc_b"))) { in =>
        // the measured route over the batch (VERDICT r21 #3): the
        // direct route broadcasts the BATCH postings, but a hot standing
        // shingle with df = c still fans out c candidate rows per batch
        // posting — Σ(df_all·df_batch) is unbounded in corpus skew. The
        // probe (one column-pruned scan of the post-merge postings
        // checkpoint) measures exactly that mass and keeps the
        // in-contract broadcast shape on flat corpora; a skewed
        // standing corpus takes the batch-restricted prefix route. Both
        // exact and row-identical.
        Dedup.jaccardPairsFrom(in("corpus_postings"), Some(batchFrom))
      }

    Seq(cleanedDelta, postingsDelta, pairsDelta, labels, keepList,
      neardup, decontaminated, resampled, capped, budgeted, packed)
  }

  def run(spark: SparkSession, dir: String,
          sink: TableSink = new TableSink.Cached): RunResult =
    run(new ParquetCatalog(spark, dir), sink)

  def run(catalog: Catalog, sink: TableSink): RunResult =
    new DagRunner(catalog, sink).run(all)
}
