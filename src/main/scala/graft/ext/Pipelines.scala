package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.engine.Functions.{avgExact, roundPortable}
import graft.ext.Dedup.hash60
import graft.ext.TextAnalysis
import graft.queries.Inventory.Q

/** Corpus-preparation operators that COMPOSE the per-document
  * primitives into the shapes a training-data pipeline actually ships:
  * deterministic splits and an end-to-end cleaning funnel.
  *
  * Scale notes: both are single-scan per stage with no driver-side
  * state; split assignment is a pure projection (no shuffle at all),
  * so it composes with any partitioning upstream. Assignments are
  * content-hash-based — stable across runs, cluster sizes, and row
  * order, which is what makes a 100 TB split reproducible.
  */
object Pipelines {

  /** Deterministic stratified train/val/test assignment: bucket =
    * content-hash mod 100 → 80/10/10. Hash-based (not `rand()`)
    * sharding is re-executable under task retries and stable when the
    * corpus is re-partitioned — the property that matters when the
    * split must be reproduced months later.
    */
  val stratifiedSplit: Q = Q(
    (s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val bucket = hash60(col("text")) % 100
      docs
        .select(col("doc_id"), col("lang"), bucket.as("bucket"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"))
        .orderBy("lang", "split")
    },
    Some("""WITH b AS (
           |  SELECT doc_id, lang,
           |    ('0x' || substr(md5(text), 1, 15))::BIGINT % 100 AS bucket
           |  FROM documents
           |)
           |SELECT lang,
           |       CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
           |       count(*) AS n_docs, min(doc_id) AS min_doc_id
           |FROM b GROUP BY 1, 2 ORDER BY lang, split""".stripMargin)
  )

  /** The cleaning funnel: quality-score gate → exact dedup (keep the
    * smallest doc_id per content hash) → stopword-bearing English gate,
    * reporting corpus stats per declared language. One scan, two
    * shuffles (dedup group, final group) — each stage is a projection
    * or aggregation over the previous, so Catalyst fuses the gates
    * into the scan.
    */
  val cleanCorpus: Q = Q(
    (s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val qc = TextAnalysis.qualityCols(col("text"))
      docs
        .select(col("doc_id"), col("lang"), col("text"),
          qc.nTokens.as("n_tokens"), qc.score.as("quality_score"), qc.stopRatio.as("stop_ratio"))
        .filter(col("quality_score") >= 0.5)
        .groupBy(md5(encode(col("text"), "UTF-8")).as("text_hash"))
        .agg(
          min(col("doc_id")).as("doc_id"),
          min_by(col("lang"), col("doc_id")).as("lang"),
          min_by(col("n_tokens"), col("doc_id")).as("n_tokens"),
          min_by(col("stop_ratio"), col("doc_id")).as("stop_ratio"))
        .filter(col("stop_ratio") > 0)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          roundPortable(avgExact(col("n_tokens")), 4).as("avg_tokens"))
        .orderBy("lang")
    },
    Some("""WITH scored AS (
           |  SELECT doc_id, lang, text,
           |    len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
           |    least(CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) / 100.0, 1.0) * 0.5
           |      + (1.0 - CAST(length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
           |      + CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
           |            x -> x IN ('the','of','and','to','in','is','it','a'))) AS DOUBLE)
           |        / len(string_split_regex(lower(trim(text)), '\s+')) * 0.2 AS quality_score,
           |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
           |            x -> x IN ('the','of','and','to','in','is','it','a'))) AS DOUBLE)
           |        / len(string_split_regex(lower(trim(text)), '\s+')) AS stop_ratio
           |  FROM documents
           |), deduped AS (
           |  SELECT md5(text) AS text_hash, min(doc_id) AS doc_id,
           |         arg_min(lang, doc_id) AS lang,
           |         arg_min(n_tokens, doc_id) AS n_tokens,
           |         arg_min(stop_ratio, doc_id) AS stop_ratio
           |  FROM scored WHERE quality_score >= 0.5 GROUP BY 1
           |)
           |SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           |       floor(CAST(sum(CAST(n_tokens AS DECIMAL(18,2))) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS avg_tokens
           |FROM deduped WHERE stop_ratio > 0
           |GROUP BY lang ORDER BY lang""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Benchmark decontamination — flag training documents whose n-gram
  // overlap with a benchmark/eval set is suspicious (the step every
  // serious pretraining pipeline runs so eval questions don't leak
  // into training data). Overlap is |doc ∩ bench| / |doc| over 3-token
  // shingles; the harness "benchmark" is doc_id < 20.
  //
  // Scale notes: the SAME inverted-index shape as the Jaccard join —
  // an equi-join on shingle hash where one side (the benchmark set) is
  // tiny, so at scale it broadcasts and the corpus side streams
  // through map-side with NO shuffle of corpus rows; the per-(doc,
  // bench) overlap count and per-doc max are partial aggregates. Never
  // O(corpus × benchmark) — only docs sharing a shingle meet.
  // ------------------------------------------------------------------
  val BenchmarkDocs = 20
  val ContaminationTau = 0.5

  val decontaminate: Q = Q(
    (s, d) => {
      // hash is an opaque join key here (the oracle intersects string
      // sets). Cached because the shingle subtree feeds THREE branches
      // (bench side, corpus join side, per-doc base) whose pushed-down
      // filters make the subtrees non-identical — without the cache
      // the tokenize+window+collect_set pipeline would execute three
      // times per query
      val posts = Dedup.shinglePosts(s, d).cache()
      val bench = posts.filter(col("doc_id") < BenchmarkDocs)
        .select(col("hs"), col("doc_id").as("bench_id"))
      val corpus = posts.filter(col("doc_id") >= BenchmarkDocs)
      val frac = col("shared").cast(DoubleType) / col("sz")
      val overlap = corpus.join(broadcast(bench), Seq("hs"))
        .groupBy("doc_id", "bench_id", "sz")
        .agg(count(lit(1)).as("shared"))
        .groupBy("doc_id")
        .agg(max(frac).as("mo"))
      corpus.select("doc_id", "sz").distinct()
        .join(overlap, Seq("doc_id"), "left")
        .select(col("doc_id"), col("sz").as("n_shingles"),
          coalesce(roundPortable(col("mo"), 6), lit(0.0)).as("max_overlap"),
          coalesce(col("mo") >= ContaminationTau, lit(false)).as("contaminated"))
        .orderBy("doc_id")
    },
    Some(s"""WITH sh AS (
            |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
            |           i -> array_to_string(toks[i:i+2], ' '))) AS s
            |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents)
            |), bench AS (
            |  SELECT * FROM sh WHERE doc_id < $BenchmarkDocs AND len(s) > 0
            |), corpus AS (
            |  SELECT * FROM sh WHERE doc_id >= $BenchmarkDocs AND len(s) > 0
            |), ov AS (
            |  SELECT c.doc_id,
            |    max(CAST(len(list_intersect(c.s, b.s)) AS DOUBLE) / len(c.s)) AS mo
            |  FROM corpus c JOIN bench b ON len(list_intersect(c.s, b.s)) > 0
            |  GROUP BY 1
            |)
            |SELECT c.doc_id, len(c.s) AS n_shingles,
            |       coalesce(floor(ov.mo * 1000000 + 0.5) / 1000000, 0.0) AS max_overlap,
            |       coalesce(ov.mo >= $ContaminationTau, false) AS contaminated
            |FROM corpus c LEFT JOIN ov ON ov.doc_id = c.doc_id
            |ORDER BY c.doc_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Per-group document cap — "at most K docs per domain, best quality
  // first" (the C4/RefinedWeb-style anti-spam rule; the harness groups
  // by `lang` since it has no domain column). Rank key is the
  // 6-dp-rounded quality score with doc_id tiebreak, so the kept SET
  // is deterministic and cross-engine identical.
  //
  // Scale notes: ONE partial-aggregated shuffle, no window. The former
  // `row_number over lang` form needed every row of a group in one
  // sorted task — at 100 TB the `en` group is most of the corpus in
  // ONE straggler (the r17 straggler family, Legs `skew`). Here the whole published
  // row derives from a single groupBy(lang) carrying count(*) plus the
  // bounded TopKPairs heap (functions/TopKAggregate.scala): each map
  // task reduces its slice to ≤ DomainCap pairs, the shuffle moves
  // K·tasks rows per lang, and n_kept / n_dropped / min_kept_quality
  // are closed forms of the heap (its length and its last — i.e.
  // worst-kept — score; the array sorts (q desc, doc_id asc), exactly
  // the window's order). This query applies NO quality gate (the cap
  // ranks the RAW corpus), and `qualityCols` yields NaN q on empty
  // text (0/0 ratios) — the heap's no-NaN hard contract (ADVICE r18:
  // NaN ranks FIRST under `ORDER BY q DESC` but carries no ranking
  // information and the heap drops it), so NaN rows are filtered
  // EXPLICITLY here and identically in the oracle; the element_at
  // closed form is additionally guarded for an empty heap so a
  // pathological all-NaN lang degrades to a null min, never a crash.
  // ------------------------------------------------------------------
  val DomainCap = 50

  val domainCap: Q = Q(
    (s, d) => {
      // quality scoring (three tokenizations per doc) parallelizes off
      // a narrow scan; no-op on a wide one
      val docs = graft.queries.Inventory.rebalanced(
        s.read.parquet(s"$d/documents.parquet"), "doc_id")
      val qc = TextAnalysis.qualityCols(col("text"))
      val q6 = roundPortable(qc.score, 6)
      docs.select(col("doc_id"), col("lang"), q6.as("q"))
        .filter(!isnan(col("q")) && col("q").isNotNull)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          graft.functions.TopKPairs.topk(col("q"), col("doc_id"), DomainCap).as("__tk"))
        .select(col("lang"), col("n_docs"),
          size(col("__tk")).cast("long").as("n_kept"),
          (col("n_docs") - size(col("__tk"))).cast("long").as("n_dropped"),
          when(size(col("__tk")) > 0,
            element_at(col("__tk"), size(col("__tk"))).getField("score"))
            .as("min_kept_quality"))
        .orderBy("lang")
    },
    Some(s"""WITH scored AS (
            |  SELECT doc_id, lang,
            |    floor((least(CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS DOUBLE) / 100.0, 1.0) * 0.5
            |      + (1.0 - CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
            |      + CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
            |            x -> x IN ('the','of','and','to','in','is','it','a'))) AS DOUBLE)
            |        / len(string_split_regex(lower(trim(text)), '\\s+')) * 0.2) * 1000000 + 0.5) / 1000000 AS q
            |  FROM documents
            |), ranked AS (
            |  SELECT doc_id, lang, q,
            |         row_number() OVER (PARTITION BY lang ORDER BY q DESC, doc_id) AS rnk
            |  FROM scored WHERE q IS NOT NULL AND NOT isnan(q)
            |)
            |SELECT lang, count(*) AS n_docs,
            |       CAST(sum(CASE WHEN rnk <= $DomainCap THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
            |       CAST(sum(CASE WHEN rnk > $DomainCap THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
            |       min(CASE WHEN rnk <= $DomainCap THEN q END) AS min_kept_quality
            |FROM ranked GROUP BY lang ORDER BY lang""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Sequence packing — assign documents to fixed-token-budget packs
  // (the pretraining "sample packing" step that turns ragged documents
  // into dense training rows). Greedy contiguous packing in doc_id
  // order within each lang shard: a document's pack is determined by
  // its STARTING token offset (running sum minus own length), so
  // documents are never split and assignment is a pure window
  // computation — integer arithmetic end to end, exactly replayable.
  //
  // Scale notes: the running sum is Windows.groupedPrefixSum's
  // two-level offset algebra — range-partition on (lang, doc_id)
  // splits a degenerate lang across partitions, per-(partition, lang)
  // totals collapse to a ≤|langs|+partitions row offset table, and the
  // local window only ever sees one partition's slice of a group. The
  // former per-lang window form needed the whole `en` corpus in one
  // sorted task at 100 TB (the r17 straggler family, Legs `skew`).
  // ------------------------------------------------------------------
  val PackBudget = 2048

  val packSequences: Q = Q(
    (s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      graft.engine.Windows.groupedPrefixSum(
        docs.select(col("doc_id"), col("lang"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens")),
        Seq("lang"), Seq(col("doc_id")), col("n_tokens"), "cum")
        .withColumn("pack_id", expr(s"(cum - n_tokens) div $PackBudget"))
        .groupBy("lang", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy("lang", "pack_id")
    },
    Some(s"""WITH t AS (
            |  SELECT doc_id, lang,
            |         CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens
            |  FROM documents
            |), c AS (
            |  SELECT doc_id, lang, n_tokens,
            |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
            |  FROM t
            |)
            |SELECT lang, CAST((cum - n_tokens) // $PackBudget AS BIGINT) AS pack_id, count(*) AS n_docs,
            |       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
            |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
            |FROM c GROUP BY 1, 2 ORDER BY lang, pack_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Multilingual temperature-sampling weights (the multilingual-
  // pretraining alpha rule): upsample low-resource languages by
  // sampling proportional to p^alpha instead of p. Emitted as the
  // UNNORMALIZED per-language weight p^(alpha-1) — the multiplier on a
  // document's natural sampling probability — because the normalizing
  // constant is a cross-language float sum whose accumulation order is
  // partition-dependent. alpha = 0.5 (a published setting) is chosen
  // deliberately: p^(alpha-1) = 1/sqrt(p), and sqrt IS IEEE
  // correctly-rounded where pow() is not — every emitted number stays
  // a deterministic function of exact integer token counts, the same
  // guarantee class as every other oracle recipe here.
  //
  // Scale notes: ONE tokenization scan; the corpus total comes from a
  // global window over the per-language aggregate (a |languages|-row
  // frame), never a second pass over documents.
  // ------------------------------------------------------------------
  val SampleAlpha = 0.5

  val langMix: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = s.read.parquet(s"$d/documents.parquet")
      val perLang = docs
        .select(col("lang"), size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        // global window over the tiny per-lang aggregate — not a second corpus scan
        .withColumn("total_tokens", sum(col("n_tokens")).over(Window.partitionBy()))
      val share = col("n_tokens").cast(DoubleType) / col("total_tokens")
      perLang
        .select(col("lang"), col("n_docs"), col("n_tokens"),
          roundPortable(share, 6).as("token_share"),
          roundPortable(lit(1.0) / sqrt(share), 4).as("sample_weight"))
        .orderBy("lang")
    },
    Some("""WITH per AS (
           |  SELECT lang, count(*) AS n_docs,
           |         CAST(sum(len(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT) AS n_tokens
           |  FROM documents GROUP BY 1
           |), tot AS (
           |  SELECT lang, n_docs, n_tokens, sum(n_tokens) OVER () AS total_tokens FROM per
           |)
           |SELECT lang, n_docs, n_tokens,
           |       floor(CAST(n_tokens AS DOUBLE) / total_tokens * 1000000 + 0.5) / 1000000 AS token_share,
           |       floor(1.0 / sqrt(CAST(n_tokens AS DOUBLE) / total_tokens) * 10000 + 0.5) / 10000 AS sample_weight
           |FROM tot ORDER BY lang""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Blocklist redaction — the scrubbing pass of a curation pipeline
  // (PII patterns, sensitive terms, canary strings): replace every
  // whole-word blocklist hit with a mask token and report per-doc hit
  // counts, so downstream stages consume scrubbed text and an audit
  // table records what was removed where. Pure projection — the regex
  // (codegen'd `regexp_replace`/`regexp_count`, no UDF) fuses into the
  // scan, ZERO shuffle at any corpus size; the blocklist compiles into
  // the pattern once (a long list becomes an Aho-Corasick-style
  // alternation or a broadcast term join — same plan shape).
  // The scrubbed text is emitted as its md5 so the oracle hash-checks
  // the full redacted CONTENT without shipping it twice.
  // ------------------------------------------------------------------
  val BlockPattern = "\\b(customer|supplier)\\b"
  val MaskToken = "[REDACTED]"

  val blocklistScrub: Q = Q(
    (s, d) =>
      s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"),
          regexp_count(col("text"), lit(BlockPattern)).cast("long").as("n_hits"),
          md5(encode(regexp_replace(col("text"), BlockPattern, MaskToken), "UTF-8")).as("clean_hash"))
        .filter(col("n_hits") > 0)
        .orderBy("doc_id"),
    // DuckDB needs the explicit 'g' flag (Spark's regexp_replace is
    // global by default); \b word boundaries behave identically in
    // RE2 and Java regex for this alternation.
    Some(s"""SELECT doc_id,
            |  CAST(len(regexp_extract_all(text, '\\b(customer|supplier)\\b')) AS BIGINT) AS n_hits,
            |  md5(regexp_replace(text, '\\b(customer|supplier)\\b', '$MaskToken', 'g')) AS clean_hash
            |FROM documents
            |WHERE regexp_matches(text, '\\b(customer|supplier)\\b')
            |ORDER BY doc_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Deterministic per-language downsampling — mixture rebalancing:
  // dominant languages are sampled down toward a target mix by a
  // per-group KEEP RATE, decided per document by its content hash
  // (not rand(): retry-safe, re-executable, stable across cluster
  // sizes and row order — the reproducibility contract a 100 TB
  // training mix needs). The sampling decision is a pure projection
  // fused into the scan; only the tiny audit aggregate shuffles.
  // Complements `pipeline_lang_mix` (which WEIGHTS all docs) by
  // physically dropping rows where weighting is not an option.
  // ------------------------------------------------------------------
  /** Keep-percentage per language: the dominant language keeps 25%,
    * the rest 75% (harness mix: en ≈ 44% of docs).
    */
  val SampleRates: Map[String, Int] = Map("en" -> 25).withDefaultValue(75)

  val samplePerLang: Q = Q(
    (s, d) => {
      val rate = when(col("lang") === "en", lit(SampleRates("en")))
        .otherwise(lit(SampleRates("other")))
      val kept = (hash60(col("text")) % 100) < rate
      s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("lang"), kept.cast("long").as("keep"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("keep")).as("n_kept"),
          min(when(col("keep") === 1, col("doc_id"))).as("first_kept"))
        .orderBy("lang")
    },
    Some(s"""WITH b AS (
            |  SELECT doc_id, lang,
            |    CASE WHEN ('0x' || substr(md5(text), 1, 15))::BIGINT % 100 <
            |      (CASE WHEN lang = 'en' THEN ${SampleRates("en")} ELSE ${SampleRates("other")} END)
            |    THEN 1 ELSE 0 END AS keep
            |  FROM documents
            |)
            |SELECT lang, count(*) AS n_docs, CAST(sum(keep) AS BIGINT) AS n_kept,
            |       min(CASE WHEN keep = 1 THEN doc_id END) AS first_kept
            |FROM b GROUP BY 1 ORDER BY lang""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Training-mixture planning — compare the corpus's actual per-lang
  // token distribution against a TARGET mixture (the sampling weights
  // a pretraining run wants), emitting per-lang KL(target‖actual)
  // terms and the epoch multiplier target/actual. `sample_epochs > 1`
  // means that language must be repeated (upsampled) to hit the
  // target; `< 1` means it is downsampled. The KL total (sum of
  // kl_term) is the single scalar "how far is this corpus from my
  // mixture" — derivable from the output, deliberately not a second
  // aggregate. The target lives in ONE Scala constant interpolated
  // into both the Spark CASE and the oracle CASE, so the two engines
  // cannot fork.
  //
  // Scale: one corpus scan → per-lang partial agg (map-side combine
  // collapses each partition to ≤ |langs| rows before the exchange);
  // the global-total window runs over the tiny aggregate, never the
  // corpus. Same profile as `pipeline_lang_mix`.
  // ------------------------------------------------------------------
  val TargetMix: Seq[(String, Double)] =
    Seq("en" -> 0.40, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15)

  val mixtureKl: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = s.read.parquet(s"$d/documents.parquet")
      val perLang = docs
        .select(col("lang"), size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
        .groupBy("lang")
        .agg(sum(col("n_tokens")).as("n_tokens"))
        .withColumn("total_tokens", sum(col("n_tokens")).over(Window.partitionBy()))
      val share = col("n_tokens").cast(DoubleType) / col("total_tokens")
      val target = TargetMix.tail.foldLeft(
        when(col("lang") === TargetMix.head._1, lit(TargetMix.head._2))) {
        case (acc, (l, p)) => acc.when(col("lang") === l, lit(p))
      }.otherwise(lit(0.0))
      perLang
        .select(col("lang"), col("n_tokens"),
          roundPortable(share, 6).as("token_share"),
          target.as("target_share"),
          roundPortable(target * log(target / share), 6).as("kl_term"),
          roundPortable(target / share, 4).as("sample_epochs"))
        .orderBy("lang")
    }, {
      val caseArms = TargetMix
        .map { case (l, p) => s"WHEN lang = '$l' THEN $p" }
        .mkString(" ")
      Some(s"""WITH per AS (
              |  SELECT lang,
              |         CAST(sum(len(string_split_regex(lower(trim(text)), '\\s+'))) AS BIGINT) AS n_tokens
              |  FROM documents GROUP BY 1
              |), tot AS (
              |  SELECT lang, n_tokens,
              |         CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER () AS share,
              |         CASE $caseArms ELSE 0.0 END AS target
              |  FROM per
              |)
              |SELECT lang, n_tokens,
              |       floor(share * 1000000 + 0.5) / 1000000 AS token_share,
              |       target AS target_share,
              |       floor(target * ln(target / share) * 1000000 + 0.5) / 1000000 AS kl_term,
              |       floor(target / share * 10000 + 0.5) / 10000 AS sample_epochs
              |FROM tot ORDER BY lang""".stripMargin)
    }
  )

  // ------------------------------------------------------------------
  // Token-budget selection — "take the best documents until the token
  // budget is spent", the final cut every pretraining data plan makes.
  // A naive global ORDER BY quality + running sum is a single-
  // partition window — the one shape that cannot scale. This is the
  // two-level waterline formulation instead:
  //
  //   1. quantize quality into BudgetBins fixed bins (pure projection);
  //   2. per-bin token totals (tiny agg) + a prefix sum over the ≤
  //      BudgetBins+1 bin rows (the ONLY unpartitioned window, driver-
  //      trivial at any corpus size);
  //   3. per-doc running sum WITHIN its bin via
  //      Windows.groupedPrefixSum's two-level offset algebra, added to
  //      the better-bins total.
  //
  // selected = prior_tokens + n_tokens ≤ TokenBudget: docs in bins
  // above the waterline are all in, the boundary bin fills greedily by
  // doc_id, bins below are all out. Bin width (1/BudgetBins) bounds
  // only the boundary bin's MASS (~0.1% of tokens at 1000 bins), not
  // its TASK size — 0.1% of a 100 TB corpus is ~100 GB, which a
  // `sum over (partition by qbin)` window would sort in ONE task (the
  // r18 VERDICT finding); groupedPrefixSum range-splits a mega-bin
  // across partitions exactly like corpus_packed's per-lang sum
  // (the Legs `skew` leg's `bin_waterline` arm measures the two forms on a
  // planted mega-bin). The gate thresholds the RAW score (the
  // CorpusPipeline lesson) before quantizing, and every arithmetic op
  // is exact IEEE (+,*,/,least), so both engines quantize
  // bit-identically.
  // ------------------------------------------------------------------
  val TokenBudget = 15000L
  val BudgetBins = 1000

  /** Budget for the [[graft.models.CorpusPipeline]] `corpus_budget`
    * stage — smaller than [[TokenBudget]] because the stage runs on
    * the post-clean/dedup/cap corpus, and it must actually bite at
    * harness scale for the stage tests to test anything.
    */
  val CorpusBudget = 8000L

  /** The waterline selection core shared by the `pipeline_token_budget`
    * registry query and the `corpus_budget` DAG stage. `base` must
    * carry (doc_id, n_tokens: long, qbin: long); returns base +
    * (prior_tokens, selected). See [[tokenBudget]] for the shape's
    * scale rationale.
    */
  def budgetWaterline(base: DataFrame, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bins = base.groupBy("qbin").agg(sum("n_tokens").as("bin_tokens"))
      .withColumn("better_tokens",
        coalesce(sum(col("bin_tokens")).over(
          Window.orderBy(col("qbin").desc).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("qbin", "better_tokens")
    // within-bin running sum via the two-level offset algebra — the
    // INCLUSIVE prefix minus own n_tokens is the window form's
    // EXCLUSIVE `ROWS UNBOUNDED PRECEDING AND 1 PRECEDING` exactly
    // (n_tokens is non-null by the callers' projection); a mega-bin
    // range-splits across partitions instead of sorting in one task
    graft.engine.Windows.groupedPrefixSum(base, Seq("qbin"),
      Seq(col("doc_id")), col("n_tokens"), "__cum")
      .join(broadcast(bins), "qbin")
      .withColumn("prior_tokens",
        col("better_tokens") + col("__cum") - col("n_tokens"))
      .withColumn("selected", col("prior_tokens") + col("n_tokens") <= budget)
      .drop("__cum")
  }

  val tokenBudget: Q = Q(
    (s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val qc = TextAnalysis.qualityCols(col("text"))
      val base = docs.select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
        floor(qc.score * BudgetBins).cast("long").as("qbin"))
      budgetWaterline(base, TokenBudget)
        .select("doc_id", "qbin", "n_tokens", "prior_tokens", "selected")
        .orderBy("doc_id")
    },
    Some(s"""WITH t AS (
            |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks,
            |    CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
            |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
            |         x -> x IN ('the','of','and','to','in','is','it','a'))) AS DOUBLE)
            |      / len(string_split_regex(lower(trim(text)), '\\s+')) AS stop_ratio,
            |    least(CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS DOUBLE) / 100.0, 1.0) AS length_score
            |  FROM documents
            |), base AS (
            |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
            |    CAST(floor((length_score * 0.5 + (1.0 - punct_ratio) * 0.3 + stop_ratio * 0.2) * $BudgetBins) AS BIGINT) AS qbin
            |  FROM t
            |), bins AS (
            |  SELECT qbin, CAST(coalesce(sum(bin_tokens) OVER (ORDER BY qbin DESC
            |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS better_tokens
            |  FROM (SELECT qbin, sum(n_tokens) AS bin_tokens FROM base GROUP BY 1)
            |)
            |SELECT b.doc_id, b.qbin, b.n_tokens,
            |  CAST(bins.better_tokens + coalesce(sum(b.n_tokens) OVER (PARTITION BY b.qbin
            |         ORDER BY b.doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prior_tokens,
            |  bins.better_tokens + coalesce(sum(b.n_tokens) OVER (PARTITION BY b.qbin
            |         ORDER BY b.doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + b.n_tokens <= $TokenBudget AS selected
            |FROM base b JOIN bins USING (qbin)
            |ORDER BY b.doc_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Weighted priority sampling (Duffield/Lund/Thorup, "Priority
  // Sampling for Estimation of Arbitrary Subset Sums", JACM'07 —
  // public algorithm): draw a weight-biased sample WITHOUT
  // replacement by giving every doc priority u/w (u uniform from a
  // content hash, w = the doc's weight — here n_chars as the
  // quality/size proxy) and keeping the k smallest. Heavier docs get
  // systematically smaller priorities, so the sample tilts toward
  // them while staying reproducible: u derives from md5(text), NOT
  // rand(), so task retries, speculative execution, and the DuckDB
  // oracle all see the same draw — the same retry-safety argument as
  // the salted-join salt. The data-mix use case: sample a training
  // subcorpus where P(doc) ∝ quality weight, deterministically.
  //
  // Scale shape: one scan computing (hash, priority), then a global
  // top-k = TakeOrderedAndProject — map-side bounded (each task keeps
  // its local k), so the coordinator sees tasks×k rows, never the
  // corpus. u and the u/w division are exact-integer-derived doubles
  // (single IEEE op each), identical in both engines; doc_id breaks
  // (impossible-in-practice) priority ties so the k-row result is
  // deterministic by construction.
  // ------------------------------------------------------------------
  val WeightedSampleK = 50
  private val PriorityMod = 1048576L // 2^20: u stays exactly representable

  val weightedSample: Q = Q(
    (s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      docs
        .select(col("doc_id"), col("lang"), col("n_chars"),
          (hash60(col("text")) % PriorityMod).cast(DoubleType).as("u"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          (col("u") / col("n_chars").cast(DoubleType)).as("priority"))
        .orderBy(col("priority"), col("doc_id"))
        .limit(WeightedSampleK)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          roundPortable(col("priority"), 6).as("priority"))
    },
    Some(s"""WITH p AS (
            |  SELECT doc_id, lang, n_chars,
            |    CAST(('0x' || substr(md5(text), 1, 15))::BIGINT % $PriorityMod AS DOUBLE)
            |      / CAST(n_chars AS DOUBLE) AS priority
            |  FROM documents
            |)
            |SELECT doc_id, lang, n_chars,
            |       floor(priority * 1000000 + 0.5) / 1000000 AS priority
            |FROM p ORDER BY p.priority, doc_id LIMIT $WeightedSampleK""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Dataset card — the per-language summary a corpus release ships
  // (docs, uniqueness, duplication rate, token/char volume), computed
  // in ONE scan via a two-level aggregate: level 1 groups by
  // (lang, text-hash) — collapsing exact duplicates while counting
  // them — and level 2 rolls the hash groups up per language. The
  // same pattern as the salted aggregate (fine partial → coarse
  // merge), here because the interesting metrics live at BOTH grains:
  // uniqueness needs the hash grain, the card needs the language
  // grain, and doing them in sequence means the corpus text is read,
  // hashed and tokenized exactly once. Per-text metrics (token count,
  // n_chars) are constant within a hash group, so `max` carries them
  // upward without a join.
  // ------------------------------------------------------------------
  val datasetCard: Q = Q(
    (s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val l1 = docs
        .groupBy(col("lang"), md5(encode(col("text"), "UTF-8")).as("h"))
        .agg(count(lit(1)).as("n"),
          max(size(TextAnalysis.tokens(col("text")))).cast("long").as("tok"),
          max(col("n_chars")).as("chars"))
      val sumN = sum(col("n"))
      val cnt = count(lit(1))
      l1.groupBy("lang")
        .agg(sumN.as("n_docs"), cnt.as("n_unique_texts"),
          (sumN - cnt).as("dup_docs"),
          roundPortable((sumN.cast(DoubleType) - cnt.cast(DoubleType)) /
            sumN.cast(DoubleType), 6).as("dup_rate"),
          sum(col("n") * col("tok")).as("total_tokens"),
          roundPortable(sum(col("n") * col("tok")).cast(DoubleType) /
            sumN.cast(DoubleType), 2).as("avg_doc_tokens"),
          sum(col("n") * col("chars")).as("total_chars"))
        .orderBy("lang")
    },
    Some("""WITH l1 AS (
           |  SELECT lang, md5(text) AS h, count(*) AS n,
           |         max(len(string_split_regex(lower(trim(text)), '\s+'))) AS tok,
           |         max(n_chars) AS chars
           |  FROM documents GROUP BY 1, 2
           |)
           |SELECT lang,
           |  CAST(sum(n) AS BIGINT) AS n_docs,
           |  count(*) AS n_unique_texts,
           |  CAST(sum(n) - count(*) AS BIGINT) AS dup_docs,
           |  floor((CAST(sum(n) AS DOUBLE) - CAST(count(*) AS DOUBLE))
           |        / CAST(sum(n) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS dup_rate,
           |  CAST(sum(n * tok) AS BIGINT) AS total_tokens,
           |  floor(CAST(sum(n * tok) AS DOUBLE) / CAST(sum(n) AS DOUBLE) * 100 + 0.5) / 100 AS avg_doc_tokens,
           |  CAST(sum(n * chars) AS BIGINT) AS total_chars
           |FROM l1 GROUP BY 1 ORDER BY lang""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Document chunking — fixed-size overlapping token windows (64-token
  // chunks, stride 48 → 16-token overlap), the context-window prep
  // step every RAG index and long-document training pipeline runs.
  // Per-row: tokenize once, explode the chunk-start grid
  // (`sequence(0, n−1, stride)` — bounded fan-out ⌈n/stride⌉), slice.
  // No shuffle at all: chunking composes with whatever partitioning
  // the corpus already has, and output order within a doc is the
  // deterministic chunk index. At 100 TB this is a pure map stage
  // whose output row count is ~n_tokens/stride per doc — the explode
  // factor is bounded by design, never quadratic.
  // ------------------------------------------------------------------
  val ChunkTokens = 64
  val ChunkStride = 48

  val chunkDocuments: Q = Q(
    (s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      docs
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)), lit(ChunkStride)))
            .as("start"))
        .select(
          col("doc_id"),
          expr(s"start div $ChunkStride").cast("long").as("chunk_id"),
          size(slice(col("toks"), col("start") + 1, lit(ChunkTokens))).cast("long")
            .as("n_chunk_tokens"),
          concat_ws(" ", slice(col("toks"), col("start") + 1, lit(ChunkTokens)))
            .as("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    },
    Some(s"""WITH d AS (
            |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents
            |), st AS (
            |  SELECT doc_id, toks,
            |         unnest(generate_series(0, len(toks) - 1, $ChunkStride)) AS start
            |  FROM d
            |)
            |SELECT doc_id, start // $ChunkStride AS chunk_id,
            |       len(toks[start + 1 : start + $ChunkTokens]) AS n_chunk_tokens,
            |       array_to_string(toks[start + 1 : start + $ChunkTokens], ' ') AS chunk_text
            |FROM st ORDER BY doc_id, chunk_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // PII scan + redaction — the compliance pass every training-corpus
  // pipeline runs before release: detect emails / phone numbers /
  // IPv4 literals, count them per document, and emit the redacted
  // text (here as its md5, keeping result rows hash-comparable).
  // Pure map stage — regex extraction and replacement are codegen'd
  // expressions whose patterns compile once per operator, so at
  // 100 TB this composes with the existing corpus partitioning and
  // shuffles nothing; the scan cost IS the regex cost, which is why
  // the patterns are anchored character-class forms (no backtracking
  // blowup on adversarial inputs).
  //
  // The fixture corpus contains no PII by construction, so the query
  // PLANTS a deterministic contact line on the doc_id % 7 == 0 subset
  // first — both engines replay the identical construction, making
  // detection and redaction genuinely exercised (nonzero counts, a
  // changed hash) while remaining an exact-oracle query. The regex
  // subset used (character classes, bounded repetition, \b) means the
  // same pattern string parses identically under Java regex (Spark)
  // and RE2 (DuckDB).
  // ------------------------------------------------------------------
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\b555-[0-9]{4}\\b"
  private val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  val piiScrub: Q = Q(
    (s, d) => {
      val planted = when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com ph 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" host 10.0."), (col("doc_id") % 256).cast("string"), lit(".1")))
        .otherwise(col("text"))
      val redacted =
        regexp_replace(
          regexp_replace(
            regexp_replace(col("t2"), EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>"),
          Ipv4Re, "<IP>")
      s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), planted.as("t2"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("t2"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
          size(regexp_extract_all(col("t2"), lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
          size(regexp_extract_all(col("t2"), lit(Ipv4Re), lit(0))).cast("long").as("n_ips"),
          md5(redacted).as("redacted_md5"))
        .withColumn("has_pii", (col("n_emails") + col("n_phones") + col("n_ips")) > 0)
        .orderBy("doc_id")
    },
    Some(s"""WITH p AS (
            |  SELECT doc_id,
            |    CASE WHEN doc_id % 7 = 0 THEN
            |      text || ' contact user' || doc_id || '@example.com ph 555-' ||
            |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
            |      ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
            |    ELSE text END AS t2
            |  FROM documents
            |), c AS (
            |  SELECT doc_id,
            |    CAST(len(regexp_extract_all(t2, '$EmailRe')) AS BIGINT) AS n_emails,
            |    CAST(len(regexp_extract_all(t2, '$PhoneRe')) AS BIGINT) AS n_phones,
            |    CAST(len(regexp_extract_all(t2, '$Ipv4Re')) AS BIGINT) AS n_ips,
            |    md5(regexp_replace(regexp_replace(regexp_replace(t2,
            |      '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g'),
            |      '$Ipv4Re', '<IP>', 'g')) AS redacted_md5
            |  FROM p
            |)
            |SELECT doc_id, n_emails, n_phones, n_ips, redacted_md5,
            |       (n_emails + n_phones + n_ips) > 0 AS has_pii
            |FROM c ORDER BY doc_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Perplexity-bucketed importance resampling — the CCNet recipe: score
  // every document with the corpus-trained bigram LM
  // (`TextAnalysis.perDocNll`), cut each language at its own 1/3 and
  // 2/3 perplexity quantiles into head/middle/tail, then keep head,
  // keep middle with probability 1/2, drop tail. The draw is the
  // weighted-sample recipe — content-hash mod 2²⁰ compared to an
  // integer cut, never rand() — so retries, re-partitioning, and the
  // DuckDB oracle all see the same decisions. Both the per-doc
  // perplexity and the per-lang thresholds are rounded to the same
  // 4dp grid BEFORE the bucket comparison, so the boundary cases are
  // decided on identical values in both engines.
  //
  // Scale shape: the LM scoring is the perplexity query's profile
  // (two count aggregates + observed-bigram joins); per-doc scores
  // join back to the table on doc_id (one shuffle each side at
  // corpus scale); the thresholds are |langs| rows computed by an
  // exact per-group percentile and broadcast back. Docs with fewer
  // than two tokens carry no bigram signal and would drop out of the
  // inner score join — a production run left-joins them into "head"
  // (keep: no evidence against) — but the fixture's min doc length
  // is 10 tokens, so the inner join is lossless here and the oracle
  // exercises the same shape.
  // ------------------------------------------------------------------
  private[graft] val MiddleKeepCut = 524288L // of 2^20: P(keep middle) = 1/2

  /** Per-doc 4dp perplexity joined onto `docs`, plus the per-lang
    * 1/3- and 2/3-quantile cuts — the shared substrate of the
    * registry query (reports every decision) and [[resampleKept]]
    * (the DAG stage that applies it).
    */
  private def pplScored(docs: DataFrame): (DataFrame, DataFrame) = {
    val ppl = TextAnalysis.perDocNllOf(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), roundPortable(exp(col("avg_nll_raw")), 4).as("perplexity"))
    val scored = docs.join(ppl, Seq("doc_id"))
    val th = scored.groupBy("lang").agg(
      roundPortable(percentile(col("perplexity"), lit(1.0 / 3)), 4).as("p33"),
      roundPortable(percentile(col("perplexity"), lit(2.0 / 3)), 4).as("p66"))
    (scored, th)
  }

  /** The head/middle/tail gate as a relation transform: the KEPT
    * subset of `docs` (columns preserved), with the LM trained on
    * `docs` itself. Keep head, keep middle on the content-hash coin,
    * drop tail — same predicate as `pipeline_quality_resample`'s
    * `kept` column by construction.
    */
  def resampleKept(docs: DataFrame): DataFrame = {
    val (scored, th) = pplScored(docs)
    scored.join(broadcast(th), Seq("lang"))
      .filter(col("perplexity") <= col("p33") ||
        (col("perplexity") <= col("p66") &&
          hash60(col("text")) % 1048576L < MiddleKeepCut))
      .select(docs.columns.map(col): _*)
  }

  val qualityResample: Q = Q(
    (s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("lang"), col("text"))
      val (scored, th) = pplScored(docs)
      val bucket = when(col("perplexity") <= col("p33"), "head")
        .when(col("perplexity") <= col("p66"), "middle")
        .otherwise("tail")
      val draw = hash60(col("text")) % 1048576L
      scored.join(broadcast(th), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("perplexity"),
          bucket.as("ppl_bucket"),
          when(bucket === "head", 1)
            .when(bucket === "middle" && draw < MiddleKeepCut, 1)
            .otherwise(0).as("kept"))
        .orderBy("doc_id")
    },
    Some(s"""${TextAnalysis.perDocNllOracleCtes}, ppl AS (
            |  SELECT doc_id, floor(exp(avg_nll_raw) * 10000 + 0.5) / 10000 AS perplexity
            |  FROM perdoc
            |), sc AS (
            |  SELECT dd.doc_id, dd.lang, dd.text, p.perplexity
            |  FROM documents dd JOIN ppl p USING (doc_id)
            |), th AS (
            |  SELECT lang,
            |    floor(quantile_cont(perplexity, 1.0/3) * 10000 + 0.5) / 10000 AS p33,
            |    floor(quantile_cont(perplexity, 2.0/3) * 10000 + 0.5) / 10000 AS p66
            |  FROM sc GROUP BY 1
            |)
            |SELECT s.doc_id, s.lang, s.perplexity,
            |  CASE WHEN s.perplexity <= t.p33 THEN 'head'
            |       WHEN s.perplexity <= t.p66 THEN 'middle'
            |       ELSE 'tail' END AS ppl_bucket,
            |  CASE WHEN s.perplexity <= t.p33 THEN 1
            |       WHEN s.perplexity <= t.p66
            |            AND ('0x' || substr(md5(s.text), 1, 15))::BIGINT % 1048576 < $MiddleKeepCut THEN 1
            |       ELSE 0 END AS kept
            |FROM sc s JOIN th t USING (lang) ORDER BY s.doc_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // DSIR importance weights (Xie et al. 2023, "Data Selection for
  // Language Models via Importance Resampling"): score every document
  // by how much more likely its tokens are under a TARGET distribution
  // (here: the high-quality slice, score ≥ 0.8 — the same shared
  // `qualityCols` definition the cleaning gate uses) than under the
  // raw corpus. The paper's trick carries the scale story: features
  // are n-grams HASHED INTO B BUCKETS, so the learned statistics are
  // two fixed-size B-row tables no matter the vocabulary — small
  // enough to BROADCAST, so scoring is a map-side join + one per-doc
  // aggregate, never a vocab-sized shuffle per document. Add-α
  // smoothing keeps unseen buckets finite; each bucket's log-ratio is
  // rounded to 6dp and per-doc sums ride DECIMAL (the BM25 recipe), so
  // results are partition-order independent and oracle-exact.
  //
  // Scale shape: two corpus-scaled bucket-count aggregates (full and
  // quality-filtered, each map-side combined into ≤B rows per task),
  // a broadcast of the B-row ratio table, and one per-doc aggregate.
  // The token stream is generated three times (two stats passes +
  // scoring) — three cheap columnar scans; the alternative, carrying
  // the quality flag per token, re-evaluates the quality expression
  // per token row via CollapseProject (measured 18×, see inline note).
  // ------------------------------------------------------------------
  val DsirBuckets = 4096L
  val DsirAlpha = 0.5
  private val DsirAlphaB = DsirAlpha * DsirBuckets // 2048.0, same literal both engines

  val dsirWeights: Q = Q(
    (s, d) => {
      // Tokenization is the CPU cost here, and a single-row-group
      // input file would pin all of it to ONE task (parquet can't
      // split inside a row group — exactly the shape of the harness
      // fixtures: measured 10 tasks / 5.7 s CPU on one core at sf0.1).
      // When the scan's natural parallelism is below the cluster's,
      // rebalance the corpus rows across cores first — cheap (doc
      // rows, not token rows), reused across all three token passes by
      // exchange reuse; when the scan is already wide (the 100 TB
      // case), this is a no-op and adds no shuffle. Shared policy
      // lives in Inventory.rebalanced (keyed on doc_id so the exchange
      // is reusable, narrow-plan-only probe).
      val raw = s.read.parquet(s"$d/documents.parquet")
      val docs = graft.queries.Inventory.rebalanced(raw, "doc_id")
      val qc = TextAnalysis.qualityCols(col("text"))
      def buckets(src: DataFrame): DataFrame = src
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("t"))
        .select(col("doc_id"), (hash60(col("t")) % DsirBuckets).as("b"))
      val toks = buckets(docs)
      // The target flag must NEVER ride the explode as a projected
      // column: CollapseProject inlines the whole quality expression
      // (three tokenizations + an interpreted HOF) ABOVE the Generate,
      // re-evaluating it per TOKEN row — measured 16.5 s vs 0.9 s at
      // sf0.1 for this one aggregate. A FILTER on the doc branch stays
      // below the Generate (evaluated once per doc), so target counts
      // come from a second, pre-filtered pass and join the full counts
      // at B-row size.
      val ct = buckets(docs.filter(qc.score >= 0.8))
        .groupBy("b").agg(count(lit(1)).as("ct"))
      val stats = toks.groupBy("b").agg(count(lit(1)).as("cs"))
        .join(ct, Seq("b"), "left")
        .select(col("b"), col("cs"), coalesce(col("ct"), lit(0L)).as("ct"))
      // corpus totals via a global window OVER THE B-ROW STATS TABLE —
      // a separate .agg subtree would re-derive the whole corpus
      // bucket count (measured: AQE does not ReusedExchange it), while
      // this single-partition window touches ≤B rows
      val wAll = org.apache.spark.sql.expressions.Window
        .rowsBetween(Long.MinValue, Long.MaxValue)
      val logr = log((col("ct") + lit(DsirAlpha)) / (col("nt") + lit(DsirAlphaB))) -
        log((col("cs") + lit(DsirAlpha)) / (col("ns") + lit(DsirAlphaB)))
      val ratios = broadcast(stats
        .withColumn("ns", sum("cs").over(wAll))
        .withColumn("nt", sum("ct").over(wAll))
        .select(col("b"), roundPortable(logr, 6).cast(DecimalType(18, 6)).as("lr")))
      toks.join(ratios, Seq("b"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum(col("lr")).as("slr"))
        .select(col("doc_id"), col("n_tokens"),
          roundPortable(col("slr").cast(DoubleType), 6).as("dsir_logw"),
          roundPortable(col("slr").cast(DoubleType) / col("n_tokens"), 6).as("avg_logratio"))
        .orderBy("doc_id")
    },
    Some(s"""WITH base AS (
            |  SELECT doc_id,
            |    string_split_regex(lower(trim(text)), '\\s+') AS toks,
            |    CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
            |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
            |         x -> x IN ('the','of','and','to','in','is','it','a'))) AS DOUBLE)
            |      / len(string_split_regex(lower(trim(text)), '\\s+')) AS stop_ratio,
            |    least(CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS DOUBLE) / 100.0, 1.0) AS length_score
            |  FROM documents
            |), tk AS (
            |  SELECT doc_id, is_target, unnest(toks) AS t FROM (
            |    SELECT doc_id,
            |      (length_score * 0.5 + (1.0 - punct_ratio) * 0.3 + stop_ratio * 0.2) >= 0.8 AS is_target,
            |      toks
            |    FROM base
            |  )
            |), tb AS (
            |  SELECT doc_id, is_target,
            |    ('0x' || substr(md5(t), 1, 15))::BIGINT % $DsirBuckets AS b
            |  FROM tk
            |), stats AS (
            |  SELECT b, count(*) AS cs, sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct
            |  FROM tb GROUP BY 1
            |), tot AS (
            |  SELECT sum(cs) AS ns, sum(ct) AS nt FROM stats
            |), lr AS (
            |  SELECT b,
            |    CAST(floor((ln((ct + $DsirAlpha) / (nt + $DsirAlphaB))
            |              - ln((cs + $DsirAlpha) / (ns + $DsirAlphaB))) * 1000000 + 0.5) / 1000000
            |      AS DECIMAL(18,6)) AS lr
            |  FROM stats CROSS JOIN tot
            |)
            |SELECT t.doc_id, count(*) AS n_tokens,
            |  floor(CAST(sum(l.lr) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS dsir_logw,
            |  floor(CAST(sum(l.lr) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS avg_logratio
            |FROM tb t JOIN lr l USING (b)
            |GROUP BY 1 ORDER BY doc_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Curriculum assignment (curriculum learning, Bengio et al. 2009 —
  // public method): order training data easy→hard. Difficulty is the
  // Flesch reading-ease score (the SAME `fleschParts`/`flesch2dp`
  // definition `text_readability` publishes — no fork); each language
  // is cut into `CurriculumPhases` exact quartiles by ntile over
  // (flesch DESC, doc_id) — phase 1 = easiest — and every doc gets a
  // deterministic content-hash SHARD, the parallel-reader unit: at
  // scale a trainer consumes (phase, shard) files in order, so no
  // global per-doc position is ever needed (a per-phase global
  // row_number would be the |phases|-partition window trap;
  // `customer_rfm`'s two-phase global-order machinery is the drop-in
  // if one is ever required). Both the ntile and the shard replay
  // exactly in the oracle: ntile's assignment is a pure function of
  // the fully-tiebroken order in both engines.
  //
  // Scale notes: the phase cut is Windows.groupedNtile — the grouped
  // two-phase row number plus the closed-form bucket formula — NOT an
  // `ntile over (partition by lang)` window: ntile flags EVERY row of
  // its partition (no WindowGroupLimit rescue possible), so the
  // window form sorts each language in ONE task — at 100 TB the `en`
  // partition is most of the corpus in a single straggler (the Legs `skew` leg's
  // `lang_ntile` arm measures the two forms on a planted mega-lang).
  // groupedNtile range-splits the hot lang across partitions and
  // broadcasts only |langs| counts + per-(partition, lang) offsets.
  // ------------------------------------------------------------------
  val CurriculumPhases = 4
  val CurriculumShards = 16L

  val curriculum: Q = Q(
    (s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val (w, sn, syl) = TextAnalysis.fleschParts(col("text"))
      val base = docs.select(col("doc_id"), col("lang"),
        TextAnalysis.flesch2dp(w, sn, syl).as("flesch"),
        (hash60(col("text")) % CurriculumShards).as("shard"))
      graft.engine.Windows.groupedNtile(base, Seq("lang"),
        Seq(col("flesch").desc, col("doc_id")), CurriculumPhases, "phase")
        .select(col("doc_id"), col("lang"), col("flesch"), col("phase"), col("shard"))
        .orderBy("doc_id")
    },
    Some(s"""WITH m AS (
            |  SELECT doc_id, lang, text,
            |    greatest(len(string_split_regex(lower(trim(text)), '\\s+')), 1) AS w,
            |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS sn,
            |    greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS syl
            |  FROM documents
            |), f AS (
            |  SELECT doc_id, lang, text,
            |    floor((206.835
            |           - 1.015 * (CAST(w AS DOUBLE) / sn)
            |           - 84.6 * (CAST(syl AS DOUBLE) / w)) * 100 + 0.5) / 100 AS flesch
            |  FROM m
            |)
            |SELECT doc_id, lang, flesch,
            |  CAST(ntile($CurriculumPhases) OVER (PARTITION BY lang ORDER BY flesch DESC, doc_id) AS INT) AS phase,
            |  ('0x' || substr(md5(text), 1, 15))::BIGINT % $CurriculumShards AS shard
            |FROM f ORDER BY doc_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Learned quality classifier — the fastText/model-based filter shape
  // (Joulin et al. 2016 fastText; the DCLM / FineWeb-style "train a
  // cheap classifier on heuristic labels, score everything" gate that
  // modern pipelines run AFTER the rule-based filters). Multinomial
  // Naive Bayes over a CAPPED vocabulary: tokens rank by corpus
  // frequency (ties by token), the top `NbVocabMax` keep their
  // identity, the tail folds into one UNK feature — the standard
  // vocab cut that bounds the model at a constant size no matter the
  // corpus. Labels come from the SHARED `qualityCols` heuristic
  // (score ≥ 0.8, the same definition the cleaning gate and DSIR
  // target use — no fork); the classifier generalizes them into a
  // per-document log-odds score and a keep/drop prediction.
  //
  // The decision statistic is the LENGTH-NORMALIZED mean log-ratio
  // (fastText's mean pooling), not the raw multinomial sum: with 3%
  // positives the average token leans slightly negative, so the sum
  // compounds with document length and — the positives being exactly
  // the long documents — ranks them almost perfectly backwards
  // (measured train-set AUC 0.04 at sf0.01 for the sum vs 0.91 for
  // the mean; ExtSpec pins the mean's AUC). The keep/drop compare is
  // `Σlr > 0` on the exact decimal (n > 0 makes it equivalent to
  // mean > 0 with no division anywhere near the decision).
  //
  // Scale shape: one corpus-scaled token aggregate for the frequency
  // rank (map-side combined to vocab-sized rows), one for the
  // per-class counts, then the (≤ NbVocabMax+1)-row log-ratio model
  // BROADCASTS and scoring is a map-side join + one per-doc aggregate
  // — the DSIR plumbing with a learned decision on top. Per-feature
  // log-ratios are 6dp-gridded into DECIMAL(18,6) and per-doc sums
  // ride DECIMAL (partition-order independent, oracle-exact); the
  // reported mean divides the exact decimal sum as a double at the
  // very end (identical IEEE ops both engines, |value|·1e6 ≪ 2^53).
  // ------------------------------------------------------------------
  val NbVocabMax = 5000
  val NbAlpha = 0.5
  private val NbV = NbVocabMax + 1 // +1: the UNK feature

  /** (doc_id, lab, feat) rows of `docs` under the frequency-capped
    * vocabulary (top `NbVocabMax` keep identity, tail → "<unk>").
    */
  def nbFeats(labeled: DataFrame): DataFrame = {
    val tk = nbTokens(labeled)
    tk.join(nbVocab(tk), Seq("t")).select(col("doc_id"), col("lab"), col("feat"))
  }

  /** (doc_id, lab, t) exploded token relation of a labeled corpus. */
  def nbTokens(labeled: DataFrame): DataFrame =
    labeled.select(col("doc_id"), col("lab"),
      explode(TextAnalysis.tokens(col("text"))).as("t"))

  /** Frequency-capped (t, feat) vocabulary of a token relation.
    * The frequency rank runs over the DISTINCT-token table — vocab-
    * sized by Heaps' law, which is SUBLINEAR but still corpus-GROWING
    * (a 100 TB web crawl's junk tokens run to billions of distinct
    * strings), and unlike the heavy-hitters rank this one is NOT a
    * rank FILTER (the tail maps to "<unk>", so every vocab row
    * survives and WindowGroupLimit can never rescue the window form —
    * the whole vocabulary would sort in ONE task). r20: the rank is
    * [[graft.engine.Windows.globalRowNumber]]'s two-phase offset
    * form — range-split at the session's shuffle-partition count,
    * value-identical to `row_number() OVER (ORDER BY c DESC, t)`
    * because (c, t) is a total order on the distinct-token table.
    */
  def nbVocab(tk: DataFrame): DataFrame =
    graft.engine.Windows.globalRowNumber(
      tk.groupBy("t").agg(count(lit(1)).as("c")),
      Seq(col("c").desc, col("t")), "rnk")
      .select(col("t"), when(col("rnk") <= NbVocabMax, col("t")).otherwise(lit("<unk>")).as("feat"))

  /** The trained (feat, lr) model relation — lr the 6dp-gridded
    * DECIMAL(18,6) class log-ratio. Shared by the registry query and
    * the streaming gate's trainer ([[graft.streaming.Streams
    * .classifierGatedDocuments]] broadcasts exactly these rows, in
    * exact micro-units), so the two deployments cannot fork.
    */
  def nbQualityModel(feats: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = feats.groupBy("feat").agg(
      sum(when(col("lab"), 1L).otherwise(0L)).as("cp"),
      sum(when(!col("lab"), 1L).otherwise(0L)).as("cn"))
    val wAll = Window.rowsBetween(Long.MinValue, Long.MaxValue)
    val lrExpr = log((col("cp") + lit(NbAlpha)) / (col("np") + lit(NbAlpha * NbV))) -
      log((col("cn") + lit(NbAlpha)) / (col("nn") + lit(NbAlpha * NbV)))
    counts
      .withColumn("np", sum("cp").over(wAll))
      .withColumn("nn", sum("cn").over(wAll))
      .select(col("feat"), roundPortable(lrExpr, 6).cast(DecimalType(18, 6)).as("lr"))
  }

  /** Heuristic-labeled docs relation shared by trainer and scorer. */
  def nbLabeled(docs: DataFrame): DataFrame = {
    val qc = TextAnalysis.qualityCols(col("text"))
    docs.select(col("doc_id"), (qc.score >= 0.8).as("lab"), col("text"))
  }

  val qualityClassifier: Q = Q(
    (s, d) => {
      val docs = graft.queries.Inventory.rebalanced(
        s.read.parquet(s"$d/documents.parquet"), "doc_id")
      val feats = nbFeats(nbLabeled(docs))
      val model = broadcast(nbQualityModel(feats))
      feats.join(model, Seq("feat"))
        .groupBy("doc_id", "lab")
        .agg(count(lit(1)).as("n_tokens"), sum(col("lr")).as("slr"))
        .select(col("doc_id"), col("lab").as("heur_label"), col("n_tokens"),
          roundPortable(col("slr").cast(DoubleType) / col("n_tokens"), 6).as("nb_score"),
          (col("slr") > lit(0)).as("predicted"))
        .orderBy("doc_id")
    },
    Some(s"""WITH base AS (
            |  SELECT doc_id, text,
            |    string_split_regex(lower(trim(text)), '\\s+') AS toks,
            |    (least(CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS DOUBLE) / 100.0, 1.0) * 0.5
            |      + (1.0 - CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
            |      + CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
            |            x -> x IN ('the','of','and','to','in','is','it','a'))) AS DOUBLE)
            |        / len(string_split_regex(lower(trim(text)), '\\s+')) * 0.2) >= 0.8 AS lab
            |  FROM documents
            |), tk AS (
            |  SELECT doc_id, lab, unnest(toks) AS t FROM base
            |), vocab AS (
            |  SELECT t, CASE WHEN row_number() OVER (ORDER BY count(*) DESC, t) <= $NbVocabMax
            |                 THEN t ELSE '<unk>' END AS feat
            |  FROM tk GROUP BY t
            |), feats AS (
            |  SELECT tk.doc_id, tk.lab, v.feat FROM tk JOIN vocab v USING (t)
            |), counts AS (
            |  SELECT feat,
            |    sum(CASE WHEN lab THEN 1 ELSE 0 END) AS cp,
            |    sum(CASE WHEN NOT lab THEN 1 ELSE 0 END) AS cn
            |  FROM feats GROUP BY 1
            |), tot AS (
            |  SELECT sum(cp) AS np, sum(cn) AS nn FROM counts
            |), model AS (
            |  SELECT feat,
            |    CAST(floor((ln((cp + $NbAlpha) / (np + ${NbAlpha * NbV}))
            |              - ln((cn + $NbAlpha) / (nn + ${NbAlpha * NbV}))) * 1000000 + 0.5) / 1000000
            |      AS DECIMAL(18,6)) AS lr
            |  FROM counts CROSS JOIN tot
            |)
            |SELECT f.doc_id, f.lab AS heur_label, count(*) AS n_tokens,
            |  floor(CAST(sum(m.lr) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS nb_score,
            |  sum(m.lr) > 0 AS predicted
            |FROM feats f JOIN model m USING (feat)
            |GROUP BY f.doc_id, f.lab ORDER BY f.doc_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // K-ANONYMITY audit (Sweeney, "k-Anonymity: A Model for Protecting
  // Privacy", IJUFKS 2002 — public model): the re-identification
  // screen run BEFORE a dataset ships — every quasi-identifier
  // combination must be shared by ≥ K records, or those records are
  // linkable. Quasi-identifiers here: (c_nationkey, c_mktsegment) on
  // the customer table — the harness stand-in for (zip, age-band,
  // gender). Output: every QI equivalence class with its size, the
  // k_anonymous verdict, and the constant share of records sitting in
  // violating classes (the risk mass a suppression/generalization
  // step must address). The PII regex scrub ([[piiScrub]]) removes
  // DIRECT identifiers; this audits the INDIRECT ones — the two
  // halves of a privacy gate.
  //
  // Scale: one map-side-combined aggregate to |QI-classes| rows
  // (bounded by the attribute domain product, not the corpus), then
  // the risk-share window over those rows. Integer counts; the share
  // is one double division on the 4dp grid.
  // ------------------------------------------------------------------
  val KAnonK = 5

  val kAnonymity: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy()
      s.read.parquet(s"$d/customer.parquet")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n_members"))
        .withColumn("k_anonymous", col("n_members") >= KAnonK)
        .withColumn("share_at_risk", roundPortable(
          sum(when(col("n_members") < KAnonK, col("n_members")).otherwise(0L)).over(w)
            .cast(DoubleType) / sum(col("n_members")).over(w).cast(DoubleType), 4))
        .orderBy("c_nationkey", "c_mktsegment")
    },
    Some(s"""WITH g AS (
            |  SELECT c_nationkey, c_mktsegment, count(*) AS n_members
            |  FROM customer GROUP BY 1, 2
            |)
            |SELECT c_nationkey, c_mktsegment, n_members,
            |  n_members >= $KAnonK AS k_anonymous,
            |  floor(CAST(sum(CASE WHEN n_members < $KAnonK THEN n_members ELSE 0 END) OVER () AS DOUBLE)
            |        / CAST(sum(n_members) OVER () AS DOUBLE) * 10000 + 0.5) / 10000 AS share_at_risk
            |FROM g ORDER BY c_nationkey, c_mktsegment""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Deterministic shard assignment + balance audit: content-hash
  // sharding (hash60 mod S — stable across runs, cluster sizes, and
  // row order, the stratifiedSplit discipline) with the χ² uniformity
  // check that certifies no shard hot-spots before a 100 TB write
  // fans out. Output: per-shard doc and char totals, the χ² term, and
  // the constant total χ² with a pass verdict against the
  // conservative literal bound 2·S (far above the 95th percentile of
  // χ²(S−1) — a hash that fails THIS is broken, not unlucky).
  // Scale: one aggregate to S rows (map-side combined); the shard key
  // is a pure projection any writer can reuse as partitionBy.
  // ------------------------------------------------------------------
  val NumShards = 16

  val shardBalance: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy()
      val shard = pmod(hash60(concat(lit("shard:"), col("doc_id").cast("string"))),
        lit(NumShards.toLong)).as("shard")
      val g = s.read.parquet(s"$d/documents.parquet")
        .groupBy(shard)
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      val total = sum(col("n_docs")).over(w).cast(DoubleType)
      val exp = total / lit(NumShards.toDouble)
      val chiTerm = (col("n_docs").cast(DoubleType) - exp) *
        (col("n_docs").cast(DoubleType) - exp) / exp
      // terms land on the 4dp grid as integer ten-thousandths and the
      // total sums those LONGS — summing the rounded doubles instead
      // would re-order float additions across engines
      val term4 = floor(chiTerm * 1e4 + lit(0.5)).cast("long")
      g.withColumn("t4", term4)
        .withColumn("chi2_term", col("t4").cast(DoubleType) / 1e4)
        .withColumn("chi2_total", sum(col("t4")).over(w).cast(DoubleType) / 1e4)
        .withColumn("balanced", col("chi2_total") < lit(2.0 * NumShards))
        .drop("t4")
        .orderBy("shard")
    },
    Some(s"""WITH g AS (
            |  SELECT ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % $NumShards AS shard,
            |         count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
            |  FROM documents GROUP BY 1
            |), t AS (
            |  SELECT shard, n_docs, n_chars,
            |    CAST(floor((CAST(n_docs AS DOUBLE) - CAST(sum(n_docs) OVER () AS DOUBLE) / $NumShards.0)
            |          * (CAST(n_docs AS DOUBLE) - CAST(sum(n_docs) OVER () AS DOUBLE) / $NumShards.0)
            |          / (CAST(sum(n_docs) OVER () AS DOUBLE) / $NumShards.0) * 10000 + 0.5) AS BIGINT) AS t4
            |  FROM g
            |)
            |SELECT shard, n_docs, n_chars,
            |  CAST(t4 AS DOUBLE) / 10000 AS chi2_term,
            |  CAST(CAST(sum(t4) OVER () AS BIGINT) AS DOUBLE) / 10000 AS chi2_total,
            |  CAST(CAST(sum(t4) OVER () AS BIGINT) AS DOUBLE) / 10000 < ${2.0 * NumShards} AS balanced
            |FROM t ORDER BY shard""".stripMargin)
  )

  // ------------------------------------------------------------------
  // ℓ-DIVERSITY audit (Machanavajjhala et al., "ℓ-Diversity: Privacy
  // Beyond k-Anonymity", ICDE 2006 — public model): k-anonymity's
  // known gap is the homogeneous class — 50 records sharing one QI
  // class are "anonymous", but if they all carry the SAME sensitive
  // value, membership alone discloses it. Here QI = c_nationkey,
  // sensitive attribute = c_mktsegment: every class must see ≥ L
  // distinct sensitive values. Exact countDistinct per class (the
  // reference's A5 contract — never approximate in a privacy gate),
  // one aggregate to |QI-domain| rows, risk-mass window over those.
  // With [[kAnonymity]] this completes the audit pair the two
  // published models define.
  // ------------------------------------------------------------------
  val LDiverseL = 3

  val lDiversity: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy()
      s.read.parquet(s"$d/customer.parquet")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_members"),
          countDistinct(col("c_mktsegment")).as("n_sensitive_values"))
        .withColumn("l_diverse", col("n_sensitive_values") >= LDiverseL)
        .withColumn("share_at_risk", roundPortable(
          sum(when(col("n_sensitive_values") < LDiverseL, col("n_members")).otherwise(0L))
            .over(w).cast(DoubleType) / sum(col("n_members")).over(w).cast(DoubleType), 4))
        .orderBy("c_nationkey")
    },
    Some(s"""WITH g AS (
            |  SELECT c_nationkey, count(*) AS n_members,
            |         count(DISTINCT c_mktsegment) AS n_sensitive_values
            |  FROM customer GROUP BY 1
            |)
            |SELECT c_nationkey, n_members, n_sensitive_values,
            |  n_sensitive_values >= $LDiverseL AS l_diverse,
            |  floor(CAST(sum(CASE WHEN n_sensitive_values < $LDiverseL THEN n_members ELSE 0 END) OVER () AS DOUBLE)
            |        / CAST(sum(n_members) OVER () AS DOUBLE) * 10000 + 0.5) / 10000 AS share_at_risk
            |FROM g ORDER BY c_nationkey""".stripMargin)
  )

  // ------------------------------------------------------------------
  // HELD-OUT classifier evaluation — precision/recall/F1/accuracy of
  // the learned quality gate against its heuristic teaching labels,
  // with a REAL train/test split: the NB vocabulary and class counts
  // are trained ONLY on the content-hash TRAIN fold (buckets < 80),
  // and scored ONLY on the TEST fold (buckets ≥ 90) those statistics
  // never saw — train-fold agreement is fit, not generalization; the
  // test fold is what licenses replacing the rules with the model.
  // Test tokens absent from the train vocabulary map to '<unk>';
  // '<unk>' features absent from the train model contribute lr = 0
  // (the smoothed-prior no-information score). The measurement
  // layer's ML face, beside ann_recall_eval (index) and
  // text_langid_eval (heuristic gate).
  //
  // Composes [[nbTokens]]/[[nbVocab]]/[[nbQualityModel]] (the same
  // trainer [[qualityClassifier]] and the streaming gate broadcast)
  // over the train fold only. Cost: the classifier pass + one
  // 4-cell confusion aggregate. Integer counts; derived ratios are
  // single shared-op-order doubles (zero-denominator guarded NULL).
  // ------------------------------------------------------------------
  /** DuckDB CTE chain shared by the two held-out evaluation oracles:
    * train-fold (bucket < 80) vocabulary + NB model, ending in
    * `scored(doc_id, heur_label, slr)` over the ≥90 test fold and
    * `prior(b)` — the SQL twin of [[nbHeldoutScored]]. One string so
    * the split/training recipe cannot drift between eval queries.
    */
  private def nbHeldoutCtes: String =
    s"""base AS (
       |  SELECT doc_id, text,
       |    string_split_regex(lower(trim(text)), '\\s+') AS toks,
       |    (least(CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS DOUBLE) / 100.0, 1.0) * 0.5
       |      + (1.0 - CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
       |      + CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |            x -> x IN ('the','of','and','to','in','is','it','a'))) AS DOUBLE)
       |        / len(string_split_regex(lower(trim(text)), '\\s+')) * 0.2) >= 0.8 AS lab,
       |    ('0x' || substr(md5(text), 1, 15))::BIGINT % 100 AS bucket
       |  FROM documents
       |), tk AS (
       |  SELECT doc_id, lab, unnest(toks) AS t FROM base WHERE bucket < 80
       |), vocab AS (
       |  SELECT t, CASE WHEN row_number() OVER (ORDER BY count(*) DESC, t) <= $NbVocabMax
       |                 THEN t ELSE '<unk>' END AS feat
       |  FROM tk GROUP BY t
       |), feats AS (
       |  SELECT tk.doc_id, tk.lab, v.feat FROM tk JOIN vocab v USING (t)
       |), counts AS (
       |  SELECT feat,
       |    sum(CASE WHEN lab THEN 1 ELSE 0 END) AS cp,
       |    sum(CASE WHEN NOT lab THEN 1 ELSE 0 END) AS cn
       |  FROM feats GROUP BY 1
       |), tot AS (
       |  SELECT sum(cp) AS np, sum(cn) AS nn FROM counts
       |), model AS (
       |  SELECT feat,
       |    CAST(floor((ln((cp + $NbAlpha) / (np + ${NbAlpha * NbV}))
       |              - ln((cn + $NbAlpha) / (nn + ${NbAlpha * NbV}))) * 1000000 + 0.5) / 1000000
       |      AS DECIMAL(18,6)) AS lr
       |  FROM counts CROSS JOIN tot
       |), ttk AS (
       |  SELECT doc_id, lab, unnest(toks) AS t FROM base WHERE bucket >= 90
       |), tfeats AS (
       |  SELECT ttk.doc_id, ttk.lab, coalesce(v.feat, '<unk>') AS feat
       |  FROM ttk LEFT JOIN vocab v USING (t)
       |), scored AS (
       |  SELECT f.doc_id, f.lab AS heur_label,
       |         sum(coalesce(m.lr, CAST(0 AS DECIMAL(18,6)))) AS slr
       |  FROM tfeats f LEFT JOIN model m USING (feat)
       |  GROUP BY f.doc_id, f.lab
       |), prior AS (
       |  SELECT ln((sum(CASE WHEN lab THEN 1 ELSE 0 END) + 0.5)
       |           / (sum(CASE WHEN NOT lab THEN 1 ELSE 0 END) + 0.5)) AS b
       |  FROM base WHERE bucket < 80
       |)""".stripMargin

  /** Held-out NB scores: (doc_id, heur_label, slr, prior_b) for every
    * TEST-fold doc (content-hash buckets ≥ 90), under a model whose
    * vocabulary and class counts saw ONLY the train fold (buckets
    * < 80). `slr` is the exact-decimal Σ log-ratio (the gate's
    * decision statistic; unseen-feature lr = 0); `prior_b` is the
    * train-fold DOC-level class log-odds ln((n⁺+½)/(n⁻+½)) — the term
    * that turns the likelihood ratio into a posterior for
    * calibration. Shared by [[classifierEval]] (thresholds slr) and
    * [[classifierCalibration]] (sigmoids prior_b + slr).
    */
  def nbHeldoutScored(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    nbHeldoutScoredDf(graft.queries.Inventory.rebalanced(
      s.read.parquet(s"$d/documents.parquet"), "doc_id"))

  /** DataFrame-level variant over an already-resolved documents
    * relation — what [[graft.models.EvalPipeline]] materializes.
    */
  def nbHeldoutScoredDf(docs: DataFrame): DataFrame = {
    val labeled = nbLabeled(docs)
      .withColumn("bucket", hash60(col("text")) % 100)
    val train = labeled.filter(col("bucket") < 80)
    val trainTk = nbTokens(train)
    val vocab = nbVocab(trainTk)
    val model = broadcast(nbQualityModel(
      trainTk.join(vocab, Seq("t"))
        .select(col("doc_id"), col("lab"), col("feat"))))
    val prior = train.agg(
      (log((sum(when(col("lab"), 1L).otherwise(0L)) + lit(0.5)) /
        (sum(when(!col("lab"), 1L).otherwise(0L)) + lit(0.5)))).as("prior_b"))
    val zeroLr = lit(0).cast(DecimalType(18, 6))
    nbTokens(labeled.filter(col("bucket") >= 90))
      .join(vocab, Seq("t"), "left")
      .select(col("doc_id"), col("lab"),
        coalesce(col("feat"), lit("<unk>")).as("feat"))
      .join(model, Seq("feat"), "left")
      .groupBy("doc_id", "lab")
      .agg(sum(coalesce(col("lr"), zeroLr)).as("slr"))
      .crossJoin(broadcast(prior))
      .select(col("doc_id"), col("lab").as("heur_label"),
        col("slr"), col("prior_b"))
  }

  /** Confusion + P/R/F1/accuracy from a (doc_id, heur_label, slr)
    * held-out scores relation — DataFrame→DataFrame so the registry
    * query and [[graft.models.EvalPipeline]]'s materialized-table
    * view share one implementation and cannot drift.
    */
  def classifierEvalOf(heldout: DataFrame): DataFrame = {
    val scored = heldout
      .select(col("doc_id"), col("heur_label"),
        (col("slr") > lit(0)).as("predicted"))
    val g = scored.agg(
      count(lit(1)).as("n_test"),
      sum(when(col("heur_label") && col("predicted"), 1L).otherwise(0L)).as("tp"),
      sum(when(!col("heur_label") && col("predicted"), 1L).otherwise(0L)).as("fp"),
      sum(when(col("heur_label") && !col("predicted"), 1L).otherwise(0L)).as("fn"),
      sum(when(!col("heur_label") && !col("predicted"), 1L).otherwise(0L)).as("tn"))
    val prec = col("tp").cast(DoubleType) / nullif(col("tp") + col("fp"), lit(0L)).cast(DoubleType)
    val rec = col("tp").cast(DoubleType) / nullif(col("tp") + col("fn"), lit(0L)).cast(DoubleType)
    g.select(col("n_test"), col("tp"), col("fp"), col("fn"), col("tn"),
      roundPortable(prec, 4).as("precision"),
      roundPortable(rec, 4).as("recall"),
      roundPortable(lit(2.0) * prec * rec / nullif(prec + rec, lit(0.0)), 4).as("f1"),
      roundPortable((col("tp") + col("tn")).cast(DoubleType) /
        nullif(col("n_test"), lit(0L)).cast(DoubleType), 4).as("accuracy"))
  }

  val classifierEval: Q = Q(
    (s, d) => classifierEvalOf(nbHeldoutScored(s, d)),
    Some(s"""WITH $nbHeldoutCtes, test AS (
            |  SELECT heur_label, slr > 0 AS predicted FROM scored
            |), g AS (
            |  SELECT count(*) AS n_test,
            |    CAST(sum(CASE WHEN heur_label AND predicted THEN 1 ELSE 0 END) AS BIGINT) AS tp,
            |    CAST(sum(CASE WHEN NOT heur_label AND predicted THEN 1 ELSE 0 END) AS BIGINT) AS fp,
            |    CAST(sum(CASE WHEN heur_label AND NOT predicted THEN 1 ELSE 0 END) AS BIGINT) AS fn,
            |    CAST(sum(CASE WHEN NOT heur_label AND NOT predicted THEN 1 ELSE 0 END) AS BIGINT) AS tn
            |  FROM test
            |)
            |SELECT n_test, tp, fp, fn, tn,
            |  floor(CAST(tp AS DOUBLE) / nullif(tp + fp, 0) * 10000 + 0.5) / 10000 AS precision,
            |  floor(CAST(tp AS DOUBLE) / nullif(tp + fn, 0) * 10000 + 0.5) / 10000 AS recall,
            |  floor(2.0 * (CAST(tp AS DOUBLE) / nullif(tp + fp, 0)) * (CAST(tp AS DOUBLE) / nullif(tp + fn, 0))
            |        / nullif(CAST(tp AS DOUBLE) / nullif(tp + fp, 0) + CAST(tp AS DOUBLE) / nullif(tp + fn, 0), 0.0) * 10000 + 0.5) / 10000 AS f1,
            |  floor(CAST(tp + tn AS DOUBLE) / nullif(n_test, 0) * 10000 + 0.5) / 10000 AS accuracy
            |FROM g""".stripMargin)
  )

  // ------------------------------------------------------------------
  // CALIBRATION of the held-out classifier — the reliability diagram
  // + Expected Calibration Error (Naeini et al., "Obtaining Well
  // Calibrated Probabilities Using Bayesian Binning", AAAI 2015 —
  // the standard ECE formulation; public method). A gate that is
  // ACCURATE can still be mis-calibrated — systematically over- or
  // under-confident — and every downstream use of the score beyond
  // thresholding (resampling weights, curriculum ordering, abstain
  // bands) consumes the PROBABILITY, so its calibration is a
  // first-class eval metric beside precision/recall. The posterior is
  // p̂ = σ(b + Σlr) with b the train-fold doc-level class log-odds
  // (the NB prior the slr likelihood-ratio omits); docs bin into ten
  // equal-width confidence bins, each reporting mean confidence vs
  // empirical positive rate and |gap|; ECE = Σ (n_bin/N)·gap.
  //
  // Determinism: p̂ lands on the 1e-6 grid as an integer immediately
  // after the one transcendental step (the established exp/ln
  // convention); bins derive from the gridded integer; every
  // aggregate is a LONG sum; the published ratios divide integers as
  // doubles in one shared op order. Scale: the scorer's cost;
  // the calibration itself is a 10-row aggregate.
  // ------------------------------------------------------------------
  /** Reliability bins + ECE from the held-out scores relation —
    * shared by the registry query and the EvalPipeline view.
    */
  def classifierCalibrationOf(heldout: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy()
      val cal = heldout
        .select(col("heur_label"),
          (lit(1.0) / (lit(1.0) +
            exp(-(col("prior_b") + col("slr").cast(DoubleType))))).as("phat"))
        .select(col("heur_label"),
          floor(col("phat") * 1e6 + lit(0.5)).cast("long").as("phat6"))
        .select(col("heur_label"), col("phat6"),
          least(floor(col("phat6") / lit(100000)), lit(9.0)).cast("int").as("bin"))
      cal.groupBy("bin")
        .agg(count(lit(1)).as("n"),
          sum(when(col("heur_label"), 1L).otherwise(0L)).as("pos"),
          sum(col("phat6")).as("sp6"))
        .withColumn("ece_num", sum(abs(col("sp6") - col("pos") * lit(1000000L))).over(w))
        .withColumn("n_total", sum(col("n")).over(w))
        .select(col("bin"), col("n"),
          roundPortable(col("sp6").cast(DoubleType) / col("n") / lit(1000000), 6).as("avg_conf"),
          roundPortable(col("pos").cast(DoubleType) / col("n"), 6).as("frac_pos"),
          roundPortable(abs(col("sp6") - col("pos") * lit(1000000L)).cast(DoubleType)
            / (col("n") * lit(1000000L)), 6).as("gap"),
          roundPortable(col("ece_num").cast(DoubleType)
            / (col("n_total") * lit(1000000L)), 6).as("ece"))
        .orderBy("bin")
  }

  val classifierCalibration: Q = Q(
    (s, d) => classifierCalibrationOf(nbHeldoutScored(s, d)),
    Some(s"""WITH $nbHeldoutCtes, cal AS (
            |  SELECT heur_label,
            |    CAST(floor(1.0 / (1.0 + exp(-(p.b + CAST(slr AS DOUBLE)))) * 1000000 + 0.5) AS BIGINT) AS phat6
            |  FROM scored CROSS JOIN prior p
            |), binned AS (
            |  SELECT CAST(least(phat6 // 100000, 9) AS INTEGER) AS bin, count(*) AS n,
            |    CAST(sum(CASE WHEN heur_label THEN 1 ELSE 0 END) AS BIGINT) AS pos,
            |    CAST(sum(phat6) AS BIGINT) AS sp6
            |  FROM cal GROUP BY 1
            |), t2 AS (
            |  SELECT CAST(sum(abs(sp6 - pos * 1000000)) AS BIGINT) AS ece_num,
            |         CAST(sum(n) AS BIGINT) AS n_total
            |  FROM binned
            |)
            |SELECT bin, n,
            |  floor(CAST(sp6 AS DOUBLE) / n / 1000000 * 1000000 + 0.5) / 1000000 AS avg_conf,
            |  floor(CAST(pos AS DOUBLE) / n * 1000000 + 0.5) / 1000000 AS frac_pos,
            |  floor(CAST(abs(sp6 - pos * 1000000) AS DOUBLE) / (n * 1000000) * 1000000 + 0.5) / 1000000 AS gap,
            |  floor(CAST(ece_num AS DOUBLE) / (n_total * 1000000) * 1000000 + 0.5) / 1000000 AS ece
            |FROM binned CROSS JOIN t2 ORDER BY bin""".stripMargin)
  )

  // ------------------------------------------------------------------
  // RATER AGREEMENT — Cohen's κ (Cohen, "A Coefficient of Agreement
  // for Nominal Scales", Educ. Psychol. Meas. 1960 — public method)
  // between the heuristic quality gate and the learned classifier on
  // the held-out fold. Raw accuracy overstates agreement when one
  // class dominates (a 97%-negative corpus gives two raters that
  // always say "drop" 97% agreement for free); κ subtracts the
  // chance-agreement floor p_e, which is exactly the correction a
  // curation team needs before trusting "the model agrees with the
  // rules" — THE standard inter-annotator statistic for label-quality
  // audits of training data.
  //
  // Determinism: confusion cells are LONG counts; p_o, p_e, κ derive
  // in one shared double op order (p_e as products of RATIOS, never
  // n² — an integer n² overflows LONG near 10^10 test docs);
  // degenerate perfect-chance folds (p_e = 1) publish NULL, stated.
  // Scale: the held-out scorer's cost + one 4-cell aggregate.
  // ------------------------------------------------------------------
  /** Cohen's κ from the held-out scores relation — shared by the
    * registry query and the EvalPipeline view.
    */
  def raterAgreementOf(heldout: DataFrame): DataFrame = {
      val scored = heldout
        .select(col("heur_label"), (col("slr") > lit(0)).as("predicted"))
      val g = scored.agg(
        count(lit(1)).as("n"),
        sum(when(col("heur_label") && col("predicted"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("heur_label") && col("predicted"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("heur_label") && !col("predicted"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("heur_label") && !col("predicted"), 1L).otherwise(0L)).as("tn"))
      val nD = col("n").cast(DoubleType)
      val po = (col("tp") + col("tn")).cast(DoubleType) / nD
      val pe = ((col("tp") + col("fp")).cast(DoubleType) / nD) *
        ((col("tp") + col("fn")).cast(DoubleType) / nD) +
        ((col("fn") + col("tn")).cast(DoubleType) / nD) *
        ((col("fp") + col("tn")).cast(DoubleType) / nD)
      g.select(col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
        roundPortable(po, 6).as("p_observed"),
        roundPortable(pe, 6).as("p_expected"),
        roundPortable((po - pe) / nullif(lit(1.0) - pe, lit(0.0)), 6).as("kappa"))
  }

  val raterAgreement: Q = Q(
    (s, d) => raterAgreementOf(nbHeldoutScored(s, d)),
    Some(s"""WITH $nbHeldoutCtes, test AS (
            |  SELECT heur_label, slr > 0 AS predicted FROM scored
            |), g AS (
            |  SELECT count(*) AS n,
            |    CAST(sum(CASE WHEN heur_label AND predicted THEN 1 ELSE 0 END) AS BIGINT) AS tp,
            |    CAST(sum(CASE WHEN NOT heur_label AND predicted THEN 1 ELSE 0 END) AS BIGINT) AS fp,
            |    CAST(sum(CASE WHEN heur_label AND NOT predicted THEN 1 ELSE 0 END) AS BIGINT) AS fn,
            |    CAST(sum(CASE WHEN NOT heur_label AND NOT predicted THEN 1 ELSE 0 END) AS BIGINT) AS tn
            |  FROM test
            |)
            |SELECT n, tp, fp, fn, tn,
            |  floor(CAST(tp + tn AS DOUBLE) / n * 1000000 + 0.5) / 1000000 AS p_observed,
            |  floor((CAST(tp + fp AS DOUBLE) / n * (CAST(tp + fn AS DOUBLE) / n)
            |       + CAST(fn + tn AS DOUBLE) / n * (CAST(fp + tn AS DOUBLE) / n)) * 1000000 + 0.5) / 1000000 AS p_expected,
            |  floor((CAST(tp + tn AS DOUBLE) / n
            |       - (CAST(tp + fp AS DOUBLE) / n * (CAST(tp + fn AS DOUBLE) / n)
            |        + CAST(fn + tn AS DOUBLE) / n * (CAST(fp + tn AS DOUBLE) / n)))
            |      / nullif(1.0 - (CAST(tp + fp AS DOUBLE) / n * (CAST(tp + fn AS DOUBLE) / n)
            |        + CAST(fn + tn AS DOUBLE) / n * (CAST(fp + tn AS DOUBLE) / n)), 0.0) * 1000000 + 0.5) / 1000000 AS kappa
            |FROM g""".stripMargin)
  )

  // ------------------------------------------------------------------
  // t-CLOSENESS audit (Li, Li & Venkatasubramanian, "t-Closeness:
  // Privacy Beyond k-Anonymity and ℓ-Diversity", ICDE 2007 — public
  // model), completing the trilogy: ℓ-diversity counts DISTINCT
  // sensitive values but a class can still skew hard toward one of
  // them — t-closeness bounds the DISTANCE between each class's
  // sensitive distribution and the global one. Categorical sensitive
  // attribute ⇒ the paper's distance is total variation:
  // TV = ½·Σ|p_class − p_global|. Classes over QI = c_nationkey,
  // sensitive = c_mktsegment, threshold T stated as the contract.
  //
  // Determinism: both distributions derive from exact integer counts;
  // each |p−q| lands on the 6dp grid as integer micros and the sum is
  // a LONG fold (order-free), halved and published at 4dp. Scale: one
  // (QI, sensitive) aggregate map-side combines to the attribute
  // domain product; the per-class fold runs over ≤|segments| rows via
  // a broadcast of the |segments|-row global distribution.
  // ------------------------------------------------------------------
  val TCloseT = 0.2

  val tCloseness: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy()
      val wClass = Window.partitionBy("c_nationkey")
      val wSeg = Window.partitionBy("c_mktsegment")
      val g = s.read.parquet(s"$d/customer.parquet")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n"))
        .withColumn("n_class", sum(col("n")).over(wClass))
        .withColumn("n_seg", sum(col("n")).over(wSeg))
        .withColumn("n_total", sum(col("n")).over(w))
      // per-(class, segment) |p − q| in integer micros; a class
      // missing a segment contributes q·1e6 — realized by the q-side
      // sum over ALL segments minus the present ones' q, folded in as
      // the complement below
      val pMicro = floor(col("n").cast(DoubleType) / col("n_class").cast(DoubleType) * 1e6 + lit(0.5)).cast("long")
      val qMicro = floor(col("n_seg").cast(DoubleType) / col("n_total").cast(DoubleType) * 1e6 + lit(0.5)).cast("long")
      val present = g.select(col("c_nationkey"), col("n_class"),
        pMicro.as("p6"), qMicro.as("q6"))
        .groupBy("c_nationkey", "n_class")
        .agg(sum(abs(col("p6") - col("q6"))).as("tv_present"),
          sum(col("q6")).as("q_present"))
      val qTotal = s.read.parquet(s"$d/customer.parquet")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_seg"))
        .withColumn("n_total", sum(col("n_seg")).over(w))
        .agg(sum(floor(col("n_seg").cast(DoubleType) / col("n_total").cast(DoubleType) * 1e6 + lit(0.5)).cast("long")).as("q_all"))
      present.crossJoin(broadcast(qTotal))
        .select(col("c_nationkey"), col("n_class").as("n_members"),
          roundPortable((col("tv_present") + (col("q_all") - col("q_present")))
            .cast(DoubleType) / 2e6, 4).as("tv_distance"))
        .withColumn("t_close", col("tv_distance") <= TCloseT)
        .orderBy("c_nationkey")
    },
    Some(s"""WITH g AS (
            |  SELECT c_nationkey, c_mktsegment, count(*) AS n FROM customer GROUP BY 1, 2
            |), e AS (
            |  SELECT c_nationkey, c_mktsegment, n,
            |    CAST(sum(n) OVER (PARTITION BY c_nationkey) AS BIGINT) AS n_class,
            |    CAST(sum(n) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS n_seg,
            |    CAST(sum(n) OVER () AS BIGINT) AS n_total
            |  FROM g
            |), present AS (
            |  SELECT c_nationkey, n_class,
            |    CAST(sum(abs(CAST(floor(CAST(n AS DOUBLE) / n_class * 1000000 + 0.5) AS BIGINT)
            |                 - CAST(floor(CAST(n_seg AS DOUBLE) / n_total * 1000000 + 0.5) AS BIGINT))) AS BIGINT) AS tv_present,
            |    CAST(sum(CAST(floor(CAST(n_seg AS DOUBLE) / n_total * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS q_present
            |  FROM e GROUP BY 1, 2
            |), qt AS (
            |  SELECT CAST(sum(CAST(floor(CAST(n_seg AS DOUBLE) / n_total * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS q_all
            |  FROM (SELECT count(*) AS n_seg, CAST(sum(count(*)) OVER () AS BIGINT) AS n_total
            |        FROM customer GROUP BY c_mktsegment)
            |)
            |SELECT c_nationkey, n_class AS n_members,
            |  floor(CAST(tv_present + (q_all - q_present) AS DOUBLE) / 2000000 * 10000 + 0.5) / 10000 AS tv_distance,
            |  floor(CAST(tv_present + (q_all - q_present) AS DOUBLE) / 2000000 * 10000 + 0.5) / 10000 <= $TCloseT AS t_close
            |FROM present CROSS JOIN qt ORDER BY c_nationkey""".stripMargin)
  )

  // ------------------------------------------------------------------
  // The cleaned corpus TABLE through the driver's hash gate (VERDICT
  // r17 ask #8): pipeline_clean_corpus verifies the per-lang ROLLUP of
  // the clean stage; this row publishes the per-document table itself
  // — and it is built by CALLING the production model
  // (models.CorpusPipeline.cleaned.transform), so the r18 min_by
  // keep-first conversion, the gate-on-raw-score rule, and the 6dp
  // quality rounding are all driver-verified on the exact code the
  // DAG runs, not a registry re-derivation. Text is published as its
  // md5 (the dedup_substring_cleaned convention — hash the content,
  // not the blob). Scale: the model body — one scan, one
  // partial-aggregated keep-first shuffle.
  // ------------------------------------------------------------------
  val cleanedDocs: Q = Q(
    (s, d) => {
      val docs = graft.queries.Inventory.rebalanced(
        s.read.parquet(s"$d/documents.parquet"), "doc_id")
      graft.models.CorpusPipeline.cleaned.transform(Map("documents" -> docs))
        .select(col("doc_id"), col("lang"), col("source"),
          md5(encode(col("text"), "UTF-8")).as("text_md5"),
          col("n_tokens"), col("quality"))
        .orderBy("doc_id")
    },
    Some("""WITH c AS (
           |  SELECT doc_id, lang, source, text,
           |    string_split_regex(lower(trim(text)), '\s+') AS toks
           |  FROM documents
           |), sc AS (
           |  SELECT doc_id, lang, source, text,
           |    CAST(len(toks) AS BIGINT) AS n_tokens,
           |    least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.5
           |      + (1.0 - CAST(length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
           |      + CAST(len(list_filter(toks, x -> x IN ('the','of','and','to','in','is','it','a'))) AS DOUBLE)
           |        / len(toks) * 0.2 AS q_raw,
           |    CAST(len(list_filter(toks, x -> x IN ('the','of','and','to','in','is','it','a'))) AS DOUBLE)
           |        / len(toks) AS stop_ratio,
           |    md5(text) AS text_hash
           |  FROM c
           |), g AS (
           |  SELECT *, row_number() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn
           |  FROM sc WHERE q_raw >= 0.5 AND stop_ratio > 0
           |)
           |SELECT doc_id, lang, source, md5(text) AS text_md5, n_tokens,
           |       floor(q_raw * 1000000 + 0.5) / 1000000 AS quality
           |FROM g WHERE rn = 1 ORDER BY doc_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // The corpus DAG's END state through the driver's hash gate (VERDICT
  // r18 ask #6): pipeline_cleaned_docs verifies the HEAD of
  // models.CorpusPipeline; this row runs the WHOLE production DAG
  // (clean → shingle → pairs → components → keep → decontaminate →
  // resample → cap → budget → pack) into a temp warehouse, gates on
  // every model test, and publishes the corpus_packed table AS WRITTEN
  // — the (doc_id, pack_id) training-shard assignment a trainer
  // actually consumes — against a DuckDB oracle that replays the full
  // chain (the semdedup-funnel precedent, on the corpus pipeline).
  // Bounded collect by construction: every budget survivor carries
  // n_tokens ≥ 1 and the waterline caps Σ n_tokens at CorpusBudget,
  // so the packed table holds ≤ CorpusBudget rows at ANY corpus scale.
  // Storage-neutral: the component fixpoint's retained label cache is
  // freed by the Caches scope, the temp warehouse deleted.
  //
  // Verification pricing, deliberately: this row pays the whole
  // materialized-DAG lifecycle — parquet writes per stage, model
  // tests, the pair self-join — because its JOB is to driver-verify
  // the production composition, not to re-derive a cheap registry
  // chain. Per-stage scale properties are each stage's own contract
  // (see CorpusPipeline scaladocs); nothing here adds a shape beyond
  // them.
  // ------------------------------------------------------------------
  val packedDocs: Q = Q(
    (s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-corpus-reg")
      try {
        graft.engine.Caches.scoped {
          val r = graft.models.CorpusPipeline.run(s, d,
            new graft.engine.TableSink.Parquet(wh.toString))
          require(r.allTestsPassed && r.skipped.isEmpty,
            s"corpus DAG gated: ${r.tests.filterNot(_.passed).mkString(", ")}")
          val out = r("corpus_packed").orderBy("doc_id")
          s.createDataFrame(
            java.util.Arrays.asList(out.collect(): _*), out.schema)
        }
      } finally graft.engine.Scratch.deleteTree(wh)
    },
    // the full-chain replay: clean gate + md5 keep-first, shingle-set
    // Jaccard pairs (string sets — hash collisions are the accepted
    // xxhash64-vs-string convention every dedup oracle shares),
    // recursive-CTE reachability for the component labels, the
    // keep-longest argmax, shingle-overlap decontamination vs the
    // bench stand-in, the corpus-trained bigram-LM resample with the
    // content-hash coin, the per-lang quality cap, the two-level
    // token-budget waterline, and greedy per-lang packing
    Some(s"""WITH RECURSIVE cl0 AS (
            |  SELECT doc_id, lang, source, text,
            |    string_split_regex(lower(trim(text)), '\\s+') AS toks
            |  FROM documents
            |), cl1 AS (
            |  SELECT doc_id, lang, text, toks,
            |    CAST(len(toks) AS BIGINT) AS n_tokens,
            |    least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.5
            |      + (1.0 - CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)) * 0.3
            |      + CAST(len(list_filter(toks, x -> x IN ('the','of','and','to','in','is','it','a'))) AS DOUBLE)
            |        / len(toks) * 0.2 AS q_raw,
            |    CAST(len(list_filter(toks, x -> x IN ('the','of','and','to','in','is','it','a'))) AS DOUBLE)
            |        / len(toks) AS stop_ratio,
            |    md5(text) AS text_hash
            |  FROM cl0
            |), cl2 AS (
            |  SELECT *, row_number() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn
            |  FROM cl1 WHERE q_raw >= ${graft.models.CorpusPipeline.QualityMin} AND stop_ratio > 0
            |), cleaned AS (
            |  SELECT doc_id, lang, text, toks, n_tokens,
            |    floor(q_raw * 1000000 + 0.5) / 1000000 AS quality
            |  FROM cl2 WHERE rn = 1
            |), shg AS (
            |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
            |           i -> array_to_string(toks[i:i+2], ' '))) AS s
            |  FROM cleaned
            |), prs AS (
            |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            |  FROM shg a, shg b
            |  WHERE a.doc_id < b.doc_id
            |    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= ${Dedup.JaccardTau}
            |), edges AS (
            |  SELECT doc_a AS src, doc_b AS dst FROM prs
            |  UNION ALL
            |  SELECT doc_b, doc_a FROM prs
            |), walk(v, label) AS (
            |  SELECT doc_id, doc_id FROM cleaned
            |  UNION
            |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.v
            |), lbl AS (
            |  SELECT v AS doc_id, min(label) AS cluster_id FROM walk GROUP BY v
            |), keepl AS (
            |  SELECT doc_id FROM (
            |    SELECT l.doc_id,
            |      row_number() OVER (PARTITION BY l.cluster_id
            |                         ORDER BY dd.n_chars DESC, l.doc_id) AS krn
            |    FROM lbl l JOIN documents dd USING (doc_id))
            |  WHERE krn = 1
            |), neardup AS (
            |  SELECT c.* FROM cleaned c JOIN keepl USING (doc_id)
            |), bshg AS (
            |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
            |           i -> array_to_string(toks[i:i+2], ' '))) AS s
            |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
            |        FROM documents WHERE doc_id < $BenchmarkDocs)
            |), bench AS (
            |  SELECT * FROM bshg WHERE len(s) > 0
            |), corpsh AS (
            |  SELECT s.doc_id, s.s FROM shg s JOIN neardup n USING (doc_id)
            |  WHERE s.doc_id >= $BenchmarkDocs AND len(s.s) > 0
            |), cont AS (
            |  SELECT DISTINCT c.doc_id
            |  FROM corpsh c JOIN bench b ON len(list_intersect(c.s, b.s)) > 0
            |  WHERE CAST(len(list_intersect(c.s, b.s)) AS DOUBLE) / len(c.s) >= $ContaminationTau
            |), decont AS (
            |  SELECT n.* FROM neardup n
            |  WHERE n.doc_id >= $BenchmarkDocs
            |    AND n.doc_id NOT IN (SELECT doc_id FROM cont)
            |), ${TextAnalysis.perDocNllOracleCtesOver("decont")}, ppl AS (
            |  SELECT doc_id, floor(exp(avg_nll_raw) * 10000 + 0.5) / 10000 AS perplexity
            |  FROM perdoc
            |), rsc AS (
            |  SELECT dd.*, p.perplexity FROM decont dd JOIN ppl p USING (doc_id)
            |), rth AS (
            |  SELECT lang,
            |    floor(quantile_cont(perplexity, 1.0/3) * 10000 + 0.5) / 10000 AS p33,
            |    floor(quantile_cont(perplexity, 2.0/3) * 10000 + 0.5) / 10000 AS p66
            |  FROM rsc GROUP BY 1
            |), resampled AS (
            |  SELECT r.* FROM rsc r JOIN rth t USING (lang)
            |  WHERE r.perplexity <= t.p33
            |     OR (r.perplexity <= t.p66
            |         AND ('0x' || substr(md5(r.text), 1, 15))::BIGINT % 1048576 < $MiddleKeepCut)
            |), capped AS (
            |  SELECT * FROM (
            |    SELECT r.*, row_number() OVER (PARTITION BY lang
            |        ORDER BY quality DESC, doc_id) AS crn
            |    FROM resampled r)
            |  WHERE crn <= $DomainCap
            |), bbase AS (
            |  SELECT doc_id, lang, n_tokens,
            |    CAST(floor(quality * $BudgetBins) AS BIGINT) AS qbin
            |  FROM capped
            |), bbins AS (
            |  SELECT qbin, CAST(coalesce(sum(bin_tokens) OVER (ORDER BY qbin DESC
            |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS better_tokens
            |  FROM (SELECT qbin, sum(n_tokens) AS bin_tokens FROM bbase GROUP BY 1)
            |), bsel AS (
            |  SELECT b.doc_id, b.lang, b.n_tokens,
            |    bbins.better_tokens
            |      + coalesce(sum(b.n_tokens) OVER (PARTITION BY b.qbin
            |          ORDER BY b.doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            |      + b.n_tokens <= $CorpusBudget AS selected
            |  FROM bbase b JOIN bbins USING (qbin)
            |), budgeted AS (
            |  SELECT doc_id, lang, n_tokens FROM bsel WHERE selected
            |)
            |SELECT doc_id, lang, n_tokens,
            |  CAST((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
            |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
            |       // $PackBudget AS BIGINT) AS pack_id
            |FROM budgeted ORDER BY doc_id""".stripMargin)
  )

  val queries: Seq[(String, Q)] = Seq(
    "pipeline_packed_docs" -> packedDocs,
    "pipeline_cleaned_docs" -> cleanedDocs,
    "privacy_t_closeness" -> tCloseness,
    "pipeline_classifier_eval" -> classifierEval,
    "pipeline_classifier_calibration" -> classifierCalibration,
    "pipeline_rater_agreement" -> raterAgreement,
    "privacy_l_diversity" -> lDiversity,
    "privacy_k_anonymity" -> kAnonymity,
    "pipeline_shard_balance" -> shardBalance,
    "pipeline_quality_classifier" -> qualityClassifier,
    "pipeline_stratified_split" -> stratifiedSplit,
    "pipeline_clean_corpus" -> cleanCorpus,
    "pipeline_decontaminate" -> decontaminate,
    "pipeline_domain_cap" -> domainCap,
    "pipeline_pack_sequences" -> packSequences,
    "pipeline_lang_mix" -> langMix,
    "pipeline_blocklist_scrub" -> blocklistScrub,
    "pipeline_sample_per_lang" -> samplePerLang,
    "pipeline_mixture_kl" -> mixtureKl,
    "pipeline_token_budget" -> tokenBudget,
    "pipeline_weighted_sample" -> weightedSample,
    "pipeline_dataset_card" -> datasetCard,
    "pipeline_chunk_documents" -> chunkDocuments,
    "pipeline_pii_scrub" -> piiScrub,
    "pipeline_quality_resample" -> qualityResample,
    "pipeline_dsir_weights" -> dsirWeights,
    "pipeline_curriculum" -> curriculum
  )
}
