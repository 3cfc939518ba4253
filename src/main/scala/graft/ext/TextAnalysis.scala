package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.engine.Functions.roundPortable
import graft.engine.ParquetCatalog
import graft.queries.Inventory.Q

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: token statistics, quality scoring, n-gram
  * language ID, and document fingerprinting.
  *
  * All of it is pure `org.apache.spark.sql.functions` (higher-order
  * functions on arrays, no UDFs), so every expression stays inside
  * whole-stage codegen and the scan keeps column pruning — at 100 TB
  * these run as a single embarrassingly-parallel projection pass with
  * no shuffle at all (the per-doc stage); only the final tiny
  * aggregates shuffle.
  */
object TextAnalysis {

  /** Whitespace tokenization of lowercased text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Stopword sets for the n-gram language-ID heuristic. Tiny on
    * purpose: they broadcast as literals into codegen (no join).
    */
  val StopEn: Seq[String] = Seq("the", "of", "and", "to", "in", "is", "it", "a")
  val StopEs: Seq[String] = Seq("el", "la", "de", "que", "y", "en", "un", "los")
  val StopFr: Seq[String] = Seq("le", "la", "de", "et", "les", "des", "un", "est")
  val StopDe: Seq[String] = Seq("der", "die", "und", "das", "ist", "von", "ein", "zu")

  private def hits(toks: Column, stops: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(stops)))

  /** The quality-score building blocks — ONE definition of the
    * 0.5/0.3/0.2 weights, the punctuation regex, and the stopword
    * ratio, shared by [[quality]] and `Pipelines.cleanCorpus` so the
    * cleaning gate can never silently fork from the published metric.
    */
  final case class QualityCols(
      nTokens: Column, punctRatio: Column, stopRatio: Column, score: Column)

  def qualityCols(text: Column): QualityCols = {
    val toks = tokens(text)
    val nTokens = size(toks)
    val punct = length(regexp_replace(lower(text), "[a-z0-9\\s]", ""))
    val punctRatio = punct.cast(DoubleType) / length(text)
    val stopRatio = hits(toks, StopEn).cast(DoubleType) / nTokens
    val lengthScore = least(nTokens.cast(DoubleType) / 100.0, lit(1.0))
    QualityCols(nTokens, punctRatio, stopRatio,
      lengthScore * 0.5 + (lit(1.0) - punctRatio) * 0.3 + stopRatio * 0.2)
  }

  // ------------------------------------------------------------------
  // Token counting: whitespace tokens, distinct tokens, avg token
  // length (chars-sans-whitespace / tokens).
  // ------------------------------------------------------------------
  val tokenStats: Q = Q(
    (s, d) => {
      val docs = ParquetCatalog.read(s, s"$d/documents.parquet")
      val toks = tokens(col("text"))
      docs.select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_unique_tokens"),
        roundPortable(length(regexp_replace(trim(col("text")), "\\s+", "")).cast(DoubleType)
          / size(toks), 4).as("avg_token_len"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, length(text) AS n_chars,
           |  len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
           |  len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS n_unique_tokens,
           |  floor(CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
           |        / len(string_split_regex(lower(trim(text)), '\s+')) * 10000 + 0.5) / 10000 AS avg_token_len
           |FROM documents ORDER BY doc_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Quality scoring: length score + punctuation ratio + stopword
  // ratio, combined into a deterministic composite with CASE buckets
  // (the filter criterion an LLM-data pipeline would threshold on).
  // ------------------------------------------------------------------
  val quality: Q = Q(
    (s, d) => {
      val docs = ParquetCatalog.read(s, s"$d/documents.parquet")
      val qc = qualityCols(col("text"))
      docs.select(
        col("doc_id"),
        qc.nTokens.as("n_tokens"),
        roundPortable(qc.punctRatio, 4).as("punct_ratio"),
        roundPortable(qc.stopRatio, 4).as("stopword_ratio"),
        roundPortable(qc.score, 4).as("quality_score"),
        when(qc.score >= 0.8, "high").when(qc.score >= 0.5, "medium").otherwise("low")
          .as("quality_bucket"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (
           |  SELECT doc_id, text, string_split_regex(lower(trim(text)), '\s+') AS toks,
           |    CAST(length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
           |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
           |         x -> x IN ('the','of','and','to','in','is','it','a'))) AS DOUBLE)
           |      / len(string_split_regex(lower(trim(text)), '\s+')) AS stop_ratio,
           |    least(CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) / 100.0, 1.0) AS length_score
           |  FROM documents
           |)
           |SELECT doc_id, len(toks) AS n_tokens,
           |  floor(punct_ratio * 10000 + 0.5) / 10000 AS punct_ratio,
           |  floor(stop_ratio * 10000 + 0.5) / 10000 AS stopword_ratio,
           |  floor((length_score * 0.5 + (1.0 - punct_ratio) * 0.3 + stop_ratio * 0.2) * 10000 + 0.5) / 10000 AS quality_score,
           |  CASE WHEN length_score * 0.5 + (1.0 - punct_ratio) * 0.3 + stop_ratio * 0.2 >= 0.8 THEN 'high'
           |       WHEN length_score * 0.5 + (1.0 - punct_ratio) * 0.3 + stop_ratio * 0.2 >= 0.5 THEN 'medium'
           |       ELSE 'low' END AS quality_bucket
           |FROM t ORDER BY doc_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Language ID: stopword-hit scoring per language with a fixed
  // precedence tie-break (en > es > fr > de > und). Deterministic in
  // both engines because all scores are exact integers.
  // ------------------------------------------------------------------
  val langId: Q = Q(
    (s, d) => {
      val docs = ParquetCatalog.read(s, s"$d/documents.parquet")
      val toks = tokens(col("text"))
      val (en, es, fr, de) =
        (hits(toks, StopEn), hits(toks, StopEs), hits(toks, StopFr), hits(toks, StopDe))
      docs.select(
        col("doc_id"), col("lang").as("declared_lang"),
        en.as("hits_en"), es.as("hits_es"), fr.as("hits_fr"), de.as("hits_de"),
        when(en >= es && en >= fr && en >= de && en > 0, "en")
          .when(es >= fr && es >= de && es > 0, "es")
          .when(fr >= de && fr > 0, "fr")
          .when(de > 0, "de")
          .otherwise("und").as("predicted_lang"))
        .orderBy("doc_id")
    },
    Some("""WITH h AS (
           |  SELECT doc_id, lang,
           |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ('the','of','and','to','in','is','it','a'))) AS hits_en,
           |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ('el','la','de','que','y','en','un','los'))) AS hits_es,
           |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ('le','la','de','et','les','des','un','est'))) AS hits_fr,
           |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ('der','die','und','das','ist','von','ein','zu'))) AS hits_de
           |  FROM documents
           |)
           |SELECT doc_id, lang AS declared_lang, hits_en, hits_es, hits_fr, hits_de,
           |  CASE WHEN hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_de AND hits_en > 0 THEN 'en'
           |       WHEN hits_es >= hits_fr AND hits_es >= hits_de AND hits_es > 0 THEN 'es'
           |       WHEN hits_fr >= hits_de AND hits_fr > 0 THEN 'fr'
           |       WHEN hits_de > 0 THEN 'de'
           |       ELSE 'und' END AS predicted_lang
           |FROM h ORDER BY doc_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Document fingerprinting: canonicalize (lowercase, collapse all
  // non-alphanumeric runs) then hash — the standard exact-dup key that
  // survives formatting noise. md5 is identical across engines.
  // ------------------------------------------------------------------
  val fingerprint: Q = Q(
    (s, d) => {
      val docs = ParquetCatalog.read(s, s"$d/documents.parquet")
      val canon = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
      docs.select(col("doc_id"), md5(encode(canon, "UTF-8")).as("fingerprint"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
           |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
           |FROM documents ORDER BY doc_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // BPE-ish token estimate: split into letter runs / digit runs /
  // single punctuation (the shape of a byte-pair pre-tokenizer), the
  // usual cheap proxy for LLM token counts next to whitespace tokens.
  // ------------------------------------------------------------------
  val bpeTokens: Q = Q(
    (s, d) => {
      val docs = ParquetCatalog.read(s, s"$d/documents.parquet")
      val ws = size(tokens(col("text")))
      val bpe = size(regexp_extract_all(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
      docs.select(
        col("doc_id"),
        ws.as("n_ws_tokens"),
        bpe.as("n_bpe_tokens"),
        roundPortable(bpe.cast(DoubleType) / ws, 4).as("bpe_per_ws_token"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
           |  len(string_split_regex(lower(trim(text)), '\s+')) AS n_ws_tokens,
           |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens,
           |  floor(CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS DOUBLE)
           |        / len(string_split_regex(lower(trim(text)), '\s+')) * 10000 + 0.5) / 10000 AS bpe_per_ws_token
           |FROM documents ORDER BY doc_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Token-length distribution per language: EXACT percentiles (the
  // curriculum/filtering statistic pipelines threshold on). Spark's
  // `percentile` is the exact sort-based aggregate — right for
  // per-group distributions where groups fit a partition; corpus-wide
  // single-group quantiles at 100 TB would switch to
  // `percentile_approx` (t-digest, mergeable) and lose the oracle.
  // Both engines use linear interpolation; results are rounded 4 dp
  // because the interpolation's float op ORDER differs between them.
  // ------------------------------------------------------------------
  val lengthQuantiles: Q = Q(
    (s, d) => {
      val docs = ParquetCatalog.read(s, s"$d/documents.parquet")
      val n = size(tokens(col("text")))
      docs.select(col("lang"), n.as("n_tokens"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          roundPortable(percentile(col("n_tokens"), lit(0.5)), 4).as("p50"),
          roundPortable(percentile(col("n_tokens"), lit(0.9)), 4).as("p90"),
          roundPortable(percentile(col("n_tokens"), lit(0.99)), 4).as("p99"),
          max(col("n_tokens")).as("max_tokens"))
        .orderBy("lang")
    },
    Some("""WITH t AS (
           |  SELECT lang, len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens
           |  FROM documents
           |)
           |SELECT lang, count(*) AS n_docs,
           |  floor(quantile_cont(n_tokens, 0.5) * 10000 + 0.5) / 10000 AS p50,
           |  floor(quantile_cont(n_tokens, 0.9) * 10000 + 0.5) / 10000 AS p90,
           |  floor(quantile_cont(n_tokens, 0.99) * 10000 + 0.5) / 10000 AS p99,
           |  CAST(max(n_tokens) AS INTEGER) AS max_tokens
           |FROM t GROUP BY lang ORDER BY lang""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Scale twin of [[lengthQuantiles]]: `percentile_approx` (Greenwald-
  // Khanna / KLL-style mergeable sketch) next to the exact sort-based
  // percentile. At 100 TB the exact aggregate must buffer every value
  // per group; the sketch is fixed-size and merges associatively, so
  // it's the only viable corpus-wide path. The sketch VALUE is
  // engine-specific (it returns an observed order statistic, not an
  // interpolation, and DuckDB's approx_quantile is a different
  // t-digest), so — same trick as `agg_approx_distinct` — the
  // oracle-able surface is the error contract: `approx_within_tol` = 1
  // iff every approx percentile is within ApproxQuantileTol of its
  // exact twin. DuckDB replays the exact columns plus a literal 1.
  // ------------------------------------------------------------------
  /** Relative tolerance for the approx-percentile contract. Accuracy
    * 1000 bounds the RANK error at 0.1% of the group; the VALUE error
    * that induces depends on the local density of the distribution —
    * for the synthetic token-length data the worst observed drift is
    * the p99 of small groups landing one order statistic away from the
    * interpolated exact value, well inside 10%.
    */
  val ApproxQuantileTol = 0.10
  val ApproxQuantileAccuracy = 1000

  val lengthQuantilesApprox: Q = Q(
    (s, d) => {
      val docs = ParquetCatalog.read(s, s"$d/documents.parquet")
      val n = size(tokens(col("text")))
      def within(approx: Column, exact: Column): Column =
        abs(approx.cast(DoubleType) - exact) <= lit(ApproxQuantileTol) * abs(exact)
      docs.select(col("lang"), n.as("n_tokens"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          roundPortable(percentile(col("n_tokens"), lit(0.5)), 4).as("p50"),
          roundPortable(percentile(col("n_tokens"), lit(0.9)), 4).as("p90"),
          roundPortable(percentile(col("n_tokens"), lit(0.99)), 4).as("p99"),
          percentile_approx(col("n_tokens"), lit(0.5), lit(ApproxQuantileAccuracy)).as("ap50"),
          percentile_approx(col("n_tokens"), lit(0.9), lit(ApproxQuantileAccuracy)).as("ap90"),
          percentile_approx(col("n_tokens"), lit(0.99), lit(ApproxQuantileAccuracy)).as("ap99"))
        .select(col("lang"), col("n_docs"), col("p50"), col("p90"), col("p99"),
          (within(col("ap50"), col("p50")) &&
            within(col("ap90"), col("p90")) &&
            within(col("ap99"), col("p99"))).cast("long").as("approx_within_tol"))
        .orderBy("lang")
    },
    Some("""WITH t AS (
           |  SELECT lang, len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens
           |  FROM documents
           |)
           |SELECT lang, count(*) AS n_docs,
           |  floor(quantile_cont(n_tokens, 0.5) * 10000 + 0.5) / 10000 AS p50,
           |  floor(quantile_cont(n_tokens, 0.9) * 10000 + 0.5) / 10000 AS p90,
           |  floor(quantile_cont(n_tokens, 0.99) * 10000 + 0.5) / 10000 AS p99,
           |  CAST(1 AS BIGINT) AS approx_within_tol
           |FROM t GROUP BY lang ORDER BY lang""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Top bigrams per language — the n-gram frequency table feeding
  // language-model stats and boilerplate detection. Explode bigrams
  // (window `lead`, codegen'd — not an interpreted HOF), count per
  // (lang, bigram), rank per lang. Count ties break on the bigram
  // string so the head-k set is deterministic in both engines.
  // Scale note: the count aggregate is partial+final (map-side
  // combine); only (lang, bigram, count) rows shuffle, and the final
  // per-lang rank touches |distinct bigrams|, not |tokens|.
  // ------------------------------------------------------------------
  val TopBigrams = 5

  val topBigrams: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val wRank = Window.partitionBy("lang").orderBy(col("n").desc, col("bigram"))
      ParquetCatalog.read(s, s"$d/documents.parquet")
        .select(col("doc_id"), col("lang"), posexplode(tokens(col("text"))).as(Seq("pos", "t")))
        .withColumn("t1", lead("t", 1).over(w))
        .filter(col("t1").isNotNull)
        .select(col("lang"), concat_ws(" ", col("t"), col("t1")).as("bigram"))
        .groupBy("lang", "bigram")
        .agg(count(lit(1)).as("n"))
        .withColumn("rnk", row_number().over(wRank))
        .filter(col("rnk") <= TopBigrams)
        .orderBy("lang", "rnk")
    },
    Some(s"""WITH bg AS (
            |  SELECT lang, toks[i] || ' ' || toks[i + 1] AS bigram
            |  FROM (SELECT lang, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
            |       LATERAL unnest(range(1, len(toks))) AS r(i)
            |), counted AS (
            |  SELECT lang, bigram, count(*) AS n FROM bg GROUP BY 1, 2
            |), ranked AS (
            |  SELECT lang, bigram, n,
            |         row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rnk
            |  FROM counted
            |)
            |SELECT lang, bigram, n, rnk FROM ranked WHERE rnk <= $TopBigrams
            |ORDER BY lang, rnk""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Winnowing fingerprints (MOSS-style; Schleimer et al., "Winnowing:
  // Local Algorithms for Document Fingerprinting", SIGMOD'03 — public
  // algorithm): hash every 3-token shingle positionally, then keep the
  // window-min over each run of W consecutive hashes. Guarantees any
  // shared substring of ≥ W+2 tokens contributes a shared fingerprint,
  // with ~1/W of the shingle count stored — the rolling-hash partial
  // dedup key. Uses the md5-derived hash so the oracle replays the
  // exact fingerprints.
  // ------------------------------------------------------------------
  val WinnowWindow = 4

  val winnowFingerprints: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val winnow = w.rowsBetween(0, WinnowWindow - 1)
      ParquetCatalog.read(s, s"$d/documents.parquet")
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "t")))
        .withColumn("t1", lead("t", 1).over(w))
        .withColumn("t2", lead("t", 2).over(w))
        .filter(col("t2").isNotNull)
        .select(col("doc_id"), col("pos"),
          Dedup.hash60(concat_ws(" ", col("t"), col("t1"), col("t2"))).as("hs"))
        .select(col("doc_id"), min(col("hs")).over(winnow).as("fp"))
        .distinct()
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fingerprints"), min(col("fp")).as("min_fingerprint"))
        .orderBy("doc_id")
    },
    Some(s"""WITH sh AS (
            |  SELECT doc_id, i,
            |    ('0x' || substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 15))::BIGINT AS hs
            |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
            |       LATERAL unnest(range(1, len(toks) - 1)) AS r(i)
            |), fp AS (
            |  SELECT DISTINCT doc_id,
            |    min(hs) OVER (PARTITION BY doc_id ORDER BY i
            |                  ROWS BETWEEN CURRENT ROW AND ${WinnowWindow - 1} FOLLOWING) AS fp
            |  FROM sh
            |)
            |SELECT doc_id, count(*) AS n_fingerprints, min(fp) AS min_fingerprint
            |FROM fp GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // TF-IDF top terms per document — the classic relevance weighting,
  // with smooth idf = ln((N+1)/(df+1)) + 1 (the scikit-learn variant:
  // never zero, never divides by zero).
  //
  // Scale notes: tf is one shuffle on (doc_id, term); df reuses tf's
  // rows (already distinct per (doc, term)) with one shuffle on term;
  // the corpus count N joins in as a broadcast scalar, keeping the
  // plan fully lazy (no driver-side count at build time). The final
  // per-doc window ranks a handful of terms per doc — partitions are
  // document-sized, never corpus-sized.
  // ------------------------------------------------------------------
  val TfidfTopK = 3

  val tfidfTopTerms: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = ParquetCatalog.read(s, s"$d/documents.parquet")
      val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val scored = tf.join(df, Seq("term")).crossJoin(broadcast(n))
        .withColumn("tfidf", roundPortable(
          col("tf") * (log((col("n") + 1).cast(DoubleType) / (col("df") + 1)) + 1), 6))
      val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= TfidfTopK)
        .select(col("doc_id"), col("rnk"), col("term"), col("tfidf"))
        .orderBy("doc_id", "rnk")
    },
    Some(s"""WITH tf AS (
            |  SELECT doc_id, term, count(*) AS tf
            |  FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
            |        FROM documents)
            |  GROUP BY 1, 2
            |), dfq AS (
            |  SELECT term, count(*) AS df FROM tf GROUP BY 1
            |), n AS (
            |  SELECT count(*) AS n FROM documents
            |), scored AS (
            |  SELECT tf.doc_id, tf.term,
            |    floor(tf.tf * (ln(CAST(n.n + 1 AS DOUBLE) / (dfq.df + 1)) + 1) * 1000000 + 0.5) / 1000000 AS tfidf
            |  FROM tf JOIN dfq USING (term) CROSS JOIN n
            |), r AS (
            |  SELECT doc_id, term, tfidf,
            |         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
            |  FROM scored
            |)
            |SELECT doc_id, rnk, term, tfidf FROM r WHERE rnk <= $TfidfTopK ORDER BY doc_id, rnk""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Repetition metrics — the Gopher-style quality rules that catch
  // degenerate/boilerplate text which length and punctuation ratios
  // miss: the fraction of the document taken by its single most
  // frequent token / bigram, and the distinct-token ratio. Flags use
  // the published-style thresholds (top token > 20%, top bigram >
  // 18%), compared UNROUNDED in both engines.
  //
  // Scale notes: two shuffles — (doc_id, term) and (doc_id, bigram)
  // counts — then per-doc partial aggregates; the bigram pass reuses
  // the window-lead pattern (codegen'd, no HOF in the hot path).
  // ------------------------------------------------------------------
  val TopTokenTau = 0.2
  val TopBigramTau = 0.18

  val repetition: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = ParquetCatalog.read(s, s"$d/documents.parquet")
      val toks = docs.select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "t")))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val bigrams = toks.withColumn("t1", lead("t", 1).over(w))
        .filter(col("t1").isNotNull)
        .select(col("doc_id"), concat_ws(" ", col("t"), col("t1")).as("bg"))
      val tokStats = toks.groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_tokens"), max("c").as("top_tok"), count(lit(1)).as("n_unique"))
      val bigStats = bigrams.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_bigrams"), max("c").as("top_big"))
      val topTokRatio = col("top_tok").cast(DoubleType) / col("n_tokens")
      val topBigRatio = col("top_big").cast(DoubleType) / col("n_bigrams")
      tokStats.join(bigStats, Seq("doc_id"), "left") // 1-token docs have no bigrams
        .select(
          col("doc_id"), col("n_tokens"),
          roundPortable(topTokRatio, 6).as("top_token_ratio"),
          roundPortable(col("n_unique").cast(DoubleType) / col("n_tokens"), 6).as("distinct_ratio"),
          coalesce(roundPortable(topBigRatio, 6), lit(0.0)).as("top_bigram_ratio"),
          (topTokRatio > TopTokenTau ||
            coalesce(topBigRatio > TopBigramTau, lit(false))).as("repetitive"))
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (
            |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t FROM documents
            |), tokstats AS (
            |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, max(c) AS top_tok, count(*) AS n_unique
            |  FROM (SELECT doc_id, t, count(*) AS c FROM toks GROUP BY 1, 2) GROUP BY 1
            |), bg AS (
            |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
            |           i -> array_to_string(toks[i:i+1], ' '))) AS bg
            |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents)
            |), bigstats AS (
            |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS top_big
            |  FROM (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2) GROUP BY 1
            |)
            |SELECT t.doc_id, t.n_tokens,
            |  floor(CAST(t.top_tok AS DOUBLE) / t.n_tokens * 1000000 + 0.5) / 1000000 AS top_token_ratio,
            |  floor(CAST(t.n_unique AS DOUBLE) / t.n_tokens * 1000000 + 0.5) / 1000000 AS distinct_ratio,
            |  coalesce(floor(CAST(b.top_big AS DOUBLE) / b.n_bigrams * 1000000 + 0.5) / 1000000, 0.0) AS top_bigram_ratio,
            |  (CAST(t.top_tok AS DOUBLE) / t.n_tokens > $TopTokenTau
            |   OR coalesce(CAST(b.top_big AS DOUBLE) / b.n_bigrams > $TopBigramTau, false)) AS repetitive
            |FROM tokstats t LEFT JOIN bigstats b ON b.doc_id = t.doc_id
            |ORDER BY t.doc_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // BM25 retrieval scoring — rank the corpus against a fixed query
  // term set (the curation shape: score documents for topical
  // relevance, keep the top slice; also the evaluation shape behind
  // "retrieve supporting docs for a benchmark prompt"). Okapi BM25
  // with k1=1.2, b=0.75 and the +1 idf smoothing (Robertson/Sparck
  // Jones; the Lucene variant).
  //
  // Determinism contract: per-(doc,term) scores are scalar IEEE
  // expressions of exact integers (tf, dl, df, N) plus one shared
  // double (avg_dl, itself exact-integer-sum / count) — identical
  // operand order on both engines; each term score is rounded to 6 dp
  // and summed in DECIMAL so the per-doc Σ is associative-exact
  // (double Σ would be partition-order dependent).
  //
  // Scale notes: the explode is filtered to the query terms BEFORE
  // any shuffle (the filter fuses into the scan projection — a
  // |terms|-column corpus pass, not a full posting list); df and the
  // corpus stats are kilobyte-scale broadcasts; the final top-k is
  // TakeOrderedAndProject (map-side partial top-k, plan-asserted) —
  // never a global sort of the scored corpus.
  // ------------------------------------------------------------------
  val Bm25QueryTerms = Seq("join", "vector", "stream", "query")
  val Bm25TopK = 20

  val bm25TopK: Q = Q(
    (s, d) => {
      val docs = ParquetCatalog.read(s, s"$d/documents.parquet")
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("dl"))
      val stats = docs.agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avg_dl"))
      val tf = docs.select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
        .filter(col("tok").isInCollection(Bm25QueryTerms))
        .groupBy("doc_id", "dl", "tok").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("tok").agg(countDistinct(col("doc_id")).as("df"))
      val idf = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
      val termScore = idf * (col("tf") * lit(2.2) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avg_dl"))))
      tf.join(broadcast(dfreq), Seq("tok"))
        .crossJoin(broadcast(stats))
        .select(col("doc_id"),
          roundPortable(termScore, 6).cast(DecimalType(18, 6)).as("term_score"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"), sum(col("term_score")).cast(DoubleType).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(Bm25TopK)
        .orderBy(col("bm25").desc, col("doc_id"))
    },
    Some(s"""WITH toks AS (
            |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
            |), stats AS (
            |  SELECT count(*) AS n_docs, CAST(sum(len(t)) AS DOUBLE) / count(*) AS avg_dl FROM toks
            |), tf AS (
            |  SELECT doc_id, dl, tok, count(*) AS tf
            |  FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS tok FROM toks)
            |  WHERE tok IN (${Bm25QueryTerms.map(t => s"'$t'").mkString(", ")})
            |  GROUP BY 1, 2, 3
            |), dfreq AS (
            |  SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1
            |), scored AS (
            |  SELECT t.doc_id,
            |         CAST(floor(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
            |           * (t.tf * 2.2 / (t.tf + 1.2 * (0.25 + 0.75 * t.dl / s.avg_dl)))
            |           * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS term_score
            |  FROM tf t JOIN dfreq d USING (tok) CROSS JOIN stats s
            |)
            |SELECT doc_id, count(*) AS n_terms, CAST(sum(term_score) AS DOUBLE) AS bm25
            |FROM scored GROUP BY doc_id
            |ORDER BY bm25 DESC, doc_id LIMIT $Bm25TopK""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Robust outlier statistics per language: median + MAD (median
  // absolute deviation), the filter pair that survives the heavy-tailed
  // length distributions of web corpora where mean/stddev gates are
  // dragged by the very outliers they should catch. A doc is flagged
  // when |n_tokens − median| > 3·MAD (≈ 2σ on normal data). Two
  // aggregation passes by construction (the second pass needs the
  // first's median); both shuffle only (lang, n_tokens) pairs. The
  // outlier predicate compares against the 4 dp-ROUNDED median/MAD so
  // both engines threshold on identical values.
  // ------------------------------------------------------------------
  val MadK = 3.0

  val outliersMad: Q = Q(
    (s, d) => {
      val docs = ParquetCatalog.read(s, s"$d/documents.parquet")
        .select(col("lang"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      val med = docs.groupBy("lang")
        .agg(roundPortable(percentile(col("n_tokens"), lit(0.5)), 4).as("median_tokens"))
      val withMed = docs.join(med, Seq("lang"))
        .withColumn("adev", abs(col("n_tokens") - col("median_tokens")))
      val mad = withMed.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          first(col("median_tokens")).as("median_tokens"),
          roundPortable(percentile(col("adev"), lit(0.5)), 4).as("mad_tokens"))
      withMed.join(mad.select("lang", "mad_tokens"), Seq("lang"))
        .groupBy("lang")
        .agg(sum((col("adev") > lit(MadK) * col("mad_tokens")).cast("long")).as("n_outliers"))
        .join(mad, Seq("lang"))
        .select(col("lang"), col("n_docs"), col("median_tokens"), col("mad_tokens"), col("n_outliers"))
        .orderBy("lang")
    },
    Some(s"""WITH t AS (
            |  SELECT lang, len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens
            |  FROM documents
            |), med AS (
            |  SELECT lang, floor(quantile_cont(n_tokens, 0.5) * 10000 + 0.5) / 10000 AS median_tokens
            |  FROM t GROUP BY lang
            |), dev AS (
            |  SELECT t.lang, t.n_tokens, m.median_tokens, abs(t.n_tokens - m.median_tokens) AS adev
            |  FROM t JOIN med m USING (lang)
            |), mad AS (
            |  SELECT lang, count(*) AS n_docs, min(median_tokens) AS median_tokens,
            |         floor(quantile_cont(adev, 0.5) * 10000 + 0.5) / 10000 AS mad_tokens
            |  FROM dev GROUP BY lang
            |)
            |SELECT d.lang, m.n_docs, m.median_tokens, m.mad_tokens,
            |       CAST(sum(CAST(d.adev > $MadK * m.mad_tokens AS BIGINT)) AS BIGINT) AS n_outliers
            |FROM dev d JOIN mad m USING (lang)
            |GROUP BY 1, 2, 3, 4
            |ORDER BY d.lang""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Token-length histogram per language — the distribution profile
  // behind curriculum/length-filter threshold choices. Fixed-width
  // buckets from explicit arithmetic (`least(⌊n/50⌋, 15)` — NOT an
  // engine-specific width_bucket, so both engines bin identically and
  // the top bucket is an overflow catch-all). One pass, one shuffle of
  // (lang, bucket) pairs; at 100 TB the partial aggregation collapses
  // each partition to ≤ |langs|·16 rows before the exchange.
  // ------------------------------------------------------------------
  val HistBucketWidth = 50
  val HistMaxBucket = 15

  val lengthHistogram: Q = Q(
    (s, d) =>
      ParquetCatalog.read(s, s"$d/documents.parquet")
        .select(col("lang"), size(tokens(col("text"))).cast("long").as("n_tokens"))
        .select(col("lang"),
          least(floor(col("n_tokens") / HistBucketWidth), lit(HistMaxBucket.toLong))
            .cast("long").as("bucket"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "bucket"),
    Some(s"""SELECT lang,
            |       CAST(least(floor(len(string_split_regex(lower(trim(text)), '\\s+')) / $HistBucketWidth), $HistMaxBucket) AS BIGINT) AS bucket,
            |       count(*) AS n_docs
            |FROM documents GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Gopher-style document quality gates (Rae et al. 2021, "Scaling
  // Language Models", table A1) — the rule-based pre-filter every
  // large-corpus curation pipeline runs before any model-based
  // scoring. Four of the word-level rules, adapted to this corpus:
  // token count in [GopherMinTokens, GopherMaxTokens], mean word
  // length in [3, 10], ≥ 80% of words contain an alphabetic
  // character, ≥ 2 stopword hits. (The line-level Gopher rules —
  // bullet/ellipsis fractions — are omitted: this corpus is
  // single-line by construction, so they would be constant columns.)
  //
  // Every rule is raw-value (never the rounded display column), the
  // same lesson the CorpusPipeline quality gate learned: a gate that
  // thresholds a rounded copy silently forks from the published
  // metric. Pure projection pass — zero shuffle; at 100 TB this is
  // embarrassingly parallel and the booleans prune before any
  // downstream exchange.
  // ------------------------------------------------------------------
  val GopherMinTokens = 50
  val GopherMaxTokens = 100000

  /** ONE definition of the Gopher rule columns, shared by the
    * [[gopherRules]] registry query and the streaming ingest gate
    * (`Streams.gatedDocuments`) — same contract as [[qualityCols]]:
    * the gate cannot silently fork from the published per-rule
    * booleans. All expressions are stateless projections, so they are
    * streaming-safe as-is.
    */
  final case class GopherCols(
      nTokens: Column, meanWordLen: Column, alphaFrac: Column, stopHits: Column,
      passLen: Column, passWordLen: Column, passAlpha: Column, passStop: Column) {
    def pass: Column = passLen && passWordLen && passAlpha && passStop
  }

  def gopherCols(text: Column): GopherCols = {
    val toks = tokens(text)
    val nTokens = size(toks)
    val meanWordLen = length(regexp_replace(trim(text), "\\s+", ""))
      .cast(DoubleType) / nTokens
    val alphaFrac = size(filter(toks, t => t.rlike("[a-z]")))
      .cast(DoubleType) / nTokens
    val stopHits = hits(toks, StopEn)
    GopherCols(nTokens, meanWordLen, alphaFrac, stopHits,
      nTokens.between(GopherMinTokens, GopherMaxTokens),
      meanWordLen >= 3.0 && meanWordLen <= 10.0,
      alphaFrac >= 0.8,
      stopHits >= 2)
  }

  val gopherRules: Q = Q(
    (s, d) => {
      val docs = ParquetCatalog.read(s, s"$d/documents.parquet")
      val gc = gopherCols(col("text"))
      docs.select(
        col("doc_id"),
        gc.nTokens.as("n_tokens"),
        roundPortable(gc.meanWordLen, 4).as("mean_word_len"),
        roundPortable(gc.alphaFrac, 4).as("alpha_word_frac"),
        gc.stopHits.as("stop_hits"),
        gc.passLen.as("pass_len"),
        gc.passWordLen.as("pass_word_len"),
        gc.passAlpha.as("pass_alpha"),
        gc.passStop.as("pass_stop"),
        gc.pass.as("gopher_pass"))
        .orderBy("doc_id")
    },
    Some(s"""WITH m AS (
            |  SELECT doc_id,
            |    len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens,
            |    CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE)
            |      / len(string_split_regex(lower(trim(text)), '\\s+')) AS mwl,
            |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
            |           x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
            |      / len(string_split_regex(lower(trim(text)), '\\s+')) AS af,
            |    len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
            |           x -> x IN ('the','of','and','to','in','is','it','a'))) AS stop_hits
            |  FROM documents
            |)
            |SELECT doc_id, n_tokens,
            |  floor(mwl * 10000 + 0.5) / 10000 AS mean_word_len,
            |  floor(af * 10000 + 0.5) / 10000 AS alpha_word_frac,
            |  stop_hits,
            |  n_tokens BETWEEN $GopherMinTokens AND $GopherMaxTokens AS pass_len,
            |  mwl >= 3.0 AND mwl <= 10.0 AS pass_word_len,
            |  af >= 0.8 AS pass_alpha,
            |  stop_hits >= 2 AS pass_stop,
            |  (n_tokens BETWEEN $GopherMinTokens AND $GopherMaxTokens)
            |    AND mwl >= 3.0 AND mwl <= 10.0 AND af >= 0.8 AND stop_hits >= 2 AS gopher_pass
            |FROM m ORDER BY doc_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Zipf slope per language — fit log(freq) ~ log(rank) over the top
  // K terms with the regr_slope/regr_r2 aggregates. Natural text sits
  // near slope ≈ -1 (Zipf's law); a corpus slice that deviates hard
  // (synthetic spam, boilerplate, key-value dumps) shows up as a
  // shallow slope or a poor r², making this a cheap per-source corpus
  // health metric. Rank ties broken by term (freq DESC, term ASC) so
  // both engines rank identically. Scale: the term-frequency agg
  // shuffles (lang, term) — the same profile as tfidf — then the
  // window + regression run on ≤ |langs|·K rows, i.e. driver-trivial.
  // ------------------------------------------------------------------
  val ZipfTopK = 100

  val zipfSlope: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = ParquetCatalog.read(s, s"$d/documents.parquet")
      val tf = docs.select(col("lang"), explode(tokens(col("text"))).as("t"))
        .groupBy("lang", "t").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("lang").orderBy(col("c").desc, col("t").asc)
      tf.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= ZipfTopK)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_terms"),
          roundPortable(regr_slope(log(col("c")), log(col("rank"))), 4).as("zipf_slope"),
          roundPortable(regr_r2(log(col("c")), log(col("rank"))), 4).as("zipf_r2"))
        .orderBy("lang")
    },
    Some(s"""WITH tf AS (
            |  SELECT lang, t, count(*) AS c
            |  FROM (SELECT lang, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
            |        FROM documents)
            |  GROUP BY 1, 2
            |), ranked AS (
            |  SELECT lang, c, row_number() OVER (PARTITION BY lang ORDER BY c DESC, t ASC) AS rank
            |  FROM tf
            |)
            |SELECT lang, count(*) AS n_terms,
            |  floor(regr_slope(ln(c), ln(rank)) * 10000 + 0.5) / 10000 AS zipf_slope,
            |  floor(regr_r2(ln(c), ln(rank)) * 10000 + 0.5) / 10000 AS zipf_r2
            |FROM ranked WHERE rank <= $ZipfTopK GROUP BY 1 ORDER BY lang""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Bigram-LM perplexity — the model-based quality signal (CCNet-style)
  // beside the rule-based Gopher gate: train an add-k-smoothed bigram
  // LM on the corpus itself, score every document by avg negative
  // log-likelihood, publish exp(avg) as perplexity. Boilerplate and
  // templated text (frequent bigrams) score LOW; lexical noise scores
  // HIGH — threshold either tail.
  //
  // Determinism is the BM25 recipe: each bigram's −ln p is rounded to
  // 6dp FIRST and summed as DECIMAL(18,6), so the per-doc sum is
  // associative and partition-order independent; only the final
  // per-doc average and exp() run in double, in the same op order in
  // both engines. Scale: the LM "training" is two corpus-count
  // aggregates — (token) and (bigram) keys with map-side combine, the
  // tfidf shuffle profile; scoring is an equi-join of the bigram
  // stream against those counts plus a broadcast 1-row vocab anchor.
  // Nothing is ever materialized per-pair or per-vocab² — unseen
  // bigrams cost nothing because only OBSERVED bigrams are scored.
  // ------------------------------------------------------------------
  val SmoothK = 0.5

  /** Per-document bigram-LM scores — (doc_id, n_bigrams, avg_nll_raw)
    * with avg_nll_raw the UNROUNDED double average of 6dp-gridded
    * per-bigram −ln p terms. Shared by [[lmPerplexity]] (reports it)
    * and `Pipelines.qualityResample` (thresholds on it).
    */
  def perDocNll(s: SparkSession, d: String): DataFrame =
    perDocNllOf(ParquetCatalog.read(s, s"$d/documents.parquet"))

  /** [[perDocNll]] over an arbitrary (doc_id, text, …) relation — the
    * LM trains on exactly the given corpus slice (used by
    * `models.CorpusPipeline`'s resample stage, where the corpus is a
    * mid-DAG checkpoint, not the raw table).
    */
  def perDocNllOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tokenize at cluster parallelism even off a single-row-group scan;
    // the bigram window needs hashpartitioning(doc_id) anyway, so on
    // narrow scans this MOVES the exchange below the explode (texts
    // shuffle, token rows don't) and on wide scans it is a no-op
    val src = graft.queries.Inventory.rebalanced(docs, "doc_id")
    val toks = src.select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "t")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val bg = toks.withColumn("t1", lead("t", 1).over(w))
      .filter(col("t1").isNotNull)
      .select(col("doc_id"), col("t"), concat_ws(" ", col("t"), col("t1")).as("bgs"))
    val cUni = toks.groupBy("t").agg(count(lit(1)).as("ct"))
    val cBg = bg.groupBy("bgs").agg(count(lit(1)).as("cbg"))
    val vocab = toks.agg(countDistinct(col("t")).as("vocab"))
    val p = (col("cbg") + lit(SmoothK)) / (col("ct") + lit(SmoothK) * col("vocab"))
    val nll = roundPortable(-log(p), 6).cast(DecimalType(18, 6))
    bg.join(cBg, Seq("bgs"))
      .join(cUni, Seq("t"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), nll.as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("snll"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("snll").cast(DoubleType) / col("n_bigrams")).as("avg_nll_raw"))
  }

  /** The oracle's replay of [[perDocNll]] as a WITH-clause prefix:
    * ends at `perdoc(doc_id, n_bigrams, avg_nll_raw)`. Shared by the
    * perplexity report and the resampling oracle.
    */
  lazy val perDocNllOracleCtes: String = "WITH " + perDocNllOracleCtesOver("documents")

  /** The same CTE chain WITHOUT the leading WITH, trained on an
    * arbitrary (doc_id, text) relation `src` — the oracle twin of
    * [[perDocNllOf]], so composed oracles (the end-to-end corpus DAG
    * replay) can train the LM on a mid-chain CTE. Internal CTE names
    * d/toks/bg/cuni/cbg/vocab/nllterms/perdoc are reserved.
    */
  def perDocNllOracleCtesOver(src: String): String =
    s"""d AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM $src
       |), toks AS (
       |  SELECT doc_id, unnest(toks) AS t FROM d
       |), bg AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |           i -> array_to_string(toks[i:i+1], ' '))) AS bgs
       |  FROM d
       |), cuni AS (
       |  SELECT t, count(*) AS ct FROM toks GROUP BY 1
       |), cbg AS (
       |  SELECT bgs, count(*) AS cbg FROM bg GROUP BY 1
       |), vocab AS (
       |  SELECT count(DISTINCT t) AS vocab FROM toks
       |), nllterms AS (
       |  SELECT b.doc_id,
       |    CAST(floor(-ln((c.cbg + $SmoothK) / (u.ct + $SmoothK * v.vocab)) * 1000000 + 0.5) / 1000000
       |      AS DECIMAL(18,6)) AS nll
       |  FROM bg b
       |  JOIN cbg c USING (bgs)
       |  JOIN cuni u ON split_part(b.bgs, ' ', 1) = u.t
       |  CROSS JOIN vocab v
       |), perdoc AS (
       |  SELECT doc_id, count(*) AS n_bigrams,
       |    CAST(sum(nll) AS DOUBLE) / count(*) AS avg_nll_raw
       |  FROM nllterms GROUP BY 1
       |)""".stripMargin

  val lmPerplexity: Q = Q(
    (s, d) =>
      perDocNll(s, d)
        .select(col("doc_id"), col("n_bigrams"),
          roundPortable(col("avg_nll_raw"), 6).as("avg_nll"),
          roundPortable(exp(col("avg_nll_raw")), 4).as("perplexity"))
        .orderBy("doc_id"),
    Some(s"""$perDocNllOracleCtes
            |SELECT doc_id, n_bigrams,
            |  floor(avg_nll_raw * 1000000 + 0.5) / 1000000 AS avg_nll,
            |  floor(exp(avg_nll_raw) * 10000 + 0.5) / 10000 AS perplexity
            |FROM perdoc ORDER BY doc_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Term-distribution drift — Jensen–Shannon divergence between two
  // corpus slices, per language. The monitoring primitive of a
  // continuous-ingest pipeline: yesterday's corpus vs today's batch
  // (here the deterministic doc_id-parity split, which doubles as the
  // split-half noise floor any real drift must exceed: JSD ≈ 0 when
  // the slices are exchangeable, → ln 2 on disjoint vocabularies).
  // JSD handles unseen terms natively (a term in one slice only
  // contributes p/2·ln 2 via M=(P+Q)/2 — no smoothing constant).
  //
  // Determinism is the BM25/perplexity recipe again: each term's
  // contribution is rounded to 6dp and summed as DECIMAL, so the
  // per-lang total is associative. Scale: ONE (lang, term, parity)
  // count aggregate over the corpus (map-side combined), then the
  // divergence runs on vocabulary-sized data; JSD needs no vocab²
  // structure and no broadcast beyond the per-lang slice totals.
  // ------------------------------------------------------------------
  val termDrift: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = ParquetCatalog.read(s, s"$d/documents.parquet")
      val counts = docs
        .select(col("lang"), (col("doc_id") % 2).as("slice"), explode(tokens(col("text"))).as("t"))
        .groupBy("lang", "t")
        .agg(sum(when(col("slice") === 0, 1L).otherwise(0L)).as("c0"),
          sum(when(col("slice") === 1, 1L).otherwise(0L)).as("c1"))
      val wl = Window.partitionBy("lang")
      val withTot = counts
        .withColumn("n0", sum(col("c0")).over(wl))
        .withColumn("n1", sum(col("c1")).over(wl))
      val p = col("c0").cast(DoubleType) / col("n0")
      val q = col("c1").cast(DoubleType) / col("n1")
      val m = (p + q) / 2
      val term = when(col("c0") > 0, p * log(p / m) / 2).otherwise(lit(0.0)) +
        when(col("c1") > 0, q * log(q / m) / 2).otherwise(lit(0.0))
      withTot
        .select(col("lang"), col("n0"), col("n1"),
          roundPortable(term, 6).cast(DecimalType(18, 6)).as("contrib"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_terms"),
          min(col("n0")).as("tokens_slice0"),
          min(col("n1")).as("tokens_slice1"),
          roundPortable(sum(col("contrib")).cast(DoubleType), 6).as("jsd"))
        .orderBy("lang")
    },
    Some("""WITH toks AS (
           |  SELECT lang, doc_id % 2 AS slice, unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
           |  FROM documents
           |), counts AS (
           |  SELECT lang, t,
           |         CAST(sum(CAST(slice = 0 AS BIGINT)) AS BIGINT) AS c0,
           |         CAST(sum(CAST(slice = 1 AS BIGINT)) AS BIGINT) AS c1
           |  FROM toks GROUP BY 1, 2
           |), tot AS (
           |  SELECT lang, t, c0, c1,
           |         sum(c0) OVER (PARTITION BY lang) AS n0,
           |         sum(c1) OVER (PARTITION BY lang) AS n1
           |  FROM counts
           |), terms AS (
           |  SELECT lang, CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           |    CAST(floor((
           |      CASE WHEN c0 > 0 THEN (CAST(c0 AS DOUBLE) / n0) * ln((CAST(c0 AS DOUBLE) / n0)
           |        / ((CAST(c0 AS DOUBLE) / n0 + CAST(c1 AS DOUBLE) / n1) / 2)) / 2 ELSE 0.0 END +
           |      CASE WHEN c1 > 0 THEN (CAST(c1 AS DOUBLE) / n1) * ln((CAST(c1 AS DOUBLE) / n1)
           |        / ((CAST(c0 AS DOUBLE) / n0 + CAST(c1 AS DOUBLE) / n1) / 2)) / 2 ELSE 0.0 END
           |    ) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS contrib
           |  FROM tot
           |)
           |SELECT lang, count(*) AS n_terms, min(n0) AS tokens_slice0, min(n1) AS tokens_slice1,
           |       floor(CAST(sum(contrib) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS jsd
           |FROM terms GROUP BY 1 ORDER BY lang""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Heavy hitters via sketch candidates + exact re-rank. The corpus
  // top-k term problem at 100 TB: an exact groupBy over ALL terms
  // shuffles the full vocabulary (fine here, ruinous at web scale
  // where the long tail is billions of strings). The sketch answer is
  // `approx_top_k` (a DataSketches frequent-items sketch: fixed
  // memory, mergeable across partitions, map-side combinable) — but a
  // frequency sketch's counts near the k boundary carry error, so the
  // production pattern is CANDIDATES + VERIFY, same as every dedup
  // operator here: over-fetch 2k candidates from the sketch (cheap,
  // bounded memory), then exact-count ONLY the candidate terms with a
  // broadcast semi-join (a |candidates|-sized shuffle, not a
  // |vocab|-sized one) and re-rank deterministically. The emitted
  // `est_within_pct` boolean pins the sketch's estimate to ±1% of the
  // exact count per kept term (the sketch is operating far under its
  // maxMapSize here, where its guarantees make error zero — the
  // boolean FAILS the driver gate if the sketch ever drifts); the
  // DuckDB oracle replays the exact top-k, so the gate also proves
  // the candidate set COVERED the true top-k.
  // ------------------------------------------------------------------
  val HeavyHittersK = 10

  val heavyHitters: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val tok = ParquetCatalog.read(s, s"$d/documents.parquet")
        .select(explode(tokens(col("text"))).as("term"))
      // sketch pass: 2k candidates, fixed memory, one 1-row aggregate
      val cand = tok
        .agg(expr(s"approx_top_k(term, ${2 * HeavyHittersK}, 8192)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("term"), col("e.count").as("est_n"))
      // verify pass: exact counts of the candidate terms only
      val exact = tok.join(broadcast(cand.select("term")), Seq("term"), "left_semi")
        .groupBy("term").agg(count(lit(1)).as("n"))
      exact.join(broadcast(cand), Seq("term"))
        .withColumn("rnk", row_number().over(Window.orderBy(col("n").desc, col("term"))))
        .filter(col("rnk") <= HeavyHittersK)
        .select(col("term"), col("n"), col("rnk"),
          (abs(col("est_n").cast(DoubleType) - col("n").cast(DoubleType)) <=
            col("n").cast(DoubleType) * 0.01).cast("long").as("est_within_pct"))
        .orderBy("rnk")
    },
    Some(s"""WITH c AS (
            |  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
            |  FROM documents
            |), n AS (
            |  SELECT term, count(*) AS n FROM c GROUP BY 1
            |)
            |SELECT term, n,
            |       row_number() OVER (ORDER BY n DESC, term) AS rnk,
            |       CAST(1 AS BIGINT) AS est_within_pct
            |FROM n ORDER BY n DESC, term LIMIT $HeavyHittersK""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Readability scoring — Flesch reading ease from the three classic
  // observables (words, sentences, vowel-group syllables; Flesch 1948,
  // public formula). Each count is a codegen'd regex/size expression
  // over the row — no explode, no shuffle, a pure projection pass at
  // any scale — and the band CASE thresholds on the ALREADY-ROUNDED
  // score so both engines bucket identically (per-row expression trees
  // are bit-deterministic; only aggregation order ever isn't).
  // The syllable regex is the standard heuristic, not a dictionary —
  // stated so the oracle replays the same approximation.
  // ------------------------------------------------------------------
  /** Flesch reading-ease building blocks — ONE definition shared by
    * [[readability]] and `Pipelines.curriculum` (the same no-fork rule
    * as [[qualityCols]]): (n_words, n_sentences, n_syllables) floored
    * at 1, and the 2dp-rounded score.
    */
  def fleschParts(text: Column): (Column, Column, Column) = (
    greatest(size(tokens(text)), lit(1)).cast("long"),
    greatest(regexp_count(text, lit("[.!?]+")), lit(1)).cast("long"),
    greatest(regexp_count(lower(text), lit("[aeiouy]+")), lit(1)).cast("long"))

  def flesch2dp(w: Column, sn: Column, syl: Column): Column = roundPortable(
    lit(206.835)
      - lit(1.015) * (w.cast(DoubleType) / sn.cast(DoubleType))
      - lit(84.6) * (syl.cast(DoubleType) / w.cast(DoubleType)), 2)

  val readability: Q = Q(
    (s, d) => {
      val docs = ParquetCatalog.read(s, s"$d/documents.parquet")
      val (w, sn, syl) = fleschParts(col("text"))
      val flesch = flesch2dp(w, sn, syl)
      docs.select(
          col("doc_id"),
          w.as("n_words"), sn.as("n_sentences"), syl.as("n_syllables"),
          flesch.as("flesch"))
        .withColumn("band",
          when(col("flesch") >= 60.0, "easy")
            .when(col("flesch") >= 30.0, "medium")
            .otherwise("hard"))
        .orderBy("doc_id")
    },
    Some("""WITH m AS (
           |  SELECT doc_id,
           |    greatest(len(string_split_regex(lower(trim(text)), '\s+')), 1) AS n_words,
           |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
           |    greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS n_syllables
           |  FROM documents
           |), f AS (
           |  SELECT doc_id, n_words, n_sentences, n_syllables,
           |    floor((206.835
           |           - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
           |           - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)) * 100 + 0.5) / 100 AS flesch
           |  FROM m
           |)
           |SELECT doc_id, n_words, n_sentences, n_syllables, flesch,
           |       CASE WHEN flesch >= 60.0 THEN 'easy'
           |            WHEN flesch >= 30.0 THEN 'medium'
           |            ELSE 'hard' END AS band
           |FROM f ORDER BY doc_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Per-document token Shannon entropy — the information-density
  // quality signal (near-zero for boilerplate/repetition spam even
  // when Gopher's ratio gates pass; maximal for diverse vocabulary).
  // Formulated as H = ln n − (Σ c·ln c)/n so ONE (doc, token) count
  // aggregate feeds it: no window, no second pass, and the per-term
  // c·ln c contributions are 6dp-decimal-summed (the repo's standard
  // associativity contract — a raw double Σ would be partition-order
  // dependent). Scale: the (doc_id, token) aggregate map-side combines
  // within each doc's partition; state is O(doc vocabulary), and the
  // final per-doc reduce is O(1) per term.
  // ------------------------------------------------------------------
  val tokenEntropy: Q = Q(
    (s, d) => {
      val docs = ParquetCatalog.read(s, s"$d/documents.parquet")
      val tf = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      val clnc = roundPortable(col("c").cast(DoubleType) * log(col("c").cast(DoubleType)), 6)
        .cast(DecimalType(28, 6))
      tf.select(col("doc_id"), col("c"), clnc.as("clnc"))
        .groupBy("doc_id")
        .agg(
          sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_unique"),
          sum(col("clnc")).as("sclnc"))
        .select(col("doc_id"), col("n_tokens"), col("n_unique"),
          roundPortable(
            log(col("n_tokens").cast(DoubleType))
              - col("sclnc").cast(DoubleType) / col("n_tokens"), 4).as("token_entropy"))
        .orderBy("doc_id")
    },
    Some("""WITH tf AS (
           |  SELECT doc_id, t, count(*) AS c FROM (
           |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
           |    FROM documents)
           |  GROUP BY 1, 2
           |), terms AS (
           |  SELECT doc_id, c,
           |    CAST(floor(c * ln(c) * 1000000 + 0.5) / 1000000 AS DECIMAL(28,6)) AS clnc
           |  FROM tf
           |)
           |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_unique,
           |  floor((ln(CAST(sum(c) AS DOUBLE)) - CAST(sum(clnc) AS DOUBLE) / sum(c)) * 10000 + 0.5) / 10000
           |    AS token_entropy
           |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // BPE merge training, step 0 — the tokenizer-training job. Real BPE
  // trainers (subword-nmt; HF tokenizers) never pair-count the raw
  // corpus: they pair-count the DISTINCT-WORD table with corpus
  // frequencies attached, because pair statistics are a function of
  // (word, freq) alone. Same split here: the corpus-scaled work is ONE
  // map-side-combined word count; pair generation then runs on
  // vocab-sized data — each distinct word of length L emits its L−1
  // adjacent character pairs via an exploded 1-based index + substring
  // (positional, no HOFs, no per-word window) — and the top-K
  // candidate merges come out of a TakeOrderedAndProject (map-side
  // bounded top-k; ties break on the pair string so the K-row result
  // is total-ordered). The merge LOOP that consumes these counts is
  // [[bpeTrain]]: each merge changes the pair statistics, but the
  // table they change on stays vocab-sized, so the iteration is
  // driver Scala over the collected word-frequency table — the
  // eigensolve split again (corpus-scaled statistics distributed
  // once; fixed-size iteration on the driver).
  // ------------------------------------------------------------------
  val BpeTopK = 20

  val bpeMerges: Q = Q(
    (s, d) => {
      val docs = ParquetCatalog.read(s, s"$d/documents.parquet")
      val words = docs.select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
      words.filter(length(col("w")) >= 2)
        .select(col("w"), col("freq"),
          explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
        .select(expr("substring(w, i, 2)").as("pair"), col("freq"))
        .groupBy("pair").agg(sum(col("freq")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("pair"))
        .limit(BpeTopK)
    },
    Some(s"""WITH words AS (
            |  SELECT t AS w, count(*) AS freq FROM (
            |    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t FROM documents
            |  ) GROUP BY 1
            |), pairs AS (
            |  SELECT substring(w, i, 2) AS pair, freq
            |  FROM words, LATERAL unnest(range(1, length(w))) AS r(i)
            |)
            |SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count
            |FROM pairs GROUP BY 1 ORDER BY pair_count DESC, pair LIMIT $BpeTopK""".stripMargin)
  )

  /** Iterative BPE trainer over a word-frequency table. Driver-side
    * BY DESIGN: the (distinct-word, freq) table is vocab-sized —
    * ~10⁶ rows for a 100 TB corpus, collected once via the
    * [[bpeMerges]] word-count aggregate — while each of the N merge
    * steps rewrites symbol sequences and re-counts pairs, which is
    * a sequential dependency no cluster shuffle can parallelize
    * usefully at vocab scale (HF tokenizers make the same call).
    * Ties break on count desc, then (left, right) lexicographic, so
    * the merge list is deterministic. Returns the ordered merges.
    */
  def bpeTrain(wordFreq: Seq[(String, Long)], nMerges: Int): Seq[(String, String)] = {
    var words: Map[Vector[String], Long] =
      wordFreq.groupMapReduce(_._1.split("").toVector)(_._2)(_ + _)
    val merges = Seq.newBuilder[(String, String)]
    var k = 0
    var exhausted = false
    while (k < nMerges && !exhausted) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- words; i <- 0 until syms.length - 1) {
        val key = (syms(i), syms(i + 1))
        counts(key) = counts.getOrElse(key, 0L) + f
      }
      if (counts.isEmpty) exhausted = true
      else {
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        val joined = best._1 + best._2
        words = words.toSeq.map { case (syms, f) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == best._1 && syms(i + 1) == best._2) {
              out += joined; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.result(), f)
        }.groupMapReduce(_._1)(_._2)(_ + _)
        k += 1
      }
    }
    merges.result()
  }

  // ------------------------------------------------------------------
  // PMI collocations — association strength beside `text_top_bigrams`'
  // raw frequency: PMI(a,b) = ln(p(ab)/(p(a)p(b))) surfaces "strong
  // glue" pairs that frequency ranking buries under common-word
  // combinations (Church & Hanks 1990 — public method). Per language,
  // min-count ≥ 5 (the standard noise floor), top-K by PMI.
  //
  // Determinism: every count is exact; the PMI operands are cast to
  // double FIRST (a long product nab·Nu² silently overflows past
  // ~10⁹-token corpora; the double chain stays exact to 2⁵³ and then
  // degrades gracefully), the quotient and ln are single IEEE ops in
  // identical order in both engines, and ranking uses the 6dp-rounded
  // PMI with the bigram string as tiebreak. Scale: one bigram-type
  // aggregate (map-side combined), vocab-sized unigram joins, per-lang
  // totals via windows OVER THE AGGREGATES — the corpus shuffles once.
  // ------------------------------------------------------------------
  val PmiTopK = 15
  val PmiMinCount = 5L

  val collocationPmi: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val wl = Window.partitionBy("lang").rowsBetween(Long.MinValue, Long.MaxValue)
      val toks = ParquetCatalog.read(s, s"$d/documents.parquet")
        .select(col("doc_id"), col("lang"), posexplode(tokens(col("text"))).as(Seq("pos", "t")))
      val uni = toks.groupBy("lang", "t").agg(count(lit(1)).as("cnt"))
        .withColumn("nu", sum("cnt").over(wl))
      val bgc = toks.withColumn("t1", lead("t", 1).over(w))
        .filter(col("t1").isNotNull)
        .groupBy("lang", "t", "t1").agg(count(lit(1)).as("nab"))
        .withColumn("nbg", sum("nab").over(wl))
        .filter(col("nab") >= PmiMinCount)
      val pmi = log((col("nab").cast(DoubleType) * col("nu") * col("nu")) /
        (col("nbg").cast(DoubleType) * col("na") * col("nb")))
      val wRank = Window.partitionBy("lang").orderBy(col("pmi").desc, col("bigram"))
      bgc
        .join(uni.select(col("lang"), col("t"), col("cnt").as("na"), col("nu")), Seq("lang", "t"))
        .join(uni.select(col("lang"), col("t").as("t1"), col("cnt").as("nb")), Seq("lang", "t1"))
        .select(col("lang"), concat_ws(" ", col("t"), col("t1")).as("bigram"),
          col("nab"), roundPortable(pmi, 6).as("pmi"))
        .withColumn("rnk", row_number().over(wRank))
        .filter(col("rnk") <= PmiTopK)
        .orderBy("lang", "rnk")
    },
    Some(s"""WITH tk AS (
            |  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents
            |), uni AS (
            |  SELECT lang, t, count(*) AS cnt,
            |         sum(count(*)) OVER (PARTITION BY lang) AS nu
            |  FROM (SELECT lang, unnest(toks) AS t FROM tk) GROUP BY 1, 2
            |), bgc AS (
            |  SELECT lang, t, t1, nab, nbg FROM (
            |    SELECT lang, t, t1, count(*) AS nab,
            |           sum(count(*)) OVER (PARTITION BY lang) AS nbg
            |    FROM (SELECT lang, toks[i] AS t, toks[i + 1] AS t1
            |          FROM tk, LATERAL unnest(range(1, len(toks))) AS r(i))
            |    GROUP BY 1, 2, 3
            |  ) WHERE nab >= $PmiMinCount
            |), scored AS (
            |  SELECT b.lang, b.t || ' ' || b.t1 AS bigram, b.nab,
            |    floor(ln((CAST(b.nab AS DOUBLE) * a.nu * a.nu)
            |            / (CAST(b.nbg AS DOUBLE) * a.cnt * c.cnt)) * 1000000 + 0.5) / 1000000 AS pmi
            |  FROM bgc b
            |  JOIN uni a ON a.lang = b.lang AND a.t = b.t
            |  JOIN uni c ON c.lang = b.lang AND c.t = b.t1
            |)
            |SELECT lang, bigram, nab, pmi, rnk FROM (
            |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY pmi DESC, bigram) AS rnk
            |  FROM scored
            |) WHERE rnk <= $PmiTopK ORDER BY lang, rnk""".stripMargin)
  )

  // ------------------------------------------------------------------
  // MTLD lexical diversity (McCarthy & Jarvis, "MTLD, vocd-D, and
  // HD-D: A validation study of sophisticated approaches to lexical
  // diversity assessment", BRM 2010 — public algorithm): the
  // length-robust diversity metric curation pipelines use where raw
  // TTR fails (TTR decays with document length; MTLD measures the
  // mean length of sequential token runs that SUSTAIN TTR ≥ 0.72,
  // averaged over a forward and a backward pass, with the standard
  // (1−TTR_end)/(1−0.72) partial-factor remainder).
  //
  // Engine shape: ONE fused projection pass per row — the native
  // [[graft.functions.MtldFold]] expression walks the token array
  // once, advancing the forward and backward folds together (element
  // i beside element n−1−i), and returns struct(n_tokens, fcf, fcb).
  // No explode, no shuffle, and no reverse() materialization; the
  // run-distinct state is a HashSet that MTLD's own reset discipline
  // bounds (a run ends as soon as TTR dips, so state stays tens of
  // tokens regardless of document length — the same reason the
  // metric is length-robust makes the state bounded). This replaced
  // two `aggregate` higher-order projections whose per-element
  // lambdas evaluated through the interpreted expression walker —
  // same grid math (ExtSpec pins native ≡ dual-HOF bit-parity), ~7×
  // the wall (3.7 → 0.5 s at sf0.1), and the expression stays inside
  // whole-stage codegen.
  // Both engines fold the same tokens in the same order with the
  // same double TTR compares, so factor counts are identical and the
  // final doubles bit-agree; docs whose factor count is 0 in a
  // direction (short, all-distinct) publish NULL for that direction
  // by the stated guard.
  // ------------------------------------------------------------------
  val MtldThreshold: Double = graft.functions.MtldFold.Threshold

  val mtld: Q = Q(
    (s, d) => {
      val out = ParquetCatalog.read(s, s"$d/documents.parquet")
        .select(col("doc_id"), graft.functions.MtldFold(tokens(col("text"))).as("f"))
        .select(col("doc_id"), col("f.n_tokens").as("n_tokens"),
          col("f.fcf").as("fcf"), col("f.fcb").as("fcb"))
        .select(col("doc_id"), col("n_tokens"),
          when(col("fcf") > 0, col("n_tokens").cast(DoubleType) / col("fcf")).as("mf"),
          when(col("fcb") > 0, col("n_tokens").cast(DoubleType) / col("fcb")).as("mb"))
      out.select(col("doc_id"), col("n_tokens"),
        roundPortable(col("mf"), 6).as("mtld_fwd"),
        roundPortable(col("mb"), 6).as("mtld_bwd"),
        roundPortable((col("mf") + col("mb")) / lit(2.0), 6).as("mtld"))
        .orderBy("doc_id")
    },
    Some {
      def rec(name: String, reversed: Boolean): String = {
        val pos = if (reversed) "n + 1 - i" else "i"
        s"""${name}tok AS (
           |  SELECT doc_id, i, toks[$pos] AS t, n
           |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks,
           |               len(string_split_regex(lower(trim(text)), '\\s+')) AS n
           |        FROM documents),
           |       LATERAL unnest(range(1, n + 1)) AS r(i)
           |), $name AS (
           |  SELECT doc_id, i, n, [t] AS types, 1 AS tokc, 1 AS typec, 0 AS factors
           |  FROM ${name}tok WHERE i = 1
           |  UNION ALL
           |  SELECT x.doc_id, x.i, x.n,
           |    CASE WHEN CAST(f.typec + (CASE WHEN list_contains(f.types, x.t) THEN 0 ELSE 1 END) AS DOUBLE)
           |              / CAST(f.tokc + 1 AS DOUBLE) < $MtldThreshold
           |         THEN CAST([] AS VARCHAR[])
           |         WHEN list_contains(f.types, x.t) THEN f.types
           |         ELSE list_append(f.types, x.t) END,
           |    CASE WHEN CAST(f.typec + (CASE WHEN list_contains(f.types, x.t) THEN 0 ELSE 1 END) AS DOUBLE)
           |              / CAST(f.tokc + 1 AS DOUBLE) < $MtldThreshold
           |         THEN 0 ELSE f.tokc + 1 END,
           |    CASE WHEN CAST(f.typec + (CASE WHEN list_contains(f.types, x.t) THEN 0 ELSE 1 END) AS DOUBLE)
           |              / CAST(f.tokc + 1 AS DOUBLE) < $MtldThreshold
           |         THEN 0 ELSE f.typec + (CASE WHEN list_contains(f.types, x.t) THEN 0 ELSE 1 END) END,
           |    f.factors + CASE WHEN CAST(f.typec + (CASE WHEN list_contains(f.types, x.t) THEN 0 ELSE 1 END) AS DOUBLE)
           |              / CAST(f.tokc + 1 AS DOUBLE) < $MtldThreshold THEN 1 ELSE 0 END
           |  FROM $name f JOIN ${name}tok x ON x.doc_id = f.doc_id AND x.i = f.i + 1
           |), ${name}fc AS (
           |  SELECT doc_id, n,
           |    CAST(factors AS DOUBLE) + CASE WHEN tokc > 0
           |      THEN (1.0 - CAST(typec AS DOUBLE) / CAST(tokc AS DOUBLE)) / ${1.0 - MtldThreshold}
           |      ELSE 0.0 END AS fc
           |  FROM $name WHERE i = n
           |)""".stripMargin
      }
      s"""WITH RECURSIVE ${rec("fwd", reversed = false)}, ${rec("bwd", reversed = true)}
         |SELECT f.doc_id, f.n AS n_tokens,
         |  floor(CASE WHEN f.fc > 0 THEN CAST(f.n AS DOUBLE) / f.fc END * 1000000 + 0.5) / 1000000 AS mtld_fwd,
         |  floor(CASE WHEN b.fc > 0 THEN CAST(b.n AS DOUBLE) / b.fc END * 1000000 + 0.5) / 1000000 AS mtld_bwd,
         |  floor((CASE WHEN f.fc > 0 THEN CAST(f.n AS DOUBLE) / f.fc END
         |       + CASE WHEN b.fc > 0 THEN CAST(b.n AS DOUBLE) / b.fc END) / 2.0 * 1000000 + 0.5) / 1000000 AS mtld
         |FROM fwdfc f JOIN bwdfc b USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    }
  )

  // ------------------------------------------------------------------
  // Heaps'-law vocabulary-growth curve (Heaps, "Information Retrieval:
  // Computational and Theoretical Aspects", 1978 — public law
  // V(N) ≈ k·N^β): cumulative distinct-type count vs cumulative token
  // count at B doc-id-range checkpoints, plus the fitted (β, k) from
  // an OLS of ln V on ln N over those checkpoints. The capacity-
  // planning statistic for everything vocab-bounded in this engine
  // (DSIR buckets, BPE vocab, TextRank/k-core graphs): β says how
  // fast the type space grows when the corpus 10×es.
  //
  // Scale shape: "prefix growth in ingestion order" WITHOUT a corpus
  // sort — checkpoints are doc_id RANGE buckets (max_id via a 1-row
  // broadcast, never a collect), first occurrence of a type is a
  // groupBy(token).min(bucket) — vocab-sized, Heaps-bounded by its own
  // subject — and both per-bucket aggregates are map-side combined.
  // The cumulative window and the regression then run over exactly B
  // rows (the mixture-KL bounded-window precedent). Integer counts
  // end to end; only the (β, k) fit is floating point, published on
  // the 4dp regr grid (the zipf_slope contract).
  // ------------------------------------------------------------------
  val HeapsBuckets = 20

  val heapsLaw: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = ParquetCatalog.read(s, s"$d/documents.parquet")
      val maxRow = docs.agg(max(col("doc_id")).as("max_id"))
      val tok = docs.crossJoin(broadcast(maxRow))
        .select(least(lit(HeapsBuckets - 1),
            floor(col("doc_id") * HeapsBuckets / (col("max_id") + lit(1)))).cast("int").as("b"),
          explode(tokens(col("text"))).as("t"))
      // ONE tokenization pass: the (token, bucket) count table is
      // vocab×B-sized (Heaps-bounded); a per-token min-bucket WINDOW
      // over that tiny table marks first occurrences, and ONE groupBy
      // derives BOTH the token totals and the new-type counts — a
      // two-aggregate draft re-tokenized the corpus per consumer
      // (column pruning rewrote the branches onto different shuffle
      // keys, defeating AQE stage reuse: measured 3 scans vs 2)
      val tb = tok.groupBy("t", "b").agg(count(lit(1)).as("c"))
        .withColumn("first_b", min(col("b")).over(Window.partitionBy("t")))
      val agg = tb.groupBy("b")
        .agg(sum(col("c")).as("n_toks"),
          sum(when(col("b") === col("first_b"), 1L).otherwise(0L)).as("n_new"))
      val w = Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = agg
        .select(col("b"), col("b").as("bucket"), col("n_toks"), col("n_new"))
        .withColumn("cum_tokens", sum(col("n_toks")).over(w))
        .withColumn("cum_types", sum(col("n_new")).over(w))
        .select("bucket", "cum_tokens", "cum_types")
      val lnV = log(col("cum_types").cast(DoubleType))
      val lnN = log(col("cum_tokens").cast(DoubleType))
      val fit = cum.agg(
        roundPortable(regr_slope(lnV, lnN), 4).as("heaps_beta"),
        roundPortable(exp(regr_intercept(lnV, lnN)), 4).as("heaps_k"))
      cum.crossJoin(broadcast(fit)).orderBy("bucket")
    },
    Some(s"""WITH mx AS (SELECT max(doc_id) AS max_id FROM documents),
            |tok AS (
            |  SELECT least(${HeapsBuckets - 1},
            |           CAST(floor(doc_id * $HeapsBuckets / (max_id + 1)) AS INT)) AS b, t
            |  FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
            |        FROM documents), mx
            |), tb AS (
            |  SELECT b, c, min(b) OVER (PARTITION BY t) AS first_b
            |  FROM (SELECT t, b, count(*) AS c FROM tok GROUP BY 1, 2)
            |), agg AS (
            |  SELECT b AS bucket, CAST(sum(c) AS BIGINT) AS n_toks,
            |         CAST(sum(CASE WHEN b = first_b THEN 1 ELSE 0 END) AS BIGINT) AS n_new
            |  FROM tb GROUP BY 1
            |), cum AS (
            |  SELECT bucket,
            |    CAST(sum(n_toks) OVER (ORDER BY bucket) AS BIGINT) AS cum_tokens,
            |    CAST(sum(n_new) OVER (ORDER BY bucket) AS BIGINT) AS cum_types
            |  FROM agg
            |), fit AS (
            |  SELECT
            |    floor(regr_slope(ln(cum_types), ln(cum_tokens)) * 10000 + 0.5) / 10000 AS heaps_beta,
            |    floor(exp(regr_intercept(ln(cum_types), ln(cum_tokens))) * 10000 + 0.5) / 10000 AS heaps_k
            |  FROM cum
            |)
            |SELECT bucket, cum_tokens, cum_types, heaps_beta, heaps_k
            |FROM cum CROSS JOIN fit ORDER BY bucket""".stripMargin)
  )

  // ------------------------------------------------------------------
  // COUNT-MIN SKETCH frequency estimation (Cormode & Muthukrishnan,
  // "An Improved Data Stream Summary: The Count-Min Sketch", J.Alg
  // 2005 — public algorithm): the third classic sketch beside HLL
  // (`agg_approx_distinct`/`agg_sketch_merge`) and SpaceSaving (the
  // streaming hitters twin). D=4 hash rows × W=256 counters summarize
  // the token stream in 1 KiB-scale state; a term's estimate is the
  // MIN over its D cells — never an undercount, overcount bounded by
  // cell collisions. Published here for the exact top-N terms so the
  // one-sided error is VISIBLE against truth (est_n ≥ true_n always;
  // slack = collision mass).
  //
  // Unlike the HLL queries (error-contract oracle), this sketch is
  // fully DETERMINISTIC — md5-derived row hashes, integer cells — so
  // DuckDB replays the exact sketch and the gate hash-matches the
  // estimates themselves. Scale: one token pass map-side combines to
  // ≤ D·W cells + a vocab-sized true-count aggregate; the top-N probe
  // joins D·N broadcast rows against the cell table.
  // ------------------------------------------------------------------
  val CmDepth = 4
  val CmWidth = 256
  val CmTopN = 10

  val countminHitters: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = ParquetCatalog.read(s, s"$d/documents.parquet")
        .select(explode(tokens(col("text"))).as("t"))
      val cells = toks
        .select(explode(sequence(lit(0), lit(CmDepth - 1))).as("dep"), col("t"))
        .select(col("dep"),
          pmod(Dedup.hash60(concat(col("dep").cast("string"), lit(":"), col("t"))),
            lit(CmWidth.toLong)).as("cell"))
        .groupBy("dep", "cell").agg(count(lit(1)).as("n"))
      val top = toks.groupBy("t").agg(count(lit(1)).as("true_n"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("true_n").desc, col("t"))))
        .filter(col("rk") <= CmTopN)
      val probes = top.select(col("t"), col("true_n"), col("rk"),
          explode(sequence(lit(0), lit(CmDepth - 1))).as("dep"))
        .select(col("t"), col("true_n"), col("rk"), col("dep"),
          pmod(Dedup.hash60(concat(col("dep").cast("string"), lit(":"), col("t"))),
            lit(CmWidth.toLong)).as("cell"))
      broadcast(probes).join(cells, Seq("dep", "cell"))
        .groupBy(col("t").as("term"), col("true_n"), col("rk"))
        .agg(min(col("n")).as("est_n"))
        .select(col("term"), col("true_n"), col("est_n"), col("rk"),
          (col("est_n") >= col("true_n")).as("never_undercounts"))
        .orderBy("rk")
    },
    Some(s"""WITH toks AS (
            |  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t FROM documents
            |), cells AS (
            |  SELECT dep, ('0x' || substr(md5(CAST(dep AS VARCHAR) || ':' || t), 1, 15))::BIGINT % $CmWidth AS cell,
            |         count(*) AS n
            |  FROM toks, LATERAL unnest(range(0, $CmDepth)) AS r(dep)
            |  GROUP BY 1, 2
            |), top AS (
            |  SELECT t, true_n, rk FROM (
            |    SELECT t, count(*) AS true_n,
            |           row_number() OVER (ORDER BY count(*) DESC, t) AS rk
            |    FROM toks GROUP BY 1) WHERE rk <= $CmTopN
            |), probes AS (
            |  SELECT t, true_n, rk, dep,
            |    ('0x' || substr(md5(CAST(dep AS VARCHAR) || ':' || t), 1, 15))::BIGINT % $CmWidth AS cell
            |  FROM top, LATERAL unnest(range(0, $CmDepth)) AS r(dep)
            |)
            |SELECT p.t AS term, p.true_n, CAST(min(c.n) AS BIGINT) AS est_n, p.rk,
            |       CAST(min(c.n) AS BIGINT) >= p.true_n AS never_undercounts
            |FROM probes p JOIN cells c ON c.dep = p.dep AND c.cell = p.cell
            |GROUP BY 1, 2, 4 ORDER BY rk""".stripMargin)
  )

  // ------------------------------------------------------------------
  // LANGUAGE-ID EVALUATION — the classifier-quality layer for
  // [[langId]], measured against the corpus's ground-truth labels:
  // the full confusion matrix, per-true-language prediction shares
  // (the recall row profile), and global accuracy. The harness
  // includes a language with NO stopword list (zh), so the matrix
  // shows exactly where the heuristic abstains to 'und' — the honest
  // failure surface a routing pipeline needs before trusting the
  // gate (the ann_recall_eval posture applied to the text stack).
  // Composes the verified per-doc predictions; its own cost is one
  // |langs|²-bounded aggregate + constant-row windows.
  // ------------------------------------------------------------------
  val langidEval: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy()
      val wRow = Window.partitionBy("declared_lang")
      langId.build(s, d)
        .groupBy(col("declared_lang"), col("predicted_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .select(col("declared_lang"), col("predicted_lang"), col("n_docs"),
          roundPortable(col("n_docs").cast(DoubleType) /
            sum(col("n_docs")).over(wRow).cast(DoubleType), 4).as("row_share"),
          roundPortable(
            sum(when(col("declared_lang") === col("predicted_lang"), col("n_docs"))
              .otherwise(0L)).over(w).cast(DoubleType) /
              sum(col("n_docs")).over(w).cast(DoubleType), 4).as("accuracy"))
        .orderBy("declared_lang", "predicted_lang")
    },
    Some("""WITH h AS (
           |  SELECT doc_id, lang,
           |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ('the','of','and','to','in','is','it','a'))) AS hits_en,
           |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ('el','la','de','que','y','en','un','los'))) AS hits_es,
           |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ('le','la','de','et','les','des','un','est'))) AS hits_fr,
           |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ('der','die','und','das','ist','von','ein','zu'))) AS hits_de
           |  FROM documents
           |), p AS (
           |  SELECT lang AS declared_lang,
           |    CASE WHEN hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_de AND hits_en > 0 THEN 'en'
           |         WHEN hits_es >= hits_fr AND hits_es >= hits_de AND hits_es > 0 THEN 'es'
           |         WHEN hits_fr >= hits_de AND hits_fr > 0 THEN 'fr'
           |         WHEN hits_de > 0 THEN 'de'
           |         ELSE 'und' END AS predicted_lang
           |  FROM h
           |), g AS (
           |  SELECT declared_lang, predicted_lang, count(*) AS n_docs FROM p GROUP BY 1, 2
           |)
           |SELECT declared_lang, predicted_lang, n_docs,
           |  floor(CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER (PARTITION BY declared_lang) AS DOUBLE) * 10000 + 0.5) / 10000 AS row_share,
           |  floor(CAST(sum(CASE WHEN declared_lang = predicted_lang THEN n_docs ELSE 0 END) OVER () AS DOUBLE)
           |        / CAST(sum(n_docs) OVER () AS DOUBLE) * 10000 + 0.5) / 10000 AS accuracy
           |FROM g ORDER BY declared_lang, predicted_lang""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Character-CLASS corpus profile per language — the encoding-health
  // screen a crawl pipeline runs before any token-level work: mojibake,
  // binary spill, markup residue, and wrong-charset decodes all show
  // up as mass outside the expected letter/digit/whitespace classes
  // long before a tokenizer or language model would flag them (the
  // W3C/CommonCrawl charset-sniff failure mode). Per language: doc and
  // char volume, the four class ratios on the 6dp grid, and a `clean`
  // verdict (other-class mass ≤ 5%) — the per-lang gate a curation DAG
  // keys on.
  //
  // Determinism: class counts are integer lengths of regex-stripped
  // strings (identical char classes both engines); ratios divide LONG
  // sums as doubles in one shared op order. Scale: embarrassingly
  // parallel per-doc projection + one |langs|-row aggregate with
  // map-side partials; no shuffle beyond the final rollup.
  // ------------------------------------------------------------------
  val CharOtherTau = 0.05

  val charclassProfile: Q = Q(
    (s, d) => {
      val t = col("text")
      val letters = length(t) - length(regexp_replace(t, "[A-Za-z]", ""))
      val digits = length(t) - length(regexp_replace(t, "[0-9]", ""))
      val spaces = length(t) - length(regexp_replace(t, "[ \\t\\n\\r]", ""))
      val g = ParquetCatalog.read(s, s"$d/documents.parquet")
        .select(col("lang"), length(t).as("nc"),
          letters.as("nl"), digits.as("nd"), spaces.as("ns"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("n_chars"),
          sum(col("nl")).as("sl"), sum(col("nd")).as("sd"), sum(col("ns")).as("ss"))
      val other = col("n_chars") - col("sl") - col("sd") - col("ss")
      g.select(col("lang"), col("n_docs"), col("n_chars"),
        roundPortable(col("sl").cast(DoubleType) / col("n_chars"), 6).as("letter_ratio"),
        roundPortable(col("sd").cast(DoubleType) / col("n_chars"), 6).as("digit_ratio"),
        roundPortable(col("ss").cast(DoubleType) / col("n_chars"), 6).as("space_ratio"),
        roundPortable(other.cast(DoubleType) / col("n_chars"), 6).as("other_ratio"))
        .withColumn("clean", col("other_ratio") <= CharOtherTau)
        .orderBy("lang")
    },
    Some(s"""WITH perdoc AS (
            |  SELECT lang, length(text) AS nc,
            |    length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS nl,
            |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS nd,
            |    length(text) - length(regexp_replace(text, '[ \\t\\n\\r]', '', 'g')) AS ns
            |  FROM documents
            |), g AS (
            |  SELECT lang, count(*) AS n_docs,
            |    CAST(sum(nc) AS BIGINT) AS n_chars, CAST(sum(nl) AS BIGINT) AS sl,
            |    CAST(sum(nd) AS BIGINT) AS sd, CAST(sum(ns) AS BIGINT) AS ss
            |  FROM perdoc GROUP BY 1
            |)
            |SELECT lang, n_docs, n_chars,
            |  floor(CAST(sl AS DOUBLE) / n_chars * 1000000 + 0.5) / 1000000 AS letter_ratio,
            |  floor(CAST(sd AS DOUBLE) / n_chars * 1000000 + 0.5) / 1000000 AS digit_ratio,
            |  floor(CAST(ss AS DOUBLE) / n_chars * 1000000 + 0.5) / 1000000 AS space_ratio,
            |  floor(CAST(n_chars - sl - sd - ss AS DOUBLE) / n_chars * 1000000 + 0.5) / 1000000 AS other_ratio,
            |  floor(CAST(n_chars - sl - sd - ss AS DOUBLE) / n_chars * 1000000 + 0.5) / 1000000 <= $CharOtherTau AS clean
            |FROM g ORDER BY lang""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Vocabulary COVERAGE curve — the tokenizer-budget planning table:
  // for each candidate vocabulary size k, what share of all token
  // OCCURRENCES the top-k most frequent types cover (the complement is
  // the OOV/UNK mass a k-sized vocabulary eats). This is the number a
  // team stares at before fixing a BPE/WordPiece budget — the marginal
  // coverage of the next thousand types — and the Zipf/Heaps
  // measurements' actionable face (`text_zipf_slope` fits the law;
  // this prices the cut).
  //
  // Scale: one corpus token pass map-side combines to the Heaps-law
  // vocab table; the frequency rank over THAT runs through the
  // two-phase Windows.globalRowNumber (range partition + offsets —
  // vocab-sized but never single-task), and coverage needs no running
  // sum at all: the |grid| prefix points are conditional sums in one
  // partial-aggregated pass. Integer counts; one 6dp ratio per
  // published row.
  // ------------------------------------------------------------------
  val VocabCoverageGrid: Seq[Int] = Seq(10, 50, 100, 500, 1000, 5000)

  val vocabCoverage: Q = Q(
    (s, d) => {
      val counts = ParquetCatalog.read(s, s"$d/documents.parquet")
        .select(explode(tokens(col("text"))).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c"))
      // frequency rank via the two-phase globalRowNumber (a 10^9-type
      // vocabulary never sorts in one task), then coverage WITHOUT a
      // running sum at all: the grid consumes only |grid| prefix
      // points, so each is a conditional sum — one partial-aggregated
      // pass computing sum(c WHERE rnk <= k) per grid k alongside the
      // totals, collapsing to a single row that the literal grid
      // unpivots. No window (partitioned or not) anywhere downstream
      // of the rank, and no second range exchange.
      val ranked = graft.engine.Windows.globalRowNumber(
        counts, Seq(col("c").desc, col("t")), "rnk")
      val aggs = Seq(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types")) ++
        VocabCoverageGrid.map(k => sum(when(col("rnk") <= k, col("c"))).as(s"cov_$k"))
      val one = ranked.agg(aggs.head, aggs.tail: _*)
      val covered = coalesce(
        VocabCoverageGrid.map(k => when(col("k") === k, col(s"cov_$k"))): _*)
      val grid = s.createDataFrame(
        VocabCoverageGrid.map(Tuple1(_))).toDF("k")
      grid.crossJoin(broadcast(one))
        .select(col("k"), col("n_types"),
          least(col("k").cast("long"), col("n_types")).as("types_used"),
          covered.as("covered_tokens"), col("n_tokens"),
          graft.engine.Functions.roundPortable(
            covered.cast(org.apache.spark.sql.types.DoubleType) / col("n_tokens"), 6)
            .as("coverage"))
        .orderBy("k")
    },
    Some {
      val gridRows = VocabCoverageGrid.map(k => s"    ($k)").mkString(",\n")
      s"""WITH counts AS (
         |  SELECT t, count(*) AS c FROM (
         |    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t FROM documents)
         |  GROUP BY t
         |), ranked AS (
         |  SELECT t, c,
         |    row_number() OVER (ORDER BY c DESC, t) AS rnk,
         |    CAST(sum(c) OVER (ORDER BY c DESC, t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM counts
         |), tot AS (
         |  SELECT CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_types FROM counts
         |), grid(k) AS (
         |  VALUES
         |$gridRows
         |)
         |SELECT g.k, tot.n_types,
         |  least(CAST(g.k AS BIGINT), tot.n_types) AS types_used,
         |  r.cum AS covered_tokens, tot.n_tokens,
         |  floor(CAST(r.cum AS DOUBLE) / tot.n_tokens * 1000000 + 0.5) / 1000000 AS coverage
         |FROM grid g CROSS JOIN tot
         |LEFT JOIN ranked r ON r.rnk = least(g.k, CAST(tot.n_types AS INTEGER))
         |ORDER BY g.k""".stripMargin
    }
  )

  // ------------------------------------------------------------------
  // RAKE keyword extraction (Rose, Engel, Cramer & Cowley, "Automatic
  // Keyword Extraction from Individual Documents", 2010 — public
  // method), the classic unsupervised complement to TextRank: split
  // token streams into candidate PHRASES at stopword boundaries,
  // score each word by degree/frequency over the phrase co-occurrence
  // graph (degree = Σ length of phrases containing it — words that
  // ride in long phrases score up), and rank candidate phrases by the
  // sum of their member scores. Stopword list = the shared harness
  // 8-word list (the quality score's — no fork). Published: the
  // corpus top-25 phrases with word count, occurrence count, score.
  //
  // Determinism: per-word scores land on the 6dp grid as LONGs
  // immediately after the one division, so phrase scores are INTEGER
  // sums — no float add order anywhere. Scale: one token pass; the
  // phrase-id running sum partitions per doc; word stats collapse to
  // the Heaps-bounded vocabulary; phrase aggregation keys on
  // (doc, phrase_id) with map-side combine; the final top-25 is
  // TakeOrderedAndProject (map-side bounded), never a global sort.
  // Corpus-derived join sides are merge-hinted off the static
  // broadcast path (the r12 posting-family discipline).
  // ------------------------------------------------------------------
  val RakeTop = 25

  val rakeKeywords: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val stop = Seq("the", "of", "and", "to", "in", "is", "it", "a")
      val wDoc = Window.partitionBy("doc_id").orderBy("pos")
      val marked = graft.queries.Inventory.rebalanced(
        ParquetCatalog.read(s, s"$d/documents.parquet"), "doc_id")
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "t")))
        .withColumn("stopf", when(col("t").isInCollection(stop), 1L).otherwise(0L))
        .withColumn("pid", sum(col("stopf")).over(wDoc))
      val members = marked.filter(col("stopf") === 0)
        .select("doc_id", "pid", "pos", "t")
      val psize = members.groupBy("doc_id", "pid").agg(count(lit(1)).as("len"))
      val wscore = members.join(psize.hint("merge"), Seq("doc_id", "pid"))
        .groupBy("t").agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
        .select(col("t"),
          floor(col("deg").cast(DoubleType) / col("freq") * lit(1e6) + lit(0.5))
            .cast("long").as("s6"))
      val phrases = members.join(wscore.hint("merge"), Seq("t"))
        .groupBy("doc_id", "pid")
        .agg(array_sort(collect_list(struct(col("pos"), col("t")))).as("pt"),
          count(lit(1)).as("n_words"), sum(col("s6")).as("score6"))
        .select(concat_ws(" ",
          transform(col("pt"), p => p.getField("t"))).as("phrase"),
          col("n_words"), col("score6"))
      val agg = phrases.groupBy("phrase")
        .agg(max(col("n_words")).as("n_words"), count(lit(1)).as("occurrences"),
          max(col("score6")).as("score6"))
        .orderBy(col("score6").desc, col("phrase")).limit(RakeTop)
      agg.withColumn("rank",
          row_number().over(Window.orderBy(col("score6").desc, col("phrase"))))
        .select(col("rank"), col("phrase"), col("n_words"), col("occurrences"),
          graft.engine.Functions.roundPortable(
            col("score6").cast(DoubleType) / lit(1e6), 6).as("score"))
        .orderBy("rank")
    },
    Some(s"""WITH tok AS (
            |  SELECT doc_id, i - 1 AS pos, toks[i] AS t
            |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
            |       LATERAL unnest(range(1, len(toks) + 1)) AS r(i)
            |), marked AS (
            |  SELECT doc_id, pos, t,
            |    CASE WHEN t IN ('the','of','and','to','in','is','it','a') THEN 1 ELSE 0 END AS stopf,
            |    sum(CASE WHEN t IN ('the','of','and','to','in','is','it','a') THEN 1 ELSE 0 END)
            |      OVER (PARTITION BY doc_id ORDER BY pos
            |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
            |  FROM tok
            |), members AS (
            |  SELECT doc_id, pid, pos, t FROM marked WHERE stopf = 0
            |), psize AS (
            |  SELECT doc_id, pid, count(*) AS len FROM members GROUP BY 1, 2
            |), wscore AS (
            |  SELECT t, CAST(floor(CAST(deg AS DOUBLE) / freq * 1000000 + 0.5) AS BIGINT) AS s6
            |  FROM (
            |    SELECT m.t, count(*) AS freq, CAST(sum(p.len) AS BIGINT) AS deg
            |    FROM members m JOIN psize p ON p.doc_id = m.doc_id AND p.pid = m.pid
            |    GROUP BY 1)
            |), phr AS (
            |  SELECT m.doc_id, m.pid, string_agg(m.t, ' ' ORDER BY m.pos) AS phrase,
            |         count(*) AS n_words, CAST(sum(w.s6) AS BIGINT) AS score6
            |  FROM members m JOIN wscore w ON w.t = m.t
            |  GROUP BY 1, 2
            |), agg AS (
            |  SELECT phrase, CAST(max(n_words) AS BIGINT) AS n_words,
            |         count(*) AS occurrences, CAST(max(score6) AS BIGINT) AS score6
            |  FROM phr GROUP BY 1
            |)
            |SELECT rank, phrase, n_words, occurrences,
            |       floor(CAST(score6 AS DOUBLE) / 1000000 * 1000000 + 0.5) / 1000000 AS score
            |FROM (
            |  SELECT phrase, n_words, occurrences, score6,
            |         row_number() OVER (ORDER BY score6 DESC, phrase) AS rank
            |  FROM agg)
            |WHERE rank <= $RakeTop ORDER BY rank""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Per-source Jensen-Shannon divergence from the corpus unigram
  // distribution (Lin, "Divergence Measures Based on the Shannon
  // Entropy", IEEE IT 1991 — public): the source-mix drift monitor —
  // JSD(P_source ‖ P_corpus) is symmetric, bounded (≤ ln 2), and
  // defined even when a source misses tokens, which is exactly why
  // curation pipelines prefer it over raw KL for "which crawl source
  // is distributionally weird" (the CCNet/RedPajama domain-comparison
  // posture). Complements `pipeline_mixture_kl` (plans a target mix)
  // and `text_term_drift` (time axis) with the SOURCE axis.
  //
  // Determinism: every token's JSD term lands on the 1e-9 grid as a
  // LONG immediately after the transcendental step; the absent-token
  // mass (p = 0 ⇒ term = ½q·ln2 per token) folds in via the
  // complement of GRIDDED per-token constants — Σ_absent a9 =
  // A_all − Σ_present a9, exact because the sum is over already-
  // gridded integers, never re-gridded (the t-closeness complement
  // discipline). ln 2 is the shared 17-digit literal. Scale: one
  // token pass to |sources|·vocab rows (map-side combined), a
  // vocab-row corpus side, a (source, token) equi-join between two
  // vocab-scaled aggregates (merge-hinted — both are explode-derived
  // and size-underestimated), and |S|-row outputs.
  // ------------------------------------------------------------------
  private val Ln2 = 0.6931471805599453

  val jsdSources: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val tok = ParquetCatalog.read(s, s"$d/documents.parquet")
        .select(col("source"), explode(tokens(col("text"))).as("t"))
      val srcTok = tok.groupBy("source", "t").agg(count(lit(1)).as("c"))
        .withColumn("ns", sum(col("c")).over(Window.partitionBy("source")))
      val corpusTok = tok.groupBy("t").agg(count(lit(1)).as("ct"))
        .withColumn("n", sum(col("ct")).over(Window.partitionBy()))
      val q = col("ct").cast(DoubleType) / col("n").cast(DoubleType)
      // absent-token constant: p = 0 ⇒ m = q/2 ⇒ term = 0.5·q·ln 2
      val vocab = corpusTok.select(col("t"), col("ct"), col("n"),
        floor(lit(0.5) * q * lit(Ln2) * lit(1e9) + lit(0.5)).cast("long").as("a9"))
      val aAll = vocab.agg(sum(col("a9")).as("a_all"))
      val p = col("c").cast(DoubleType) / col("ns").cast(DoubleType)
      val q2 = col("ct").cast(DoubleType) / col("n").cast(DoubleType)
      val m = (p + q2) / lit(2.0)
      val term9 = floor((lit(0.5) * p * log(p / m) + lit(0.5) * q2 * log(q2 / m))
        * lit(1e9) + lit(0.5)).cast("long")
      srcTok.join(vocab.hint("merge"), Seq("t"))
        .select(col("source"), col("ns"), term9.as("t9"), col("a9"))
        .groupBy("source")
        .agg(max(col("ns")).as("n_tokens"), count(lit(1)).as("n_types"),
          sum(col("t9")).as("present9"), sum(col("a9")).as("pa9"))
        .crossJoin(broadcast(aAll))
        .select(col("source"), col("n_tokens"), col("n_types"),
          roundPortable((col("present9") + (col("a_all") - col("pa9")))
            .cast(DoubleType) / lit(1e9), 6).as("jsd_nats"))
        .orderBy("source")
    },
    Some(s"""WITH tok AS (
            |  SELECT source, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t FROM documents
            |), st AS (
            |  SELECT source, t, count(*) AS c FROM tok GROUP BY 1, 2
            |), ste AS (
            |  SELECT source, t, c, CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS ns FROM st
            |), ct AS (
            |  SELECT t, count(*) AS ct FROM tok GROUP BY 1
            |), cte AS (
            |  SELECT t, ct, CAST(sum(ct) OVER () AS BIGINT) AS n FROM ct
            |), vocab AS (
            |  SELECT t, ct, n,
            |    CAST(floor(0.5 * (CAST(ct AS DOUBLE) / n) * $Ln2 * 1000000000 + 0.5) AS BIGINT) AS a9
            |  FROM cte
            |), aall AS (
            |  SELECT CAST(sum(a9) AS BIGINT) AS a_all FROM vocab
            |), terms AS (
            |  SELECT s.source, s.ns, v.a9,
            |    CAST(floor((0.5 * (CAST(s.c AS DOUBLE) / s.ns)
            |            * ln((CAST(s.c AS DOUBLE) / s.ns) / ((CAST(s.c AS DOUBLE) / s.ns + CAST(v.ct AS DOUBLE) / v.n) / 2.0))
            |          + 0.5 * (CAST(v.ct AS DOUBLE) / v.n)
            |            * ln((CAST(v.ct AS DOUBLE) / v.n) / ((CAST(s.c AS DOUBLE) / s.ns + CAST(v.ct AS DOUBLE) / v.n) / 2.0)))
            |         * 1000000000 + 0.5) AS BIGINT) AS t9
            |  FROM ste s JOIN vocab v USING (t)
            |), g AS (
            |  SELECT source, CAST(max(ns) AS BIGINT) AS n_tokens, count(*) AS n_types,
            |         CAST(sum(t9) AS BIGINT) AS present9, CAST(sum(a9) AS BIGINT) AS pa9
            |  FROM terms GROUP BY 1
            |)
            |SELECT source, n_tokens, n_types,
            |  floor(CAST(present9 + (a_all - pa9) AS DOUBLE) / 1000000000 * 1000000 + 0.5) / 1000000 AS jsd_nats
            |FROM g CROSS JOIN aall ORDER BY source""".stripMargin)
  )

  val queries: Seq[(String, Q)] = Seq(
    "text_jsd_sources" -> jsdSources,
    "text_rake_keywords" -> rakeKeywords,
    "text_vocab_coverage" -> vocabCoverage,
    "text_charclass_profile" -> charclassProfile,
    "text_langid_eval" -> langidEval,
    "text_countmin_hitters" -> countminHitters,
    "text_heaps_law" -> heapsLaw,
    "text_mtld" -> mtld,
    "text_token_stats" -> tokenStats,
    "text_quality" -> quality,
    "text_lang_id" -> langId,
    "text_fingerprint" -> fingerprint,
    "text_bpe_tokens" -> bpeTokens,
    "text_length_quantiles" -> lengthQuantiles,
    "text_length_quantiles_approx" -> lengthQuantilesApprox,
    "text_top_bigrams" -> topBigrams,
    "text_winnow_fingerprints" -> winnowFingerprints,
    "text_tfidf_top_terms" -> tfidfTopTerms,
    "text_bm25_topk" -> bm25TopK,
    "text_outliers_mad" -> outliersMad,
    "text_length_histogram" -> lengthHistogram,
    "text_repetition" -> repetition,
    "text_gopher_rules" -> gopherRules,
    "text_zipf_slope" -> zipfSlope,
    "text_lm_perplexity" -> lmPerplexity,
    "text_term_drift" -> termDrift,
    "text_heavy_hitters" -> heavyHitters,
    "text_readability" -> readability,
    "text_token_entropy" -> tokenEntropy,
    "text_bpe_merges" -> bpeMerges,
    "text_collocation_pmi" -> collocationPmi
  )
}
