package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.engine.Functions.roundPortable
import graft.engine.ParquetCatalog
import graft.queries.Inventory.Q
import graft.ext.TextAnalysis.tokens

/** Deduplication operators over the `documents` table:
  *
  *   - exact (hash-groupBy) — one shuffle on the content hash;
  *   - exact n-gram Jaccard (all-pairs) — the O(n²) correctness
  *     baseline the approximate paths are validated against;
  *   - MinHash + LSH banding — the 100 TB path: near-dup candidate
  *     generation via an equi-join on (band, band_hash), so the only
  *     shuffle is hash-partitioned on band keys; candidates are then
  *     verified with exact Jaccard. Cost is O(n·k + candidates),
  *     never O(n²);
  *   - SimHash — 60-bit fingerprints whose Hamming distance bounds
  *     cosine-of-token-vectors; banding the 60 bits into 4×15-bit
  *     blocks gives an equi-joinable key for Hamming ≤ 3 search.
  *
  * All hashing is md5-derived 60-bit ([[hash60]]) or universal-hash
  * arithmetic over it, so every operator here — including the
  * approximate ones — has an exact DuckDB oracle.
  *
  * Performance rule learned by measurement: higher-order array
  * functions (transform/aggregate/zip_with) evaluate INTERPRETED and
  * break whole-stage codegen — a HOF shingle generator cost 9.6 s at
  * sf0.1 where the posexplode + window `lead` formulation below costs
  * well under a second. Everything here sticks to codegen'd
  * expressions (xxhash64, concat_ws, conditional aggregates); no UDFs,
  * no RDDs, no per-row interpretation.
  */
object Dedup {

  /** Cross-engine 60-bit content hash: the top 15 hex chars of md5,
    * parsed as an integer. md5 is bit-identical everywhere, and 60
    * bits fits signed int64 in any engine — so a DuckDB oracle can
    * reproduce every downstream hash-derived value exactly
    * (`('0x' || substr(md5(s),1,15))::BIGINT`). Collision odds at
    * 2⁻⁶⁰·n² are irrelevant for dedup candidate generation.
    */
  /** Native expression (zero hex round-trip — see
    * [[graft.functions.Hash60]]); value-identical to the composed
    * formulation the oracle SQL mirrors, `conv(substring(md5(s), 1,
    * 15), 16, 10)`, which Hash60Spec pins (`ParityForms.hash60Composed`
    * in the test sources).
    */
  def hash60(s: Column): Column = graft.functions.Hash60(s)

  /** Distinct 3-token-shingle hashes per document: (doc_id, sz, hs)
    * with `sz` = |shingle set| on every row. posexplode + two window
    * `lead`s build each shingle string once; `shingleHash` collapses
    * it to an int64 key, so every downstream shuffle moves longs, not
    * strings.
    *
    * The hash is pluggable: operators whose ORACLE must recompute the
    * key (MinHash) pass [[hash60]]; operators where the hash is only
    * an opaque join key (Jaccard — its oracle intersects the string
    * sets directly) keep the ~3× cheaper engine-native `xxhash64`.
    *
    * Scale notes: genuinely ONE shuffle. The window hash-partitions on
    * doc_id; the per-doc dedup is a `groupBy(doc_id).agg(collect_set)`
    * whose required distribution is the partitioning the window just
    * established, so EnsureRequirements inserts no further exchange
    * (PlanSpec asserts the exchange count). The earlier
    * `.distinct()` + second-window formulation re-partitioned on
    * (doc_id, hs) and again on doc_id — 3 exchanges for the same
    * result. Per-doc set size is bounded by document length, so the
    * collect_set buffer is no larger than the window buffer it
    * replaces.
    */
  def shinglePosts(s: SparkSession, d: String,
      shingleHash: Column => Column = xxhash64(_)): DataFrame =
    shinglePostsDf(ParquetCatalog.read(s, s"$d/documents.parquet"), shingleHash)

  /** DataFrame-level variant for DAG models ([[graft.models.DedupFunnel]])
    * and any caller that already holds the documents relation.
    */
  def shinglePostsDf(docs: DataFrame,
      shingleHash: Column => Column = xxhash64(_)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    // Tokenize/explode is the CPU of the whole shingle family, and a
    // single-row-group input file pins it to ONE task (parquet can't
    // split inside a row group — the harness fixtures' shape; measured
    // dedup_jaccard_pairs at 4.0 s CPU / 9 tasks). When the scan's
    // natural parallelism is below the cluster's, move a doc_id
    // exchange BELOW the explode: the window needs
    // hashpartitioning(doc_id) anyway, so no exchange is added, the
    // shuffle carries raw texts instead of exploded token rows, and
    // tokenization runs on every core. Inventory.rebalanced holds the
    // shared policy: explicit partition count (AQE would coalesce a
    // count-less repartition back to one partition — these rows are
    // tiny in bytes, huge in CPU), narrow-plan-only probe, no-op on a
    // wide production scan.
    graft.queries.Inventory.rebalanced(docs, "doc_id")
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "t")))
      .withColumn("t1", lead("t", 1).over(w))
      .withColumn("t2", lead("t", 2).over(w))
      .filter(col("t2").isNotNull)
      .select(col("doc_id"), shingleHash(concat_ws(" ", col("t"), col("t1"), col("t2"))).as("hs"))
      .groupBy("doc_id").agg(collect_set(col("hs")).as("hss"))
      .select(col("doc_id"), size(col("hss")).cast("long").as("sz"),
        explode(col("hss")).as("hs"))
      .select("doc_id", "hs", "sz")
  }

  // ------------------------------------------------------------------
  // Exact dedup: group by content hash, keep the smallest doc_id.
  // Scale: one shuffle, partial aggregation map-side; the hash (not
  // the full text) is the shuffle key, so shuffled bytes stay small.
  // ------------------------------------------------------------------
  val exact: Q = Q(
    (s, d) =>
      ParquetCatalog.read(s, s"$d/documents.parquet")
        .groupBy(md5(encode(col("text"), "UTF-8")).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("copies"))
        .orderBy("text_hash"),
    Some("""SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS copies
           |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Exact n-gram Jaccard, all pairs ≥ 0.3 — EXACT but never O(n²):
  // an inverted-index set-similarity join. Any pair with J > 0 shares
  // at least one shingle, so the equi-join on shingle is a COMPLETE
  // candidate set. [[jaccardPairsFrom]] is the one generator: a direct
  // posting join or a prefix-filtered one, over the full graph or a
  // batch delta, picked by a measured df-skew gate. Corpora where no
  // exact route is affordable take the probabilistic LSH path below.
  // ------------------------------------------------------------------
  val JaccardTau = 0.3

  /** DataFrame-level Jaccard pair graph — the body of [[jaccardPairs]],
    * reusable by DAG models over an already-resolved documents relation.
    *
    * r22: the standalone registry rows that rebuild the pair graph per
    * their contract (`dedup_jaccard_pairs`, `dedup_components*`,
    * `dedup_keep_best`) take the measured route of [[jaccardPairsFrom]]
    * over a locally persisted postings frame; locked to the direct
    * join, the r21 100× legs measured them superlinear (428–557 s
    * class on the boilerplate-heavy corpus) while the DAG models were
    * already gated (VERDICT r21 #1). The persist is the in-query
    * analogue of the DAG's postings Table checkpoint: the probe
    * materializes it once and the chosen route's 2 (direct) or 5
    * (prefix: df, rank, two set sides) postings references read the
    * cache instead of re-running the shingle window. MEMORY_AND_DISK
    * (the funnel-persist precedent) so a corpus-scale posting list
    * degrades to disk, never OOM.
    *
    * Cache lifetime: the postings stay cached for the rest of the
    * session unless the caller runs inside
    * [[graft.engine.Caches.scoped]] (the funnel registry rows do; the
    * scope unpersists them on exit) or calls
    * `spark.catalog.clearCache()` (Verify and Bench do after every
    * row). A long-lived session calling this outside a scope keeps one
    * cached posting list per call. [[minhashEstimate]] persists its
    * postings the same way.
    */
  def jaccardPairsDf(docs: DataFrame): DataFrame = {
    val posts = graft.engine.Caches.retain(
      shinglePostsDf(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    jaccardPairsFrom(posts)
  }

  val jaccardPairs: Q = Q(
    (s, d) => jaccardPairsDf(ParquetCatalog.read(s, s"$d/documents.parquet")),
    Some("""WITH s AS (
           |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
           |           i -> array_to_string(toks[i:i+2], ' '))) AS sh
           |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents)
           |)
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  floor(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           |        / len(list_distinct(a.sh || b.sh)) * 1000000 + 0.5) / 1000000 AS jaccard
           |FROM s a, s b
           |WHERE a.doc_id < b.doc_id
           |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) >= 0.3
           |ORDER BY doc_a, doc_b""".stripMargin)
  )

  /** Which exact plan [[jaccardPairsFrom]] runs. Every route emits the
    * same rows; the route moves cost, never output.
    */
  sealed trait PairRoute
  object PairRoute {
    /** The posting equi-join: Σ df_all·df_b candidate rows, no df machinery. */
    case object Direct extends PairRoute
    /** Ascending-df prefix filter plus array verify: the hot shingles
      * never generate candidates, at the price of a corpus-wide df +
      * rank pass.
      */
    case object Prefix extends PairRoute
    /** [[pairSkewProbe]], then [[measuredRoute]] picks Direct or Prefix. */
    case object Measured extends PairRoute
  }

  /** Candidate-mass budget for the DIRECT posting join, in emitted
    * join rows per posting row: the direct join outputs Σdf² rows
    * (df = a shingle's document frequency), so Σdf²/|posts| is the
    * join's fan-out per input row — the exact quantity whose growth
    * made the r20 100× PERIOD=3 legs superlinear. The crossover is
    * MEASURED (SCALING.md "direct-vs-prefix policy"; the Legs `pairs` leg over
    * the materialized checkpoint, r21): the flat-df harness corpus
    * probes at fan-out 10.7 and the direct join wins ~2× (2.4 vs
    * 5.4 s — prefix pays its df build + rank + array verify for
    * nothing); the boilerplate-heavy PERIOD=3 corpora probe at 36.1
    * (30×) / 108.3 (100×) and the prefix path wins there —
    * increasingly with scale (30×: 20.1 vs 70.8 s; 100×: 85.1 s vs
    * the direct join's superlinear 557.4 s / 65–74 GB-spill class;
    * prefix wall grew 4.2× for 3.35× posting rows — near-linear,
    * direct 7.9×). 16 sits between the regimes on the side that
    * degrades gracefully: mis-picking prefix near the crossover costs
    * a bounded constant (~2× at harness fan-out), mis-picking direct
    * costs an unbounded quadratic.
    */
  val DirectPairFanoutMax = 16.0

  /** The one direct-vs-prefix gate over a [[pairSkewProbe]] reading:
    * the direct route while its candidate mass `sq` stays within
    * [[DirectPairFanoutMax]] rows per posting row.
    */
  def measuredRoute(sq: Double, n: Long): PairRoute =
    if (sq <= DirectPairFanoutMax * n) PairRoute.Direct else PairRoute.Prefix

  /** The df-skew probe: one column-pruned aggregate over the posting
    * list returning (Σ df_all·df_batch, |posts|), where df_batch
    * counts a shingle's postings with doc_id ≥ `batchFrom`. With no
    * batch it is (Σdf², |posts|) from a count-only aggregate. The sum
    * is EXACTLY the direct route's join output row count (a shingle
    * with df_all postings, df_batch of them on the b side, emits
    * df_all·df_batch rows), so the probe measures the quantity the gate
    * budgets, not a proxy; DOUBLE because a web corpus's hot
    * boilerplate shingle alone can put it past int64.
    *
    * A delta is normalized by the WHOLE posting count, not the batch's,
    * because that is what the alternative costs: the prefix route pays
    * a df + rank pass over the entire posting list whatever the batch
    * size. (Measured at the 30× PERIOD=3 corpus with a 1/30 batch:
    * candidate mass 11.9M on 10.4M postings — 1.15 per corpus posting
    * row — and direct wins 3.7 vs 10.9 s even though per-BATCH fan-out
    * is 34; a per-batch normalization would have mis-routed it.)
    */
  def pairSkewProbe(posts: DataFrame, batchFrom: Option[Long] = None): (Double, Long) = {
    val perShingle = posts.groupBy("hs").agg(count(lit(1)).as("df"),
      batchFrom.map(f => sum(when(col("doc_id") >= f, 1L).otherwise(0L)).as("dfb")).toSeq: _*)
    val dfb = if (batchFrom.isDefined) col("dfb") else col("df")
    val r = perShingle.agg(coalesce(sum(col("df").cast(DoubleType) * dfb), lit(0.0)).as("sq"),
        coalesce(sum(col("df")), lit(0L)).as("n"))
      .head()
    (r.getDouble(0), r.getLong(1))
  }

  /** The exact Jaccard pair graph — pairs (doc_a < doc_b) with
    * J ≥ [[JaccardTau]] (unrounded, as the oracle filters), scored at
    * 6 dp — over a posting list `(doc_id, hs, sz)` of per-doc DISTINCT
    * shingles, `sz` = the doc's set size. `posts` is referenced up to
    * five times: pass a materialized checkpoint
    * ([[graft.models.CorpusPipeline]] `corpus_postings`) or a persisted
    * frame ([[jaccardPairsDf]]), or accept the recomputation.
    *
    * `batchFrom = Some(f)` emits only the pairs incident to the batch
    * (doc_id ≥ f) under the append-only contract: every batch id
    * exceeds every standing id, so `doc_b` of any delta pair is a batch
    * doc and the output is exactly the full graph's pairs with
    * doc_b ≥ f — the delta that upserts onto the standing pair table.
    * `None` is the full graph.
    *
    * Routes ([[PairRoute]]):
    *  - Direct: |A∩B| falls out of the posting equi-join as a group
    *    count and |A∪B| = |A|+|B|−|A∩B|, so no array intersection runs.
    *    Fan-out per shingle is df_all·df_b — fine while document
    *    frequencies are flat (the harness corpus: max df 25). A delta
    *    BROADCASTS the batch postings, so the standing posting list
    *    streams map-side off its scan with no corpus shuffle (EngineSpec
    *    pins the BroadcastHashJoin).
    *  - Prefix (PPJoin-style; Bayardo et al., "Scaling Up All Pairs
    *    Similarity Search", WWW'07; Xiao et al., WWW'08): under any
    *    global shingle order, two sets with J ≥ τ share a shingle among
    *    each one's first |X| − ⌈τ·|X|⌉ + 1 shingles (if A's prefix
    *    missed B entirely, overlap ≤ ⌈τ|A|⌉ − 1 < τ|A| ≤ the required
    *    overlap). Ordering by ASCENDING df puts the rarest shingles in
    *    the prefix, so boilerplate shingles shared by millions of docs
    *    never generate candidates; [[verifyJaccard]] scores them. The
    *    per-doc rank window partitions by doc_id (entity-bounded). A
    *    delta restricts the b SIDE ONLY — prefixes and verify sets — to
    *    the batch; df, the global (df, hs) order and the a side stay
    *    corpus-wide, so the prefix theorem still covers every (A, batch
    *    B) pair.
    *  - Measured: [[pairSkewProbe]] (a Spark job, run while the
    *    DataFrame is built) and [[measuredRoute]]. Flat corpora keep the
    *    direct join; df-skewed ones, the 100 TB web-corpus case, take
    *    the prefix route (see [[DirectPairFanoutMax]] for the measured
    *    crossover).
    *
    * ExtSpec pins the gate on synthetic flat and skewed relations for
    * both the full graph and a delta; PropertySpec pins every route ×
    * {full, delta} against a plain-Scala all-pairs reference on random
    * corpora; EngineSpec pins the merged incremental table against a
    * full rebuild.
    */
  def jaccardPairsFrom(posts: DataFrame, batchFrom: Option[Long] = None,
      route: PairRoute = PairRoute.Measured): DataFrame = {
    val bOnly = batchFrom.map(col("doc_id") >= _)
    def sides(d: DataFrame) = (
      d.select(col("hs"), col("doc_id").as("doc_a"), col("sz").as("sz_a")),
      bOnly.fold(d)(d.filter).select(col("hs"), col("doc_id").as("doc_b"), col("sz").as("sz_b")))
    // size-ratio prefilter: J(A,B) ≤ min/max of the set sizes, so J ≥ τ
    // pairs must satisfy the ratio bound — prunes candidates before
    // any aggregation or verify sees them
    val candidate = col("doc_a") < col("doc_b") &&
      col("sz_a") >= col("sz_b") * JaccardTau && col("sz_b") >= col("sz_a") * JaccardTau
    route match {
      case PairRoute.Measured =>
        val (sq, n) = pairSkewProbe(posts, batchFrom)
        jaccardPairsFrom(posts, batchFrom, measuredRoute(sq, n))
      case PairRoute.Direct =>
        val (a, b) = sides(posts)
        // A full graph's b side is corpus-sized: force the self-join OUT
        // of the static broadcast path. Catalyst sizes the exploded
        // posting list at its parquet ancestor's bytes, so the static
        // planner happily broadcasts a corpus-scale relation (measured
        // driver OOM at the 10× corpus under a 1 GiB driver). hint("merge")
        // pins a sort-merge join at EVERY scale — on Spark 4.1.2 a
        // strategy hint is honored through AQE re-planning, so no
        // runtime demotion back to broadcast happens (r15 correction).
        a.join(if (batchFrom.isDefined) broadcast(b) else b.hint("merge"), Seq("hs"))
          .filter(candidate)
          .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
          .agg(count(lit(1)).as("overlap"))
          .transform(scoredPairs)
      case PairRoute.Prefix =>
        import org.apache.spark.sql.expressions.Window
        val df = posts.groupBy("hs").agg(count(lit(1)).as("df"))
        val prefix = posts.join(df, Seq("hs"))
          .withColumn("rnk", row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "hs")))
          .filter(col("rnk") <= col("sz") - ceil(col("sz") * JaccardTau) + 1)
          .select(col("hs"), col("doc_id"), col("sz"))
        val (a, b) = sides(prefix)
        // merge hint: the prefix table is corpus-derived and
        // explode-size-underestimated like the postings — never let the
        // static planner (or AQE re-planning) broadcast it
        verifyJaccard(a.join(b.hint("merge"), Seq("hs")).filter(candidate)
          .select("doc_a", "doc_b").distinct(), posts, bOnly)
    }
  }

  /** Exact-Jaccard verify of a candidate set `(doc_a, doc_b)` — the
    * prefix route's and [[minhashLsh]]'s — via ONE array row per doc:
    * a `collect_set` per doc_id (entity-bounded by document length, the
    * same collapse [[shinglePostsDf]] performs), intersected per
    * candidate pair. ArrayIntersect hash-builds over primitive longs,
    * so each pair costs O(sz_a + sz_b), and the shuffle moves one row
    * per doc plus two skinny candidate streams. The r21-draft verify
    * re-joined the WHOLE posting table twice (by doc_a, then by
    * (doc_b, hs)) whatever the candidate count; measured on the Legs
    * `pairs` leg (checkpointed postings), the prefix route went
    * 39.2 → 20.1 s at the 30× PERIOD=3 corpus and 185.7 → 85.1 s at
    * 100×. The sets joins hint shuffle_hash: array rows are wide
    * (sorting them through an SMJ is the regression the
    * embeddingLshPairs vector-attach measured) and the hint keeps the
    * corpus-sized, estimate-underpriced relation out of the static
    * broadcast path. `bOnly` restricts the b-side sets to a batch.
    */
  private def verifyJaccard(cand: DataFrame, posts: DataFrame,
      bOnly: Option[Column]): DataFrame = {
    // size(hss) == sz by construction (posts carries per-doc DISTINCT
    // shingles), so sz need not be re-joined
    val sets = posts.groupBy("doc_id").agg(collect_set(col("hs")).as("hss"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("hss").as("hs_a"))
        .hint("shuffle_hash"), Seq("doc_a"))
      .join(bOnly.fold(sets)(sets.filter).select(col("doc_id").as("doc_b"), col("hss").as("hs_b"))
        .hint("shuffle_hash"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(col("hs_a")).cast("long").as("sz_a"),
        size(col("hs_b")).cast("long").as("sz_b"),
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long").as("overlap"))
      .transform(scoredPairs)
  }

  /** `(doc_a, doc_b, sz_a, sz_b, overlap)` → the pairs with unrounded
    * J ≥ [[JaccardTau]], J rounded to 6 dp, in pair order.
    */
  private def scoredPairs(overlaps: DataFrame): DataFrame = {
    val jac = col("overlap").cast(DoubleType) / (col("sz_a") + col("sz_b") - col("overlap"))
    overlaps.filter(jac >= JaccardTau)
      .select(col("doc_a"), col("doc_b"), roundPortable(jac, 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  // ------------------------------------------------------------------
  // MinHash + LSH banding. k=32 universal-hash functions
  // `h_i(x) = (a_i·x + b_i) mod p` over the 60-bit shingle hash
  // (p = 2³¹−1, so every product fits int64), 16 bands × 2 rows:
  // P(candidate | J=0.5) ≈ 0.99. Pipeline: signature (pure map) →
  // explode bands → equi-join on (band, key) → exact-Jaccard verify
  // of the candidates only.
  //
  // Universal hashing instead of an engine-specific mixer keeps the
  // whole pipeline pure int64 arithmetic, so the DuckDB oracle below
  // replicates candidate generation EXACTLY (same coefficients
  // inlined into the SQL) — the approximate operator gets the same
  // hash-match verification as the exact ones.
  //
  // Scale notes: the band join is hash-partitioned on (band, key) —
  // no broadcast, no cross product. Degenerate keys (e.g. boilerplate
  // shingles shared by millions of docs) would skew the join, so
  // oversized buckets are dropped with a count-filter first — at the
  // cost of missing dups inside a dropped bucket, which is the
  // standard web-dedup tradeoff.
  // ------------------------------------------------------------------
  val NumHashes = 32
  val Bands = 16
  val RowsPerBand: Int = NumHashes / Bands
  val MaxBucket = 1000

  /** Mersenne prime 2³¹−1: (p−1)² < 2⁶³, so a·x+b never overflows. */
  val P = 2147483647L

  /** Deterministic universal-hash coefficients (seed 7), inlined into
    * both the Catalyst plan and the oracle SQL.
    */
  val (coefA, coefB): (IndexedSeq[Long], IndexedSeq[Long]) = {
    val rnd = new scala.util.Random(7)
    (IndexedSeq.fill(NumHashes)(1L + rnd.nextInt(Int.MaxValue - 1)),
      IndexedSeq.fill(NumHashes)(rnd.nextInt(Int.MaxValue).toLong))
  }

  /** JVM-side replica of the whole signature path — tokenize, 3-gram
    * shingle, [[hash60]] (the same static digest helper the Catalyst
    * expression calls), distinct on the HASH (mirroring
    * shinglePostsDf's collect_set(hs)), then the k affine MinHash
    * maps. Bit-parity with [[lshBands]] is asserted by StreamingSpec
    * per document; the streaming near-dup gate
    * ([[graft.streaming.Streams.nearDupGate]]) scores arriving docs
    * with exactly the index the batch pipeline builds. Returns an
    * empty array for docs with fewer than 3 tokens (no shingles —
    * such docs generate no posting rows batch-side either).
    */
  def minhashSignatureJvm(text: String): Array[Long] = {
    // EXACT batch-tokenizer semantics, not java.lang.String's: SQL
    // trim strips only the space character (String.trim strips all
    // chars <= U+0020), SQL lower is UTF8String.toLowerCase, and SQL
    // split keeps trailing empty tokens (String.split drops them) —
    // a doc ending in '\n' tokenizes as [a,b,c,""] batch-side and the
    // shingle "b c " must exist here too or the gate mis-buckets it.
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(text)
    val toks = u.trim().toLowerCase.toString.split("\\s+", -1)
    if (toks.length < 3) return Array.emptyLongArray
    val hs = (0 until toks.length - 2)
      .map(i => s"${toks(i)} ${toks(i + 1)} ${toks(i + 2)}")
      .map(sh => graft.functions.Hash60.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(sh)))
      .toSet
    Array.tabulate(NumHashes) { i =>
      var m = Long.MaxValue
      hs.foreach { h => val v = (coefA(i) * (h % P) + coefB(i)) % P; if (v < m) m = v }
      m
    }
  }

  /** The 16 packed band keys of a signature (m₂ⱼ·p + m₂ⱼ₊₁). */
  def bandKeysJvm(sig: Array[Long]): Seq[(Int, Long)] =
    if (sig.isEmpty) Seq.empty
    else (0 until Bands).map(j => j -> (sig(2 * j) * P + sig(2 * j + 1)))

  /** doc_id → (band, key) pairs, one row per band.
    *
    * Each shingle is hashed ONCE ([[hash60]]), reduced mod p, then the
    * k MinHash functions are affine maps — codegen'd long arithmetic,
    * not k string hashes — reduced by k `min()` aggregate columns in a
    * single HashAggregate (one shuffle on doc_id). A 2-row band packs
    * into one int64 key as m₀·p + m₁ (both < p, so the pack is exact).
    * Higher-order array functions are deliberately avoided: they fall
    * back to interpreted evaluation and break whole-stage codegen
    * (measured 10×+ slower at sf0.1).
    */
  def lshBands(posts: DataFrame): DataFrame = {
    require(RowsPerBand == 2, "band key packing assumes 2 rows per band")
    val sig = minhashSignature(posts)
    val bandCols = (0 until Bands).map { j =>
      struct(lit(j).as("band"),
        (col(s"m${2 * j}") * P + col(s"m${2 * j + 1}")).as("key"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** The MinHash signature: (doc_id, m0 … m{NumHashes−1}), each m_i the
    * min over the doc's shingles of (a_i·(hs mod p) + b_i) mod p — one
    * HashAggregate of k `min()` columns. [[lshBands]] packs it into
    * band keys; `dedup_minhash_estimate` compares it slot by slot.
    */
  private def minhashSignature(posts: DataFrame): DataFrame = {
    val x = col("hs") % P
    val mins = (0 until NumHashes).map(i =>
      min((lit(coefA(i)) * x + lit(coefB(i))) % P).as(s"m$i"))
    posts.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** The sized (band, key) relation — the minhash analogue of the
    * embedding path's sized bucket keys, UNfiltered (the gauge needs
    * the clipped buckets the pair path drops).
    */
  private def minhashSizedBands(posts: DataFrame): DataFrame =
    lshBands(posts).withColumn("bucket_n",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("band", "key")))

  /** [[minhashLsh]] body from an already-built sized bands relation
    * (shared with [[minhashLshFunnel]] so the paths cannot drift).
    */
  private def minhashLshPairsFrom(sizedAll: DataFrame, posts: DataFrame): DataFrame = {
    // degenerate-bucket guard via a count window (single pass, same
    // (band,key) partitioning the join below reuses)
    val sized = sizedAll.filter(col("bucket_n") <= MaxBucket)
    val cand = sized.select(col("band"), col("key"), col("doc_id").as("doc_a"))
      .join(sized.select(col("band"), col("key"), col("doc_id").as("doc_b")).hint("merge"),
        Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    verifyJaccard(cand, posts, bOnly = None)
  }

  val minhashLsh: Q = Q(
    (s, d) => {
      val posts = shinglePosts(s, d, hash60)
      minhashLshPairsFrom(minhashSizedBands(posts), posts)
    },
    // Full oracle: DuckDB replays the ENTIRE pipeline — md5-derived
    // shingle hashes, the same universal-hash coefficients, band
    // packing, bucket-size guard, candidate join, exact verify — so
    // even the approximate path is hash-match verified, not just
    // row-counted. (ScalaTest additionally asserts it equals
    // jaccardPairs: full recall at J ≥ 0.5 with 16×2 bands.)
    Some {
      s"""WITH $minhashLshCtes
         |SELECT doc_a, doc_b,
         |       floor(CAST(overlap AS DOUBLE) / (sz_a + sz_b - overlap) * 1000000 + 0.5) / 1000000 AS jaccard
         |FROM ov
         |WHERE CAST(overlap AS DOUBLE) / (sz_a + sz_b - overlap) >= $JaccardTau
         |ORDER BY doc_a, doc_b""".stripMargin
    }
  )

  /** The minhash-LSH oracle CTE chain (md5-derived shingle hashes →
    * universal-hash signature → band packing → bucket guard →
    * candidate join → exact overlap verify), ending in
    * `ov(doc_a, doc_b, sz_a, sz_b, overlap)` with `sh`/`sizes`
    * upstream. One string shared by [[minhashLsh]] and
    * [[recallEval]] so the banding recipe cannot drift between the
    * production path and its evaluation.
    */
  /** The signature/banding PREFIX of [[minhashLshCtes]] (shingle
    * hashes → signature → `bands(doc_id, band, key)`) — shared with
    * the occupancy audit so the banding recipe cannot drift between
    * the pipeline and its gauge.
    */
  private def minhashBandCtes: String = {
    val minCols = (0 until NumHashes)
      .map(i => s"    min((${coefA(i)} * x + ${coefB(i)}) % $P) AS m$i")
      .mkString(",\n")
    val bandRows = (0 until Bands)
      .map(j => s"  SELECT doc_id, $j AS band, m${2 * j} * $P + m${2 * j + 1} AS key FROM sig")
      .mkString("\n  UNION ALL\n")
    s"""sh0 AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
       |           i -> array_to_string(toks[i:i+2], ' ')))) AS s
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents)
       |), sh AS (
       |  SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS hs FROM sh0
       |), sizes AS (
       |  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
       |), sig AS (
       |  SELECT doc_id,
       |$minCols
       |  FROM (SELECT doc_id, hs % $P AS x FROM sh) GROUP BY doc_id
       |), bands AS (
       |$bandRows
       |)""".stripMargin
  }

  private def minhashLshCtes: String = {
    s"""$minhashBandCtes, sized AS (
       |  SELECT doc_id, band, key, count(*) OVER (PARTITION BY band, key) AS bucket_n FROM bands
       |), flt AS (
       |  SELECT * FROM sized WHERE bucket_n <= $MaxBucket
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM flt a JOIN flt b ON a.band = b.band AND a.key = b.key
       |  WHERE a.doc_id < b.doc_id
       |), ov AS (
       |  SELECT c.doc_a, c.doc_b, sa.sz AS sz_a, sb.sz AS sz_b, count(*) AS overlap
       |  FROM cand c
       |  JOIN sh pa ON pa.doc_id = c.doc_a
       |  JOIN sh pb ON pb.doc_id = c.doc_b AND pb.hs = pa.hs
       |  JOIN sizes sa ON sa.doc_id = c.doc_a
       |  JOIN sizes sb ON sb.doc_id = c.doc_b
       |  GROUP BY 1, 2, 3, 4
       |)""".stripMargin
  }

  // ------------------------------------------------------------------
  // MinHash band-bucket occupancy audit — the [[lshOccupancy]] twin
  // for the TEXT near-dup path (VERDICT r14 ask #2 names both): the
  // (band, key) MaxBucket guard clips silently exactly like the
  // embedding path's, and a corpus whose band keys degenerate
  // (boilerplate-heavy, low-entropy shingles) loses candidate mass
  // with no error. One row per band: bucket count, max occupancy,
  // clipped buckets, rows dropped, drop fraction — all exact
  // integers, replayed by the SAME signature/banding CTE prefix the
  // pair oracle uses. Scale: one (band, key) aggregate with map-side
  // partials over the band explode, then a Bands-group rollup —
  // O(n·Bands) map work, output rows = Bands at any corpus size.
  // ------------------------------------------------------------------
  /** The occupancy-gauge rollup shared by the standalone registry
    * gauges and the [[minhashLshFunnel]]/[[embeddingLshFunnel]]
    * funnels (one recipe — the gauge a funnel gates on cannot drift
    * from the oracle-replayable contract): `counts` has one row per
    * bucket with its population, `groupCol` is the band/table id.
    */
  private def occupancyRollup(counts: DataFrame, groupCol: String,
      outCol: String, maxBucket: Int): DataFrame = {
    val clipped = col("bucket_n") > maxBucket
    counts
      .groupBy(groupCol)
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(col("bucket_n")).as("rows_total"),
        max(col("bucket_n")).as("max_bucket"),
        sum(when(clipped, 1L).otherwise(0L)).as("clipped_buckets"),
        sum(when(clipped, col("bucket_n")).otherwise(0L)).as("rows_dropped"))
      .select(col(groupCol).cast("long").as(outCol), col("n_buckets"),
        col("rows_total"), col("max_bucket"), col("clipped_buckets"),
        col("rows_dropped"),
        roundPortable(
          col("rows_dropped").cast(DoubleType) / col("rows_total"), 6).as("drop_frac"))
      .orderBy(outCol)
  }

  val minhashOccupancy: Q = Q(
    (s, d) =>
      occupancyRollup(
        lshBands(shinglePosts(s, d, hash60))
          .groupBy("band", "key").agg(count(lit(1)).as("bucket_n")),
        "band", "band", MaxBucket),
    Some(
      s"""WITH $minhashBandCtes, bs AS (
         |  SELECT band, key, count(*) AS bucket_n FROM bands GROUP BY 1, 2
         |)
         |SELECT CAST(band AS BIGINT) AS band, count(*) AS n_buckets,
         |  CAST(sum(bucket_n) AS BIGINT) AS rows_total,
         |  CAST(max(bucket_n) AS BIGINT) AS max_bucket,
         |  CAST(sum(CASE WHEN bucket_n > $MaxBucket THEN 1 ELSE 0 END) AS BIGINT) AS clipped_buckets,
         |  CAST(sum(CASE WHEN bucket_n > $MaxBucket THEN bucket_n ELSE 0 END) AS BIGINT) AS rows_dropped,
         |  floor(CAST(sum(CASE WHEN bucket_n > $MaxBucket THEN bucket_n ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(bucket_n) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS drop_frac
         |FROM bs GROUP BY band ORDER BY band""".stripMargin)
  )

  // ------------------------------------------------------------------
  // RECALL evaluation of the approximate dedup path — the dedup twin
  // of `ann_recall_eval`: ground truth is the EXACT set-similarity
  // join (the inverted-index posting join, complete by construction —
  // any pair with J > 0 shares a shingle), the system under test is
  // the banded MinHash-LSH pipeline, and the published row is the
  // confusion: how many true pairs at J ≥ τ the banding recalled,
  // how many its band-collision lottery missed. Precision is
  // structural (LSH candidates are exact-verified before publishing,
  // so n_recalled ≤ n_truth when hashes are collision-free) — the
  // metric that matters is RECALL, the quantity the (bands, rows)
  // S-curve trades against candidate volume. This is the measurement
  // that licenses shipping the approximate path at a given τ, and
  // the monitor that catches recall decay when corpus statistics
  // shift (the ann_recall_eval posture, ported to dedup).
  //
  // Scale: both branches are the already-audited production shapes
  // (the direct route of jaccardPairsFrom; banded candidates) — the
  // eval adds one left-semi pair join and three 1-row aggregates.
  // Exact integer counts; one 6dp ratio.
  // ------------------------------------------------------------------
  val recallEval: Q = Q(
    (s, d) => {
      val truth = jaccardPairsFrom(shinglePosts(s, d, hash60), route = PairRoute.Direct)
        .select("doc_a", "doc_b")
      val lsh = minhashLsh.build(s, d).select("doc_a", "doc_b")
      val nT = truth.agg(count(lit(1)).as("n_truth"))
      val nL = lsh.agg(count(lit(1)).as("n_recalled"))
      val nH = truth.join(lsh, Seq("doc_a", "doc_b"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      nT.crossJoin(broadcast(nL)).crossJoin(broadcast(nH))
        .select(col("n_truth"), col("n_recalled"), col("n_hit"),
          (col("n_truth") - col("n_hit")).as("n_missed"),
          roundPortable(col("n_hit").cast(DoubleType) / col("n_truth"), 6).as("recall"))
    },
    Some(s"""WITH $minhashLshCtes, lsh AS (
            |  SELECT doc_a, doc_b FROM ov
            |  WHERE CAST(overlap AS DOUBLE) / (sz_a + sz_b - overlap) >= $JaccardTau
            |), truthov AS (
            |  SELECT pa.doc_id AS doc_a, pb.doc_id AS doc_b,
            |         sa.sz AS sz_a, sb.sz AS sz_b, count(*) AS overlap
            |  FROM sh pa
            |  JOIN sh pb ON pb.hs = pa.hs AND pa.doc_id < pb.doc_id
            |  JOIN sizes sa ON sa.doc_id = pa.doc_id
            |  JOIN sizes sb ON sb.doc_id = pb.doc_id
            |  GROUP BY 1, 2, 3, 4
            |), truth AS (
            |  SELECT doc_a, doc_b FROM truthov
            |  WHERE CAST(overlap AS DOUBLE) / (sz_a + sz_b - overlap) >= $JaccardTau
            |), hit AS (
            |  SELECT t.doc_a FROM truth t
            |  JOIN lsh l ON l.doc_a = t.doc_a AND l.doc_b = t.doc_b
            |), c AS (
            |  SELECT (SELECT count(*) FROM truth) AS n_truth,
            |         (SELECT count(*) FROM lsh) AS n_recalled,
            |         (SELECT count(*) FROM hit) AS n_hit
            |)
            |SELECT n_truth, n_recalled, n_hit,
            |       n_truth - n_hit AS n_missed,
            |       floor(CAST(n_hit AS DOUBLE) / n_truth * 1000000 + 0.5) / 1000000 AS recall
            |FROM c""".stripMargin)
  )

  // ------------------------------------------------------------------
  // SimHash: 60-bit fingerprint = sign of per-bit vote sums over token
  // hashes ([[hash60]], so the oracle recomputes identical bits).
  // Near-dup docs differ in few bits; the 4×15-bit band split yields
  // an equi-join key covering all pairs within Hamming ≤ 3
  // (pigeonhole). Pure map per doc; one shuffle on doc_id.
  // ------------------------------------------------------------------
  val SimBits = 60
  val SimBands = 4
  val SimBandBits: Int = SimBits / SimBands

  /** doc_id → 60-bit SimHash. Tokens explode to rows and the 60
    * per-bit votes are 60 codegen'd conditional-sum aggregate columns
    * in ONE HashAggregate (shuffle on doc_id only). The earlier
    * higher-order-function formulation (fold over a 64-slot array per
    * token) evaluated interpreted and was ~100× slower at sf0.1.
    *
    * The md5-derived [[hash60]] (an md5 + hex-substring + base-16
    * `conv` per input) is computed once per DISTINCT token via a
    * vocabulary dimension joined back — not once per (doc, token)
    * occurrence. Vocabulary grows sublinearly with corpus size
    * (Heaps' law) but it DOES grow, so the join is deliberately
    * UNHINTED (r20, closing the class the r19 broadcast sweep opened):
    * AQE sizes the real vocab at runtime — broadcast at every
    * measured scale, graceful fallback to a shuffle join the round
    * the vocab outgrows the threshold. An explicit hint would make
    * that fallback impossible and turn a 100 TB web-junk vocabulary
    * (billions of distinct tokens) into a forced driver OOM — the
    * exact failure the degenerate-scale audit's class 4 exists to
    * catch.
    */
  def simhashDf(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(col("toks")).as("t"))
    val vocab = tok.select("t").distinct().select(col("t"), hash60(col("t")).as("h"))
    val hashed = tok.join(vocab, Seq("t")).select("doc_id", "h")
    val votes = (0 until SimBits).map(j =>
      sum(when(col("h").bitwiseAND(lit(1L << j)) =!= 0, 1).otherwise(-1)).as(s"v$j"))
    val agg = hashed.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    val fp = (0 until SimBits).map(j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_.bitwiseOR(_))
    agg.select(col("doc_id"), fp.as("simhash"))
  }

  val simhashFingerprints: Q = Q(
    (s, d) => {
      val docs = ParquetCatalog.read(s, s"$d/documents.parquet")
        .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
      val cols = Seq(col("doc_id"), col("simhash")) ++ (0 until SimBands).map(b =>
        shiftright(col("simhash"), b * SimBandBits)
          .bitwiseAND((1L << SimBandBits) - 1).as(s"band$b"))
      simhashDf(docs).select(cols: _*).orderBy("doc_id")
    },
    // Full oracle: identical md5-derived token hashes ⇒ identical
    // votes ⇒ identical fingerprint, bit for bit.
    Some {
      val voteCols = (0 until SimBits)
        .map(j => s"    sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j")
        .mkString(",\n")
      val fpExpr = (0 until SimBits)
        .map(j => s"(CASE WHEN v$j > 0 THEN (1::BIGINT << $j) ELSE 0 END)")
        .mkString(" |\n         ")
      val bandCols = (0 until SimBands)
        .map(b => s"  (simhash >> ${b * SimBandBits}) & ${(1L << SimBandBits) - 1} AS band$b")
        .mkString(",\n")
      s"""WITH tok AS (
         |  SELECT DISTINCT doc_id,
         |    ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
         |  FROM (SELECT doc_id, unnest(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS t
         |        FROM documents)
         |), v AS (
         |  SELECT doc_id,
         |$voteCols
         |  FROM tok GROUP BY doc_id
         |), fp AS (
         |  SELECT doc_id,
         |         $fpExpr AS simhash
         |  FROM v
         |)
         |SELECT doc_id, simhash,
         |$bandCols
         |FROM fp ORDER BY doc_id""".stripMargin
    }
  )

  // ------------------------------------------------------------------
  // Embedding-cosine near-dup pairs: exact all-pairs over the
  // embeddings table at threshold τ=0.4 — the correctness baseline of
  // semantic dedup. The native codegen'd cosine expression makes the
  // O(n²) scoring a tight fused loop; the id_a < id_b predicate halves
  // the space.
  //
  // Scale notes: all-pairs is the right tool only per-block. At corpus
  // scale the same exact scorer runs AFTER a candidate generator —
  // `Similarity.bucketed` hyperplane buckets (near-dup τ≥0.85 regimes,
  // where sign-LSH recall is high) or IVF cells as blocking keys — so
  // cost is O(candidates), and this query is the verify stage. To keep
  // that contract visible in the registry itself, the standalone query
  // is CAPPED to one fixed verify-block (`vec_id < VerifyBlockCap`,
  // deterministic, oracle-replayed): ≤ 1000 vectors → ≤ ~500k scored
  // pairs no matter how big the corpus grows. The UNcapped full-corpus
  // role belongs to `dedup_embedding_lsh` below — there is no uncapped
  // cartesian left in the registry.
  // ------------------------------------------------------------------
  val CosTau = 0.4
  val VerifyBlockCap = 1000

  val embeddingPairs: Q = Q(
    (s, d) => {
      val e = ParquetCatalog.read(s, s"$d/embeddings.parquet")
        .filter(col("vec_id") < VerifyBlockCap)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      val sim = roundPortable(
        graft.functions.CosineSimilarity(col("va"), col("vb")), 6)
      a.crossJoin(broadcast(b))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), sim.as("cos_sim"))
        .filter(col("cos_sim") >= CosTau)
        .orderBy("id_a", "id_b")
    },
    Some(s"""WITH e AS (
            |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            |  FROM embeddings WHERE vec_id < $VerifyBlockCap
            |), s AS (
            |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            |    floor(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
            |      / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
            |         * sqrt(list_sum(list_transform(b.v, x -> x * x)))) * 1000000 + 0.5) / 1000000 AS cos_sim
            |  FROM e a JOIN e b ON a.vec_id < b.vec_id
            |)
            |SELECT id_a, id_b, cos_sim FROM s WHERE cos_sim >= $CosTau ORDER BY id_a, id_b""".stripMargin)
  )

  // ------------------------------------------------------------------
  // BUCKETED embedding near-dup — the 100 TB semantic-dedup path.
  // Sign-LSH blocks (Similarity.bucketKeys) generate candidates via an
  // equi-join on (table, bucket); only candidates are scored with the
  // exact codegen'd cosine — the embeddingPairs scorer demoted from
  // all-pairs driver to verify stage. Cost is O(n·L + candidates),
  // never O(n²), and the candidate join shuffles (id, table, bucket)
  // longs — vectors are re-fetched by id only for candidate pairs.
  //
  // Parameter rule (see Similarity.gaussianPlanes): recall at cosine τ
  // is 1 − (1 − p^B)^L with p = 1 − arccos(τ)/π. The registry runs
  // L=16 tables × B=4 bits (seed 43): ~94% recall at the harness's
  // τ=0.4 regime. Be explicit about what B=4 does NOT buy: a RANDOM
  // pair shares some table's 4-bit block with prob ≈ 1−(1−2⁻⁴)¹⁶ ≈
  // 0.64, so at this setting blocking is plumbing-correct but barely
  // prunes — the τ=0.4 regime is inherently blocking-hostile (sign-LSH
  // cannot separate cos 0.4 from cos 0 sharply). Production near-dup
  // dedup runs τ ≥ 0.85 with B=8–16, where p ≈ 0.82 keeps recall high
  // while random collision drops to ≈ 1−(1−2⁻⁸)⁸ ≈ 3% — each block
  // holds ~n/2^B vectors and per-block fan-out stays flat; the spec
  // exercises exactly that configuration on planted near-dups.
  // Oversized blocks (degenerate directions) are dropped by the same
  // MaxBucket guard as MinHash-LSH.
  // ------------------------------------------------------------------
  val EmbTables = 16
  val EmbBits = 4
  val EmbMaxBucket = 1000

  /** Registry planes (seed 43), inlined into plan AND oracle. */
  lazy val embPlanes: Array[Array[Array[Double]]] =
    Similarity.gaussianPlanes(EmbTables, EmbBits, Similarity.Dim, 43)

  /** The RE-BANDING POLICY as executable code (BENCHNOTES r12 policy,
    * r14-measured): bits must grow with the corpus — B = ⌈log₂(n/S)⌉
    * holds expected bucket occupancy at S ≈ 125 (the 1× contract's
    * operating point), because at FIXED B the per-bucket population
    * grows ∝ n until every bucket crosses the MaxBucket guard and the
    * pipeline silently returns EMPTY (measured: the B=4 contract
    * recalls 0 of 1500 planted pairs at the 30× corpus). Table count
    * L restores recall 1−(1−p^B)^L at the operating τ
    * (p = 1 − arccos τ/π). Measured at the policy values: recall
    * 1.000 on planted near-dups at 30× (B=9/L=16) and 100×
    * (B=11/L=24), candidates/row flat at ≈ occ·L/2
    * (the Legs `reband` leg; BENCHNOTES r14). The fixed B=4/L=16
    * registry configuration stays the DRIVER CONTRACT at harness
    * scale — this helper is what a production deployment calls
    * instead:
    * {{{
    *   val (b, l) = Dedup.rebandedParams(corpusRows, tau = 0.85)
    *   embeddingLshPairs(e, 0.85, Dedup.rebandedPlanes(corpusRows, 0.85))
    * }}}
    */
  def rebandedParams(n: Long, tau: Double, targetOcc: Int = 125,
      targetRecall: Double = 0.97): (Int, Int) = {
    require(n > 0 && tau > 0 && tau < 1 && targetRecall < 1)
    val b = math.max(EmbBits,
      math.ceil(math.log(n.toDouble / targetOcc) / math.log(2.0)).toInt)
    val p = 1.0 - math.acos(tau) / math.Pi
    // smallest L with 1-(1-p^B)^L >= targetRecall
    val l = math.max(1,
      math.ceil(math.log(1.0 - targetRecall) / math.log(1.0 - math.pow(p, b))).toInt)
    (b, l)
  }

  /** Policy planes for a corpus of n vectors at threshold τ (same
    * seed lineage as [[embPlanes]] so a fixed corpus size is
    * reproducible).
    */
  def rebandedPlanes(n: Long, tau: Double): Array[Array[Array[Double]]] = {
    val (b, l) = rebandedParams(n, tau)
    Similarity.gaussianPlanes(l, b, Similarity.Dim, 43)
  }

  /** The sized bucket-keys relation — (vec_id, table, bucket,
    * bucket_n), UNfiltered: the one expensive blocking artifact (the
    * full L·B hyperplane grid plus the (table, bucket) count window)
    * that both the pair pipeline and the occupancy gauge derive from.
    * Factored out so [[embeddingLshFunnel]] can pay it once.
    */
  private def embSizedKeys(e: DataFrame,
      planes: Array[Array[Array[Double]]]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Similarity.bucketKeys(e, "vec_id", "embedding", planes)
      .withColumn("bucket_n", count(lit(1)).over(Window.partitionBy("table", "bucket")))
  }

  /** Parameterized bucketed near-dup: candidates from any-shared-block,
    * verified with exact cosine ≥ τ. `e` must have (vec_id, embedding).
    */
  def embeddingLshPairs(
      e: DataFrame,
      tau: Double,
      planes: Array[Array[Array[Double]]],
      maxBucket: Int = EmbMaxBucket): DataFrame =
    embeddingLshPairsFrom(embSizedKeys(e, planes), e, tau, maxBucket)

  /** [[embeddingLshPairs]] body from an already-built sized relation
    * (shared with the funnel so the two paths cannot drift).
    *
    * r22 (VERDICT r21 #4 — the vector-attach verify was the registry's
    * largest shuffle at sf0.1, 172 MiB): vectors now travel ONCE into
    * their (table, bucket) blocks and cosine is verified IN PLACE in
    * the block self-join, instead of generating a distinct (id_a,
    * id_b) candidate stream and re-attaching both vectors by id. The
    * attach path shuffled every candidate row twice — and after the
    * first attach the rows are ~0.5 KB wide (the r14 measured class) —
    * so its bytes grow with CANDIDATE mass (quadratic in bucket
    * occupancy); the in-place form's wide exchange is the bucket join
    * itself at n·L vector-carrying rows — LINEAR in corpus size — and
    * everything after the τ filter is survivors only. The old
    * distinct-then-attach order computed one cosine per distinct pair
    * where this computes one per bucket CO-OCCURRENCE (≈1.5× at the
    * harness grid), but cosine is a fused codegen loop and the τ
    * filter now runs BEFORE the dedup exchange, so the ≈10⁻⁴-selective
    * filter drops candidates in the join stage and the distinct
    * shuffles survivors only. Output identical: cosine is
    * deterministic per pair (same expression, same operand order), so
    * distinct over (id_a, id_b, cos_sim) ≡ the old attach-then-score
    * rows. shuffle_hash on the block self-join for the same two
    * reasons as the old attach joins: vector-carrying rows must never
    * sort through an SMJ (the r14 76 GB-spill class), and the
    * corpus-sized relation must stay out of the static broadcast
    * path. Per-partition hash builds stay bounded: rows per
    * (table, bucket) ≤ maxBucket by the guard, and the build side is
    * data-size partitioned.
    */
  private def embeddingLshPairsFrom(sized: DataFrame, e: DataFrame,
      tau: Double, maxBucket: Int): DataFrame = {
    val keys = sized.filter(col("bucket_n") <= maxBucket)
      .join(e.select(col("vec_id"), col("embedding")).hint("shuffle_hash"), Seq("vec_id"))
    val sim = roundPortable(graft.functions.CosineSimilarity(col("va"), col("vb")), 6)
    keys.select(col("table"), col("bucket"), col("vec_id").as("id_a"),
        col("embedding").as("va"))
      .join(keys.select(col("table"), col("bucket"), col("vec_id").as("id_b"),
        col("embedding").as("vb")).hint("shuffle_hash"), Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), sim.as("cos_sim"))
      .filter(col("cos_sim") >= tau)
      .distinct()
      .orderBy("id_a", "id_b")
  }

  /** The SHARED oracle CTE chain for the embedding-LSH bucket grid
    * (seed-43 planes as literals → per-(vec, table) bucket ids),
    * ending in `buckets(vec_id, tbl, bucket)` — used by both the
    * pair pipeline's oracle and the occupancy audit's, so the block
    * recipe cannot drift between them.
    */
  private def embBucketCtes: String = {
    val planeRows = (for { t <- 0 until EmbTables; b <- 0 until EmbBits } yield
      s"    ($t, $b, [${embPlanes(t)(b).mkString(", ")}])").mkString(",\n")
    s"""e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
       |), planes(tbl, bit, pv) AS (
       |  VALUES
       |$planeRows
       |), buckets AS (
       |  SELECT vec_id, tbl,
       |    sum(CASE WHEN list_sum(list_transform(list_zip(v, pv), p -> p[1] * p[2])) > 0
       |             THEN (1::BIGINT << bit) ELSE 0 END) AS bucket
       |  FROM e, planes GROUP BY vec_id, tbl
       |)""".stripMargin
  }

  val embeddingLsh: Q = Q(
    (s, d) =>
      embeddingLshPairs(
        graft.queries.Inventory.rebalanced(
          ParquetCatalog.read(s, s"$d/embeddings.parquet"), "vec_id"), CosTau, embPlanes),
    // Full oracle: seed-43 planes inlined as literals, same block
    // generation (sign of the dot — norms positive), bucket-size
    // guard, candidate join, and exact cosine verify — the bucketed
    // approximate path gets the same hash-match verification as the
    // exact one.
    Some {
      s"""WITH $embBucketCtes, sized AS (
         |  SELECT vec_id, tbl, bucket, count(*) OVER (PARTITION BY tbl, bucket) AS bucket_n FROM buckets
         |), flt AS (
         |  SELECT * FROM sized WHERE bucket_n <= $EmbMaxBucket
         |), cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM flt a JOIN flt b ON a.tbl = b.tbl AND a.bucket = b.bucket
         |  WHERE a.vec_id < b.vec_id
         |), s AS (
         |  SELECT c.id_a, c.id_b,
         |    floor(list_sum(list_transform(list_zip(ea.v, eb.v), p -> p[1] * p[2]))
         |      / (sqrt(list_sum(list_transform(ea.v, x -> x * x)))
         |         * sqrt(list_sum(list_transform(eb.v, x -> x * x)))) * 1000000 + 0.5) / 1000000 AS cos_sim
         |  FROM cand c
         |  JOIN e ea ON ea.vec_id = c.id_a
         |  JOIN e eb ON eb.vec_id = c.id_b
         |)
         |SELECT id_a, id_b, cos_sim FROM s WHERE cos_sim >= $CosTau ORDER BY id_a, id_b""".stripMargin
    }
  )

  // ------------------------------------------------------------------
  // LSH bucket-occupancy audit — makes the MaxBucket collapse LOUD
  // (VERDICT r14 ask #2). The guard that keeps embeddingLshPairs's
  // candidate mass bounded clips whole buckets, and a fixed band
  // width B at a growing corpus clips MORE of them until the pipeline
  // silently returns EMPTY (measured: at the 30× corpus the B = 4
  // contract drops 100% of rows in every table — 0 of 1500 planted
  // pairs recalled — with no error anywhere). This row is the gauge a
  // production funnel GATES on before trusting the pair output: one
  // row per hash table with the clipped-bucket count, the rows the
  // clip silently removed from candidacy, and the drop fraction. At
  // the harness corpus every value is 0 (the contract operating
  // point); at 30× under B = 4 it would publish drop_frac = 1.0 —
  // the silent empty result becomes a number. The re-banding policy
  // ([[rebandedParams]]) is the corrective action the gauge triggers;
  // `dedup_recall_eval` remains the slower end-to-end decay monitor.
  //
  // Scale: one (table, bucket) aggregate with map-side partials over
  // the exploded bucket grid (L rows per vector), then a 16-group
  // rollup — O(n·L) map work, no joins, output rows = L regardless
  // of corpus size. Measured (BENCHNOTES r15): CPU/row FLAT at
  // 30×/100× (~14 ms/vector) — but that CPU is the full L·B
  // hyperplane grid, the same class as the pipeline's own blocking
  // stage, so a production funnel derives occupancy from the
  // pipeline's OWN bucket-keys relation (shared scan/cache) rather
  // than paying this standalone second pass; the registry row stays
  // standalone so the gauge is independently oracle-replayable.
  // ------------------------------------------------------------------
  /** Parameterized standalone gauge (the registry row fixes the
    * contract planes; the Legs `funnel` leg measures it at policy planes).
    */
  def lshOccupancyOf(e: DataFrame, planes: Array[Array[Array[Double]]],
      maxBucket: Int = EmbMaxBucket): DataFrame =
    occupancyRollup(
      Similarity.bucketKeys(e, "vec_id", "embedding", planes)
        .groupBy("table", "bucket").agg(count(lit(1)).as("bucket_n")),
      "table", "tbl", maxBucket)

  val lshOccupancy: Q = Q(
    (s, d) =>
      lshOccupancyOf(graft.queries.Inventory.rebalanced(
        ParquetCatalog.read(s, s"$d/embeddings.parquet"), "vec_id"), embPlanes),
    Some(
      s"""WITH $embBucketCtes, bs AS (
         |  SELECT tbl, bucket, count(*) AS bucket_n FROM buckets GROUP BY 1, 2
         |)
         |SELECT CAST(tbl AS BIGINT) AS tbl, count(*) AS n_buckets,
         |  CAST(sum(bucket_n) AS BIGINT) AS rows_total,
         |  CAST(max(bucket_n) AS BIGINT) AS max_bucket,
         |  CAST(sum(CASE WHEN bucket_n > $EmbMaxBucket THEN 1 ELSE 0 END) AS BIGINT) AS clipped_buckets,
         |  CAST(sum(CASE WHEN bucket_n > $EmbMaxBucket THEN bucket_n ELSE 0 END) AS BIGINT) AS rows_dropped,
         |  floor(CAST(sum(CASE WHEN bucket_n > $EmbMaxBucket THEN bucket_n ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(bucket_n) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS drop_frac
         |FROM bs GROUP BY tbl ORDER BY tbl""".stripMargin)
  )

  // ------------------------------------------------------------------
  // SHARED-SCAN FUNNELS — gauge and pairs from ONE blocking pass
  // (VERDICT r15 ask #2). The standalone occupancy rows are
  // independently oracle-replayable by design, but as a production
  // gate they re-pay the full blocking CPU (the L·B hyperplane grid /
  // the shingle+signature pass) that the pair pipeline is about to
  // pay again — measured 27.6 s of pure recompute at the 30× corpus,
  // 93.6 s at 100×. The funnel materializes the SIZED blocking
  // relation once (skinny rows: ids, band/table, bucket, count — the
  // vectors/texts stay behind) and derives BOTH consumers from it:
  // the gauge (gating) and the pair pipeline (gated). Spark reuses
  // exchanges, not sibling actions, so the sharing mechanism is an
  // explicit MEMORY_AND_DISK persist — the caller runs the gauge
  // first (populating the cache), decides, then runs pairs from the
  // cached blocks, and unpersists. PlanSpec pins that both consumers
  // read the InMemory relation; ExtSpec pins value identity with the
  // standalone rows. At 10⁹ docs the cached relation is n·L 24-byte
  // rows — disk-backed cache, orders of magnitude below recomputing
  // the grid.
  // ------------------------------------------------------------------

  /** One-pass blocking artifacts: the persisted sized blocks, the
    * occupancy gauge over them, and the verified pair output. Call
    * [[LshFunnel.unpersist]] when both consumers are done.
    */
  final case class LshFunnel(blocked: DataFrame, occupancy: DataFrame, pairs: DataFrame) {
    def unpersist(): Unit = { blocked.unpersist(); () }
  }

  /** The embedding-LSH funnel: [[lshOccupancy]]'s gauge and
    * [[embeddingLshPairs]]' output from one persisted bucket-keys
    * pass.
    */
  def embeddingLshFunnel(e: DataFrame, tau: Double,
      planes: Array[Array[Array[Double]]],
      maxBucket: Int = EmbMaxBucket): LshFunnel = {
    val sized = embSizedKeys(e, planes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    LshFunnel(sized,
      occupancyRollup(
        sized.groupBy("table", "bucket").agg(count(lit(1)).as("bucket_n")),
        "table", "tbl", maxBucket),
      embeddingLshPairsFrom(sized, e, tau, maxBucket))
  }

  /** The MinHash funnel twin: [[minhashOccupancy]]'s gauge and
    * [[minhashLsh]]'s output from one persisted banded-signature
    * pass. `posts` (the shingle posting list) is passed through to
    * the exact-verify stage unchanged — only the expensive
    * signature/banding artifact is shared.
    */
  def minhashLshFunnel(posts: DataFrame): LshFunnel = {
    val sized = minhashSizedBands(posts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    LshFunnel(sized,
      occupancyRollup(
        sized.groupBy("band", "key").agg(count(lit(1)).as("bucket_n")),
        "band", "band", MaxBucket),
      minhashLshPairsFrom(sized, posts))
  }

  // ------------------------------------------------------------------
  // CONTAINMENT dedup — the case symmetric Jaccard MISSES: a short
  // document quoted wholesale inside a long one (boilerplate, licence
  // headers, quoted answers in scraped forums). J(A,B) = |A∩B|/|A∪B|
  // collapses toward |A|/|B| however perfectly A is contained, so a
  // tweet inside an article never crosses a Jaccard τ; containment
  // C(A→B) = |A∩B|/|A| is size-asymmetric and catches exactly this.
  //
  // Same inverted-index candidate generation as [[jaccardPairsDf]]
  // (any pair with C > 0 shares a shingle, so the posting equi-join is
  // a complete candidate set) but WITHOUT the size-ratio prefilter —
  // the whole point is pairs of very different sizes. Fan-out stays
  // df-bounded; at zipfian df the stop-shingle guard is the same
  // MaxBucket-style cut as the LSH paths. Direction: emit the smaller
  // doc as `inner_doc` (ties broken by id) so each containment
  // relation appears once, oriented.
  // ------------------------------------------------------------------
  val ContainTau = 0.9

  val containment: Q = Q(
    (s, d) => {
      val posts = shinglePostsDf(ParquetCatalog.read(s, s"$d/documents.parquet"))
      val a = posts.select(col("hs"), col("doc_id").as("inner_doc"), col("sz").as("sz_a"))
      val b = posts.select(col("hs"), col("doc_id").as("outer_doc"), col("sz").as("sz_b"))
      val contain = col("overlap").cast(DoubleType) / col("sz_a")
      // merge hint: both sides are corpus-derived posting lists whose
      // size Catalyst estimates at the tiny parquet ancestor — the
      // static planner would broadcast one (reproduced as a 1 GiB
      // driver OOM on the 30× corpus; this query was the one member
      // of the posting family the r12 hint audit missed). The hint
      // holds through AQE as well — no runtime broadcast demotion on
      // Spark 4.1.2 — which is correct here: both sides are
      // corpus-sized posting lists at every scale.
      a.join(b.hint("merge"), Seq("hs"))
        .filter(col("inner_doc") =!= col("outer_doc") &&
          (col("sz_a") < col("sz_b") ||
            (col("sz_a") === col("sz_b") && col("inner_doc") < col("outer_doc"))))
        .groupBy("inner_doc", "outer_doc", "sz_a")
        .agg(count(lit(1)).as("overlap"))
        .filter(contain >= ContainTau)
        .select(col("inner_doc"), col("outer_doc"),
          roundPortable(contain, 6).as("containment"))
        .orderBy("inner_doc", "outer_doc")
    },
    Some(s"""WITH sh AS (
            |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
            |           i -> array_to_string(toks[i:i+2], ' '))) AS s
            |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents)
            |)
            |SELECT a.doc_id AS inner_doc, b.doc_id AS outer_doc,
            |  floor(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) * 1000000 + 0.5) / 1000000 AS containment
            |FROM sh a, sh b
            |WHERE a.doc_id <> b.doc_id
            |  AND (len(a.s) < len(b.s) OR (len(a.s) = len(b.s) AND a.doc_id < b.doc_id))
            |  AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= $ContainTau
            |ORDER BY inner_doc, outer_doc""".stripMargin)
  )

  // ------------------------------------------------------------------
  // INCREMENTAL dedup — the daily-ingest shape: a small new BATCH is
  // checked against the standing CORPUS, asking of each batch document
  // "is it a near-dup of something we already have?". The harness
  // split is deterministic (odd doc_id = batch, even = corpus,
  // standing in for today's ingest vs yesterday's lake).
  //
  // Scale asymmetry is the whole point: the corpus posting list is
  // 100 TB-side and must NOT shuffle for a few-GB batch. No planner
  // mechanism delivers that on its own (verified on the pinned Spark
  // 4.1.2, r15): the STATIC planner sizes the batch posting list at
  // its tiny parquet ancestor and would broadcast even an outgrown
  // batch (the r14 30× half-corpus split killed a 1 GiB driver that
  // way), while a user strategy hint is honored by JoinSelection
  // through every AQE re-plan — a merge-hinted join NEVER demotes
  // back to broadcast, however small the batch materializes (the r14
  // scaladoc claimed AQE restores it; that claim was false, and it
  // silently cost the in-contract batch its map-side join — the
  // corpus shuffled on every ingest). So the engine makes the choice
  // itself, from its own measurement: one cheap aggregate sums the
  // batch's text chars (column-pruned scan, map-side combined),
  // which bounds posting rows (≤ one per token ≈ chars/6). A
  // contract-sized batch joins under an explicit broadcast() — the
  // corpus side stays a map-side hash-join probe fused onto its
  // scan, zero corpus shuffle. An outgrown batch degrades to a
  // merge-hinted sort-merge join: both sides shuffle, but the rows
  // are skinny (hs, doc, sz) longs — nothing like the 0.5 KB-wide
  // vector-attach rows that forced shuffle_hash in embeddingLshPairs
  // — so the SMJ sort is spill-safe instead of a dead driver.
  // PlanSpec pins BOTH static shapes and that the hinted branch
  // stays SMJ through AQE. Only candidate (batch, corpus, shingle)
  // hits — bounded by batch size × df — reach the pair aggregation.
  // Same exact-Jaccard semantics as jaccardPairs (J from |A∩B| via the
  // posting join, |A∪B| by inclusion-exclusion), so the output is the
  // exact set of batch docs with a corpus near-dup — not probabilistic.
  // Every batch doc is emitted with its verdict (is_dup, match count,
  // smallest matching corpus doc; -1 sentinel keeps the column
  // non-null for cross-engine hashing).
  // ------------------------------------------------------------------
  /** Batch budget for the incremental map-side join: total batch text
    * chars the measured-broadcast branch accepts. Chars bound posting
    * rows at ≤ one per token ≈ chars/6 for prose-like token lengths,
    * so 8M chars caps the broadcast hash relation at ~1.4M
    * (hs, doc, sz) rows ≈ 64 MB — comfortably under executor memory
    * at any contract scale, and two orders of magnitude under the r14
    * half-corpus split that killed a 1 GiB driver via the
    * estimate-based static broadcast. The chars/6 step is HEURISTIC
    * (1–2-char-token corpora pack ~3× more postings per char — ADVICE
    * r15), so it is only the cheap FIRST gate: a batch that passes it
    * is small enough that the exact second gate below is trivial to
    * measure.
    */
  val IncrementalBroadcastMaxChars = 8L << 20

  /** Exact second gate: posting rows the broadcast relation may carry
    * (≈64 MB of (hs, doc, sz) rows). Token count bounds posting rows
    * from ABOVE (postings are per-doc DISTINCT shingles ≤ windows =
    * tokens − 2), so a token-counted batch can never out-pack the
    * bound the way the chars/6 heuristic can.
    */
  val IncrementalBroadcastMaxPostings = 1400000L

  /** The measured-batch probe join, factored so PlanSpec can pin both
    * branches: `fits = true` is the in-contract shape (explicit
    * broadcast of the batch posting list — corpus probe fused onto
    * its scan, zero corpus shuffle); `fits = false` the outgrown
    * degradation (merge-hinted SMJ over skinny posting rows, which
    * Spark 4.1.2 honors through AQE — it never silently re-broadcasts).
    */
  def incrementalMatches(corpus: DataFrame, batch: DataFrame,
      fits: Boolean): DataFrame = {
    val jac = col("overlap").cast(DoubleType) /
      (col("sz_b") + col("sz_c") - col("overlap"))
    val probed =
      if (fits) corpus.join(broadcast(batch), Seq("hs"))
      else corpus.join(batch.hint("merge"), Seq("hs"))
    probed
      .filter(col("sz_b") >= col("sz_c") * JaccardTau && col("sz_c") >= col("sz_b") * JaccardTau)
      .groupBy("batch_doc", "corpus_doc", "sz_b", "sz_c")
      .agg(count(lit(1)).as("overlap"))
      .filter(jac >= JaccardTau)
      .groupBy("batch_doc")
      .agg(count(lit(1)).as("n_matches"), min(col("corpus_doc")).as("first_dup"))
  }

  val incremental: Q = Q(
    (s, d) => {
      val docs = ParquetCatalog.read(s, s"$d/documents.parquet")
      val posts = shinglePostsDf(docs)
      val corpus = posts.filter(col("doc_id") % 2 === 0)
        .select(col("hs"), col("doc_id").as("corpus_doc"), col("sz").as("sz_c"))
      val batch = posts.filter(col("doc_id") % 2 === 1)
        .select(col("hs"), col("doc_id").as("batch_doc"), col("sz").as("sz_b"))
      // The engine's own measurement picks the join strategy (see the
      // header comment): ONE column-pruned pass over the batch half's
      // text emits two scalars — the char-sum (the cheap size signal)
      // and an EXACT token count, which bounds the posting rows the
      // broadcast will carry from above (postings = per-doc distinct
      // shingles ≤ windows = tokens − 2) and closes the chars/6
      // heuristic's short-token hole (ADVICE r15: 1–2-char tokens
      // pack ~3× more postings per char than the heuristic assumed).
      // Tokenization here is the same split the postings use but
      // WITHOUT the explode/window/distinct — map-side work folded
      // into the same scan as the char-sum, no second pass.
      val gate = docs.filter(col("doc_id") % 2 === 1)
        .agg(coalesce(sum(length(col("text"))), lit(0L)).as("c"),
          coalesce(sum(size(tokens(col("text"))).cast("long")), lit(0L)).as("t"))
        .head()
      val fits = gate.getLong(0) <= IncrementalBroadcastMaxChars &&
        gate.getLong(1) <= IncrementalBroadcastMaxPostings
      val matches = incrementalMatches(corpus, batch, fits)
      ParquetCatalog.read(s, s"$d/documents.parquet")
        .filter(col("doc_id") % 2 === 1).select(col("doc_id"))
        .join(matches, col("doc_id") === col("batch_doc"), "left")
        .select(col("doc_id"),
          col("batch_doc").isNotNull.cast("long").as("is_dup"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          coalesce(col("first_dup"), lit(-1L)).as("first_dup"))
        .orderBy("doc_id")
    },
    Some(s"""WITH sh AS (
            |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
            |           i -> array_to_string(toks[i:i+2], ' '))) AS s
            |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents)
            |), m AS (
            |  SELECT b.doc_id AS batch_doc, count(*) AS n_matches, min(c.doc_id) AS first_dup
            |  FROM sh b JOIN sh c ON b.doc_id % 2 = 1 AND c.doc_id % 2 = 0
            |   AND CAST(len(list_intersect(b.s, c.s)) AS DOUBLE) / len(list_distinct(b.s || c.s)) >= $JaccardTau
            |  GROUP BY 1
            |)
            |SELECT d.doc_id,
            |       CAST(CASE WHEN m.batch_doc IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup,
            |       coalesce(m.n_matches, 0) AS n_matches,
            |       coalesce(m.first_dup, -1) AS first_dup
            |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
            |LEFT JOIN m ON m.batch_doc = d.doc_id
            |ORDER BY d.doc_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // N-gram novelty — per document, the fraction of its distinct
  // 3-shingles whose FIRST corpus occurrence (min doc_id) is this
  // document. The streaming-ingest view of near-duplication: an exact
  // re-post scores 0.0, templated boilerplate scores low, genuinely
  // new content scores ~1.0 — the signal an ingest pipeline uses to
  // drop recycled content before any pairwise dedup runs (first-
  // occurrence attribution needs no pair join at all).
  //
  // Scale: two shuffles, both map-side combinable — min(doc_id) per
  // shingle hash (longs, not strings, on the wire via shinglePosts),
  // then the per-doc ratio agg. No pair enumeration, no candidate
  // blowup: cost is O(total shingles), the same as one MinHash
  // signature pass. The oracle intersects string shingles directly,
  // so the xxhash64 join key stays an opaque engine-side choice
  // (collision odds 2^-64·n² are irrelevant at any corpus size).
  // ------------------------------------------------------------------
  val ngramNovelty: Q = Q(
    (s, d) => {
      val posts = shinglePosts(s, d)
      val first = posts.groupBy("hs").agg(min("doc_id").as("first_doc"))
      posts.join(first, "hs")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          roundPortable(col("n_novel").cast(DoubleType) / col("n_shingles"), 6)
            .as("novelty_ratio"))
        .orderBy("doc_id")
    },
    Some("""WITH s AS (
           |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
           |           i -> array_to_string(toks[i:i+2], ' ')))) AS sh
           |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents)
           |), f AS (
           |  SELECT sh, min(doc_id) AS first_doc FROM s GROUP BY 1
           |)
           |SELECT s.doc_id, count(*) AS n_shingles,
           |  CAST(sum(CAST(s.doc_id = f.first_doc AS BIGINT)) AS BIGINT) AS n_novel,
           |  floor(CAST(sum(CAST(s.doc_id = f.first_doc AS BIGINT)) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS novelty_ratio
           |FROM s JOIN f USING (sh)
           |GROUP BY 1 ORDER BY s.doc_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // MinHash ESTIMATION contract — the question the LSH pipeline's
  // correctness rests on, made a first-class verified query: does the
  // k=32 signature actually estimate Jaccard within its statistical
  // bound on this corpus? For every exact pair (J ≥ 0.3), emit the
  // signature estimate (#matching mins / k) beside the exact overlap
  // Jaccard and a bounded-error boolean: |est − J| ≤ 3·√(J(1−J)/k) +
  // 1/k (the Binomial 3σ envelope plus one quantization step — est is
  // a multiple of 1/k). Same contract pattern as agg_approx_distinct:
  // the sketch is not oracled by value (it would always match — the
  // oracle replays the same hashes) but by whether it HOLDS ITS
  // ERROR CONTRACT against the exact value, computed from the same
  // 6dp-rounded J in both engines so the boolean cannot diverge.
  //
  // Scale: the signature aggregate is the lshBands shuffle (one pass,
  // k min() columns); pairs come from the prefiltered posting join;
  // the estimate itself is a 32-term codegen'd comparison on the
  // joined signature rows — candidates only, never all pairs.
  // ------------------------------------------------------------------
  val minhashEstimate: Q = Q(
    (s, d) => {
      // persisted postings + the measured route of jaccardPairsFrom
      // (r22, same class as jaccardPairsDf: this row's pair side was
      // the one remaining ungated direct join over full postings —
      // identical Σdf² failure mode on boilerplate-heavy corpora,
      // identical output under either route). The persist also feeds
      // the signature aggregate from the cache instead of a second
      // shingle pass. Like jaccardPairsDf's, the postings stay cached
      // for the session unless the caller runs inside Caches.scoped or
      // calls spark.catalog.clearCache().
      val posts = graft.engine.Caches.retain(
        shinglePosts(s, d, hash60)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val sig = minhashSignature(posts)
      val sigA = sig.toDF("doc_a" +: (0 until NumHashes).map(i => s"a$i"): _*)
      val sigB = sig.toDF("doc_b" +: (0 until NumHashes).map(i => s"b$i"): _*)
      val matches = (0 until NumHashes)
        .map(i => (col(s"a$i") === col(s"b$i")).cast("long"))
        .reduce(_ + _)
      val est = matches.cast(DoubleType) / NumHashes
      val bound = lit(3.0) * sqrt(col("jaccard") * (lit(1.0) - col("jaccard")) / NumHashes) +
        lit(1.0 / NumHashes)
      jaccardPairsFrom(posts)
        .join(sigA, Seq("doc_a"))
        .join(sigB, Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("jaccard"),
          roundPortable(est, 6).as("est_jaccard"),
          (abs(est - col("jaccard")) <= bound).as("within_bound"))
        .orderBy("doc_a", "doc_b")
    },
    Some {
      val minCols = (0 until NumHashes)
        .map(i => s"    min((${coefA(i)} * x + ${coefB(i)}) % $P) AS m$i")
        .mkString(",\n")
      val matchTerms = (0 until NumHashes)
        .map(i => s"CAST(sa.m$i = sb.m$i AS INT)")
        .mkString(" + ")
      s"""WITH sh0 AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
         |           i -> array_to_string(toks[i:i+2], ' ')))) AS s
         |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents)
         |), sh AS (
         |  SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS hs FROM sh0
         |), sig AS (
         |  SELECT doc_id,
         |$minCols
         |  FROM (SELECT doc_id, hs % $P AS x FROM sh) GROUP BY doc_id
         |), sets AS (
         |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
         |           i -> array_to_string(toks[i:i+2], ' '))) AS sh
         |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents)
         |), pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    floor(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |          / len(list_distinct(a.sh || b.sh)) * 1000000 + 0.5) / 1000000 AS jaccard
         |  FROM sets a, sets b
         |  WHERE a.doc_id < b.doc_id
         |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) >= $JaccardTau
         |)
         |SELECT p.doc_a, p.doc_b, p.jaccard,
         |  floor(CAST($matchTerms AS DOUBLE) / $NumHashes * 1000000 + 0.5) / 1000000 AS est_jaccard,
         |  abs(CAST($matchTerms AS DOUBLE) / $NumHashes - p.jaccard)
         |    <= 3.0 * sqrt(p.jaccard * (1.0 - p.jaccard) / $NumHashes) + ${1.0 / NumHashes} AS within_bound
         |FROM pairs p
         |JOIN sig sa ON p.doc_a = sa.doc_id
         |JOIN sig sb ON p.doc_b = sb.doc_id
         |ORDER BY p.doc_a, p.doc_b""".stripMargin
    }
  )

  // ------------------------------------------------------------------
  // Exact-substring duplicate spans (the Lee et al., "Deduplicating
  // Training Data Makes Language Models Better", ACL'22 target —
  // public paper; their suffix-array finds byte-level duplicate spans,
  // we express the token-window formulation Spark-natively): hash
  // every CONSECUTIVE 8-token window positionally (a multiset — every
  // position counts, unlike the distinct-shingle queries), invert to
  // a posting list on the window hash, and report per document the
  // fraction of its windows that also occur in ANOTHER document.
  // Long verbatim overlaps — boilerplate, licenses, templated spans —
  // light up as high dup_span_frac even when whole-doc similarity
  // (MinHash/SimHash) stays low, which is exactly why span-level
  // dedup is run IN ADDITION to near-dup dedup on LLM corpora.
  //
  // Scale shape: tokenize + hash ONCE via the same map-side
  // higher-order transform as the 50-token row (an earlier form built
  // windows from 7 lead() calls over a per-doc sort — all codegen,
  // but the sort's doc_id partitioning SATISFIES the dup decision's
  // (hs, doc_id) clustering, so Catalyst plans NO exchange between
  // them and the whole window+md5 pipeline re-executes once per join
  // branch with no shareable boundary: measured 1.7 → 3.8 s task CPU
  // at sf0.1. The HOF form's explicit (hs, doc_id) exchange IS the
  // shared boundary, and it drops the per-doc sort exchange
  // entirely), then decide cross-doc
  // duplication with TWO-LEVEL partial aggregation, never a window
  // over the span hash (VERDICT r16 "what's wrong" #1: a WindowExec
  // over hs puts every occurrence of the hottest span — license
  // boilerplate repeating billions of times — into ONE sorted task
  // with no map-side combine). Level 1 collapses occurrences to
  // (hs, doc_id, count): the hot hash spreads across doc_ids, and the
  // partial count combines map-side. Level 2 derives per-hash
  // cross-doc duplication (≥ 2 rows of the collapsed relation ⟺ ≥ 2
  // distinct docs) — its hot key is now bounded by DISTINCT docs
  // carrying the span, with count partials collapsing map-side —
  // and joins back on hs (build side: ONE row per hash; AQE
  // skew-splits the probe). Both level-2 branches shuffle the SAME
  // level-1 aggregate, so its exchange is REUSED: tokenize/md5 runs
  // once, exactly like the old window form. The span hash is
  // md5-derived ([[hash60]]) so the DuckDB oracle replays the exact
  // keys; no pairwise join anywhere — O(corpus) not O(corpus²).
  // ------------------------------------------------------------------
  val SpanTokens = 8

  /** Per-doc dup-span report over a raw (doc_id, hs) window-occurrence
    * relation — the two-level skew-safe shape shared by the 8- and
    * 50-token rows (scale rationale in the block comment above).
    */
  private def spanDupReport(wins: DataFrame): DataFrame = {
    // explicit isnotnull(hs) on the shared relation: the INNER build
    // branch infers it from its join key, and without the same
    // predicate on the LEFT probe branch the two copies of g stop
    // canonicalizing equal — exchange reuse lost, tokenize ×2
    val g = wins.filter(col("hs").isNotNull)
      .groupBy("hs", "doc_id").agg(count(lit(1)).as("c"))
    // cross-doc dup ⟺ ≥2 distinct docs carry the hash ⟺ ≥2 rows of
    // g ⟺ sum(c) ≠ max(c) (every c ≥ 1, so a second row strictly
    // raises the sum above the max). The formulation is chosen for
    // the OPTIMIZER, not elegance: it must reference c, or this
    // branch's copy of g decouples from the probe branch's and the
    // exchange stops canonicalizing equal — min(doc_id)≠max(doc_id)
    // is rewritten by RemoveRedundantAggregates straight over the raw
    // occurrences (a second full tokenize/md5 pass), and count(*)/
    // count(c) is count(1)-normalized and then column-pruned into a
    // bare DISTINCT with a different partial shape (both observed
    // in-plan; PlanSpec pins the single live scan)
    // the build side carries ONLY duplicated hashes (unique spans —
    // the vast majority — never enter the join state; a LEFT join
    // keeps their rows for n_spans), so it broadcasts at any corpus
    // size where dup mass is sane and the probe never re-exchanges
    val pl = g.groupBy("hs")
      .agg((sum(col("c")) =!= max(col("c"))).as("dup"))
      .filter(col("dup"))
      .select(col("hs"), lit(1L).as("dup"))
    g.join(pl, Seq("hs"), "left")
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_spans"),
        sum(col("c") * coalesce(col("dup"), lit(0L))).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        roundPortable(col("n_dup_spans").cast(DoubleType) / col("n_spans"), 6)
          .as("dup_span_frac"))
      .orderBy("doc_id")
  }

  val substringSpans: Q = Q(
    (s, d) => spanDupReport(
      spanWins(ParquetCatalog.read(s, s"$d/documents.parquet"), SpanTokens)
        .select("doc_id", "hs")),
    Some(s"""WITH sp AS (
            |  SELECT doc_id,
            |    ('0x' || substr(md5(array_to_string(toks[i:i+${SpanTokens - 1}], ' ')), 1, 15))::BIGINT AS hs
            |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
            |       LATERAL unnest(range(1, len(toks) - ${SpanTokens - 2})) AS r(i)
            |), pl AS (
            |  SELECT hs, count(DISTINCT doc_id) AS n_docs FROM sp GROUP BY 1
            |)
            |SELECT sp.doc_id, count(*) AS n_spans,
            |  CAST(sum(CAST(pl.n_docs >= 2 AS BIGINT)) AS BIGINT) AS n_dup_spans,
            |  floor(CAST(sum(CAST(pl.n_docs >= 2 AS BIGINT)) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS dup_span_frac
            |FROM sp JOIN pl USING (hs)
            |GROUP BY 1 ORDER BY sp.doc_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Exact-substring spans at the Lee et al. operating point — the
  // ACL'22 paper dedups on 50-TOKEN verbatim windows, an order of
  // magnitude longer than the 8-token row above, and the difference
  // is the point: 8-token windows flag every shared idiom and
  // boilerplate fragment (high recall, over-flags for REMOVAL
  // decisions), 50-token windows fire only on genuinely copied
  // passages — the span length at which the paper measures LM
  // improvement from removal. Both rows stay in the registry because
  // a production funnel uses them differently (8 = analysis signal,
  // 50 = removal gate).
  //
  // Scale shape differs from the 8-token row deliberately: 49 window
  // leads would need a per-doc SORT (one window shuffle carrying
  // 50-token-wide rows). Instead the windows come from a map-side
  // higher-order transform over the per-doc token array — slice +
  // join + hash per window position, O(W·tokens) char work, ZERO
  // shuffles before the span-hash exchange. The HOF evaluates outside
  // whole-stage codegen, but it replaces a corpus-wide sort — at
  // 100 TB the exchange it saves dominates the interpreted-eval cost
  // by orders of magnitude. Dup decision is the same two-level
  // (hs, doc_id) partial aggregation as the 8-token row — never a
  // window over the span hash; hashes are md5-derived so DuckDB
  // replays keys exactly.
  // ------------------------------------------------------------------
  val SpanTokensLong = 50

  val substringSpansLong: Q = Q(
    (s, d) => spanDupReport(
      spanWins(ParquetCatalog.read(s, s"$d/documents.parquet"))
        .select("doc_id", "hs")),
    Some(s"""WITH sp AS (
            |  SELECT doc_id,
            |    ('0x' || substr(md5(array_to_string(toks[i:i+${SpanTokensLong - 1}], ' ')), 1, 15))::BIGINT AS hs
            |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
            |       LATERAL unnest(range(1, len(toks) - ${SpanTokensLong - 2})) AS r(i)
            |), pl AS (
            |  SELECT hs, count(DISTINCT doc_id) AS n_docs FROM sp GROUP BY 1
            |)
            |SELECT sp.doc_id, count(*) AS n_spans,
            |  CAST(sum(CAST(pl.n_docs >= 2 AS BIGINT)) AS BIGINT) AS n_dup_spans,
            |  floor(CAST(sum(CAST(pl.n_docs >= 2 AS BIGINT)) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS dup_span_frac
            |FROM sp JOIN pl USING (hs)
            |GROUP BY 1 ORDER BY sp.doc_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Span REMOVAL — Lee et al.'s actual deliverable (VERDICT r15 ask
  // #3): the spans50 row FLAGS duplicated 50-token windows; the
  // paper's intervention is the corpus with those spans REMOVED,
  // keeping exactly one occurrence of each duplicated passage. The
  // policy here is keep-FIRST-occurrence: all occurrences of a span
  // hash are ordered by (doc_id, pos) and every occurrence after the
  // first is flagged for removal — deterministic, corpus-global (one
  // copy of boilerplate survives, wherever it first appears), and it
  // covers WITHIN-doc repeats too (the paper dedups all repeated
  // substrings, not only cross-doc ones — a deliberate difference
  // from the min≠max cross-doc test of the analysis rows).
  //
  // Removal surgery: flagged windows overlap heavily (a copied
  // passage of length m flags m−49 windows), so per-doc removal is
  // the UNION of flagged intervals [pos, pos+50). The merged-interval
  // arithmetic is the classic running-max formulation — prev_end =
  // max(pos+50) over preceding flagged windows; each window
  // contributes max(0, end − max(pos, prev_end)) tokens and opens a
  // new region iff pos ≥ prev_end — identical SQL both engines, so
  // every published number is an exact integer (plus one 6dp ratio).
  // The row publishes per-doc counts (tokens, flagged occurrences,
  // merged regions, removed tokens) rather than re-materializing
  // cleaned text through the driver's hash gate; the cleaned corpus
  // itself is `slice`-surgery over the same merged intervals.
  //
  // Scale shape: windows from the same map-side HOF as spans50 (no
  // 49-lead sort); keep/flag is the skew-safe argmin — a partial
  // min-struct/count aggregate on the span hash (hot keys collapse
  // map-side; the old min-struct WINDOW serialized the hottest
  // boilerplate span into one task — VERDICT r16 "what's wrong" #1)
  // joined back on hs (build side one row per DUPLICATED hash only;
  // AQE skew-splits the probe). The join-back recomputes the window
  // HOF once more in the standalone rows (map-only, embarrassingly
  // parallel — the price of removing the straggler); the production
  // pair runs [[substringFunnel]], which persists the shared relations
  // instead. The interval window partitions by doc_id over FLAGGED
  // rows only (sparse) and the final aggregate is per-doc.
  // O(corpus windows), no pair join.
  // ------------------------------------------------------------------

  /** Raw `w`-token window occurrences over a documents relation —
    * (doc_id, pos, hs) from the map-side HOF; the shared first stage
    * of the span family (both analysis widths and removal).
    */
  def spanWins(docs: DataFrame, w: Int = SpanTokensLong): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    // sequence(0, n-w) flips DESCENDING when n < w — guard first
    toks.filter(size(col("toks")) >= w)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(col("toks")) - w),
        i => hash60(array_join(slice(col("toks"), i + 1, lit(w)), " ")))).as(Seq("pos", "hs")))
  }

  /** Keep-first flagging over a window-occurrence relation: every
    * occurrence of a duplicated span hash EXCEPT its global first
    * (min (doc_id, pos)) — as (doc_id, pos).
    *
    * Skew-safe by construction, at every exchange:
    *   1. collapse raw occurrences per (hs, doc_id) with a SCALAR
    *      min(pos) + count — a codegen HashAggregate whose partials
    *      combine map-side, and whose (hs, doc_id) key spreads the
    *      hottest span hash across the documents carrying it;
    *   2. the per-hash argmin (min over (doc_id, min_pos) structs — a
    *      SortAggregate, struct orderings don't hash-agg) runs over
    *      the COLLAPSED relation only: its hot-key width is bounded
    *      by distinct docs per hash, not occurrences, and the
    *      cnt ≥ 2 filter (sum of per-doc counts — within-doc repeats
    *      must flag too) keeps only duplicated hashes;
    *   3. verdicts join back to the collapsed relation on hs (build
    *      side: one row per duplicated hash), and the result joins to
    *      the raw occurrences on (hs, doc_id) — never on hs alone, so
    *      no single task ever receives a whole hash's posting. A
    *      per-(hs, doc) cell is bounded by ONE document's repeats of
    *      one span, which document length bounds inherently.
    * Both raw-relation consumers (step 1's aggregate and step 3's
    * probe) shuffle on the same (hs, doc_id) key, so the expensive
    * window/hash pass materializes one exchange and the second
    * consumer reuses it (PlanSpec pins the single live scan).
    */
  def spanFlagged(wins: DataFrame): DataFrame = {
    val gd = wins.groupBy("hs", "doc_id")
      .agg(min(col("pos")).as("pos"), count(lit(1)).as("c"))
    val firsts = gd.groupBy("hs")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"),
        sum(col("c")).as("cnt"))
      .filter(col("cnt") >= 2)
      .select(col("hs"), col("first"))
    val verdicts = gd.join(firsts, Seq("hs"))
      .select(col("hs"), col("doc_id"), col("first"))
    wins.join(verdicts, Seq("hs", "doc_id"))
      .filter(struct(col("doc_id"), col("pos")) =!= col("first"))
      .select(col("doc_id"), col("pos"))
  }

  /** Per-doc removal counts from a flagged (doc_id, pos) relation +
    * per-doc token counts — the merged-interval running-max arithmetic
    * (see the block comment above).
    */
  private def cleanCountsFrom(nTokens: DataFrame, flagged: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = SpanTokensLong
    val byDocPrev = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cov = flagged
      .withColumn("e", (col("pos") + W).cast("long"))
      .withColumn("prev_end", max(col("e")).over(byDocPrev))
      .withColumn("contrib",
        greatest(lit(0L), col("e") - greatest(col("pos").cast("long"),
          coalesce(col("prev_end"), col("pos").cast("long")))))
      .withColumn("new_region",
        (col("prev_end").isNull || col("pos") >= col("prev_end")).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_occurrences"),
        sum("new_region").as("n_regions"),
        sum("contrib").as("n_tokens_removed"))
    nTokens
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_occurrences"), lit(0L)).as("n_dup_occurrences"),
        coalesce(col("n_regions"), lit(0L)).as("n_regions"),
        coalesce(col("n_tokens_removed"), lit(0L)).as("n_tokens_removed"),
        roundPortable(coalesce(col("n_tokens_removed"), lit(0L)).cast(DoubleType) /
          col("n_tokens"), 6).as("removed_frac"))
      .orderBy("doc_id")
  }

  /** Token surgery from a flagged (doc_id, pos) relation + per-doc
    * token arrays: flagged windows merge into maximal intervals (an
    * `aggregate` HOF over the sorted positions — interval count is
    * doc-bounded) and covered tokens drop.
    */
  private def cleanedTextFrom(toks: DataFrame, flagged: DataFrame): DataFrame = {
    val W = SpanTokensLong
    val intervals = flagged
      .groupBy("doc_id")
      .agg(array_sort(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"), aggregate(col("ps"),
        array().cast("array<struct<s:int,e:int>>"),
        (acc, p) => when(size(acc) > 0 && p < element_at(acc, -1).getField("e"),
          concat(slice(acc, lit(1), size(acc) - 1),
            array(struct(element_at(acc, -1).getField("s").as("s"),
              greatest(element_at(acc, -1).getField("e"), p + W).cast("int").as("e")))))
          .otherwise(concat(acc,
            array(struct(p.cast("int").as("s"), (p + W).cast("int").as("e")))))).as("iv"))
    toks.join(intervals, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("iv").isNull, col("toks")).otherwise(
          filter(col("toks"), (t, i) =>
            !exists(col("iv"), v => i >= v.getField("s") && i < v.getField("e"))))
          .as("kept"))
      .select(col("doc_id"), array_join(col("kept"), " ").as("cleaned_text"),
        size(col("kept")).cast("long").as("n_kept_tokens"))
      .orderBy("doc_id")
  }

  private def tokArrays(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))

  private def tokCounts(docs: DataFrame): DataFrame =
    tokArrays(docs).select(col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"))

  /** Per-doc span-removal report over any documents relation —
    * factored from the registry row so specs can drive synthetic
    * corpora through the merge/overlap semantics.
    */
  def substringCleanDf(docs: DataFrame): DataFrame =
    cleanCountsFrom(tokCounts(docs), spanFlagged(spanWins(docs)))

  /** The cleaned corpus itself — (doc_id, cleaned_text, n_kept_tokens):
    * the token surgery the counts row prices, Lee et al.'s actual
    * deliverable. Same flagged set and keep-first policy as
    * [[substringCleanDf]]. ExtSpec pins token-count conservation
    * against the counts row (kept = n_tokens − n_tokens_removed,
    * every doc) and the synthetic-corpus surgeries; the
    * dedup_substring_cleaned registry row hash-matches the cleaned
    * text itself (per-doc md5) against a DuckDB replay of the same
    * keep-first coverage surgery.
    */
  def substringCleanedDf(docs: DataFrame): DataFrame =
    cleanedTextFrom(tokArrays(docs), spanFlagged(spanWins(docs)))

  /** Shared-scan funnel for the span-removal family (the LshFunnel
    * pattern): a production run wants the counts report AND the
    * cleaned corpus, and standalone they each rebuild the window/hash
    * pass (twice each, for the flag join-back). Here the raw window
    * relation persists just long enough to build the flagged set once
    * (eagerly, so `wins` frees before any consumer runs), and the
    * flagged relation — duplicated-occurrence rows only, sparse by
    * construction — stays cached for both consumers. Call
    * [[SubstringFunnel.unpersist]] when both are done.
    */
  final case class SubstringFunnel(flagged: DataFrame, counts: DataFrame,
      cleaned: DataFrame) {
    def unpersist(): Unit = { flagged.unpersist(); () }
  }

  def substringFunnel(docs: DataFrame): SubstringFunnel = {
    import org.apache.spark.storage.StorageLevel
    val wins = spanWins(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val flagged = spanFlagged(wins).persist(StorageLevel.MEMORY_AND_DISK)
    flagged.count() // materialize flagged THROUGH wins, then free wins
    wins.unpersist()
    SubstringFunnel(flagged,
      cleanCountsFrom(tokCounts(docs), flagged),
      cleanedTextFrom(tokArrays(docs), flagged))
  }

  val substringClean: Q = Q(
    (s, d) => substringCleanDf(ParquetCatalog.read(s, s"$d/documents.parquet")),
    Some(s"""WITH sp AS (
            |  SELECT doc_id, i - 1 AS pos,
            |    ('0x' || substr(md5(array_to_string(toks[i:i+${SpanTokensLong - 1}], ' ')), 1, 15))::BIGINT AS hs
            |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
            |       LATERAL unnest(range(1, len(toks) - ${SpanTokensLong - 2})) AS r(i)
            |), f AS (
            |  SELECT doc_id, pos FROM (
            |    SELECT doc_id, pos,
            |      row_number() OVER (PARTITION BY hs ORDER BY doc_id, pos) AS rn
            |    FROM sp
            |  ) WHERE rn > 1
            |), cov AS (
            |  SELECT doc_id, pos, pos + $SpanTokensLong AS e,
            |    max(pos + $SpanTokensLong) OVER (PARTITION BY doc_id ORDER BY pos
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
            |  FROM f
            |), agg AS (
            |  SELECT doc_id, count(*) AS n_dup_occurrences,
            |    CAST(sum(CASE WHEN prev_end IS NULL OR pos >= prev_end THEN 1 ELSE 0 END) AS BIGINT) AS n_regions,
            |    CAST(sum(greatest(0, e - greatest(pos, coalesce(prev_end, pos)))) AS BIGINT) AS n_tokens_removed
            |  FROM cov GROUP BY 1
            |), nt AS (
            |  SELECT doc_id, len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens FROM documents
            |)
            |SELECT nt.doc_id, CAST(nt.n_tokens AS BIGINT) AS n_tokens,
            |  coalesce(a.n_dup_occurrences, 0) AS n_dup_occurrences,
            |  coalesce(a.n_regions, 0) AS n_regions,
            |  coalesce(a.n_tokens_removed, 0) AS n_tokens_removed,
            |  floor(CAST(coalesce(a.n_tokens_removed, 0) AS DOUBLE) / nt.n_tokens * 1000000 + 0.5) / 1000000 AS removed_frac
            |FROM nt LEFT JOIN agg a USING (doc_id) ORDER BY nt.doc_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // The cleaned corpus, DRIVER-VERIFIED (VERDICT r16 "what's missing"
  // #1): the counts row above prices the surgery; this row hashes its
  // RESULT — per-doc md5 of the cleaned text plus the kept-token
  // count — against a DuckDB replay of the same keep-first coverage
  // semantics. The oracle flags non-first occurrences with the
  // rank-window form (value-identical to the engine's skew-safe
  // aggregate — ExtSpec pins the equivalence), expands them into a
  // covered-index list per doc, and drops covered tokens; publishing
  // the md5 rather than the text keeps the hashed artifact small
  // while still pinning every byte of every cleaned document.
  // ------------------------------------------------------------------
  val substringCleaned: Q = Q(
    (s, d) => substringCleanedDf(ParquetCatalog.read(s, s"$d/documents.parquet"))
      .select(col("doc_id"), col("n_kept_tokens"),
        md5(col("cleaned_text")).as("cleaned_md5")),
    Some(s"""WITH tk AS (
            |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents
            |), sp AS (
            |  SELECT doc_id, i - 1 AS pos,
            |    ('0x' || substr(md5(array_to_string(toks[i:i+${SpanTokensLong - 1}], ' ')), 1, 15))::BIGINT AS hs
            |  FROM tk, LATERAL unnest(range(1, len(toks) - ${SpanTokensLong - 2})) AS r(i)
            |), f AS (
            |  SELECT doc_id, pos FROM (
            |    SELECT doc_id, pos,
            |      row_number() OVER (PARTITION BY hs ORDER BY doc_id, pos) AS rn
            |    FROM sp
            |  ) WHERE rn > 1
            |), fp AS (
            |  SELECT doc_id,
            |    list_sort(list_distinct(flatten(list(range(pos, pos + $SpanTokensLong))))) AS cov
            |  FROM f GROUP BY doc_id
            |), cl AS (
            |  SELECT tk.doc_id,
            |    CASE WHEN fp.cov IS NULL THEN tk.toks
            |         ELSE list_filter(tk.toks, (x, i) -> NOT list_contains(fp.cov, i - 1))
            |    END AS kept
            |  FROM tk LEFT JOIN fp USING (doc_id)
            |)
            |-- array_to_string([]) is NULL in DuckDB but '' in Spark's
            |-- array_join — coalesce, or fully-removed docs hash NULL
            |SELECT doc_id, CAST(len(kept) AS BIGINT) AS n_kept_tokens,
            |       md5(coalesce(array_to_string(kept, ' '), '')) AS cleaned_md5
            |FROM cl ORDER BY doc_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // URL canonicalization + exact dedup — the FIRST dedup any
  // web-crawl corpus runs, before any text is even read: the same
  // page arrives under scheme/host case noise, default ports,
  // tracking parameters (utm_*, fbclid, gclid), fragments, duplicate
  // slashes, index.html suffixes, and shuffled query order. The
  // operator surface is [[canonicalUrl]] — a pure codegen'd
  // expression chain (regexp extract/replace + query-param
  // filter/sort), usable on any URL column; the registry row derives
  // a deterministic messy URL per document from harness columns
  // (three variant spellings of the same logical page; the documents
  // table carries no real crawl URL) and groups by the canonical
  // form — the standard exact-dedup report (group size, min-id
  // representative).
  //
  // Scale: canonicalization is per-row map work fused into the scan;
  // the dedup is a partial-aggregated count/min on the canonical key
  // plus a skew-splittable join-back — the cheapest member of the
  // dedup family, which is exactly why it runs first in a crawl
  // funnel. RFC 3986 §6 is the public normalization spec this follows
  // (case, default port, empty path, unreserved percent-decodes).
  // ------------------------------------------------------------------

  /** Canonical form of a URL column: lowercased scheme and host,
    * default port stripped (http:80 / https:443), fragment removed,
    * duplicate slashes collapsed, trailing `/` dropped and THEN a
    * trailing `/index.html` dropped (ordered so `/a/index.html/`,
    * `/a/index.html` and `/a/` all canonicalize to `/a`; the suffix
    * strip matches `(/index\.html)+` so STACKED spellings like
    * `/a/index.html/index.html` converge in one pass too — single
    * strips moved twice, breaking idempotence, ADVICE r15/r16),
    * empty path → `/`, tracking params removed and the remaining
    * query re-sorted byte-lexicographically, and percent-escapes of
    * the RFC 3986 §2.3 UNRESERVED set (ALPHA / DIGIT / - . _ ~)
    * decoded case-insensitively (§6.2.2.2 — `%7Ealice` and `~alice`
    * are the same resource; escapes of RESERVED characters stay
    * encoded, since decoding those would change the URL's structure).
    * Escape-case normalization of the remaining (reserved) escapes is
    * out of scope — it needs a compute-replacement pass, not a regex
    * chain, and the oracle mirrors the same contract.
    */

  /** Leading 2-hex value of a split piece `x` for the oracle's decode
    * replay, −1 when absent/invalid (mirrors the expression's
    * malformed-escape pass-through).
    */
  private val UrlHexValSql: String =
    "CASE WHEN length(x) >= 2 THEN coalesce(try_cast('0x' || substr(x, 1, 2) AS INT), -1) ELSE -1 END"

  def canonicalUrl(url: Column): Column = {
    // single-pass unreserved percent-decode — a native codegen
    // expression, not a 66-pattern regexp_replace chain (the chain
    // measured 6.9× on the registry row and its sequential semantics
    // cascade on crafted inputs; scale/semantics rationale in
    // [[graft.functions.UnreservedDecode]])
    val decoded = graft.functions.UnreservedDecode(url)
    val noFrag = regexp_replace(decoded, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val hostport = lower(regexp_extract(rest, "^([^/?#]*)", 1))
    val host = when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    val pathq = regexp_replace(rest, "^[^/?#]*", "")
    val path = regexp_replace(
      regexp_replace(
        regexp_replace(regexp_extract(pathq, "^([^?]*)", 1), "/{2,}", "/"),
        "/$", ""),
      "(/index\\.html)+$", "")
    val query = regexp_extract(pathq, "\\?(.*)$", 1)
    val kept = array_join(array_sort(filter(split(query, "&"),
      p => !(p.rlike("^(utm_[^=]*|fbclid|gclid)=") || p === lit("")))), "&")
    concat(scheme, lit("://"), host,
      when(path === "", lit("/")).otherwise(path),
      when(kept === "", lit("")).otherwise(concat(lit("?"), kept)))
  }

  val urlCanonical: Q = Q(
    (s, d) => {
      val k = (col("doc_id") % 40).cast("string")
      val url = when(col("doc_id") % 3 === 0,
        concat(lit("HTTP://"), col("source"), lit(".Example.COM:80/"), col("lang"),
          lit("//doc"), k, lit("/index.html?b=2&a=1&utm_campaign=x")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("http://"), upper(concat(col("source"), lit(".Example.COM"))),
            lit("/"), col("lang"), lit("/doc"), k, lit("?utm_source=feed&b=2&a=1")))
        .otherwise(
          concat(lit("http://"), lower(concat(col("source"), lit(".Example.COM"))),
            lit("/"), col("lang"), lit("/doc"), k, lit("/?a=1&b=2&fbclid=xyz#sec-"),
            col("doc_id").cast("string")))
      // group size + min-id representative as a partial aggregate +
      // join-back, NOT a window over canonical_url: the hottest
      // canonical key of a real crawl (a crawler trap, a link farm's
      // one landing page) is exactly the degenerate partition a
      // window would serialize into one task (VERDICT r16 window
      // family). count/min collapse map-side; the join-back build is
      // one row per URL and AQE skew-splits the probe.
      val canon = ParquetCatalog.read(s, s"$d/documents.parquet")
        .select(col("doc_id"), canonicalUrl(url).as("canonical_url"))
      val groups = canon.groupBy("canonical_url")
        .agg(count(lit(1)).as("group_size"), min(col("doc_id")).as("rep"))
      canon.join(groups, Seq("canonical_url"))
        .select(col("doc_id"), col("canonical_url"), col("group_size"),
          (col("doc_id") === col("rep")).as("is_representative"))
        .orderBy("doc_id")
    },
    Some(s"""WITH u AS (
            |  SELECT doc_id,
            |    CASE CAST(doc_id % 3 AS INTEGER)
            |      WHEN 0 THEN 'HTTP://' || source || '.Example.COM:80/' || lang || '//doc' || CAST(doc_id % 40 AS VARCHAR) || '/index.html?b=2&a=1&utm_campaign=x'
            |      WHEN 1 THEN 'http://' || upper(source || '.Example.COM') || '/' || lang || '/doc' || CAST(doc_id % 40 AS VARCHAR) || '?utm_source=feed&b=2&a=1'
            |      ELSE 'http://' || lower(source || '.Example.COM') || '/' || lang || '/doc' || CAST(doc_id % 40 AS VARCHAR) || '/?a=1&b=2&fbclid=xyz#sec-' || CAST(doc_id AS VARCHAR)
            |    END AS url
            |  FROM documents
            |), dec AS (
            |  -- single-pass unreserved percent-decode, replaying
            |  -- graft.functions.UnreservedDecode exactly: split on '%',
            |  -- decode each piece's leading 2-hex value iff unreserved,
            |  -- else keep the '%' literally; decoded output is never
            |  -- re-scanned (no regexp-chain cascades)
            |  SELECT doc_id, CASE WHEN strpos(url, '%') = 0 THEN url
            |    ELSE p[1] || array_to_string(list_transform(p[2:], x ->
            |      CASE WHEN ${Seq("BETWEEN 65 AND 90", "BETWEEN 97 AND 122",
                      "BETWEEN 48 AND 57", "IN (45, 46, 95, 126)")
                      .map(t => s"($UrlHexValSql $t)").mkString(" OR ")}
            |           THEN chr($UrlHexValSql) || substr(x, 3)
            |           ELSE '%' || x END), '')
            |    END AS url
            |  FROM (SELECT doc_id, url, string_split(url, '%') AS p FROM u)
            |), parts AS (
            |  SELECT doc_id, regexp_replace(url, '#.*$$', '') AS nofrag FROM dec
            |), split1 AS (
            |  SELECT doc_id,
            |    lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
            |    regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
            |  FROM parts
            |), split2 AS (
            |  SELECT doc_id, scheme,
            |    lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS hostport,
            |    regexp_replace(rest, '^[^/?#]*', '') AS pathq
            |  FROM split1
            |), norm AS (
            |  SELECT doc_id, scheme,
            |    CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$$', '')
            |         WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$$', '')
            |         ELSE hostport END AS host,
            |    regexp_replace(
            |      regexp_replace(
            |        regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/{2,}', '/', 'g'),
            |        '/$$', ''),
            |      '(/index\\.html)+$$', '') AS path,
            |    array_to_string(list_sort(list_filter(
            |      string_split(regexp_extract(pathq, '\\?(.*)$$', 1), '&'),
            |      p -> NOT (regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)=') OR p = ''))), '&') AS kept
            |  FROM split2
            |), c AS (
            |  SELECT doc_id,
            |    scheme || '://' || host ||
            |    CASE WHEN path = '' THEN '/' ELSE path END ||
            |    CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS canonical_url
            |  FROM norm
            |)
            |SELECT doc_id, canonical_url,
            |  count(*) OVER (PARTITION BY canonical_url) AS group_size,
            |  doc_id = min(doc_id) OVER (PARTITION BY canonical_url) AS is_representative
            |FROM c ORDER BY doc_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Bloom-filter exact-dedup PREFILTER — the incremental-ingest
  // membership shape at its cheapest: the standing corpus's content
  // hashes aggregate into ONE Bloom sketch (mergeable partial states,
  // tree-reduced; ~1 MiB here) that BROADCASTS to the batch. The
  // batch probes it row-locally — the corpus never shuffles, no join
  // state exists, and only flagged candidates would proceed to exact
  // verification. At 100 TB the corpus side of every naive
  // batch-vs-corpus join is the cost that matters; this replaces it
  // with a constant-size binary per executor.
  //
  // Verified the sketch-contract way (the agg_approx_distinct
  // pattern): DuckDB cannot replay Spark's Bloom bits, so the gate
  // hashes the EXACT facts (batch size, true-dup count) plus two
  // contract booleans the engine must earn — zero false negatives
  // (a Bloom guarantee: a miss is definitive) and a false-positive
  // rate within the sizing bound. An out-of-contract sketch fails
  // the hash compare.
  // ------------------------------------------------------------------
  val BloomExpectedItems = 100000L
  val BloomNumBits = 1L << 23 // 8 Mbit = 1 MiB → fpp ≪ 1% at 100k items
  val BloomFpBound = 0.01

  val bloomPrefilter: Q = Q(
    (s, d) => {
      val docs = ParquetCatalog.read(s, s"$d/documents.parquet")
      val corpus = docs.filter(col("doc_id") % 2 === 0).select(col("text"))
      val batch = docs.filter(col("doc_id") % 2 === 1).select(col("doc_id"), col("text"))
      val bf = corpus.agg(
        graft.functions.BloomFilterOps
          .bloomAgg(xxhash64(col("text")), BloomExpectedItems, BloomNumBits).as("bf"))
      val corpusTexts = corpus.distinct().withColumn("in_corpus", lit(true))
      batch
        // might_contain requires its filter side be a CONSTANT — the
        // sketch rides in as a scalar subquery (evaluated once,
        // inlined into every probe), not a join column
        .withColumn("flagged",
          graft.functions.BloomFilterOps.mightContain(
            org.apache.spark.sql.GraftColumnBridge.scalarSubquery(bf),
            xxhash64(col("text"))))
        .join(corpusTexts, Seq("text"), "left")
        .withColumn("is_dup", coalesce(col("in_corpus"), lit(false)))
        .agg(
          count(lit(1)).as("n_batch"),
          sum(col("is_dup").cast("long")).as("n_exact_dup"),
          sum(when(col("is_dup") && !col("flagged"), 1L).otherwise(0L)).as("fn_count"),
          sum(when(!col("is_dup") && col("flagged"), 1L).otherwise(0L)).as("fp_count"),
          sum((!col("is_dup")).cast("long")).as("n_nondup"))
        .select(
          col("n_batch"), col("n_exact_dup"),
          (col("fn_count") === 0L).as("all_dups_flagged"),
          (col("fp_count").cast(DoubleType)
            <= lit(BloomFpBound) * greatest(col("n_nondup"), lit(1L)).cast(DoubleType))
            .as("fp_rate_within_bound"))
    },
    Some("""WITH b AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
           |), c AS (
           |  SELECT DISTINCT text FROM documents WHERE doc_id % 2 = 0
           |), m AS (
           |  SELECT b.doc_id, (c.text IS NOT NULL) AS is_dup
           |  FROM b LEFT JOIN c ON b.text = c.text
           |)
           |SELECT count(*) AS n_batch,
           |       CAST(sum(CAST(is_dup AS BIGINT)) AS BIGINT) AS n_exact_dup,
           |       TRUE AS all_dups_flagged,
           |       TRUE AS fp_rate_within_bound
           |FROM m""".stripMargin)
  )

  // ------------------------------------------------------------------
  // SORTED-NEIGHBORHOOD record linkage (Hernández & Stolfo's SNM) —
  // the third candidate-generation family beside hashing (exact,
  // MinHash/SimHash bands) and vector blocking (embedding LSH):
  // sort the corpus by a normalized key and compare each record only
  // with its w−1 successors. Catches near-dups whose edits fall
  // INSIDE a hash block key (one char flip changes every shingle that
  // covers it, but barely moves the record in sort order); production
  // linkage runs several passes with different keys and unions the
  // candidates. Cost is O(n·w) comparisons after a global sort.
  //
  // Spark-first scale shape: the global sort is a range exchange
  // (Spark's own scalable ORDER BY), and the global row number comes
  // from [[graft.engine.Windows.globalRowNumber]]'s two-phase offset
  // method — NOT a single-partition window. Neighbor pairs then need
  // NO join at all for the overwhelming majority: `lead(·, g)` over
  // the kept range-partition id emits each in-partition (a, a+g)
  // pair directly, inheriting the sort the rank already established
  // (zero additional exchanges — PlanSpec pins it). Only pairs that
  // STRADDLE a partition boundary can't be seen by the window; both
  // endpoints of such a pair sit within w−1 rows of an edge, so the
  // ≤(w−1)·|partitions| edge rows (lead/lag-null flags, no counting
  // pass) go through a broadcast join filtered on rn distance —
  // constant-sized however big the corpus. The 32-char
  // normalized-prefix key keeps the levenshtein verify O(32²) per
  // pair; non-ASCII is stripped BEFORE lowercasing because Spark's
  // levenshtein counts codepoints while DuckDB's counts bytes — on
  // the ASCII projection the two agree exactly.
  // ------------------------------------------------------------------
  val SnmWindow = 4
  val SnmLevMax = 12

  /** Normalized sort key: ASCII-projected, lowercased, whitespace-
    * collapsed 32-char prefix.
    */
  def snmKey(text: Column): Column =
    substring(regexp_replace(lower(trim(regexp_replace(text, "[^ -~]", ""))),
      "\\s+", " "), 1, 32)

  /** SNM candidate pairs: (doc_a, ka, doc_b, kb, gap) for every pair
    * within `SnmWindow` positions of each other in (key, doc_id) sort
    * order. Shared by [[sortedNeighborhood]] (levenshtein verify) and
    * [[recordLinkage]] (Jaro–Winkler scoring).
    */
  def snmCandidates(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = ParquetCatalog.read(s, s"$d/documents.parquet")
      .select(col("doc_id"), snmKey(col("text")).as("k"))
    val ranked = graft.engine.Windows.globalRowNumber(
      keyed, Seq(col("k"), col("doc_id")), keepPid = true)
    val w = Window.partitionBy(col("__pid")).orderBy(col("k"), col("doc_id"))
    val nbs = array((1 until SnmWindow).map { g =>
      struct(lead(col("doc_id"), g).over(w).as("doc_b"),
        lead(col("k"), g).over(w).as("kb"), lit(g.toLong).as("gap"))
    }: _*)
    val enriched = ranked
      .withColumn("nb", nbs)
      .withColumn("__nearStart", lag(col("k"), SnmWindow - 1).over(w).isNull)
      .withColumn("__nearEnd",
        element_at(col("nb"), SnmWindow - 1).getField("kb").isNull)
    val main = enriched
      .select(col("doc_id").as("doc_a"), col("k").as("ka"),
        explode(col("nb")).as("b"))
      .filter(col("b.kb").isNotNull)
      .select(col("doc_a"), col("ka"), col("b.doc_b").as("doc_b"),
        col("b.kb").as("kb"), col("b.gap").as("gap"))
    val aEdge = enriched.filter(col("__nearEnd"))
      .select(col("doc_id").as("doc_a"), col("k").as("ka"),
        col("rn").as("rna"), col("__pid").as("pa"))
    val bEdge = enriched.filter(col("__nearStart"))
      .select(col("doc_id").as("doc_b"), col("k").as("kb"),
        col("rn").as("rnb"), col("__pid").as("pb"))
    val edge = aEdge.join(broadcast(bEdge),
        col("pb") =!= col("pa") && col("rnb") > col("rna") &&
          col("rnb") - col("rna") < SnmWindow)
      .select(col("doc_a"), col("ka"), col("doc_b"), col("kb"),
        (col("rnb") - col("rna")).as("gap"))
    main.unionByName(edge)
  }

  val sortedNeighborhood: Q = Q(
    (s, d) => {
      val lev = levenshtein(col("ka"), col("kb"))
      snmCandidates(s, d)
        .filter(lev <= SnmLevMax)
        .select(col("doc_a"), col("doc_b"), col("gap"), lev.cast("long").as("lev"))
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH k AS (
            |  SELECT doc_id,
            |    substr(regexp_replace(lower(trim(regexp_replace(text, '[^ -~]', '', 'g'))),
            |           '\\s+', ' ', 'g'), 1, 32) AS k
            |  FROM documents
            |), r AS (
            |  SELECT doc_id, k, row_number() OVER (ORDER BY k, doc_id) AS rn FROM k
            |)
            |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            |       b.rn - a.rn AS gap,
            |       CAST(levenshtein(a.k, b.k) AS BIGINT) AS lev
            |FROM r a JOIN r b ON b.rn > a.rn AND b.rn - a.rn < $SnmWindow
            |WHERE levenshtein(a.k, b.k) <= $SnmLevMax
            |ORDER BY doc_a, doc_b""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Record linkage scoring over the SNM candidates — the same sorted-
  // neighborhood generation, scored with the native [[graft.functions
  // .JaroWinkler]] expression instead of levenshtein: JW rewards
  // shared prefixes (exactly what sorted keys guarantee candidates
  // have), so it is the classic scorer for this blocking family
  // (census/MDM practice). Every candidate is emitted with its score
  // and a decision tier — the human-review queue shape, not just the
  // auto-match subset. Oracled against DuckDB's native
  // jaro_winkler_similarity: the expression's byte-level kernel is
  // bit-identical, so even the raw-double tier comparisons agree.
  // ------------------------------------------------------------------
  val recordLinkage: Q = Q(
    (s, d) => {
      val jw = graft.functions.JaroWinkler(col("ka"), col("kb"))
      snmCandidates(s, d)
        .withColumn("jw", jw)
        .select(col("doc_a"), col("doc_b"), col("gap"),
          roundPortable(col("jw"), 6).as("jw_sim"),
          when(col("jw") === 1.0, "exact")
            .when(col("jw") >= 0.92, "match")
            .when(col("jw") >= 0.8, "review")
            .otherwise("distinct").as("tier"))
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH k AS (
            |  SELECT doc_id,
            |    substr(regexp_replace(lower(trim(regexp_replace(text, '[^ -~]', '', 'g'))),
            |           '\\s+', ' ', 'g'), 1, 32) AS k
            |  FROM documents
            |), r AS (
            |  SELECT doc_id, k, row_number() OVER (ORDER BY k, doc_id) AS rn FROM k
            |), p AS (
            |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, b.rn - a.rn AS gap,
            |         jaro_winkler_similarity(a.k, b.k) AS jw
            |  FROM r a JOIN r b ON b.rn > a.rn AND b.rn - a.rn < $SnmWindow
            |)
            |SELECT doc_a, doc_b, gap,
            |  floor(jw * 1000000 + 0.5) / 1000000 AS jw_sim,
            |  CASE WHEN jw = 1.0 THEN 'exact' WHEN jw >= 0.92 THEN 'match'
            |       WHEN jw >= 0.8 THEN 'review' ELSE 'distinct' END AS tier
            |FROM p ORDER BY doc_a, doc_b""".stripMargin)
  )

  // ------------------------------------------------------------------
  // CROSS-SOURCE contamination matrix — the inter-crawl overlap audit
  // run before mixing corpora: for every ordered source pair (a, b),
  // the share of a's distinct 3-shingles that also occur in b
  // (asymmetric set containment — a small source fully swallowed by a
  // big one reads 1.0 in one direction and near-0 in the other, which
  // pairwise Jaccard hides). High containment means the "new" source
  // adds mostly re-crawled text: double-counted training mass and a
  // leakage channel between supposedly-independent mixture components.
  // The doc-level twin of `pipeline_decontaminate` (doc vs benchmark)
  // at source granularity.
  //
  // Scale: the corpus-sized work is the shingle pass (the shared
  // shinglePostsDf CPU shape); it collapses to DISTINCT (source,
  // shingle) — shingle-universe-bounded, already sublinear — and the
  // contamination join is an equi-join on shingle whose fan-out per
  // shingle is ≤ |sources| (a constant), never a doc-pair explosion.
  // The |S|²-row matrix derives with one broadcast of the |S|-row
  // size table. String shingles keep the oracle exact (the hashed
  // variant trades a collision epsilon for smaller shuffles at 100 TB,
  // same plan shape).
  // ------------------------------------------------------------------
  val crossSource: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val sps = graft.queries.Inventory.rebalanced(
        ParquetCatalog.read(s, s"$d/documents.parquet"), "doc_id")
        .select(col("doc_id"), col("source"),
          posexplode(graft.ext.TextAnalysis.tokens(col("text"))).as(Seq("pos", "t")))
        .withColumn("t1", lead("t", 1).over(w))
        .withColumn("t2", lead("t", 2).over(w))
        .filter(col("t2").isNotNull)
        .select(col("source"), concat_ws(" ", col("t"), col("t1"), col("t2")).as("sh"))
        .distinct()
      val sizes = sps.groupBy("source").agg(count(lit(1)).as("n_sh"))
      val inter = sps.select(col("source").as("source_a"), col("sh"))
        .join(sps.select(col("source").as("source_b"), col("sh")).hint("merge"), Seq("sh"))
        .filter(col("source_a") =!= col("source_b"))
        .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_shared"))
      sizes.select(col("source").as("source_a"), col("n_sh").as("n_shingles_a"))
        .crossJoin(broadcast(sizes.select(col("source").as("source_b"))))
        .filter(col("source_a") =!= col("source_b"))
        .join(inter, Seq("source_a", "source_b"), "left")
        .select(col("source_a"), col("source_b"), col("n_shingles_a"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          graft.engine.Functions.roundPortable(
            coalesce(col("n_shared"), lit(0L)).cast(org.apache.spark.sql.types.DoubleType)
              / col("n_shingles_a"), 6).as("containment"))
        .orderBy("source_a", "source_b")
    },
    Some("""WITH sh0 AS (
           |  SELECT source, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
           |           i -> array_to_string(toks[i:i+2], ' ')))) AS sh
           |  FROM (SELECT source, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents)
           |), s AS (
           |  SELECT DISTINCT source, sh FROM sh0
           |), sz AS (
           |  SELECT source, count(*) AS n_sh FROM s GROUP BY 1
           |), inter AS (
           |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
           |  FROM s a JOIN s b USING (sh)
           |  WHERE a.source <> b.source GROUP BY 1, 2
           |)
           |SELECT a.source AS source_a, b.source AS source_b,
           |  CAST(a.n_sh AS BIGINT) AS n_shingles_a,
           |  CAST(coalesce(i.n_shared, 0) AS BIGINT) AS n_shared,
           |  floor(CAST(coalesce(i.n_shared, 0) AS DOUBLE) / a.n_sh * 1000000 + 0.5) / 1000000 AS containment
           |FROM sz a CROSS JOIN sz b
           |LEFT JOIN inter i ON i.source_a = a.source AND i.source_b = b.source
           |WHERE a.source <> b.source
           |ORDER BY source_a, source_b""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Shingle MULTIPLICITY profile — "how much dedup is left": the
  // histogram of 3-shingle occurrence counts across the corpus,
  // bucketed 1..5 and 6+. A clean corpus concentrates mass at k = 1;
  // duplicated / boilerplate-heavy corpora shift occurrence mass into
  // the tail, and the k ≥ 2 occurrence share IS the upper bound on
  // what shingle-level dedup can still remove — the dashboard number
  // a curation team tracks across pipeline versions (the corpus-level
  // summary the pairwise dedup_* queries enumerate). Per-document
  // shingles dedupe first (the jaccard contract), so within-doc
  // repetition (text_repetition's signal) does not pollute the
  // cross-doc statistic.
  //
  // Determinism: pure integer counts; one 6dp share per row. Scale:
  // the shingle pass collapses to the shingle-universe-sized count
  // table, then to SIX rows — no joins at all.
  // ------------------------------------------------------------------
  val shingleProfile: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val posts = shinglePosts(s, d, hash60)
      val counts = posts.groupBy("hs").agg(count(lit(1)).as("c"))
        .select(least(col("c"), lit(6L)).as("k"), col("c"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_shingles"), sum(col("c")).as("n_occurrences"))
      val w = Window.partitionBy()
      counts
        .withColumn("total_occ", sum(col("n_occurrences")).over(w))
        .select(col("k"), col("n_shingles"), col("n_occurrences"),
          graft.engine.Functions.roundPortable(
            col("n_occurrences").cast(DoubleType) / col("total_occ").cast(DoubleType), 6)
            .as("occ_share"))
        .orderBy("k")
    },
    Some("""WITH sh0 AS (
           |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
           |           i -> array_to_string(toks[i:i+2], ' ')))) AS s
           |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents)
           |), sh AS (
           |  SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS hs FROM sh0
           |), c AS (
           |  SELECT hs, count(*) AS c FROM sh GROUP BY 1
           |), b AS (
           |  SELECT least(c, 6) AS k, count(*) AS n_shingles, CAST(sum(c) AS BIGINT) AS n_occurrences
           |  FROM c GROUP BY 1
           |)
           |SELECT CAST(k AS BIGINT) AS k, n_shingles, n_occurrences,
           |  floor(CAST(n_occurrences AS DOUBLE) / CAST(sum(n_occurrences) OVER () AS DOUBLE) * 1000000 + 0.5) / 1000000 AS occ_share
           |FROM b ORDER BY k""".stripMargin)
  )

  val queries: Seq[(String, Q)] = Seq(
    "dedup_cross_source" -> crossSource,
    "dedup_recall_eval" -> recallEval,
    "dedup_shingle_profile" -> shingleProfile,
    "dedup_exact" -> exact,
    "dedup_jaccard_pairs" -> jaccardPairs,
    "dedup_minhash_lsh" -> minhashLsh,
    "dedup_minhash_occupancy" -> minhashOccupancy,
    "dedup_simhash" -> simhashFingerprints,
    "dedup_embedding_pairs" -> embeddingPairs,
    "dedup_embedding_lsh" -> embeddingLsh,
    "dedup_lsh_occupancy" -> lshOccupancy,
    "dedup_containment" -> containment,
    "dedup_incremental" -> incremental,
    "dedup_ngram_novelty" -> ngramNovelty,
    "dedup_minhash_estimate" -> minhashEstimate,
    "dedup_substring_spans" -> substringSpans,
    "dedup_substring_spans50" -> substringSpansLong,
    "dedup_substring_clean" -> substringClean,
    "dedup_substring_cleaned" -> substringCleaned,
    "dedup_url_canonical" -> urlCanonical,
    "dedup_bloom_prefilter" -> bloomPrefilter,
    "dedup_sorted_neighborhood" -> sortedNeighborhood,
    "dedup_record_linkage" -> recordLinkage
  )
}
