package graft.tools

import scala.collection.immutable.TreeMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.engine.{Scratch, TableSink, Windows}
import graft.ext.{Clusters, Dedup, KMeans, Similarity}
import graft.obs

/** The dev measurement legs behind SCALING.md and BENCHNOTES, one main:
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.Legs <leg> <args…>"
  *
  * Each leg prices one operator decision on a (scaled) corpus or a
  * planted shape and prints one JSON line per configuration, all in one
  * schema: `leg`, `config`, `wall_s`, `task_metrics` (the
  * [[graft.obs.span]] snapshot, incl. `max_task_ms`, the straggler
  * signal), then the leg's own fields. The session follows
  * [[graft.obs.session]]; when the leg's first argument is a data
  * directory, its bytes size the shuffle partitions.
  *
  *  - `skew [hot] [cold]`: window vs aggregate forms on a planted
  *    degenerate key (default 10⁷ hot over 10⁷ cold rows).
  *  - `pairs <dir> [legs] [batchFrom]`: direct vs prefix pair
  *    generation over a materialized postings checkpoint; `legs` is a
  *    comma-set of probe,direct,prefix (default), delta_probe,
  *    delta_direct, delta_prefix (batch = doc_id >= batchFrom), plans,
  *    delta_plans.
  *  - `reband <dir> <B,L[:B,L…]>`: embedding-LSH candidates and
  *    planted-twin recall per banding (":" separates configs — sbt
  *    -batch treats ";" as a command break).
  *  - `semdedup <dir> [fixed|formula|both|planted|dag] [tagFilter]`:
  *    the SemDeDup k policy.
  *  - `funnel <dir>`: shared-scan embedding-LSH funnel vs standalone.
  *  - `components [chainN] [hubs] [hubDeg]`: label propagation vs
  *    star rewriting on a long chain and on hub-heavy stars.
  *  - `substring <dir>`: span-removal funnel vs standalone rows.
  *  - `writers <dir>`: partition-only write fan-out at 1/4/8 writers.
  */
object Legs {

  val names: Seq[String] =
    Seq("skew", "pairs", "reband", "semdedup", "funnel", "components", "substring", "writers")

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty && names.contains(args(0)),
      s"usage: Legs <${names.mkString("|")}> args…")
    val rest = args.toSeq.tail
    val dataDir = rest.headOption.filter(new java.io.File(_).isDirectory).getOrElse("")
    implicit val spark: SparkSession = obs.session(obs.cpus, dataDir)
    try run(args(0), rest) finally spark.stop()
  }

  /** Run one leg over a session the caller owns. */
  def run(leg: String, args: Seq[String])(implicit spark: SparkSession): Unit = leg match {
    case "skew" => skew(args)
    case "pairs" => pairs(args)
    case "reband" => reband(args)
    case "semdedup" => semdedup(args)
    case "funnel" => funnel(args)
    case "components" => components(args)
    case "substring" => substring(args)
    case "writers" => writers(args)
    case other => throw new IllegalArgumentException(s"unknown leg $other; one of ${names.mkString(", ")}")
  }

  private def emit(leg: String, config: String, s: obs.Span[_], fields: (String, Any)*): Unit =
    println(obs.json(Seq("leg" -> leg, "config" -> config, "wall_s" -> s.wallS,
      "task_metrics" -> TreeMap.from(s.metrics)) ++ fields: _*))

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Hot-key argmax/argmin and prefix-sum forms (VERDICT r16 asks
    * #1a/b onward). A window requires every row of a partition key in
    * ONE sorted task, so a degenerate key (the 10⁸-member boilerplate
    * cluster, the billion-occurrence license span) serializes into a
    * single straggler with no map-side combine; each arm times the
    * window form against the partial-aggregated / range-split form the
    * registry ships, on one planted hot key carrying `hot` rows over a
    * `cold`-row background. Expected: the window's max task grows with
    * `hot` regardless of cores; the aggregate's tracks rows / cores.
    * ExtSpec pins that the forms agree; this prices them.
    */
  def skew(args: Seq[String])(implicit spark: SparkSession): Unit = {
    val hot = args.lift(0).fold(10000000L)(_.toLong)
    val cold = args.lift(1).fold(10000000L)(_.toLong)
    // One arm: each form runs once on a 500+500-row sliver (codegen and
    // JIT out of the window; `warm` caps that where the forms share
    // their generated code), then each is timed on the planted shape.
    // The frame is built INSIDE the span: the two-phase Windows
    // primitives run their range-sampling job and shuffle map stage at
    // DataFrame CONSTRUCTION, so building before t0 would charge wall
    // and max_task over different windows (ADVICE r20).
    def arm[A](op: String, mk: (Long, Long) => A, warm: Int = Int.MaxValue)(
        forms: (String, A => DataFrame)*): Unit = {
      val sliver = mk(500L, 500L)
      forms.take(warm).foreach { case (_, f) => obs.span(s"skew $op/warm")(noop(f(sliver))) }
      val full = mk(hot, cold)
      forms.foreach { case (form, f) =>
        emit("skew", s"$op/$form", obs.span(s"skew $op/$form")(noop(f(full))), "hot" -> hot, "cold" -> cold)
      }
    }

    // ---- keep-best: one mega-cluster + `cold` singletons ------------
    def mkLabels(h: Long, c: Long): DataFrame =
      spark.range(h).select(col("id").as("doc_id"), lit(0L).as("cluster_id"))
        .unionAll(spark.range(h, h + c)
          .select(col("id").as("doc_id"), col("id").as("cluster_id")))
    def mkDocs(labels: DataFrame): DataFrame =
      labels.select(col("doc_id"), (col("doc_id") % 100000L).as("n_chars"))
    def keepBestWindow(labels: DataFrame, docs: DataFrame): DataFrame = {
      val w = Window.partitionBy("cluster_id").orderBy(col("n_chars").desc, col("doc_id"))
      val sized = labels.join(docs, Seq("doc_id"))
      val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      sized.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("kept_doc"), col("n_chars").as("kept_chars"))
        .join(sizes, Seq("cluster_id"))
    }
    arm("keep_best", mkLabels)(("window", l => keepBestWindow(l, mkDocs(l))),
      ("aggregate", l => Clusters.keepBest(l, mkDocs(l))))

    // ---- span keep-first: one mega-hash + `cold` unique hashes ------
    def mkWins(h: Long, c: Long): DataFrame =
      spark.range(h)
        .select((col("id") % 1000000L).as("doc_id"), col("id").as("pos"), lit(7L).as("hs"))
        .unionAll(spark.range(h, h + c)
          .select(col("id").as("doc_id"), lit(0L).as("pos"), col("id").as("hs")))
    def flaggedWindow(wins: DataFrame): DataFrame = {
      val byHash = Window.partitionBy("hs")
      wins.withColumn("keep", struct(col("doc_id"), col("pos")) ===
        min(struct(col("doc_id"), col("pos"))).over(byHash))
        .filter(!col("keep")).select("doc_id", "pos")
    }
    arm("span_keep_first", mkWins)(("window", flaggedWindow), ("aggregate", Dedup.spanFlagged))

    // ---- corpus-pipeline family (VERDICT r17 What's-wrong #1–2):
    // one mega-lang (`en` = the hot rows) over 50 cold langs, and one
    // mega content-hash over unique hashes — the keys CorpusPipeline /
    // Pipelines used to window over.
    def mkLangDocs(h: Long, c: Long): DataFrame =
      spark.range(h).select(col("id").as("doc_id"), lit("en").as("lang"),
        (col("id") % 1000L).cast("double").as("q"),
        (col("id") % 97L + 1L).as("n_tokens"))
        .unionAll(spark.range(h, h + c).select(col("id").as("doc_id"),
          concat(lit("l"), (col("id") % 50L).cast("string")).as("lang"),
          (col("id") % 1000L).cast("double").as("q"),
          (col("id") % 97L + 1L).as("n_tokens")))

    // lang cap — the pre-r18 pipeline_domain_cap shape (rank flag over
    // every row of the group) vs the bounded TopKPairs heap aggregate
    def capWindow(docs: DataFrame): DataFrame = {
      val w = Window.partitionBy("lang").orderBy(col("q").desc, col("doc_id"))
      docs.withColumn("kept", row_number().over(w) <= 50)
        .groupBy("lang").agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          min(when(col("kept"), col("q"))).as("min_kept_quality"))
    }
    def capAgg(docs: DataFrame): DataFrame =
      docs.groupBy("lang").agg(count(lit(1)).as("n_docs"),
        graft.functions.TopKPairs.topk(col("q"), col("doc_id"), 50).as("tk"))
        .select(col("lang"), col("n_docs"),
          size(col("tk")).cast("long").as("n_kept"),
          when(size(col("tk")) > 0,
            element_at(col("tk"), size(col("tk"))).getField("score")).as("min_kept_quality"))
    arm("lang_cap", mkLangDocs)(("window", capWindow), ("aggregate", capAgg))

    // lang prefix sum — the pre-r18 corpus_packed / pack_sequences
    // shape vs Windows.groupedPrefixSum's two-level offset algebra
    def packWindow(docs: DataFrame): DataFrame = {
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.withColumn("cum", sum(col("n_tokens")).over(w))
    }
    def packAgg(docs: DataFrame): DataFrame =
      Windows.groupedPrefixSum(docs, Seq("lang"), Seq(col("doc_id")), col("n_tokens"), "cum")
    arm("lang_prefix_sum", mkLangDocs)(("window", packWindow), ("aggregate", packAgg))

    // content-hash keep-first — the pre-r18 cleanBody shape (rn = 1
    // over text_hash) vs the one-shot partial-aggregated min_by
    def mkHashDocs(h: Long, c: Long): DataFrame =
      spark.range(h).select(col("id").as("doc_id"), lit("boilerplate").as("text_hash"),
        (col("id") % 1000L).as("payload"))
        .unionAll(spark.range(h, h + c).select(col("id").as("doc_id"),
          concat(lit("h"), col("id").cast("string")).as("text_hash"),
          (col("id") % 1000L).as("payload")))
    def keepFirstWindow(docs: DataFrame): DataFrame = {
      val w = Window.partitionBy("text_hash").orderBy("doc_id")
      docs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("text_hash", "doc_id", "payload")
    }
    def keepFirstAgg(docs: DataFrame): DataFrame =
      docs.groupBy("text_hash")
        .agg(min_by(struct(col("doc_id"), col("payload")), col("doc_id")).as("w"))
        .select(col("text_hash"), col("w.doc_id").as("doc_id"), col("w.payload").as("payload"))
    arm("hash_keep_first", mkHashDocs)(("window", keepFirstWindow), ("aggregate", keepFirstAgg))

    // lang ntile — the pre-r19 pipeline_curriculum shape: ntile flags
    // EVERY row of its partition (no WindowGroupLimit rescue), so the
    // window form sorts the whole mega-lang in one task; the grouped
    // closed-form ntile range-splits it
    def ntileWindow(docs: DataFrame): DataFrame =
      docs.withColumn("phase", ntile(4).over(
        Window.partitionBy("lang").orderBy(col("q").desc, col("doc_id"))))
    def ntileAgg(docs: DataFrame): DataFrame =
      Windows.groupedNtile(docs, Seq("lang"), Seq(col("q").desc, col("doc_id")), 4, "phase")
    arm("lang_ntile", mkLangDocs)(("window", ntileWindow), ("aggregate", ntileAgg))

    // bin waterline — the pre-r19 budgetWaterline shape: a planted
    // mega-bin (the boundary bin of a quality distribution with a
    // heavy mode) serializes its within-bin prefix sum into one sorted
    // task under the window form; groupedPrefixSum range-splits it.
    // Both forms share the tiny per-bin rollup + unpartitioned
    // ≤|bins|-row window, so the delta prices ONLY the within-bin sum.
    def mkBinDocs(h: Long, c: Long): DataFrame =
      spark.range(h).select(col("id").as("doc_id"), lit(500L).as("qbin"),
        (col("id") % 97L + 1L).as("n_tokens"))
        .unionAll(spark.range(h, h + c).select(col("id").as("doc_id"),
          (col("id") % 1000L).as("qbin"), (col("id") % 97L + 1L).as("n_tokens")))
    def waterlineWindow(base: DataFrame): DataFrame = {
      val bins = base.groupBy("qbin").agg(sum("n_tokens").as("bin_tokens"))
        .withColumn("better_tokens",
          coalesce(sum(col("bin_tokens")).over(
            Window.orderBy(col("qbin").desc).rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
        .select("qbin", "better_tokens")
      val wDoc = Window.partitionBy("qbin").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      base.join(bins, "qbin")
        .withColumn("prior_tokens",
          col("better_tokens") + coalesce(sum(col("n_tokens")).over(wDoc), lit(0L)))
        .withColumn("selected", col("prior_tokens") + col("n_tokens") <= 1000000L)
    }
    def waterlineAgg(base: DataFrame): DataFrame =
      graft.ext.Pipelines.budgetWaterline(base, 1000000L)
    arm("bin_waterline", mkBinDocs)(("window", waterlineWindow), ("aggregate", waterlineAgg))

    // day sweep-line — the pre-r19 events_concurrency shape: the
    // intra-day running sum of boundary deltas partitioned BY DAY
    // bounds the task COUNT by the calendar but not the task SIZE (a
    // hot day's distinct timestamps all land in one sorted task);
    // groupedPrefixSum range-splits the hot day. Planted: one mega-day
    // holding `hot` distinct-microsecond deltas over `cold` deltas
    // spread across ~1000 cold days.
    def mkDayTrans(h: Long, c: Long): DataFrame =
      spark.range(h).select((lit(86400000000L) + col("id")).as("us"),
        when(col("id") % 3 === 0, -1L).otherwise(1L).as("delta"))
        .unionAll(spark.range(c).select(
          ((col("id") % 1000L + 2L) * 86400000000L + col("id")).as("us"),
          when(col("id") % 2 === 0, -1L).otherwise(1L).as("delta")))
        .withColumn("day", to_date(timestamp_micros(col("us"))))
    def sweepWindow(trans: DataFrame): DataFrame =
      trans.withColumn("run", sum(col("delta")).over(
        Window.partitionBy("day").orderBy("us")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("day").agg(max("run").as("max_run"), sum("delta").as("net"))
    def sweepAgg(trans: DataFrame): DataFrame =
      Windows.groupedPrefixSum(trans, Seq("day"), Seq(col("us")), col("delta"), "run")
        .groupBy("day").agg(max("run").as("max_run"), sum("delta").as("net"))
    arm("day_sweepline", mkDayTrans)(("window", sweepWindow), ("aggregate", sweepAgg))

    // cap KEEP-SET selection (VERDICT r18 ask #7): topKPerGroup's
    // contract returns (rank, score, id) pairs and callers join back
    // to keep full rows (the corpus_capped shape). Three forms on the
    // planted mega-lang: the rn≤k FILTER window (WindowGroupLimit-
    // rescued, so the strongest fair baseline), the heap + join-back,
    // and the heap alone (isolating what the join-back costs).
    def keepWindow(docs: DataFrame): DataFrame = {
      val w = Window.partitionBy("lang").orderBy(col("q").desc, col("doc_id"))
      docs.withColumn("rn", row_number().over(w)).filter(col("rn") <= 50)
        .select("doc_id", "lang", "q", "n_tokens")
    }
    def keepHeapOnly(docs: DataFrame): DataFrame =
      Windows.topKPerGroup(docs, Seq("lang"), col("q"), col("doc_id"), 50, idCol = "doc_id")
    def keepJoinBack(docs: DataFrame): DataFrame =
      docs.join(keepHeapOnly(docs).select("doc_id"), Seq("doc_id"), "left_semi")
        .select("doc_id", "lang", "q", "n_tokens")
    arm("cap_keepset", mkLangDocs)(("window_grouplimit", keepWindow),
      ("heap_only", keepHeapOnly), ("heap_join_back", keepJoinBack))

    // ---- explicit broadcast hint vs AQE on a SCALED build side: the
    // build side is `hot` rows, a "dimension" that grew with the
    // corpus. The hinted form is OBEYED at any size: the whole build
    // side funnels through the DRIVER (collect + hash-relation build,
    // outside any task, so max_task cannot see it) and dies at the
    // 8 GB broadcast cap. Unhinted, AQE sizes the real relation and
    // shuffles both sides. Join hints never change values — this arm
    // prices the plans.
    // (fact of `cold` rows over `hot` keys, build of `hot` rows)
    def mkJoin(h: Long, c: Long): (DataFrame, DataFrame) =
      (spark.range(c).select((col("id") % h).as("k"), col("id").as("x")),
        spark.range(h).select(col("id").as("k"), (col("id") * 7L).as("v")))
    def bcJoin(hint: Boolean)(fb: (DataFrame, DataFrame)): DataFrame =
      fb._1.join(if (hint) broadcast(fb._2) else fb._2, Seq("k"))
        .select(col("k"), (col("v") + col("x")).as("y"))
    arm("bcast_hint", mkJoin)(("hinted_broadcast", bcJoin(hint = true)),
      ("aqe_unhinted", bcJoin(hint = false)))

    // ---- the split factor is cluster-sized (VERDICT r19 #2): max task
    // vs `partitions` on the planted mega-lang. The two-phase
    // primitives bound the straggler at ~|hot|/partitions rows per
    // sorted task, so max_task should fall as partitions rise —
    // certifying that a session raising spark.sql.shuffle.partitions
    // buys straggler relief with no code change.
    arm("split_scaling", mkLangDocs, warm = 1)(Seq(8, 32, 128, 512).map(parts =>
      (s"partitions_$parts", (d: DataFrame) =>
        Windows.groupedPrefixSum(d, Seq("lang"), Seq(col("doc_id")), col("n_tokens"), "cum", parts))): _*)
  }

  /** Direct-vs-prefix pair generation (VERDICT r20 asks #1/#2):
    * [[Dedup.pairsFromPosts]] against [[Dedup.pairsFromPostsPrefix]]
    * over a MATERIALIZED postings checkpoint (the production DAG shape
    * — `corpus_postings` / `dedup_postings`), plus the df-skew probe
    * ([[Dedup.postingSkewProbe]]) whose fan-out reading
    * `Dedup.pairsFromPostsAuto` gates on. The numbers set — and
    * re-justify — `Dedup.DirectPairFanoutMax` (SCALING.md
    * "direct-vs-prefix policy"). The delta legs (VERDICT r21 #3) run
    * the incremental pair stage over the same checkpoint: delta_direct
    * is the broadcast-probe join shipped before r22, delta_prefix the
    * batch-restricted prefix route, delta_probe the Σ(df_all·df_batch)
    * fan-out that gate reads.
    */
  def pairs(args: Seq[String])(implicit spark: SparkSession): Unit = {
    val dir = args(0)
    val legs = args.lift(1).fold(Set("probe", "direct", "prefix"))(_.split(",").toSet)
    val batchFrom = args.lift(2).fold(Long.MinValue)(_.toLong)
    // the postings checkpoint is built once — the DAG's corpus_postings
    // write — and is NOT part of the compared legs
    val scratch = java.nio.file.Files.createTempDirectory("graft-pairs")
    try {
      val b = obs.span("pairs postings_build") {
        Dedup.shinglePostsDf(spark.read.parquet(s"$dir/documents.parquet"))
          .write.mode("overwrite").parquet(s"$scratch/posts")
      }
      emit("pairs", "postings_build", b, "dir" -> dir,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt)
      val posts = spark.read.parquet(s"$scratch/posts")
      def pick(sq: Double, n: Long) = if (sq <= Dedup.DirectPairFanoutMax * n) "direct" else "prefix"
      if (legs("probe")) {
        val p = obs.span("pairs probe")(Dedup.postingSkewProbe(posts))
        val (sq, n) = p.value
        emit("pairs", "probe", p, "sum_df_sq" -> sq, "posts" -> n,
          "fanout" -> (if (n > 0) sq / n else 0.0), "budget" -> Dedup.DirectPairFanoutMax,
          "pick" -> pick(sq, n), "dir" -> dir)
      }
      def timed(tag: String)(df: => DataFrame): Unit =
        if (legs(tag)) emit("pairs", tag, obs.span(s"pairs $tag")(noop(df)), "dir" -> dir)
      timed("direct")(Dedup.pairsFromPosts(posts))
      timed("prefix")(Dedup.pairsFromPostsPrefix(posts))
      if (legs("delta_probe")) {
        val p = obs.span("pairs delta_probe")(Dedup.deltaSkewProbe(posts, batchFrom))
        val (sq, n) = p.value
        emit("pairs", "delta_probe", p, "sum_dfa_dfb" -> sq, "all_posts" -> n,
          "fanout_per_corpus_row" -> (if (n > 0) sq / n else 0.0),
          "budget" -> Dedup.DirectPairFanoutMax, "pick" -> pick(sq, n),
          "batch_from" -> batchFrom, "dir" -> dir)
      }
      val batchProbe = Some(posts.filter(col("doc_id") >= batchFrom))
      timed("delta_direct")(Dedup.pairsFromPosts(posts, probe = batchProbe))
      timed("delta_prefix")(Dedup.pairsFromPostsPrefixDelta(posts, batchFrom))
      // .explain("formatted") artifacts — the pair stage's plan over the
      // postings checkpoint
      def plan(title: String, df: DataFrame): Unit = {
        println(s"==== PLAN $title ====")
        println(df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
      }
      if (legs("plans")) {
        plan("direct (pairsFromPosts)", Dedup.pairsFromPosts(posts))
        plan("prefix (pairsFromPostsPrefix)", Dedup.pairsFromPostsPrefix(posts))
      }
      if (legs("delta_plans")) {
        plan("delta direct (pairsFromPosts probe)", Dedup.pairsFromPosts(posts, probe = batchProbe))
        plan("delta prefix (pairsFromPostsPrefixDelta)", Dedup.pairsFromPostsPrefixDelta(posts, batchFrom))
      }
    } finally Scratch.deleteTree(scratch)
  }

  /** Planted twins sit at vec_id + TwinOffset; replicas of the scale
    * corpus are offset by r·1e6 (tools/scale_corpus.py), so a twin
    * inherits its source's block.
    */
  private val TwinOffset = 500000000L
  private def blockOf(c: Column) = ((c % TwinOffset) / 1000000L).cast("long")

  /** Plant near-dup twins into an embeddings corpus: every 40th vector
    * gets a twin x_i + 0.12·u_i with u_i = hash(vec_id, i)-derived
    * uniform in [-0.5, 0.5) — E|eps| ~0.17 against |x| ~0.96, so
    * planted cosines land ~0.93-0.99, above τ=0.85 but perturbed
    * enough that blocking has to earn its recall. Returns (corpus ∪
    * twins, repartitioned by id and cached; the twins alone).
    */
  private def planted(e: DataFrame): (DataFrame, DataFrame) = {
    val twins = e.filter(col("vec_id") % 40 === 0)
      .select((col("vec_id") + TwinOffset).as("vec_id"),
        transform(col("embedding"),
          (x, i) => (x + (pmod(hash(col("vec_id"), i), lit(1000)).cast(DoubleType) / 1000.0 - 0.5)
            * 0.12).cast("float")).as("embedding"))
    val all = e.select("vec_id", "embedding").unionByName(twins)
      .repartition(col("vec_id")).cache()
    (all, twins)
  }

  /** The embedding-LSH RE-BANDING POLICY (VERDICT r13 ask #1): BENCHNOTES
    * r12 fixed the contract row at B=4/L=16 and prescribed
    * B = ⌈log₂(n / 125)⌉ with L raised to hold recall as the corpus
    * grows. Measures (1) the B=4 CONTRACT candidate count at the
    * harness τ=0.4 — the quantity whose growth the MaxBucket guard
    * clips — and (2) RECALL of planted twins at the near-dup regime
    * (τ=0.85) for each (B, L) through the production
    * [[Dedup.embeddingLshPairs]] path. Truth is the EXACT within-block
    * pair set: the scale corpus decorrelates across replicas by
    * construction (cross-replica cosine ≈ 0.1), and `recalled_cross`
    * counts any published cross-block pair, so a violated assumption
    * is visible, not silent.
    */
  def reband(args: Seq[String])(implicit spark: SparkSession): Unit = {
    val dir = args(0)
    val configs: Seq[(Int, Int)] = args(1).split("[;:]").toSeq
      .map { s => val Array(b, l) = s.split(","); (b.toInt, l.toInt) }
    val raw = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = raw.count()
    val c = obs.span("reband contract")(candidateCount(raw, Dedup.embPlanes))
    emit("reband", "contract_B4_L16_tau0.4", c, "rows" -> n, "candidates" -> c.value,
      "cand_per_row" -> c.value.toDouble / n, "dir" -> dir)

    val (all, _) = planted(raw)
    // ids-only block join first, vectors attached afterwards by
    // BROADCAST hash joins (the whole corpus of vectors is ~52 MB at
    // 100× — broadcastable; forced, since the 10 MB default threshold
    // would decline): a merge join carrying the embedding arrays
    // sorts ~550 B rows for every candidate pair — measured >76 GB of
    // spill at 100× (210M within-block pairs), which filled the disk.
    val ids = all.select(col("vec_id"), blockOf(col("vec_id")).as("blk"))
    val cand = ids.select(col("blk"), col("vec_id").as("id_a"))
      .join(ids.select(col("blk"), col("vec_id").as("id_b")).hint("merge"), Seq("blk"))
      .filter(col("id_a") < col("id_b"))
    val va = all.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val vb = all.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val cosR = graft.engine.Functions.roundPortable(Similarity.cosine(col("va"), col("vb")), 6)
    val truth = cand
      .join(broadcast(va), Seq("id_a"))
      .join(broadcast(vb), Seq("id_b"))
      .select(col("id_a"), col("id_b"), cosR.as("cos_sim"))
      .filter(col("cos_sim") >= 0.85)
      .select("id_a", "id_b").cache()
    val t = obs.span("reband truth")((all.count(), truth.count()))
    val (nAll, nTruth) = t.value
    emit("reband", "planted_truth", t, "planted_corpus_rows" -> nAll, "n_truth" -> nTruth)

    configs.foreach { case (b, l) =>
      val planes = Similarity.gaussianPlanes(l, b, Similarity.Dim, 43)
      val s = obs.span(s"reband B${b}_L$l") {
        val lsh = Dedup.embeddingLshPairs(all, 0.85, planes).select("id_a", "id_b").cache()
        (lsh, lsh.count())
      }
      val (lsh, nRecalled) = s.value
      val nHit = truth.join(lsh, Seq("id_a", "id_b"), "left_semi").count()
      val nCross = lsh.filter(blockOf(col("id_a")) =!= blockOf(col("id_b"))).count()
      val cands = candidateCount(all, planes)
      emit("reband", s"B${b}_L${l}_tau0.85", s, "rows" -> nAll, "candidates" -> cands,
        "cand_per_row" -> cands.toDouble / nAll, "n_truth" -> nTruth,
        "n_recalled" -> nRecalled, "n_hit" -> nHit,
        "recall" -> nHit.toDouble / math.max(1L, nTruth), "recalled_cross" -> nCross)
      lsh.unpersist()
    }
    truth.unpersist()
    all.unpersist()
  }

  /** Candidate-pair count of the banded path BEFORE exact verify —
    * the same block/guard/join algebra as [[Dedup.embeddingLshPairs]]
    * (MaxBucket=1000), counted instead of scored.
    */
  private def candidateCount(e: DataFrame, planes: Array[Array[Array[Double]]]): Long = {
    val keys = Similarity.bucketKeys(e, "vec_id", "embedding", planes)
      .withColumn("bucket_n", count(lit(1)).over(Window.partitionBy("table", "bucket")))
      .filter(col("bucket_n") <= Dedup.EmbMaxBucket)
    keys.select(col("table"), col("bucket"), col("vec_id").as("id_a"))
      .join(keys.select(col("table"), col("bucket"), col("vec_id").as("id_b")).hint("merge"),
        Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .count()
  }

  /** The SemDeDup k POLICY (VERDICT r14 ask #1): the registry's
    * `dedup_semdedup` holds k = 5 by oracle contract, which makes
    * within-cluster pair mass Σ|c|² ≈ n²/k (65.6× wall for 100× rows);
    * the production knob is k ∝ n, [[KMeans.semdedupParams]]. Modes:
    *  - fixed / formula / both: pair count and wall through the shared
    *    [[KMeans.semdedupPairs]] body at k = 5 and at the formula k; the
    *    formula line carries `recall_vs_fixed` (pair mass kept) when
    *    both ran. Output identity at 1× is pinned by ExtSpec.
    *  - planted: recall of planted twins (the [[planted]] recipe) per
    *    assignment variant — the metric the policy must hold, since
    *    finer clusters legitimately split low-similarity pairs. The
    *    optional third arg filters the variant tags by substring.
    *  - dag: the SemanticDedupFunnel model (assignment materialized
    *    once, every consumer reads parquet) vs the standalone rows that
    *    each rebuild it; end to end, writes included.
    */
  def semdedup(args: Seq[String])(implicit spark: SparkSession): Unit = {
    val dir = args(0)
    val mode = args.lift(1).getOrElse("both")
    val emb = graft.queries.Inventory.rebalanced(
      spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id")
    val n = emb.count()
    val kFormula = KMeans.semdedupParams(n)

    if (mode == "fixed" || mode == "formula" || mode == "both") {
      def run(tag: String, k: Int): obs.Span[Long] =
        obs.span(s"semdedup $tag")(KMeans.semdedupPairs(KMeans.assignK(emb, k)).count())
      val fixed = if (mode != "formula") Some(run("semdedup_fixed_k5", KMeans.K)) else None
      fixed.foreach(s => emit("semdedup", "semdedup_fixed_k5", s,
        "rows" -> n, "k" -> KMeans.K, "pairs" -> s.value, "dir" -> dir))
      if (mode != "fixed") {
        val s = run("semdedup_formula_k", kFormula)
        val recall = fixed.filter(_.value > 0).map(f => "recall_vs_fixed" -> s.value.toDouble / f.value)
        emit("semdedup", "semdedup_formula_k", s,
          Seq("rows" -> n, "k" -> kFormula, "pairs" -> s.value, "dir" -> dir) ++ recall: _*)
      }
    }

    if (mode == "planted") {
      val (all, twins) = planted(emb)
      val nAll = all.count()
      val nPlanted = twins.count()
      val kForm = KMeans.semdedupParams(nAll)
      val tagFilter = args.lift(2).getOrElse("")
      Seq[(String, Int, Int => DataFrame)](
          ("planted_fixed_k5", KMeans.K, k => KMeans.semdedupPairs(KMeans.assignK(all, k))),
          ("planted_formula_k", kForm, k => KMeans.semdedupPairs(KMeans.assignK(all, k))),
          ("planted_formula_k_2t", kForm, k => KMeans.semdedupPairsMulti(all, k, tables = 2)),
          ("planted_formula_k_2l", kForm, k => KMeans.semdedupPairs(KMeans.assignKTwoLevel(all, k))),
          ("planted_formula_k_mp2", kForm, k => KMeans.semdedupPairsProbe(all, k, probes = 2)),
          ("planted_formula_k_2lmp2", kForm, k => KMeans.semdedupPairsProbeTwoLevel(all, k, probes = 2)))
        .filter(_._1.contains(tagFilter)).foreach { case (tag, k, pairsOf) =>
        val s = obs.span(s"semdedup $tag") {
          val pairs = pairsOf(k).select(col("id_a"), col("id_b")).cache()
          (pairs, pairs.count())
        }
        val (pairs, nPairs) = s.value
        val hits = pairs.filter(col("id_b") === col("id_a") + TwinOffset).count()
        emit("semdedup", tag, s, "rows" -> nAll, "k" -> k, "pairs" -> nPairs,
          "n_planted" -> nPlanted, "n_hit" -> hits, "recall" -> hits.toDouble / nPlanted,
          "dir" -> dir)
        pairs.unpersist()
      }
      all.unpersist()
    }

    if (mode == "dag") {
      def timed(tag: String)(body: => Unit): Unit =
        emit("semdedup", tag, obs.span(s"semdedup $tag")(body), "rows" -> n, "k" -> kFormula, "dir" -> dir)
      timed("standalone_gauge") {
        noop(KMeans.clusterOccupancy(KMeans.assignKAuto(emb, kFormula)))
      }
      timed("standalone_pairs") {
        noop(KMeans.semdedupPairs(KMeans.assignKAuto(emb, kFormula)))
      }
      timed("standalone_keep") {
        val ids = emb.select(col("vec_id").as("doc_id"))
        val pairs = KMeans.semdedupPairs(KMeans.assignKAuto(emb, kFormula))
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
        val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "n_chars")
        noop(Clusters.keepBest(Clusters.connectedComponents(ids, pairs), docs))
      }
      val wh = java.nio.file.Files.createTempDirectory("graft-semdag")
      try timed("dag_all") {
        val r = graft.models.SemanticDedupFunnel.run(spark, dir, new TableSink.Parquet(wh.toString))
        require(r.allTestsPassed && r.skipped.isEmpty)
      } finally Scratch.deleteTree(wh)
    }
  }

  /** The shared-scan embedding-LSH funnel (VERDICT r15 ask #2): the
    * standalone `dedup_lsh_occupancy` gauge re-pays the full L·B
    * hyperplane grid the pair pipeline also pays (27.6 s of recompute
    * at 30×, 93.6 s at 100×); [[Dedup.embeddingLshFunnel]] derives
    * gauge AND pairs from ONE persisted bucket-keys pass. Runs at the
    * re-banding policy planes for τ=0.85 — the configuration a
    * production funnel gates at; the harness-contract τ=0.4 needs
    * L≈220 tables, a bucket projection that OOMs janino's codegen.
    * funnel_pairs reads the cache funnel_gauge populated, so its delta
    * vs standalone_pairs is the funnel's saving; `funnel_total_s` −
    * standalone_pairs is the gauge's marginal cost.
    */
  def funnel(args: Seq[String])(implicit spark: SparkSession): Unit = {
    val dir = args(0)
    val e = graft.queries.Inventory.rebalanced(
      spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id")
    val n = e.count()
    val tau = 0.85
    val planes = Dedup.rebandedPlanes(n, tau)
    val (b, l) = Dedup.rebandedParams(n, tau)
    def timed(tag: String)(body: => Long): obs.Span[Long] = {
      val s = obs.span(s"funnel $tag")(body)
      emit("funnel", tag, s, "rows" -> n, "bits" -> b, "tables" -> l, "out_rows" -> s.value, "dir" -> dir)
      s
    }
    timed("standalone_gauge")(Dedup.lshOccupancyOf(e, planes).count())
    timed("standalone_pairs")(Dedup.embeddingLshPairs(e, tau, planes).count())
    val f = Dedup.embeddingLshFunnel(e, tau, planes)
    try {
      val g = timed("funnel_gauge")(f.occupancy.count())
      val p = obs.span("funnel funnel_pairs")(f.pairs.count())
      emit("funnel", "funnel_pairs", p, "rows" -> n, "bits" -> b, "tables" -> l,
        "out_rows" -> p.value, "dir" -> dir, "funnel_total_s" -> (g.wallS + p.wallS))
    } finally f.unpersist()
  }

  /** Label propagation (+ gated pointer jumping) vs the alternating
    * large-star/small-star variant on the two adversarial shapes: one
    * LONG CHAIN (diameter = n; propagation's worst case) and many
    * medium STARS (star rewriting's constant-factor worst case).
    * ExtSpec pins value identity; this prices the trade.
    */
  def components(args: Seq[String])(implicit spark: SparkSession): Unit = {
    val chainN = args.lift(0).fold(1000000L)(_.toLong)
    val hubs = args.lift(1).fold(1000L)(_.toLong)
    val hubDeg = args.lift(2).fold(1000L)(_.toLong)
    def timed(graph: String, algo: String, verts: DataFrame, pairs: DataFrame, maxIter: Int): Unit = {
      val s = obs.span(s"components $graph/$algo") {
        val labels =
          if (algo == "star") Clusters.connectedComponentsStar(verts, pairs, maxIter)
          else Clusters.connectedComponents(verts, pairs, maxIter)
        labels.select("cluster_id").distinct().count()
      }
      if (graph != "warm") emit("components", s"$graph/$algo", s, "components" -> s.value)
    }
    val chainVerts = spark.range(chainN).select(col("id").as("doc_id"))
    val chainPairs = spark.range(chainN - 1)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    timed("warm", "prop", chainVerts.limit(100), chainPairs.limit(99), 200)
    timed("warm", "star", chainVerts.limit(100), chainPairs.limit(99), 40)
    timed("chain", "prop", chainVerts, chainPairs, 200)
    timed("chain", "star", chainVerts, chainPairs, 40)
    // `hubs` disjoint stars of degree `hubDeg`
    val hubVerts = spark.range(hubs * (hubDeg + 1)).select(col("id").as("doc_id"))
    val hub = floor(col("id") / hubDeg).cast("long") // `/` on longs is double division
    val hubPairs = spark.range(hubs * hubDeg).select(
      (hub * (hubDeg + 1)).as("doc_a"),
      (hub * (hubDeg + 1) + (col("id") % hubDeg) + 1).as("doc_b"))
    timed("hubs", "prop", hubVerts, hubPairs, 200)
    timed("hubs", "star", hubVerts, hubPairs, 40)
  }

  /** The span-removal funnel (VERDICT r16 ask #3): a production run
    * wants the per-doc removal counts AND the cleaned corpus.
    * Standalone, each row pays the window/hash pass twice; the funnel
    * persists the raw window relation for one flag pass, keeps only
    * the sparse flagged rows cached and derives both outputs from them.
    * funnel_cleaned reads that cache, so its delta vs
    * standalone_cleaned is the funnel's saving.
    */
  def substring(args: Seq[String])(implicit spark: SparkSession): Unit = {
    val dir = args(0)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // codegen warmup on a sliver of the same corpus
    val warm = docs.limit(1000)
    noop(Dedup.substringCleanDf(warm))
    noop(Dedup.substringCleanedDf(warm))
    def timed(tag: String)(body: => Unit) = obs.span(s"substring $tag")(body)
    emit("substring", "standalone_counts", timed("standalone_counts")(noop(Dedup.substringCleanDf(docs))), "dir" -> dir)
    emit("substring", "standalone_cleaned", timed("standalone_cleaned")(noop(Dedup.substringCleanedDf(docs))), "dir" -> dir)
    // the eager flag pass inside substringFunnel is funnel cost — it
    // must sit inside the first timed leg, not before it
    var f: Dedup.SubstringFunnel = null
    try {
      val c = timed("funnel_counts") { f = Dedup.substringFunnel(docs); noop(f.counts) }
      emit("substring", "funnel_counts", c, "dir" -> dir)
      val l = timed("funnel_cleaned")(noop(f.cleaned))
      emit("substring", "funnel_cleaned", l, "dir" -> dir, "funnel_total_s" -> (c.wallS + l.wallS))
    } finally if (f != null) f.unpersist()
  }

  /** Partition-only write fan-out (VERDICT r15 ask #6): a
    * partition-only parquet write clusters on the partition columns,
    * serializing each directory into ONE task — right for a handful of
    * tiny IVF cells, a straggler ceiling for a corpus-scale codes table
    * with few cells. `writersPerPartition = W` salts the clustering so
    * up to W tasks (= files) write each directory. Builds a
    * codes-shaped relation (embeddings ×16 with offset ids, 5 cells),
    * caches it to isolate WRITE cost, and times writers 1 vs 4 vs 8.
    */
  def writers(args: Seq[String])(implicit spark: SparkSession): Unit = {
    val dir = args(0)
    val (rep, cells) = (16, 5)
    val e = graft.queries.Inventory.rebalanced(
      spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id")
    val codes = (0 until rep).map { r =>
      e.select((col("vec_id") + lit(r * 10000000L)).as("vec_id"), col("embedding"))
    }.reduce(_.unionByName(_))
      .withColumn("cluster", pmod(col("vec_id"), lit(cells)).cast("int"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = codes.count()
    val out = java.nio.file.Files.createTempDirectory("graft-writers")
    try {
      Seq(1, 4, 8).foreach { w =>
        val sink = new TableSink.BucketedParquet(s"$out/w$w",
          buckets = Map.empty, partitions = Map("codes" -> Seq("cluster")),
          writersPerPartition = w)
        val s = obs.span(s"writers $w")(sink.write("codes", codes))
        val st = java.nio.file.Files.walk(out.resolve(s"w$w"))
        val files =
          try st.filter(p => p.toString.endsWith(".parquet")).count()
          finally st.close()
        emit("writers", s"writers_$w", s, "rows" -> n, "cells" -> cells, "files" -> files, "dir" -> dir)
      }
    } finally {
      Scratch.deleteTree(out)
      codes.unpersist()
    }
  }
}
