package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Functions.{avgExact, roundPortable}

/** Structured Streaming forms of the event analytics (SURVEY.md §7.1-7
  * extension; the reference itself has no streaming surface, §2.10).
  *
  * Each transform takes the *unbounded* events DataFrame
  * (`readStream` source) and returns a streaming DataFrame; the batch
  * twins in [[graft.ext.Sessions]] share the same expressions, so the
  * DuckDB oracle on the batch path vouches for the streaming logic
  * (SURVEY.md §7.2: streams stay out of the driver-verified set).
  *
  * Scale notes: watermarks bound state (2h on 1h windows ⇒ ≤ 3 open
  * windows per key); aggregation state is hash-partitioned by
  * (window, event_type) — adding executors scales linearly. Use
  * `spark.sql.streaming.statefulOperator.stateRebalancing` defaults;
  * state store is RocksDB-able in prod via
  * `spark.sql.streaming.stateStore.providerClass`.
  */
object Streams {

  /** Streaming twin of `Sessions.hourly`: tumbling 1-hour windows per
    * event_type, tolerating 2 hours of lateness.
    */
  def hourlyWindowed(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        roundPortable(avgExact(col("value")), 2).as("avg_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:00").as("hour"),
        col("event_type"), col("n_events"), col("avg_value"))

  /** Streaming half of the `agg_sketch_merge` architecture: the
    * stream continuously maintains the per-(event_type, day) HLL
    * sketch CELLS (DataSketches via `hll_sketch_agg`); any batch
    * consumer answers coarser distinct-count rollups by
    * `hll_union_agg` over the materialized cells without ever
    * replaying the stream. Sketch state per cell is kilobytes and the
    * merge is register-max (associative + commutative), so update
    * mode, late data within the watermark, and cross-partition merge
    * all compose losslessly — the property that makes sketch layers
    * the 100 TB answer to "distinct users per X, any X, any window".
    */
  def sketchCells(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("sk"))

  /** The STREAMING deployment of DAU/MAU stickiness
    * ([[graft.ext.Sessions.dauMau]], `events_dau_mau`): a pure READ
    * over the closed [[sketchCells]] HLL grid — no new streaming
    * operator, which is the point of the sketch layer. Per day the
    * type cells union to one daily user sketch (register-max, exact
    * merge); DAU is its estimate, and the trailing
    * [[graft.ext.Sessions.MauDays]]-day MAU is a union over the
    * anchor's window — the batch query's explode-onto-anchors shape,
    * pruned to real days, but over kilobyte sketches instead of the
    * (day, user) presence grid, so the rollup reads |days|·|types|
    * cells and NEVER replays the stream. Estimates equal the exact
    * distinct counts while sketches sit in sparse mode
    * (StreamingSpec audits row-for-row equality with the batch
    * registry query at sf0.001); at true scale they are ±~1% HLL
    * estimates — the documented contract difference of the sketch
    * path, same as `agg_sketch_merge` vs `agg_approx_distinct`.
    */
  def dauMauFromCells(cells: DataFrame): DataFrame = {
    val daily = cells.groupBy(col("day"))
      .agg(expr("hll_union_agg(sk, false)").as("dsk"))
    val days = daily.select(to_date(col("day")).as("anchor")).distinct()
    val dau = daily.select(to_date(col("day")).as("day"),
      expr("hll_sketch_estimate(dsk)").as("dau"))
    val mau = daily
      .withColumn("anchor", explode(sequence(to_date(col("day")),
        date_add(to_date(col("day")), graft.ext.Sessions.MauDays - 1))))
      .join(broadcast(days), Seq("anchor"))
      .groupBy("anchor")
      .agg(expr("hll_sketch_estimate(hll_union_agg(dsk, false))").as("mau_30d"))
    dau.join(mau, col("day") === col("anchor"))
      .select(col("day"), col("dau"), col("mau_30d"),
        roundPortable(col("dau").cast(org.apache.spark.sql.types.DoubleType) /
          col("mau_30d").cast(org.apache.spark.sql.types.DoubleType), 6).as("stickiness"))
      .orderBy("day")
  }

  /** SLIDING-window twin of `Inventory.windowRollingRange`: trailing
    * totals per event_type, one window per (slide) step. A sliding
    * window assigns each event to duration/slide windows (here 3h/1h
    * → 3), so state per key is bounded by windows-in-watermark ×
    * slide-multiplicity — the streaming analogue of the batch query's
    * RANGE frame over the daily aggregate. Watermark closes windows
    * whose end passed; output is append-clean on close.
    */
  def slidingTotals(
      events: DataFrame,
      duration: String = "3 hours",
      slide: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), duration, slide).as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:00").as("win_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:00").as("win_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming high-value alert filter (stateless — pure pushdown). */
  def highValueEvents(events: DataFrame, threshold: Double = 150.0): DataFrame =
    events.filter(col("value") >= threshold)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))

  /** Streaming ingest dedup — the streaming twin of `Dedup.exact`:
    * drop repeated event_ids, keeping dedup state only for the
    * watermark horizon (`dropDuplicatesWithinWatermark`), so state is
    * bounded by arrival rate × 2h instead of growing with the stream's
    * lifetime. The at-least-once→exactly-once bridge for replayed
    * sources (Kafka re-delivery, backfill overlap).
    */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming crawl-frontier dedup — the URL-canonical ingest gate,
    * streaming twin of `dedup_url_canonical`: arriving (url, …, ts)
    * rows canonicalize through the SAME [[graft.ext.Dedup.canonicalUrl]]
    * expression chain the batch row publishes (gate and audit cannot
    * fork), then dedup on the canonical key within the watermark
    * horizon — frontier state bounded by arrival rate × horizon, not
    * crawl lifetime. The first spelling of a page passes; every later
    * variant (case/port/param-order/fragment noise) drops AT INGEST,
    * before any fetch, text, or shingle work — the cheapest point in
    * the whole funnel to shed duplicate mass.
    */
  def frontierUrls(urls: DataFrame): DataFrame =
    urls
      .withColumn("canonical_url", graft.ext.Dedup.canonicalUrl(col("url")))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("canonical_url")

  /** Streaming SEMANTIC ROUTER — the online twin of the batch
    * k-means assignment (`emb_kmeans_assign` / `KMeans.assign`):
    * arriving embeddings route to their nearest trained centroid AT
    * INGEST, the shape that shards a live embedding feed across IVF
    * cells / semdedup blocks before anything downstream runs. The
    * quantizer is k-bounded by the same contracts that let the batch
    * side broadcast it, so it rides into the stream as a literal and
    * the whole router is a STATELESS projection — no watermark, no
    * state, append mode, per-row cost k (or √k when fed the coarse
    * codebook of the two-level path). Identical determinism recipe as
    * batch (6-dp rounded cosine, smaller-cluster tiebreak) —
    * StreamingSpec audits the stream output row-identical to
    * `KMeans.assign` over the same rows.
    */
  def semanticRouter(embs: DataFrame, cents: Seq[(Int, Seq[Double])]): DataFrame = {
    val scored = array(cents.map { case (c, v) =>
      struct(
        (-roundPortable(
          graft.functions.CosineSimilarity(col("embedding"), typedLit(v)), 6)).as("nc"),
        lit(c).as("cluster"))
    }: _*)
    embs
      .withColumn("best", element_at(array_sort(scored), 1))
      .withColumn("cluster", col("best.cluster"))
      .withColumn("csim", -col("best.nc"))
      .drop("best")
  }

  /** Streaming ingest quality gate — the deployment shape of the
    * Gopher rules: documents stream in, sub-threshold ones never reach
    * the corpus. Stateless projection + filter (no watermark, no
    * state), sharing `TextAnalysis.gopherCols` with the
    * `text_gopher_rules` registry query so the ingest gate and the
    * published batch metrics cannot fork. Emits the per-rule booleans
    * alongside the doc for audit sinks that keep the rejects.
    */
  def gatedDocuments(docs: DataFrame): DataFrame = {
    val gc = graft.ext.TextAnalysis.gopherCols(col("text"))
    docs
      .withColumn("n_tokens", gc.nTokens)
      .withColumn("gopher_pass", gc.pass)
      .filter(col("gopher_pass"))
  }

  /** Streaming sessionization via the built-in session_window: gap-based
    * windows per user, closed by the watermark. State per (user, open
    * session) only — bounded by activity, merged incrementally.
    */
  def sessionized(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("value")).as("max_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("max_value"))

  /** Stream-static enrichment join — the streaming cousin of the
    * as-of join for the common case where the right side is the
    * LATEST dimension snapshot rather than full history: each event
    * picks up its type's current reference rate and reports its
    * deviation. The static side is re-planned per micro-batch (so a
    * refreshed snapshot table is picked up on the next trigger) and
    * broadcast — the stream side never shuffles.
    */
  def enrichedAgainstSnapshot(events: DataFrame, typeRates: DataFrame): DataFrame =
    events
      .join(broadcast(typeRates), Seq("event_type"), "left")
      .select(col("event_id"), col("ts"), col("event_type"), col("value"),
        col("avg_value"),
        roundPortable(col("value") - col("avg_value"), 2).as("deviation"))

  /** Watermarked stream-stream INTERVAL join — click attribution: each
    * click joins the same user's views from the preceding
    * `window`. Both sides carry watermarks and the join condition
    * bounds event-time distance, so Spark can size the state store
    * exactly: a buffered view is dropped once the click-side watermark
    * passes `view_ts + window`; state never grows with stream
    * lifetime. The canonical two-unbounded-sources join shape that
    * stream-static enrichment cannot express.
    */
  def attributedClicks(views: DataFrame, clicks: DataFrame,
      window: String = "30 minutes"): DataFrame = {
    val v = views.select(col("event_id").as("view_id"), col("user_id").as("view_user"),
      col("ts").as("view_ts")).withWatermark("view_ts", "1 hour")
    val c = clicks.select(col("event_id").as("click_id"), col("user_id"),
      col("ts").as("click_ts")).withWatermark("click_ts", "1 hour")
    c.join(v,
      col("user_id") === col("view_user") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr(s"interval $window"))
      .select(col("click_id"), col("user_id"), col("click_ts"), col("view_id"), col("view_ts"))
  }

  /** One scored streaming document for [[classifierGatedDocuments]]. */
  final case class ScoredDoc(doc_id: Long, n_tokens: Long, score_micro: Long, keep: Boolean)

  /** Deployment shape of the LEARNED quality gate
    * (`Pipelines.qualityClassifier`): the NB model is trained
    * batch-side and shipped to executors as a plain broadcast map of
    * (feature → log-ratio in exact 1e-6 units — the batch query's
    * DECIMAL(18,6) grid holds integral micro-values, so the streamed
    * fold is INTEGER arithmetic and bit-agrees with the batch
    * decision for any document). Documents stream through a
    * STATELESS per-row scorer — no state store, no watermark, no
    * shuffle — tokenizing with the same rule as the batch tokenizer
    * and folding unseen tokens into the UNK feature exactly as the
    * vocabulary cap would have (when training never reached the cap
    * there is no UNK row and unseen tokens score the neutral 0 — no
    * evidence either way). The model refreshes by re-broadcast
    * between micro-batch restarts (the standard model-rollout path);
    * StreamingSpec audits streamed scores against the batch query
    * row-for-row.
    */
  def classifierGatedDocuments(
      docs: org.apache.spark.sql.Dataset[(Long, String)],
      modelMicro: Map[String, Long]): org.apache.spark.sql.Dataset[ScoredDoc] = {
    import org.apache.spark.sql.Encoders
    implicit val outEnc = Encoders.product[ScoredDoc]
    val bc = docs.sparkSession.sparkContext.broadcast(modelMicro)
    val unk = modelMicro.getOrElse("<unk>", 0L)
    docs.mapPartitions { it =>
      val m = bc.value
      it.map { case (id, text) =>
        // same tokenizer as TextAnalysis.tokens: split(lower(trim), \s+)
        val toks = text.trim.toLowerCase.split("\\s+")
        var n = 0L
        var s = 0L
        toks.foreach { t =>
          n += 1
          s += m.getOrElse(t, unk)
        }
        ScoredDoc(id, n, s, s > 0L)
      }
    }
  }

  /** One user's open session for [[closedSessions]]. */
  final case class OpenSession(user_id: Long, session_start: Long,
      last_ts: Long, n_events: Long)

  /** An emitted (gap-closed) session. */
  final case class ClosedSession(user_id: Long, session_start: Long,
      session_end: Long, n_events: Long)

  /** Gap-based session CLOSURE with an event-time timeout — the
    * stateful pattern [[sessionized]]'s built-in session_window can't
    * express when the consumer needs an explicit "session ended"
    * record the moment the watermark passes last_event + gap (alerts,
    * downstream billing, TTL cleanup), not an ever-updating window
    * row. One `OpenSession` per active user, partitioned on user_id;
    * `GroupState.setTimeoutTimestamp(last_ts + gap)` arms the
    * event-time alarm and `hasTimedOut` fires exactly once per closed
    * session, so state size is bounded by CONCURRENTLY ACTIVE users
    * and every eviction is explicit. In-batch gaps close inline
    * (events within a micro-batch are folded in event-time order);
    * cross-batch gaps close through the timeout path.
    *
    * Input: a watermarked stream of (user_id, ts). The watermark must
    * cover the gap (timeouts only fire once the watermark passes the
    * armed timestamp).
    */
  def closedSessions(events: org.apache.spark.sql.Dataset[(Long, java.sql.Timestamp)],
      gapMs: Long = 30L * 60 * 1000): org.apache.spark.sql.Dataset[ClosedSession] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    implicit val stateEnc = Encoders.product[OpenSession]
    implicit val outEnc = Encoders.product[ClosedSession]
    implicit val keyEnc = Encoders.scalaLong
    events.groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
            state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(user, s.session_start, s.last_ts, s.n_events))
          } else {
            val ts = rows.map(_._2.getTime).toArray.sorted
            var closed = List.empty[ClosedSession]
            var cur = state.getOption
            ts.foreach { t =>
              cur match {
                // t may precede last_ts when a cross-batch straggler
                // (late but inside the watermark) lands after newer
                // events already advanced the state; a negative gap is
                // always ≤ gapMs, so it merges — fold with min/max so
                // the session can only WIDEN (never session_end <
                // session_start, never a timeout re-armed backward)
                case Some(s) if t - s.last_ts <= gapMs =>
                  cur = Some(s.copy(
                    session_start = math.min(s.session_start, t),
                    last_ts = math.max(s.last_ts, t),
                    n_events = s.n_events + 1))
                case Some(s) =>
                  closed ::= ClosedSession(user, s.session_start, s.last_ts, s.n_events)
                  cur = Some(OpenSession(user, t, t, 1L))
                case None =>
                  cur = Some(OpenSession(user, t, t, 1L))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last_ts + gapMs)
            }
            closed.reverse.iterator
          }
      }
  }

  /** One user's running state for [[runningTotals]]. */
  final case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

  /** Custom arbitrary-state aggregation via flatMapGroupsWithState:
    * running per-user event count + value sum, emitting an updated
    * snapshot per micro-batch in which the user appears. The shape a
    * real pipeline uses when the built-in windows can't express the
    * state machine.
    *
    * Scale notes: state is one small case class per user,
    * hash-partitioned on user_id across executors; timeouts would
    * evict idle users in production (omitted here — the spec drives a
    * bounded stream).
    */
  def runningTotals(
      events: org.apache.spark.sql.Dataset[(Long, Double)]): org.apache.spark.sql.Dataset[UserTotals] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    implicit val stateEnc = Encoders.product[UserTotals]
    implicit val longEnc = Encoders.scalaLong
    events.groupByKey(_._1)
      .flatMapGroupsWithState[UserTotals, UserTotals](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(user, 0L, 0.0))
          var n = prev.n_events
          var total = prev.total_value
          rows.foreach { case (_, v) => n += 1; total += v }
          val next = UserTotals(user, n, total)
          state.update(next)
          Iterator.single(next)
      }
  }

  /** One user's running streak state for [[streakCounters]]. */
  final case class StreakState(
      user_id: Long, streak_start_day: Int, last_day: Int,
      n_streaks: Long, longest_streak: Long, active_days: Long)

  /** The PRODUCTION form of the batch `events_streaks` query
    * (gaps-and-islands): per-user consecutive-active-day streaks
    * maintained INCREMENTALLY. Input rows are (user_id, epoch_day);
    * state is one six-field record per user, hash-partitioned on the
    * key — never a day set, so state size is O(users) regardless of
    * history length. Each micro-batch folds its days in sorted order:
    * a repeated day is a no-op, day = last+1 extends the current
    * streak, a forward gap closes it and opens a new one, and a
    * straggler equal to streak_start−1 widens the current island
    * backward (the same only-widen discipline as [[closedSessions]]).
    * Stragglers that would MERGE two already-separated islands are the
    * one case an O(1)-state fold cannot express — they require the
    * day set — so, as with every twin here, the batch query stays the
    * from-scratch ground truth and the audit (StreamingSpec) feeds
    * event-time order, which production achieves with a watermarked
    * day-grid dedup upstream.
    */
  def streakCounters(
      days: org.apache.spark.sql.Dataset[(Long, Int)])
      : org.apache.spark.sql.Dataset[StreakState] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    implicit val stateEnc = Encoders.product[StreakState]
    implicit val longEnc = Encoders.scalaLong
    days.groupByKey(_._1)
      .flatMapGroupsWithState[StreakState, StreakState](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Int)], state: GroupState[StreakState]) =>
          var cur = state.getOption.orNull
          rows.map(_._2).toArray.sorted.foreach { d =>
            cur =
              if (cur == null)
                StreakState(user, d, d, 1L, 1L, 1L)
              else if (d == cur.last_day || (d >= cur.streak_start_day && d < cur.last_day))
                cur // repeat of an already-counted day
              else if (d == cur.last_day + 1) {
                val len = d - cur.streak_start_day + 1L
                cur.copy(last_day = d, active_days = cur.active_days + 1,
                  longest_streak = math.max(cur.longest_streak, len))
              } else if (d > cur.last_day + 1)
                cur.copy(streak_start_day = d, last_day = d,
                  n_streaks = cur.n_streaks + 1, active_days = cur.active_days + 1)
              else if (d == cur.streak_start_day - 1) {
                val len = cur.last_day - d + 1L
                cur.copy(streak_start_day = d, active_days = cur.active_days + 1,
                  longest_streak = math.max(cur.longest_streak, len))
              } else cur // pre-island straggler: needs the day set; batch is ground truth
          }
          state.update(cur)
          Iterator.single(cur)
      }
  }

  /** One tagged input row for [[asofEnrichedClicks]]: `side` 0 =
    * purchase (the fill side), 1 = click (the probe side) — right
    * before left at equal timestamps, the backward as-of join's
    * inclusive `<=` tie rule.
    */
  final case class AsOfRow(user_id: Long, ts_us: Long, side: Int, event_id: Long, value: Double)

  /** The held state: ONE latest-purchase record per user. */
  final case class LastPurchase(user_id: Long, ts_us: Long, event_id: Long, value: Double)

  /** An enriched click — the streaming as-of join's output row;
    * purchase fields are None for clicks preceding any purchase
    * (the batch join's NULL-keeping outer semantics).
    */
  final case class EnrichedClick(user_id: Long, click_id: Long, click_ts_us: Long,
      purchase_id: Option[Long], purchase_ts_us: Option[Long], purchase_value: Option[Double])

  /** The STREAMING deployment of the backward as-of join
    * ([[graft.ext.AsOf.asofJoin]]) — the missing member of the as-of
    * family's batch/stream story: each click is enriched with the
    * same user's latest purchase at-or-before it, continuously. A
    * watermarked interval join can't express "latest preceding over
    * ALL history" (its state horizon IS the lookback bound), so this
    * is the [[closedSessions]] pattern instead: per-user state via
    * flatMapGroupsWithState, holding exactly one LastPurchase record
    * — O(active users) state regardless of stream lifetime, the
    * forward-fill frontier made incremental.
    *
    * Semantics mirror the batch operator exactly: inclusive at equal
    * timestamps (purchases fold before clicks), equal-ts purchases
    * tie-broken toward the larger event_id (the batch window's
    * payload-struct tiebreak), clicks before any purchase keep None.
    * Each micro-batch folds in event-time order; cross-batch
    * stragglers older than the held frontier are the one case the
    * O(1)-state fold cannot replay (they'd need purchase history) —
    * as with every twin here, the batch join stays the from-scratch
    * ground truth and the audit feeds event-time order, which
    * production achieves with a watermarked reorder upstream. In
    * production an event-time timeout evicts users idle past the
    * retention horizon (the [[closedSessions]] eviction discipline).
    */
  def asofEnrichedClicks(
      rows: org.apache.spark.sql.Dataset[AsOfRow])
      : org.apache.spark.sql.Dataset[EnrichedClick] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    implicit val stateEnc = Encoders.product[LastPurchase]
    implicit val outEnc = Encoders.product[EnrichedClick]
    implicit val keyEnc = Encoders.scalaLong
    rows.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastPurchase, EnrichedClick](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[AsOfRow], state: GroupState[LastPurchase]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[EnrichedClick]
          var st = state.getOption.orNull
          it.toArray.sortBy(r => (r.ts_us, r.side, r.event_id)).foreach { r =>
            if (r.side == 0) {
              if (st == null || r.ts_us > st.ts_us ||
                  (r.ts_us == st.ts_us && r.event_id > st.event_id))
                st = LastPurchase(user, r.ts_us, r.event_id, r.value)
            } else {
              out += (if (st == null)
                EnrichedClick(user, r.event_id, r.ts_us, None, None, None)
              else
                EnrichedClick(user, r.event_id, r.ts_us,
                  Some(st.event_id), Some(st.ts_us), Some(st.value)))
            }
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  /** One (band, key) posting of an arriving document's MinHash
    * signature, for [[nearDupGate]].
    */
  final case class TaggedBand(band: Int, key: Long, doc_id: Long, sig: Array[Long])

  /** Per-bucket state: the FIRST document that claimed this bucket,
    * with its signature (needed to score later arrivals).
    */
  final case class BucketOwner(doc_id: Long, sig: Array[Long])

  /** A near-dup candidate hit: an arriving doc collided with the
    * bucket's first claimant in `band`; est_sim is the fraction of
    * agreeing MinHash components (the dedup_minhash_estimate measure).
    */
  final case class NearDupHit(doc_id: Long, first_doc: Long, band: Int, est_sim: Double)

  /** Streaming NEAR-dup ingest gate — the production deployment of
    * the MinHash-LSH dedup ([[graft.ext.Dedup.minhashLsh]]):
    * documents stream in, each computes its signature STATELESSLY
    * (JVM replica of the batch universal-hash pipeline,
    * [[graft.ext.Dedup.minhashSignatureJvm]] — StreamingSpec asserts
    * per-doc bit-parity with the Catalyst lshBands), fans out to its
    * 16 band keys, and each band bucket keeps ONE owner record (the
    * first claimant + its 32-long signature). Later arrivals in any
    * bucket emit a candidate hit scored by signature agreement —
    * `dropDuplicatesWithinWatermark` generalized from exact ids to
    * near-duplicate content.
    *
    * State: one ~300-byte owner record per DISTINCT band bucket seen,
    * hash-partitioned on (band, key) — at 100 TB-scale ingest the
    * retention watermark evicts idle buckets (the standard TTL; the
    * batch pipeline remains the from-scratch ground truth and catches
    * anything the horizon missed). Unlike the batch path there is no
    * MaxBucket drop: arrival cost per doc is O(bands), independent of
    * bucket population, because only the owner is held.
    */
  def nearDupGate(
      docs: org.apache.spark.sql.Dataset[(Long, String)])
      : org.apache.spark.sql.Dataset[NearDupHit] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    implicit val bandEnc = Encoders.product[TaggedBand]
    implicit val stateEnc = Encoders.product[BucketOwner]
    implicit val outEnc = Encoders.product[NearDupHit]
    implicit val keyEnc = Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong)
    val k = graft.ext.Dedup.NumHashes
    val tagged = docs.mapPartitions { it =>
      it.flatMap { case (id, text) =>
        val sig = graft.ext.Dedup.minhashSignatureJvm(text)
        graft.ext.Dedup.bandKeysJvm(sig).iterator
          .map { case (b, key) => TaggedBand(b, key, id, sig) }
      }
    }
    tagged.groupByKey(t => (t.band, t.key))
      .flatMapGroupsWithState[BucketOwner, NearDupHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (bk: (Int, Long), rows: Iterator[TaggedBand], state: GroupState[BucketOwner]) =>
          val arrivals = rows.toArray.sortBy(_.doc_id)
          var owner = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[NearDupHit]
          arrivals.foreach { t =>
            if (owner == null) {
              owner = BucketOwner(t.doc_id, t.sig)
            } else if (t.doc_id != owner.doc_id) {
              var agree = 0
              var i = 0
              while (i < k) { if (t.sig(i) == owner.sig(i)) agree += 1; i += 1 }
              out += NearDupHit(t.doc_id, owner.doc_id, bk._1, agree.toDouble / k)
            }
          }
          if (owner != null) state.update(owner)
          out.iterator
      }
  }

  /** Streaming state for [[decayedCounters]]: the counter VALUE is
    * only meaningful together with the reference time it is held at.
    */
  final case class DecayedCounter(
      event_type: String, n_events: Long, decayed: Double, ref_us: Long)

  /** The PRODUCTION form of the batch `events_decayed_counts` query:
    * a per-type exponentially-decayed counter maintained
    * INCREMENTALLY — each micro-batch advances the held value by
    * exp(−λ·gap) and adds the batch's contributions, the associative
    * fold the batch query's scaladoc promises (and whose identity the
    * batch spec pins). Input rows are (event_type, epoch_us); state is
    * one (value, ref_us) pair per type, hash-partitioned on the key.
    * Late rows are handled exactly: the reference only moves forward,
    * and an older event simply enters with weight exp(−λ·(ref−t)) < 1.
    * At 100 TB-scale ingest this never rescans history — the batch
    * query remains the from-scratch ground truth the streaming
    * counter is audited against (StreamingSpec does exactly that).
    */
  def decayedCounters(
      events: org.apache.spark.sql.Dataset[(String, Long)],
      halfLifeDays: Double = graft.ext.Sessions.HalfLifeDays)
      : org.apache.spark.sql.Dataset[DecayedCounter] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    implicit val stateEnc = Encoders.product[DecayedCounter]
    implicit val strEnc = Encoders.STRING
    val lam = math.log(2.0) / halfLifeDays
    def w(gapUs: Long): Double = math.exp(-(lam * (gapUs.toDouble / 86400e6)))
    events.groupByKey(_._1)
      .flatMapGroupsWithState[DecayedCounter, DecayedCounter](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (tpe: String, rows: Iterator[(String, Long)], state: GroupState[DecayedCounter]) =>
          val batch = rows.map(_._2).toArray
          val prev = state.getOption.getOrElse(DecayedCounter(tpe, 0L, 0.0, Long.MinValue))
          val ref = math.max(prev.ref_us, batch.max)
          val advanced = if (prev.n_events == 0L) 0.0 else prev.decayed * w(ref - prev.ref_us)
          val added = batch.map(u => w(ref - u)).sum
          val next = DecayedCounter(tpe, prev.n_events + batch.length, advanced + added, ref)
          state.update(next)
          Iterator.single(next)
      }
  }

  /** One per-type Holt smoothing state emitted by [[holtCounters]]:
    * the level/trend pair after folding `last_day`, and the
    * one-step-ahead forecast they imply.
    */
  final case class HoltState(
      event_type: String, last_day: Int, n_days: Long, level: Double, trend: Double)

  /** The STREAMING deployment of `events_forecast_holt`: the Holt
    * double-exponential recursion held as O(1) state per event type —
    * (level, trend, last_day), nothing else, regardless of stream
    * lifetime. Input rows are CLOSED daily aggregates
    * (event_type, epoch_day, count) — the shape a watermarked daily
    * window count emits upstream — and each micro-batch folds its
    * days in sorted order with the batch query's exact arithmetic
    * (same literals, same op order), so emitted levels bit-agree
    * with the batch fold fed the same day sequence. A day at or
    * before the held frontier is a straggler the O(1) state cannot
    * replay (it would need the day's revised count and every later
    * state) — ignored, batch stays the from-scratch ground truth,
    * and the audit feeds event-time order, which production achieves
    * with the watermarked window upstream.
    */
  def holtCounters(
      days: org.apache.spark.sql.Dataset[(String, Int, Long)])
      : org.apache.spark.sql.Dataset[HoltState] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    implicit val stateEnc = Encoders.product[HoltState]
    implicit val strEnc = Encoders.STRING
    days.groupByKey(_._1)
      .flatMapGroupsWithState[HoltState, HoltState](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (tpe: String, rows: Iterator[(String, Int, Long)], state: GroupState[HoltState]) =>
          var cur = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[HoltState]
          rows.toArray.sortBy(_._2).foreach { case (_, day, n) =>
            cur =
              if (cur == null) HoltState(tpe, day, 1L, n.toDouble, 0.0)
              else if (day <= cur.last_day) cur // straggler: batch is ground truth
              else {
                val nl = 0.5 * n.toDouble + 0.5 * (cur.level + cur.trend)
                val nb = 0.3 * (nl - cur.level) + 0.7 * cur.trend
                HoltState(tpe, day, cur.n_days + 1L, nl, nb)
              }
            out += cur
          }
          if (cur != null) state.update(cur)
          out.iterator
      }
  }

  /** One user's running cadence state for [[cadenceCounters]]: exact
    * integer gap sums (second grid) plus the last-seen timestamp
    * frontier — everything `events_cadence`'s μ/σ/cv derive from.
    */
  final case class CadenceState(
      user_id: Long, n_gaps: Long, sg: Long, sgg: Long, last_us: Long)

  /** The STREAMING deployment of `events_cadence` (the bot-regularity
    * gate made incremental): per-user inter-arrival statistics held
    * as one five-field record — O(users) state, never an event list.
    * Because the batch query's contract is EXACT second-grid long
    * sums (Σg, Σg²), the incremental fold agrees with the batch
    * aggregate BIT-FOR-BIT given the same event order — integers,
    * not fold-order doubles — and μ/σ/cv derive at read time from
    * the emitted sums. Each micro-batch folds its timestamps in
    * sorted order; a straggler at or before the held frontier would
    * change every subsequent gap (the one thing an O(1) state cannot
    * replay), so it is ignored — batch stays the from-scratch ground
    * truth and the audit feeds event-time order, which production
    * achieves with a watermarked reorder upstream.
    */
  def cadenceCounters(
      events: org.apache.spark.sql.Dataset[(Long, Long)])
      : org.apache.spark.sql.Dataset[CadenceState] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    implicit val stateEnc = Encoders.product[CadenceState]
    implicit val longEnc = Encoders.scalaLong
    events.groupByKey(_._1)
      .flatMapGroupsWithState[CadenceState, CadenceState](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[CadenceState]) =>
          var cur = state.getOption.orNull
          rows.map(_._2).toArray.sorted.foreach { us =>
            cur =
              if (cur == null) CadenceState(user, 0L, 0L, 0L, us)
              else if (us < cur.last_us) cur // straggler: batch is ground truth
              else {
                // equal timestamps are REAL zero gaps in the batch
                // contract (lag over ts, event_id), not stragglers
                val gap = (us - cur.last_us) / 1000000L
                CadenceState(user, cur.n_gaps + 1L, cur.sg + gap,
                  cur.sgg + gap * gap, us)
              }
          }
          state.update(cur)
          Iterator.single(cur)
      }
  }

  /** One SpaceSaving counter emitted by [[spaceSavingHitters]]:
    * `est` overestimates the term's true count by at most `err`
    * (true ∈ [est − err, est], the sketch's per-entry guarantee).
    */
  final case class HitterEntry(shard: Int, term: String, est: Long, err: Long)

  /** One shard's SpaceSaving summary: ≤ capacity (count, err) pairs. */
  final case class HitterState(shard: Int, counts: Map[String, Long], errs: Map[String, Long])

  /** The STREAMING deployment of the corpus top-k term problem
    * (`text_heavy_hitters`'s candidates side made incremental):
    * SpaceSaving (Metwally/Agrawal/El Abbadi, "Efficient Computation
    * of Frequent and Top-k Elements in Data Streams", ICDT 2005 —
    * public algorithm) held as per-shard flatMapGroupsWithState
    * state. Terms route DETERMINISTICALLY to one of `shards` keys
    * (floorMod of String.hashCode — a spec'd, JVM-stable hash), so
    * each shard's bounded summary sees every arrival of its own
    * terms: state is `shards × capacity` entries TOTAL regardless of
    * vocabulary or stream lifetime — the property that makes the
    * top-k term frontier holdable at web scale, where the exact
    * vocabulary (billions of tail strings) cannot be. The global
    * top-k at read time is a top over the union of shard summaries.
    *
    * The per-arrival update is the classic one: known term →
    * increment; free slot → insert at (1, err 0); full → evict the
    * min-count entry (tie-broken by term, so eviction is
    * deterministic given summary contents) and inherit its count as
    * the newcomer's `err`. Invariants the audit pins: Σ est per
    * shard = items seen by the shard (each arrival adds exactly 1
    * somewhere), est ≥ true ≥ est − err per surviving term, and —
    * with capacity ≥ the shard's distinct-term count, where
    * SpaceSaving degrades to exact counting — bit-parity of the
    * top-k with the batch query's exact re-rank.
    */
  def spaceSavingHitters(
      terms: org.apache.spark.sql.Dataset[String],
      shards: Int = 8, capacity: Int = 64)
      : org.apache.spark.sql.Dataset[HitterEntry] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    implicit val stateEnc = Encoders.product[HitterState]
    implicit val entryEnc = Encoders.product[HitterEntry]
    implicit val intEnc = Encoders.scalaInt
    terms.groupByKey(t => math.floorMod(t.hashCode, shards))
      .flatMapGroupsWithState[HitterState, HitterEntry](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (shard: Int, rows: Iterator[String], state: GroupState[HitterState]) =>
          val counts = scala.collection.mutable.Map.empty[String, Long]
          val errs = scala.collection.mutable.Map.empty[String, Long]
          state.getOption.foreach { s => counts ++= s.counts; errs ++= s.errs }
          rows.foreach { t =>
            if (counts.contains(t)) counts(t) += 1L
            else if (counts.size < capacity) { counts(t) = 1L; errs(t) = 0L }
            else {
              val (evictTerm, evictCount) = counts.minBy { case (k, v) => (v, k) }
              counts.remove(evictTerm); errs.remove(evictTerm)
              counts(t) = evictCount + 1L
              errs(t) = evictCount
            }
          }
          state.update(HitterState(shard, counts.toMap, errs.toMap))
          counts.toSeq.sortBy { case (t, c) => (-c, t) }
            .map { case (t, c) => HitterEntry(shard, t, c, errs(t)) }
            .iterator
      }
  }

  /** One Count-Min cell's evolving count for [[countminCells]]. */
  final case class CmCell(dep: Int, cell: Long, n: Long)

  /** The STREAMING deployment of the Count-Min sketch build
    * ([[graft.ext.TextAnalysis.countminHitters]],
    * `text_countmin_hitters`): per-(depth, cell) counters maintained
    * continuously — CMS is a pure counter grid, so its streaming form
    * is the smallest possible state (ONE long per touched cell,
    * ≤ D·W total regardless of stream length) and the update is
    * commutative: the final cells bit-match the batch build whatever
    * the arrival order. Token→cell hashing reuses the batch
    * [[graft.functions.Hash60]] JVM entry, so the streamed sketch IS
    * the batch sketch (StreamingSpec re-derives the registry query's
    * top-N estimates from the streamed cells).
    */
  def countminCells(
      toks: org.apache.spark.sql.Dataset[String])
      : org.apache.spark.sql.Dataset[CmCell] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    implicit val cellEnc = Encoders.product[CmCell]
    implicit val keyEnc = Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong)
    toks.flatMap { t =>
      (0 until graft.ext.TextAnalysis.CmDepth).map { dep =>
        val h = graft.functions.Hash60.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(s"$dep:$t"))
        (dep, h % graft.ext.TextAnalysis.CmWidth.toLong)
      }
    }.groupByKey(identity)
      .flatMapGroupsWithState[CmCell, CmCell](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: (Int, Long), rows: Iterator[(Int, Long)], state: GroupState[CmCell]) =>
          val n = state.getOption.map(_.n).getOrElse(0L) + rows.size
          val cur = CmCell(key._1, key._2, n)
          state.update(cur)
          Iterator.single(cur)
      }
  }

  /** Evolving QI-class state for [[kAnonymityCounters]]: the class
    * key, its arrival count so far, how many records are releasable
    * (all of them once the class clears K, none before), and the
    * verdict. n_members is monotone, so max-struct selects the final
    * state in audits.
    */
  final case class QiClassState(nation_key: Long, segment: String,
      n_members: Long, n_releasable: Long, k_anonymous: Boolean)

  /** The STREAMING deployment of the k-anonymity audit
    * ([[graft.ext.Pipelines.kAnonymity]], `privacy_k_anonymity`):
    * a quarantine-release gate — records accumulate per
    * quasi-identifier class and become releasable only once the class
    * holds ≥ K of them, continuously. State is ONE counter per QI
    * class (bounded by the attribute domain product, not the
    * stream), the [[streakCounters]] O(1)-state discipline; the
    * release rule is exactly the batch verdict evaluated on the
    * running count, so the final per-class states reproduce the
    * batch audit's sizes and verdicts bit-for-bit (integer counts,
    * no float surface). Production would key the downstream
    * release join on k_anonymous and re-audit on retention expiry.
    */
  def kAnonymityCounters(
      rows: org.apache.spark.sql.Dataset[(Long, String)],
      k: Int = graft.ext.Pipelines.KAnonK)
      : org.apache.spark.sql.Dataset[QiClassState] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    implicit val stateEnc = Encoders.product[QiClassState]
    implicit val keyEnc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING)
    rows.groupByKey(identity)
      .flatMapGroupsWithState[QiClassState, QiClassState](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: (Long, String), evs: Iterator[(Long, String)], state: GroupState[QiClassState]) =>
          val prior = state.getOption
            .getOrElse(QiClassState(key._1, key._2, 0L, 0L, k_anonymous = false))
          val n = prior.n_members + evs.size
          val anon = n >= k
          val cur = QiClassState(key._1, key._2, n, if (anon) n else 0L, anon)
          state.update(cur)
          Iterator.single(cur)
      }
  }

  /** Evolving (QI class, sensitive value) cell for
    * [[tClosenessCells]]: the arrival count so far. n is monotone, so
    * max-struct selects the final state in audits.
    */
  final case class QiCellState(nation_key: Long, segment: String, n: Long)

  /** The STREAMING deployment of the t-closeness audit
    * ([[graft.ext.Pipelines.tCloseness]], `privacy_t_closeness`),
    * completing the governance trilogy's stream story beside
    * [[kAnonymityCounters]]. The TV distance needs BOTH each class's
    * sensitive distribution and the GLOBAL one — and the global
    * shifts with every arrival, so no per-key fold can finalize a
    * class's verdict online. What the stream CAN maintain exactly is
    * the sufficient statistic: one counter per (QI class, sensitive
    * value) cell, bounded by the attribute domain product (never the
    * stream) — the [[countminCells]] discipline. The audit (and a
    * production read-side view) re-derives p, q, and
    * TV = ½·Σ|p − q| from the final cells with the batch query's
    * exact integer-micro algebra, so the derived verdicts bit-match
    * the batch audit. Integer counts end to end; no float state.
    */
  def tClosenessCells(
      rows: org.apache.spark.sql.Dataset[(Long, String)])
      : org.apache.spark.sql.Dataset[QiCellState] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    implicit val stateEnc = Encoders.product[QiCellState]
    implicit val keyEnc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING)
    rows.groupByKey(identity)
      .flatMapGroupsWithState[QiCellState, QiCellState](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: (Long, String), evs: Iterator[(Long, String)], state: GroupState[QiCellState]) =>
          val n = state.getOption.map(_.n).getOrElse(0L) + evs.size
          val cur = QiCellState(key._1, key._2, n)
          state.update(cur)
          Iterator.single(cur)
      }
  }

  /** Evolving (day, event_type) count cell for [[entropyCells]]:
    * monotone n, so max-struct selects the final state in audits.
    */
  final case class DayTypeCell(day: String, event_type: String, n: Long)

  /** The STREAMING deployment of the behavioral-entropy monitor
    * ([[graft.ext.Sessions.entropyDaily]], `events_entropy_daily`):
    * like [[tClosenessCells]], the published statistic (Shannon
    * entropy of each day's type mix) depends on the WHOLE day's
    * distribution, so the stream maintains the sufficient statistic —
    * one counter per (day, event_type) cell, bounded by
    * |days|·|types|, never the stream — and the read side derives
    * H = −Σ p·log₂p from the final cells with the batch query's
    * exact integer-micro term grid. Integer counts end to end; in
    * production an event-time timeout evicts closed days after the
    * late-arrival horizon (the [[closedSessions]] discipline).
    */
  def entropyCells(
      rows: org.apache.spark.sql.Dataset[(String, String)])
      : org.apache.spark.sql.Dataset[DayTypeCell] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    implicit val stateEnc = Encoders.product[DayTypeCell]
    implicit val keyEnc = Encoders.tuple(Encoders.STRING, Encoders.STRING)
    rows.groupByKey(identity)
      .flatMapGroupsWithState[DayTypeCell, DayTypeCell](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: (String, String), evs: Iterator[(String, String)], state: GroupState[DayTypeCell]) =>
          val n = state.getOption.map(_.n).getOrElse(0L) + evs.size
          val cur = DayTypeCell(key._1, key._2, n)
          state.update(cur)
          Iterator.single(cur)
      }
  }

  /** Evolving per-language character-class state for
    * [[charclassCounters]]: doc and char volume plus the three
    * counted class masses (letters, digits, whitespace; `other`
    * derives). Every field is a monotone sum, so max-struct selects
    * the final state in audits.
    */
  final case class LangCharState(lang: String, n_docs: Long, n_chars: Long,
      nl: Long, nd: Long, ns: Long)

  /** The STREAMING deployment of the encoding-health profile
    * ([[graft.ext.TextAnalysis.charclassProfile]],
    * `text_charclass_profile`): per-language character-class counters
    * maintained continuously — the crawl-side monitor that catches a
    * mojibake/charset regression WHILE a fetch batch streams in,
    * before it lands in the corpus. State is five longs per language
    * (bounded by |langs|, never the stream); each arrival folds its
    * class counts with the exact same class definitions the batch
    * regex states ([A-Za-z], [0-9], [ \t\n\r]), so the final states
    * reproduce the batch profile's integer masses bit-for-bit and the
    * read-side derives the same 6dp ratios/verdicts. Integer counts
    * end to end; no float state.
    */
  def charclassCounters(
      rows: org.apache.spark.sql.Dataset[(String, String)])
      : org.apache.spark.sql.Dataset[LangCharState] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    implicit val stateEnc = Encoders.product[LangCharState]
    implicit val keyEnc = Encoders.STRING
    rows.groupByKey(_._1)
      .flatMapGroupsWithState[LangCharState, LangCharState](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (lang: String, evs: Iterator[(String, String)], state: GroupState[LangCharState]) =>
          var cur = state.getOption.getOrElse(LangCharState(lang, 0L, 0L, 0L, 0L, 0L))
          evs.foreach { case (_, text) =>
            var nl = 0L; var nd = 0L; var ns = 0L
            var i = 0
            while (i < text.length) {
              val c = text.charAt(i)
              if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) nl += 1
              else if (c >= '0' && c <= '9') nd += 1
              else if (c == ' ' || c == '\t' || c == '\n' || c == '\r') ns += 1
              i += 1
            }
            cur = LangCharState(lang, cur.n_docs + 1, cur.n_chars + text.length,
              cur.nl + nl, cur.nd + nd, cur.ns + ns)
          }
          state.update(cur)
          Iterator.single(cur)
      }
  }

  /** Per-user funnel frontier: the three first-qualifying timestamps
    * in micros, −1 = stage not reached. Every field is monotone — it
    * moves from −1 to its final value exactly once and never changes
    * after — which is what makes the audit's max-struct "latest
    * state" selection valid.
    */
  final case class FunnelState(user_id: Long, t_view: Long, t_click: Long, t_purchase: Long)

  /** The STREAMING deployment of the conversion funnel
    * ([[graft.ext.Sessions.funnel]], `events_funnel`): per-user
    * ordered-stage progression maintained continuously with O(1)
    * state — three longs per user, the stage-anchor frontier. A
    * watermarked windowed aggregate cannot express "first click
    * at-or-after the first view over ALL history" (the anchor has no
    * horizon), so this is the [[streakCounters]] pattern:
    * flatMapGroupsWithState keyed on user, each arrival folding the
    * stage rule the batch query states declaratively —
    * view anchors once; a click counts iff the view anchor exists and
    * the click is at-or-after it; a purchase counts iff the click
    * anchor exists and the purchase is at-or-after it.
    *
    * Input rows are (user_id, stage, ts_us) with stage 0=view,
    * 1=click, 2=purchase; each micro-batch folds in (ts_us, stage)
    * order so an equal-timestamp view→click→purchase chain resolves
    * exactly like the batch `>=` inclusivity (earlier stages anchor
    * first). Cross-batch stragglers older than an already-set anchor
    * are the one case the O(1) fold cannot replay (they would need
    * the full event history); the batch query remains ground truth
    * and production feeds event-time order via a watermarked reorder,
    * with an event-time timeout evicting users past retention (the
    * [[closedSessions]] discipline).
    */
  def funnelCounters(
      rows: org.apache.spark.sql.Dataset[(Long, Int, Long)])
      : org.apache.spark.sql.Dataset[FunnelState] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    implicit val stateEnc = Encoders.product[FunnelState]
    implicit val longEnc = Encoders.scalaLong
    rows.groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelState](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, evs: Iterator[(Long, Int, Long)], state: GroupState[FunnelState]) =>
          var cur = state.getOption.getOrElse(FunnelState(user, -1L, -1L, -1L))
          evs.map { case (_, stage, us) => (us, stage) }.toArray.sorted
            .foreach { case (us, stage) =>
              cur = stage match {
                case 0 if cur.t_view < 0 => cur.copy(t_view = us)
                case 1 if cur.t_view >= 0 && cur.t_click < 0 && us >= cur.t_view =>
                  cur.copy(t_click = us)
                case 2 if cur.t_click >= 0 && cur.t_purchase < 0 && us >= cur.t_click =>
                  cur.copy(t_purchase = us)
                case _ => cur
              }
            }
          state.update(cur)
          Iterator.single(cur)
      }
  }
}
