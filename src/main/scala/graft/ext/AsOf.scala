package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.engine.Functions.{avgExact, roundPortable}
import graft.queries.Inventory
import graft.queries.Inventory.Q

/** As-of (point-in-time) join: for each left row, attach the right
  * row with the same key that was current at the left row's time —
  * the shape every event pipeline needs to join facts to the
  * dimension snapshot that held when the event happened.
  *
  * Spark has no native as-of join; per the build rules this is
  * preference order (a): COMPOSED from existing operators rather than
  * a custom plan. ONE function, [[asofJoin]], covers all four
  * configurations — [[Backward]]/[[Forward]] × plain/bucketed:
  *
  *  - Direction. [[Backward]] takes the LATEST right row with
  *    `right.ts <= left.ts` (the feature join); [[Forward]] the
  *    EARLIEST with `right.ts >= left.ts` (the label join). The
  *    argument has no default, so every call site names its
  *    direction: a label join built where a feature join was meant
  *    is leakage, and grep tells the two apart.
  *  - Shared side order. Both inputs are unioned with a side marker
  *    (carry 0 < right 1 < left 2, sorted ascending in both
  *    directions) and one ordered window per key forward-fills the
  *    right side's payload onto left rows (`last(_, ignoreNulls =
  *    true)` over the running frame). `_ts` and `_payload` sort
  *    ascending for Backward and descending for Forward: reversing
  *    the order turns "first non-null at-or-after" into "last
  *    non-null at-or-before", which the running frame computes
  *    incrementally — Spark evaluates the literal unbounded-FOLLOWING
  *    frame by re-scanning to the partition end, O(n²) per key
  *    (measured 172 s at sf0.1 against ~2 s). ASC NULLS FIRST
  *    reversed is DESC NULLS LAST, so the reversal is exact, ties
  *    included. At equal timestamps the right row precedes the left
  *    one, so the match is inclusive in both directions, matching
  *    DuckDB's `ASOF JOIN` — which is exactly what the oracle uses.
  *  - Carry block. With `bucketWidth = Some(w)` the window is
  *    sub-keyed by the time bucket ⌊ts/w⌋, and each (key, bucket)
  *    gets a CARRY pseudo-row holding the nearest right row of any
  *    bucket before it in fill order (see [[asofJoin]]).
  *
  * Scale notes: ONE shuffle (hash-partition on the key) and a local
  * per-key sort — same cost as any window aggregation; no range
  * explosion, no broadcast requirement, works at any right-side
  * cardinality. Parallelism is bounded by |keys|; when one key
  * dominates (or there are few keys), a bucket width sub-keys the
  * window for |keys|·|buckets| parallelism.
  */
object AsOf {

  /** Which way [[asofJoin]] fills; deliberately without a default. */
  sealed trait Direction
  /** Latest right row at-or-before the left row: the feature join. */
  case object Backward extends Direction
  /** Earliest right row at-or-after the left row: the label join. */
  case object Forward extends Direction

  /** Internal column names the join claims for itself. */
  private val Reserved = Seq("_ts", "_side", "_payload", "_bucket")

  private def requireSafeNames(left: DataFrame, rightPayload: Seq[String]): Unit = {
    val taken = Reserved.filter(left.columns.contains)
    require(taken.isEmpty,
      s"asofJoin reserves column name(s) ${taken.mkString(", ")}; rename them on the left input")
    val clash = rightPayload.filter(left.columns.contains)
    require(clash.isEmpty,
      s"right payload column(s) ${clash.mkString(", ")} collide with left columns; alias them first")
  }

  /** As-of join in `direction`. `rightPayload` columns are filled onto
    * left rows; rows with no match keep NULLs (drop them for inner
    * semantics).
    *
    * The payload is filled as ONE struct, not column-by-column: the
    * struct is non-null on every right row even when its fields are
    * null, so (a) a NULL field in the matched right row stays NULL
    * instead of leaking another row's value, and (b) multi-column
    * payloads are row-atomic — the fill can never stitch together
    * fields from different right rows. Equal-(ts) right rows are
    * tie-broken by the payload struct itself (the greatest wins
    * Backward, the least Forward), keeping the result deterministic
    * under any partitioning.
    *
    * `bucketWidth` (skew hardening, for few or skewed keys — 4 event
    * types on a 1000-executor cluster would otherwise use 4 tasks):
    * rows land in bucket ⌊ts/width⌋ and the fill window partitions by
    * (key, bucket). Within a bucket a left row sees the in-bucket
    * right rows before it in fill order, plus one carry row: the
    * per-(key, bucket) `max` (Backward) or `min` (Forward) of the
    * (ts, payload) struct — the in-bucket tiebreak order — filled
    * across buckets in fill order (bucket ascending/descending, frame
    * (unboundedPreceding, −1): strictly earlier/later buckets). That
    * fill is per key but over one summary row per non-empty bucket,
    * never the raw rows, so it cannot become the skew bottleneck. The
    * carry sits at the bucket's start (Backward) or end (Forward)
    * instant with side 0, so an in-bucket right row at that exact
    * instant still overrides it. The width is in the ts column's
    * native unit (microseconds for timestamps, raw units for
    * numerics); pick it so a bucket holds roughly rows/desired-tasks
    * rows — the result does not depend on it, which PropertySpec
    * checks against a plain-Scala as-of.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      rightPayload: Seq[String],
      direction: Direction,
      bucketWidth: Option[Long] = None): DataFrame = {
    requireSafeNames(left, rightPayload)
    def inFillOrder(c: String): Column = if (direction == Forward) col(c).desc else col(c).asc
    val others = left.columns.toSeq.filter(_ != key)
    val payload = struct(rightPayload.map(col): _*)
    val payloadType = right.select(payload).schema.head.dataType
    val l = left.select(Seq(col(key), col(leftTs).as("_ts"),
      lit(null).cast(payloadType).as("_payload")) ++ others.map(col): _*)
    val r = right.select(col(key), col(rightTs).as("_ts"), payload.as("_payload"))

    // (left, right, carry rows) of the unified frame
    val (lhs, rhs, carries) = bucketWidth match {
      case None => (l, r, None)
      case Some(width) =>
        val tsType = left.schema(leftTs).dataType
        val micros = tsType == TimestampType
        def bucketOf(ts: Column): Column =
          floor((if (micros) unix_micros(ts) else ts.cast("long")) / width).cast("long")
        val lb = l.withColumn("_bucket", bucketOf(col("_ts")))
        val rb = r.withColumn("_bucket", bucketOf(col("_ts")))
        // the right row each bucket hands on: its last in fill order
        val edge = struct(col("_ts"), col("_payload"))
        val lastPerBucket = rb.groupBy(col(key), col("_bucket"))
          .agg((if (direction == Forward) min(edge) else max(edge)).as("_last"))
        // every bucket that needs a carry-in (left activity) or can
        // supply one (right activity)
        val allBuckets = lb.select(col(key), col("_bucket"))
          .union(lastPerBucket.select(col(key), col("_bucket")))
          .distinct()
        val wCarry = Window.partitionBy(key).orderBy(inFillOrder("_bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)
        // first instant (Backward) or last instant (Forward) of the bucket
        val at =
          if (direction == Forward) (col("_bucket") + 1) * width - 1 else col("_bucket") * width
        val carry = allBuckets.join(lastPerBucket, Seq(key, "_bucket"), "left")
          .withColumn("_carry", last(col("_last"), ignoreNulls = true).over(wCarry))
          .filter(col("_carry").isNotNull)
          .select(col(key), col("_bucket"),
            (if (micros) timestamp_micros(at) else at.cast(tsType)).as("_ts"),
            col("_carry._payload").as("_payload"))
        (lb, rb, Some(carry))
    }

    val keys = (Seq(key) ++ bucketWidth.map(_ => "_bucket")).map(col)
    def side(df: DataFrame, n: Int, rest: Seq[Column]): DataFrame =
      df.select(keys ++ Seq(col("_ts"), lit(n).as("_side"), col("_payload")) ++ rest: _*)
    val nullLefts = others.map(c => lit(null).cast(left.schema(c).dataType).as(c))
    val w = Window.partitionBy(keys: _*)
      .orderBy(inFillOrder("_ts"), col("_side"), inFillOrder("_payload"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    (Seq(side(lhs, 2, others.map(col)), side(rhs, 1, nullLefts)) ++
      carries.map(side(_, 0, nullLefts))).reduce(_ union _)
      .withColumn("_payload", last(col("_payload"), ignoreNulls = true).over(w))
      .filter(col("_side") === 2)
      .select(Seq(col(key)) ++ others.map(col) ++
        rightPayload.map(c => col(s"_payload.$c").as(c)): _*)
  }

  // ------------------------------------------------------------------
  // Registry queries: join every event to the hourly per-type average
  // current at its timestamp, then report the per-type deviation of
  // each event from that rate, in each of the four configurations.
  // Backward: rts = hour start ≤ ts always, so inner semantics keep
  // every event. Forward (the outcome/label join): the NEXT rate
  // published at-or-after the event; events in the stream's final
  // partial hour have no next rate and drop out — both engines agree
  // because the filter is explicit. The bucketed rows use 1-day
  // buckets (|event_types|·|days| window tasks instead of
  // |event_types|) and share their direction's oracle: DuckDB's
  // native ASOF JOIN, which each row hash-matches independently.
  // ------------------------------------------------------------------
  private val DayUs: Long = 24L * 3600 * 1000000

  private def deviationReport(direction: Direction, bucketWidth: Option[Long]): Q = Q(
    (s, d) => {
      val ev = Inventory.events(s, d)
      val rates = ev
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("rts"))
        .agg(roundPortable(avgExact(col("value")), 2).as("hourly_avg"))
      asofJoin(
        ev.select("event_type", "ts", "event_id", "value"),
        rates, key = "event_type", leftTs = "ts", rightTs = "rts",
        rightPayload = Seq("hourly_avg"), direction, bucketWidth)
        .filter(col("hourly_avg").isNotNull)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          roundPortable(avgExact(col("value") - col("hourly_avg")), 4).as("avg_deviation"),
          roundPortable(max(abs(col("value") - col("hourly_avg"))), 2).as("max_deviation"))
        .orderBy("event_type")
    },
    Some(s"""WITH rates AS (
           |  SELECT event_type, date_trunc('hour', ts) AS rts,
           |    floor(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) * 100 + 0.5) / 100 AS hourly_avg
           |  FROM events GROUP BY 1, 2
           |)
           |SELECT e.event_type, count(*) AS n_events,
           |  floor(CAST(sum(CAST(e.value - r.hourly_avg AS DECIMAL(18,2))) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS avg_deviation,
           |  floor(max(abs(e.value - r.hourly_avg)) * 100 + 0.5) / 100 AS max_deviation
           |FROM events e ASOF JOIN rates r
           |  ON e.event_type = r.event_type AND e.ts ${if (direction == Forward) "<=" else ">="} r.rts
           |GROUP BY 1 ORDER BY 1""".stripMargin)
  )

  val eventsAsofRates: Q = deviationReport(Backward, None)
  val eventsAsofRatesBucketed: Q = deviationReport(Backward, Some(DayUs))
  val eventsAsofNext: Q = deviationReport(Forward, None)
  val eventsAsofNextBucketed: Q = deviationReport(Forward, Some(DayUs))

  // ------------------------------------------------------------------
  // NEAREST-in-time as-of: each click matched to the CLOSER of its
  // latest-preceding and earliest-following purchase by the same user
  // — the feature-joining / sensor-fusion staple ("the reading nearest
  // this event", direction unknown a priori). COMPOSED from the two
  // directed joins per the build rules: one backward pass
  // ([[Backward]]) carries (prev_id, prev_ts), one forward pass
  // ([[Forward]]) carries (next_id, next_ts), and a pure
  // projection picks the smaller |Δt| (tie → backward: no lookahead
  // unless strictly closer). delta_us is SIGNED — negative means the
  // match precedes the click. Harness (user_id, ts) purchase pairs are
  // unique at µs precision (checked all SFs), so the match is
  // deterministic without a payload tiebreak.
  //
  // Scale: two key-partitioned window passes (the directed joins'
  // documented one-shuffle cost each; the forward pass reuses the
  // hash partitioning, adding only its reversed sort) plus a codegen
  // projection — no range explosion, no broadcast requirement. A
  // bucket width slots in identically if the key set is small.
  // ------------------------------------------------------------------
  val eventsAsofNearest: Q = Q(
    (s, d) => {
      val ev = Inventory.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "event_id", "ts")
      val purch = ev.filter(col("event_type") === "purchase")
      val withPrev = asofJoin(clicks,
        purch.select(col("user_id"), col("event_id").as("prev_id"), col("ts").as("prev_ts")),
        key = "user_id", leftTs = "ts", rightTs = "prev_ts",
        rightPayload = Seq("prev_id", "prev_ts"), Backward)
      val both = asofJoin(withPrev,
        purch.select(col("user_id"), col("event_id").as("next_id"), col("ts").as("next_ts")),
        key = "user_id", leftTs = "ts", rightTs = "next_ts",
        rightPayload = Seq("next_id", "next_ts"), Forward)
      val dPrev = unix_micros(col("ts")) - unix_micros(col("prev_ts"))
      val dNext = unix_micros(col("next_ts")) - unix_micros(col("ts"))
      val usePrev = col("next_id").isNull || (col("prev_id").isNotNull && dPrev <= dNext)
      both.select(col("user_id"), col("event_id"),
        when(usePrev, col("prev_id")).otherwise(col("next_id")).as("nearest_id"),
        when(usePrev, -dPrev).otherwise(dNext).as("delta_us"),
        when(col("prev_id").isNull && col("next_id").isNull, lit(null).cast("string"))
          .when(usePrev, lit("backward")).otherwise(lit("forward")).as("direction"))
        .orderBy("event_id")
    },
    Some("""WITH c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
           |p AS (SELECT user_id, event_id AS p_id, ts AS p_ts FROM events WHERE event_type = 'purchase'),
           |b AS (SELECT c.user_id, c.event_id, c.ts, p.p_id AS prev_id, p.p_ts AS prev_ts
           |      FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.p_ts),
           |f AS (SELECT c.event_id, p.p_id AS next_id, p.p_ts AS next_ts
           |      FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.p_ts),
           |j AS (SELECT b.user_id, b.event_id, b.ts, b.prev_id, b.prev_ts, f.next_id, f.next_ts,
           |             (f.next_id IS NULL OR (b.prev_id IS NOT NULL AND
           |               epoch_us(b.ts) - epoch_us(b.prev_ts) <= epoch_us(f.next_ts) - epoch_us(b.ts)))
           |               AS use_prev
           |      FROM b JOIN f USING (event_id))
           |SELECT user_id, event_id,
           |  CASE WHEN use_prev THEN prev_id ELSE next_id END AS nearest_id,
           |  CASE WHEN use_prev THEN -(epoch_us(ts) - epoch_us(prev_ts))
           |       ELSE epoch_us(next_ts) - epoch_us(ts) END AS delta_us,
           |  CASE WHEN prev_id IS NULL AND next_id IS NULL THEN NULL
           |       WHEN use_prev THEN 'backward' ELSE 'forward' END AS direction
           |FROM j ORDER BY event_id""".stripMargin)
  )

  // ------------------------------------------------------------------
  // TOLERANCE-bounded as-of: the backward join with a staleness cap —
  // pandas `merge_asof(tolerance=...)` / polars `join_asof(tolerance)`
  // semantics, the missing member of the directed/bucketed/nearest
  // family. A preceding match older than the tolerance is DISCARDED
  // (not replaced by an older one): attribution windows, sensor
  // staleness gates, feature-freshness SLAs. Composed per the build
  // rules: the one-shuffle backward primitive carries (id, ts), and a
  // pure codegen projection gates on Δt — the tolerance adds ZERO
  // plan cost over the plain as-of. Statuses distinguish "no prior
  // purchase ever" (none) from "prior purchase too stale" (expired).
  // Harness (user_id, ts) purchase pairs are unique at µs precision
  // (the eventsAsofNearest check), so no payload tiebreak is needed.
  // ------------------------------------------------------------------
  val TolUs: Long = 6L * 3600 * 1000000 // 6 hours

  val eventsAsofTolerance: Q = Q(
    (s, d) => {
      val ev = Inventory.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "event_id", "ts")
      val purch = ev.filter(col("event_type") === "purchase")
      val joined = asofJoin(clicks,
        purch.select(col("user_id"), col("event_id").as("prev_id"),
          col("ts").as("prev_ts"), col("value").as("prev_value")),
        key = "user_id", leftTs = "ts", rightTs = "prev_ts",
        rightPayload = Seq("prev_id", "prev_ts", "prev_value"), Backward)
      val dPrev = unix_micros(col("ts")) - unix_micros(col("prev_ts"))
      val within = col("prev_id").isNotNull && dPrev <= TolUs
      joined.select(col("user_id"), col("event_id"),
        when(within, col("prev_id")).as("purchase_id"),
        when(within, dPrev).as("delta_us"),
        when(within, col("prev_value")).as("purchase_value"),
        when(col("prev_id").isNull, "none").when(within, "matched")
          .otherwise("expired").as("match_status"))
        .orderBy("event_id")
    },
    Some(s"""WITH c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
            |p AS (SELECT user_id, event_id AS p_id, ts AS p_ts, value AS p_value
            |      FROM events WHERE event_type = 'purchase'),
            |b AS (SELECT c.user_id, c.event_id, c.ts, p.p_id, p.p_ts, p.p_value
            |      FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.p_ts)
            |SELECT user_id, event_id,
            |  CASE WHEN p_id IS NOT NULL AND epoch_us(ts) - epoch_us(p_ts) <= $TolUs
            |       THEN p_id END AS purchase_id,
            |  CASE WHEN p_id IS NOT NULL AND epoch_us(ts) - epoch_us(p_ts) <= $TolUs
            |       THEN epoch_us(ts) - epoch_us(p_ts) END AS delta_us,
            |  CASE WHEN p_id IS NOT NULL AND epoch_us(ts) - epoch_us(p_ts) <= $TolUs
            |       THEN p_value END AS purchase_value,
            |  CASE WHEN p_id IS NULL THEN 'none'
            |       WHEN epoch_us(ts) - epoch_us(p_ts) <= $TolUs THEN 'matched'
            |       ELSE 'expired' END AS match_status
            |FROM b ORDER BY event_id""".stripMargin)
  )

  val queries: Seq[(String, Q)] = Seq(
    "events_asof_rates" -> eventsAsofRates,
    "events_asof_rates_bucketed" -> eventsAsofRatesBucketed,
    "events_asof_next" -> eventsAsofNext,
    "events_asof_next_bucketed" -> eventsAsofNextBucketed,
    "events_asof_nearest" -> eventsAsofNearest,
    "events_asof_tolerance" -> eventsAsofTolerance)

}
