package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.Streams

/** Structured Streaming twins vs their batch equivalents: feed the
  * same rows through a MemoryStream and through the batch expression;
  * results must agree (the batch path is DuckDB-oracle-verified, so
  * agreement extends the oracle to the streaming path).
  */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

class StreamingSpec extends SparkSpec {

  private val rows = Seq(
    Ev(1L, Timestamp.valueOf("2024-01-01 00:10:00"), 1L, "click", 10.0),
    Ev(2L, Timestamp.valueOf("2024-01-01 00:40:00"), 2L, "click", 20.0),
    Ev(3L, Timestamp.valueOf("2024-01-01 01:05:00"), 1L, "view", 165.5),
    Ev(4L, Timestamp.valueOf("2024-01-01 01:20:00"), 3L, "click", 30.0),
    Ev(5L, Timestamp.valueOf("2024-01-01 02:01:00"), 2L, "view", 5.25))

  test("streaming hourly window agg equals the batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(rows: _*)

    val q = Streams.hourlyWindowed(mem.toDF())
      .writeStream.format("memory").queryName("hourly_stream")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("hourly_stream")
      .orderBy("hour", "event_type").collect().map(_.toString)
    // batch twin: same aggregation expressions, no watermark operator
    val expected = rows.toDF()
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.engine.Functions.roundPortable(graft.engine.Functions.avgExact(col("value")), 2).as("avg_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:00").as("hour"),
        col("event_type"), col("n_events"), col("avg_value"))
      .orderBy("hour", "event_type").collect().map(_.toString)
    assert(streamed.toSeq === expected.toSeq)
  }

  test("streamed HLL cells merge to the exact distinct counts (sketch-layer contract)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(rows: _*)
    val q = Streams.sketchCells(mem.toDF())
      .writeStream.format("memory").queryName("sketch_cells")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    // batch rollup over the STREAM-BUILT cells (never re-reads events)
    val merged = spark.table("sketch_cells")
      .groupBy("event_type")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("approx_users"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = rows.toDF().groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged.keySet === exact.keySet)
    // at these cardinalities the sketch is in exact (sparse) mode
    exact.foreach { case (k, n) => assert(merged(k) === n, s"$k: ${merged(k)} != $n") }
  }

  test("streaming session windows split on the 30-minute gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // user 1: events at 00:10 and 01:05 — 55-min gap → 2 sessions
    mem.addData(rows: _*)
    val q = Streams.sessionized(mem.toDF())
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_stream")
    assert(got.filter(col("user_id") === 1L).count() === 2)
    assert(got.agg(sum("n_events")).head.getLong(0) === rows.length)
  }

  test("flatMapGroupsWithState keeps running per-user totals across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val q = Streams.runningTotals(mem.toDS())
      .writeStream.format("memory").queryName("totals_stream")
      .outputMode("append").start()
    mem.addData((1L, 10.0), (1L, 5.0), (2L, 1.0))
    q.processAllAvailable()
    mem.addData((1L, 2.5))
    q.processAllAvailable()
    q.stop()
    val last = spark.table("totals_stream")
      .groupBy("user_id").agg(max("n_events").as("n"), max("total_value").as("t"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(last(1L) === ((3L, 17.5))) // state carried across micro-batches
    assert(last(2L) === ((1L, 1.0)))
  }

  test("streaming dedup drops replayed event_ids within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.dedupedEvents(mem.toDF())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    mem.addData(rows.take(3): _*) // replay: same event_ids re-delivered
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_stream").select("event_id").as[Long].collect().sorted
    assert(ids.toSeq === rows.map(_.event_id).sorted)
  }

  test("crawl-frontier gate: variant spellings collapse to one pass per canonical URL; replays drop") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    // two logical pages, four spellings (case, default port, tracking
    // params, duplicate slashes, fragments) — same noise classes the
    // batch row's oracle replays
    val urls = Seq(
      (1L, "HTTP://A.example:80/x/index.html?b=2&a=1&utm_source=s", ts("2024-01-01 10:00:00")),
      (2L, "http://a.EXAMPLE/x?a=1&b=2#frag", ts("2024-01-01 10:00:01")),
      (3L, "https://b.org:443//", ts("2024-01-01 10:00:02")),
      (4L, "https://B.ORG/", ts("2024-01-01 10:00:03")))
    val mem = MemoryStream[(Long, String, Timestamp)]
    val q = Streams.frontierUrls(mem.toDF().toDF("id", "url", "ts"))
      .writeStream.format("memory").queryName("frontier_stream")
      .outputMode("append").start()
    mem.addData(urls: _*)
    q.processAllAvailable()
    mem.addData(urls: _*) // full replay: every spelling re-delivered
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("frontier_stream")
      .select("canonical_url").as[String].collect().sorted.toSeq
    // exactly one pass per canonical page, and the canonical forms are
    // the batch expression's (same code path — Dedup.canonicalUrl)
    assert(kept === Seq("http://a.example/x?a=1&b=2", "https://b.org/"))
  }

  test("semantic router: stream assignment row-identical to the batch argmax") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = sf("0.01")
    val e = graft.queries.Inventory.rebalanced(
      spark.read.parquet(s"$d/embeddings.parquet"), "vec_id")
    val centsDf = graft.ext.KMeans.trained(e)
    val cents = centsDf.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    val batch = graft.ext.KMeans.assign(e, centsDf)
      .select("vec_id", "cluster", "csim").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = Streams.semanticRouter(mem.toDF().toDF("vec_id", "embedding"), cents)
      .writeStream.format("memory").queryName("router_stream")
      .outputMode("append").start()
    mem.addData(e.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val routed = spark.table("router_stream")
      .select("vec_id", "cluster", "csim").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    assert(routed.size === batch.size)
    routed.foreach { case (id, got) =>
      assert(got === batch(id), s"vec $id routed to $got, batch says ${batch(id)}")
    }
  }

  test("stateless high-value filter streams through") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(rows: _*)
    val q = Streams.highValueEvents(mem.toDF())
      .writeStream.format("memory").queryName("hv_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("hv_stream").select("event_id").as[Long].collect().sorted
    assert(got.toSeq === Seq(3L))
  }

  test("stream-stream interval join attributes clicks to in-window views only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = Seq(
      Ev(10L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "view", 0.0),
      Ev(11L, Timestamp.valueOf("2024-01-01 00:30:00"), 2L, "view", 0.0))
    val clicks = Seq(
      Ev(20L, Timestamp.valueOf("2024-01-01 00:10:00"), 1L, "click", 0.0), // in window of 10
      Ev(21L, Timestamp.valueOf("2024-01-01 00:50:00"), 1L, "click", 0.0), // 50 min after 10 — out
      Ev(22L, Timestamp.valueOf("2024-01-01 00:40:00"), 2L, "click", 0.0)) // in window of 11
    val vMem = MemoryStream[Ev]
    val cMem = MemoryStream[Ev]
    vMem.addData(views: _*)
    cMem.addData(clicks: _*)
    val q = Streams.attributedClicks(vMem.toDF(), cMem.toDF())
      .writeStream.format("memory").queryName("attr_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("attr_stream")
      .select("click_id", "view_id").orderBy("click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((20L, 10L), (22L, 11L)))
    // batch twin: identical join expressions over static frames
    val batch = Streams.attributedClicks(views.toDF(), clicks.toDF())
      .select("click_id", "view_id").orderBy("click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(batch === got)
  }

  test("stream-static enrichment joins each event to its snapshot rate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rates = Seq(("click", 20.0), ("view", 85.0)).toDF("event_type", "avg_value")
    val mem = MemoryStream[Ev]
    mem.addData(rows: _*)
    val q = Streams.enrichedAgainstSnapshot(mem.toDF(), rates)
      .writeStream.format("memory").queryName("enr_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("enr_stream")
      .orderBy("event_id").collect().map(_.toString).toSeq
    // batch twin: identical expressions over the same rows
    val expected = Streams.enrichedAgainstSnapshot(rows.toDF(), rates)
      .orderBy("event_id").collect().map(_.toString).toSeq
    assert(got === expected)
    assert(got.length === rows.length) // left join keeps every event
  }

  test("streaming sliding-window totals equal the batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(rows: _*)
    val q = Streams.slidingTotals(mem.toDF())
      .writeStream.format("memory").queryName("slide_stream")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("slide_stream")
      .orderBy("win_start", "event_type").collect().map(_.toString).toSeq
    // batch twin: same sliding-window expressions, no watermark operator
    val expected = rows.toDF()
      .groupBy(window(col("ts"), "3 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:00").as("win_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:00").as("win_end"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("win_start", "event_type").collect().map(_.toString).toSeq
    assert(got === expected)
    // each event lands in duration/slide = 3 windows
    val total = spark.table("slide_stream").agg(sum("n_events")).head.getLong(0)
    assert(total === rows.length * 3L)
  }

  test("streaming gopher gate passes exactly the docs the batch query passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // real harness documents, so the gate decisions tested here are the
    // ones the oracle-verified text_gopher_rules query published
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text").limit(100)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs: _*)
    val q = Streams.gatedDocuments(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("gate_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("gate_stream").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val expected = graft.ext.TextAnalysis.gopherRules.build(spark, sf())
      .filter(col("gopher_pass") && col("doc_id").isin(docs.map(_._1): _*))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(expected.nonEmpty && expected.size < docs.size,
      "gate degenerate on the sample")
    assert(streamed === expected)
  }

  test("event-time-timeout session closure: in-batch gaps close inline, idle users close by watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, Timestamp)]
    val watermarked = mem.toDS()
      .withWatermark("_2", "5 seconds").as[(Long, Timestamp)]
    val q = Streams.closedSessions(watermarked)
      .writeStream.format("memory").queryName("closed_sess")
      .outputMode("append").start()
    // batch 1: user 1 twice (one open session), user 2 once
    mem.addData((1L, ts("2024-01-01 00:00:00")), (1L, ts("2024-01-01 00:10:00")),
      (2L, ts("2024-01-01 00:05:00")))
    q.processAllAvailable()
    // batch 2: user 1 returns after 50 min — closes session 1 INLINE;
    // also advances the max event time so the NEXT batch's watermark
    // (01:00 − 5 s) passes user 2's 00:35 alarm
    mem.addData((1L, ts("2024-01-01 01:00:00")))
    q.processAllAvailable()
    // batch 3: unrelated user; user 2's timeout fires this batch
    mem.addData((3L, ts("2024-01-01 02:00:00")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("closed_sess")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    val t0 = ts("2024-01-01 00:00:00").getTime
    assert(got === Seq(
      (1L, t0, t0 + 10 * 60 * 1000, 2L),     // inline gap closure (batch 2)
      (1L, t0 + 60 * 60 * 1000, t0 + 60 * 60 * 1000, 1L), // timer: the no-data
      // micro-batch after batch 3 advances the watermark to 01:59:55,
      // past this session's 01:30 alarm
      (2L, t0 + 5 * 60 * 1000, t0 + 5 * 60 * 1000, 1L))) // timer (batch 3)
    // user 3 (alarm 02:30 > final watermark) is still open: not emitted
  }

  test("session closure folds a cross-batch straggler by widening, never moving the end backward") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, Timestamp)]
    val watermarked = mem.toDS()
      .withWatermark("_2", "5 seconds").as[(Long, Timestamp)]
    val q = Streams.closedSessions(watermarked)
      .writeStream.format("memory").queryName("straggler_sess")
      .outputMode("append").start()
    // batch 1 opens the session at 00:20 (watermark after: 00:19:55)
    mem.addData((7L, ts("2024-01-01 00:20:00")))
    q.processAllAvailable()
    // batch 2: a straggler INSIDE the watermark but BEFORE the session
    // start — must widen session_start, not drag last_ts backward
    // (the pre-fix fold produced session_end < session_start here)
    mem.addData((7L, ts("2024-01-01 00:19:57")))
    q.processAllAvailable()
    // batch 3: 70 min later — closes the session inline
    mem.addData((7L, ts("2024-01-01 01:30:00")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("straggler_sess")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === Seq(
      (7L, ts("2024-01-01 00:19:57").getTime, ts("2024-01-01 00:20:00").getTime, 2L)))
  }

  test("streaming decayed counters audit against the batch query at sf0.001") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = sf()
    val ev = graft.queries.Inventory.events(spark, d)
      .select(col("event_type"), unix_micros(col("ts")).as("us"))
      .as[(String, Long)].collect().sortBy(_._2)
    val (first, second) = ev.splitAt(ev.length / 2)
    val mem = MemoryStream[(String, Long)]
    val q = Streams.decayedCounters(mem.toDS())
      .writeStream.format("memory").queryName("decay_stream")
      .outputMode("append").start()
    mem.addData(first.toSeq: _*)
    q.processAllAvailable()
    mem.addData(second.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    // last state per type, advanced to the GLOBAL reference (each
    // type's counter is held at its own max event time)
    val lam = math.log(2.0) / graft.ext.Sessions.HalfLifeDays
    val globalRef = ev.map(_._2).max
    val fin = spark.table("decay_stream")
      .groupBy("event_type")
      .agg(max(struct(col("ref_us"), col("n_events"), col("decayed"))).as("s"))
      .select(col("event_type"), col("s.n_events"), col("s.decayed"), col("s.ref_us"))
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getDouble(2) * math.exp(-(lam * ((globalRef - r.getLong(3)).toDouble / 86400e6))))))
      .toMap
    // the batch query is the from-scratch ground truth (6dp-gridded
    // weights leave ~1e-6-per-event slack vs the streaming fold)
    val batch = graft.ext.Sessions.decayedCounts.build(spark, d).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2))))
    assert(batch.nonEmpty)
    batch.foreach { case (tpe, (n, dc)) =>
      val (sn, sdc) = fin(tpe)
      assert(sn === n, s"$tpe: streaming saw $sn events, batch $n")
      assert(math.abs(sdc - dc) < 1e-3 * n, s"$tpe: streaming $sdc vs batch $dc")
    }
  }

  test("streaming streak counters audit against the batch query at sf0.001") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = sf()
    // (user, epoch_day) presence rows in event-time order — the shape a
    // watermarked day-grid dedup feeds the counter in production
    val presence = graft.queries.Inventory.events(spark, d)
      .select(col("user_id"), datediff(to_date(col("ts")), lit("1970-01-01")).as("day"))
      .as[(Long, Int)].collect().sortBy(_._2)
    val (first, second) = presence.splitAt(presence.length / 2)
    val mem = MemoryStream[(Long, Int)]
    val q = Streams.streakCounters(mem.toDS())
      .writeStream.format("memory").queryName("streak_stream")
      .outputMode("append").start()
    mem.addData(first.toSeq: _*)
    q.processAllAvailable()
    mem.addData(second.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    // last emitted state per user (last_day advances monotonically;
    // ties broken by active_days, which also only grows)
    val fin = spark.table("streak_stream")
      .groupBy("user_id")
      .agg(max(struct(col("last_day"), col("active_days"), col("n_streaks"),
        col("longest_streak"))).as("s"))
      .select(col("user_id"), col("s.n_streaks"), col("s.longest_streak"), col("s.active_days"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val batch = graft.ext.Sessions.streaks.build(spark, d).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
    assert(batch.nonEmpty)
    batch.foreach { case (user, (nStreaks, longest, activeDays)) =>
      val (sn, sl, sa) = fin(user)
      assert(sn === nStreaks, s"user $user: streaming $sn streaks, batch $nStreaks")
      assert(sl === longest, s"user $user: streaming longest $sl, batch $longest")
      assert(sa === activeDays, s"user $user: streaming $sa active days, batch $activeDays")
    }
  }

  test("streaming as-of enrichment audits against the batch asofJoin at sf0.001") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = sf()
    // event-time-ordered tagged stream (purchases side 0, clicks side
    // 1) — the shape a watermarked reorder feeds in production
    val tagged = graft.queries.Inventory.events(spark, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        when(col("event_type") === "purchase", 0).otherwise(1).as("side"),
        col("event_id"), col("value"))
      .as[Streams.AsOfRow].collect().sortBy(r => (r.ts_us, r.side, r.event_id))
    val (first, second) = tagged.splitAt(tagged.length / 2)
    val mem = MemoryStream[Streams.AsOfRow]
    val q = Streams.asofEnrichedClicks(mem.toDS())
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    mem.addData(first.toSeq: _*)
    q.processAllAvailable()
    mem.addData(second.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("asof_stream").collect()
      .map(r => r.getLong(1) -> (if (r.isNullAt(3)) None
        else Some((r.getLong(3), r.getLong(4), r.getDouble(5))))).toMap
    // batch ground truth: the oracle-verified as-of operator itself
    val ev = graft.queries.Inventory.events(spark, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
    val expected = graft.ext.AsOf.asofJoin(clicks, purchases,
        key = "user_id", leftTs = "ts", rightTs = "pts",
        rightPayload = Seq("purchase_id", "pts", "purchase_value"),
        direction = graft.ext.AsOf.Backward)
      .select(col("click_id"), col("purchase_id"),
        unix_micros(col("pts")).as("pus"), col("purchase_value"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some((r.getLong(1), r.getLong(2), r.getDouble(3))))).toMap
    assert(expected.nonEmpty && expected.values.exists(_.isDefined),
      "fixture must produce at least one enriched click")
    assert(streamed.size === expected.size,
      s"streaming emitted ${streamed.size} clicks, batch ${expected.size}")
    expected.foreach { case (cid, exp) =>
      assert(streamed(cid) === exp, s"click $cid: streaming ${streamed(cid)} vs batch $exp")
    }
  }

  test("streaming near-dup gate: JVM signatures bit-match lshBands; hits are the first-claimant pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = sf()
    val docsDf = spark.read.parquet(s"$d/documents.parquet")
    val docs = docsDf.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    // 1) bit-parity: the JVM signature path must produce EXACTLY the
    // (band, key) rows the Catalyst lshBands pipeline produces
    val batchKeys = graft.ext.Dedup.lshBands(
        graft.ext.Dedup.shinglePostsDf(docsDf, graft.ext.Dedup.hash60))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).toSet).toMap
    val jvmKeys = docs.map { case (id, text) =>
      id -> graft.ext.Dedup.bandKeysJvm(
        graft.ext.Dedup.minhashSignatureJvm(text)).toSet
    }.toMap
    assert(jvmKeys.filter(_._2.nonEmpty) === batchKeys,
      "JVM signature path diverged from the Catalyst lshBands pipeline")
    // parity must hold for whitespace the fixtures don't exercise:
    // SQL trim strips ONLY spaces and SQL split keeps trailing empty
    // tokens, so a trailing '\n' yields tokens [..., ""] and shingles
    // like "b c " — a String.trim/split replica would mis-bucket these
    val nasty = Seq(
      901L -> "alpha beta gamma delta\n",
      902L -> "\talpha beta gamma",
      903L -> "  alpha beta gamma epsilon  ",
      904L -> "alpha  beta gamma\r\n",
      905L -> "ALPHA Beta gamma")
    val nastyBatch = graft.ext.Dedup.lshBands(
        graft.ext.Dedup.shinglePostsDf(
          nasty.toDF("doc_id", "text"), graft.ext.Dedup.hash60))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).toSet).toMap
    val nastyJvm = nasty.map { case (id, text) =>
      id -> graft.ext.Dedup.bandKeysJvm(
        graft.ext.Dedup.minhashSignatureJvm(text)).toSet
    }.filter(_._2.nonEmpty).toMap
    assert(nastyJvm === nastyBatch,
      "JVM signature path diverged on leading/trailing whitespace edge cases")
    // 2) gate semantics: feeding doc_id order, hits must be exactly
    // { (member, min-member) } per batch bucket, deduplicated by band
    val expected = batchKeys.toSeq
      .flatMap { case (id, keys) => keys.map(k => (k, id)) }
      .groupBy(_._1).values
      .flatMap { members =>
        val ids = members.map(_._2).sorted
        ids.tail.map(m => (m, ids.head))
      }.toSet
    val (first, second) = docs.splitAt(docs.length / 2)
    val mem = MemoryStream[(Long, String)]
    val q = Streams.nearDupGate(mem.toDS())
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    mem.addData(first.toSeq: _*)
    q.processAllAvailable()
    mem.addData(second.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val hits = spark.table("neardup_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(expected.nonEmpty, "fixture must produce at least one colliding bucket")
    assert(hits.map(h => (h._1, h._2)).toSet === expected,
      "streaming hits must be the batch buckets' first-claimant pairs")
    // 3) est_sim is the signature-agreement fraction, recomputed here
    val sigs = docs.map { case (id, t) => id -> graft.ext.Dedup.minhashSignatureJvm(t) }.toMap
    hits.foreach { case (doc, first0, est) =>
      val (a, b) = (sigs(doc), sigs(first0))
      val agree = a.indices.count(i => a(i) == b(i))
      assert(est === agree.toDouble / graft.ext.Dedup.NumHashes, s"pair ($doc,$first0)")
      // a band collision means both of that band's components agree
      assert(est >= 2.0 / graft.ext.Dedup.NumHashes - 1e-9,
        s"colliding pair ($doc,$first0) must share at least its banding evidence")
    }
  }

  test("streaming classifier gate bit-agrees with the batch quality classifier at sf0.001") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = sf()
    val docsDf = spark.read.parquet(s"$d/documents.parquet")
    // train batch-side, ship as exact micro-units (DECIMAL(18,6) grid)
    val model = graft.ext.Pipelines.nbQualityModel(
      graft.ext.Pipelines.nbFeats(graft.ext.Pipelines.nbLabeled(docsDf)))
      .collect()
      .map(r => r.getString(0) -> r.getDecimal(1).unscaledValue().longValueExact()).toMap
    // (at sf0.001 the vocab never reaches the cap, so no <unk> row
    // exists and unseen tokens score the neutral 0 — irrelevant here,
    // the audit replays exactly the training corpus)
    val rows = docsDf.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.Streams.classifierGatedDocuments(mem.toDS(), model)
      .writeStream.format("memory").queryName("nb_gate_stream")
      .outputMode("append").start()
    val (first, second) = rows.splitAt(rows.length / 2)
    mem.addData(first.toSeq: _*)
    q.processAllAvailable()
    mem.addData(second.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("nb_gate_stream")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    val batch = graft.ext.Pipelines.qualityClassifier.build(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    assert(batch.length === rows.length && streamed.size === rows.length)
    def g6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    batch.foreach { case (id, nTok, score, pred) =>
      val (sn, sMicro, sKeep) = streamed(id)
      assert(sn === nTok, s"doc $id token count")
      assert(sKeep === pred, s"doc $id decision")
      assert(g6(sMicro.toDouble / 1e6 / sn) === score, s"doc $id score")
    }
  }

  test("streaming Holt counters: per-day levels bit-agree with the batch recursion") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = sf()
    val daily = graft.queries.Inventory.events(spark, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate.toEpochDay.toInt, r.getLong(2)))
      .sortBy(_._2)
    val (first, second) = daily.splitAt(daily.length / 2)
    val mem = MemoryStream[(String, Int, Long)]
    val q = Streams.holtCounters(mem.toDS())
      .writeStream.format("memory").queryName("holt_stream")
      .outputMode("append").start()
    mem.addData(first.toSeq: _*)
    q.processAllAvailable()
    mem.addData(second.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    // one emission per folded day; dedupe on (type, day) keeping the
    // deepest fold (n_days) in case a batch straggler re-emitted state
    val streamed = spark.table("holt_stream")
      .groupBy("event_type", "last_day")
      .agg(max(struct(col("n_days"), col("level"), col("trend"))).as("s"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getStruct(2).getDouble(1), r.getStruct(2).getDouble(2))).toMap
    def g6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val batch = graft.ext.Sessions.forecastHolt.build(spark, d).collect()
    assert(batch.nonEmpty)
    batch.foreach { row =>
      val key = (row.getString(0), java.time.LocalDate.parse(row.getString(1)).toEpochDay.toInt)
      val (lvl, trd) = streamed(key)
      assert(g6(lvl) === row.getDouble(3), s"$key level")
      assert(g6(trd) === row.getDouble(4), s"$key trend")
    }
  }

  test("streaming cadence counters: exact integer sums reproduce the batch cv") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = sf()
    val evs = graft.queries.Inventory.events(spark, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .as[(Long, Long)].collect().sortBy(_._2)
    val (first, second) = evs.splitAt(evs.length / 2)
    val mem = MemoryStream[(Long, Long)]
    val q = Streams.cadenceCounters(mem.toDS())
      .writeStream.format("memory").queryName("cadence_stream")
      .outputMode("append").start()
    mem.addData(first.toSeq: _*)
    q.processAllAvailable()
    mem.addData(second.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    // final state per user = deepest fold (n_gaps only grows)
    val fin = spark.table("cadence_stream")
      .groupBy("user_id")
      .agg(max(struct(col("n_gaps"), col("sg"), col("sgg"))).as("s"))
      .collect()
      .map(r => r.getLong(0) -> (r.getStruct(1).getLong(0), r.getStruct(1).getLong(1),
        r.getStruct(1).getLong(2))).toMap
    def g6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val batch = graft.ext.Sessions.cadence.build(spark, d).collect()
    assert(batch.nonEmpty)
    batch.foreach { row =>
      val (n, sg, sgg) = fin(row.getLong(0))
      assert(n === row.getLong(1), s"user ${row.getLong(0)} n_gaps")
      val mean = sg.toDouble / n.toDouble
      val cv = math.sqrt(sgg.toDouble / n.toDouble - mean * mean) / mean
      assert(g6(mean) === row.getDouble(2), s"user ${row.getLong(0)} mean")
      assert(g6(cv) === row.getDouble(3), s"user ${row.getLong(0)} cv")
    }
  }

  test("streaming SpaceSaving hitters: exact parity with the batch top-k at full capacity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = sf()
    val toks = spark.read.parquet(s"$d/documents.parquet")
      .select(explode(graft.ext.TextAnalysis.tokens(col("text"))).as("term"))
      .as[String].collect()
    val (first, second) = toks.splitAt(toks.length / 2)
    val mem = MemoryStream[String]
    val q = Streams.spaceSavingHitters(mem.toDS(), shards = 4, capacity = 256)
      .writeStream.format("memory").queryName("hitters_stream")
      .outputMode("append").start()
    mem.addData(first.toSeq: _*)
    q.processAllAvailable()
    mem.addData(second.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    // final summary = max est per (shard, term): est only grows while
    // a term stays resident, and at this capacity nothing is evicted
    val fin = spark.table("hitters_stream")
      .groupBy("shard", "term").agg(max(col("est")).as("est"), max(col("err")).as("err"))
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(fin.forall(_._3 == 0L), "err must be 0 when nothing is evicted")
    val exact = toks.groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    assert(fin.length === exact.size)
    fin.foreach { case (t, est, _) => assert(est === exact(t), s"term $t count") }
    // global top-10 over the shard-summary union == the batch query's
    // exact re-ranked top-10 (which is DuckDB-oracle-verified)
    val top = fin.sortBy { case (t, est, _) => (-est, t) }.take(10).map(x => (x._1, x._2)).toSeq
    val batch = graft.ext.TextAnalysis.heavyHitters.build(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(top === batch)
  }

  test("streaming SpaceSaving hitters: eviction invariants hold at tiny capacity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = sf()
    val toks = spark.read.parquet(s"$d/documents.parquet")
      .select(explode(graft.ext.TextAnalysis.tokens(col("text"))).as("term"))
      .as[String].collect()
    val mem = MemoryStream[String]
    val q = Streams.spaceSavingHitters(mem.toDS(), shards = 1, capacity = 4)
      .writeStream.format("memory").queryName("hitters_tiny_stream")
      .outputMode("append").start()
    mem.addData(toks.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val fin = spark.table("hitters_tiny_stream")
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    val exact = toks.groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    // bounded summary; every arrival lands exactly one increment
    assert(fin.length <= 4)
    assert(fin.map(_._2).sum === toks.length.toLong, "Σ est must equal items seen")
    fin.foreach { case (t, est, err) =>
      val truth = exact(t)
      assert(est >= truth, s"term $t: est $est below true count $truth")
      assert(est - err <= truth, s"term $t: est-err ${est - err} above true count $truth")
    }
  }

  test("streaming count-min cells bit-match the batch sketch; registry estimates re-derive") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = sf()
    // tokens via the BATCH tokenizer (UTF8String semantics), shuffled
    // deterministically — CMS updates are commutative, so order must
    // not matter and the audit feeds a scrambled stream on purpose
    val toks = spark.read.parquet(s"$d/documents.parquet")
      .select(explode(graft.ext.TextAnalysis.tokens(col("text"))).as("t"))
      .as[String].collect()
    val scrambled = new scala.util.Random(99).shuffle(toks.toVector)
    val (first, second) = scrambled.splitAt(scrambled.length / 2)
    val mem = MemoryStream[String]
    val q = Streams.countminCells(mem.toDS())
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("append").start()
    mem.addData(first: _*)
    q.processAllAvailable()
    mem.addData(second: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cms_stream")
      .groupBy("dep", "cell").agg(max(col("n")).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    // batch cells, built exactly as the registry query builds them
    val batchCells = spark.read.parquet(s"$d/documents.parquet")
      .select(explode(graft.ext.TextAnalysis.tokens(col("text"))).as("t"))
      .select(explode(sequence(lit(0), lit(graft.ext.TextAnalysis.CmDepth - 1))).as("dep"), col("t"))
      .select(col("dep"),
        pmod(graft.ext.Dedup.hash60(concat(col("dep").cast("string"), lit(":"), col("t"))),
          lit(graft.ext.TextAnalysis.CmWidth.toLong)).as("cell"))
      .groupBy("dep", "cell").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed === batchCells, "streamed cells must bit-match the batch sketch")
    // the registry query's estimates re-derive from the streamed cells
    graft.ext.TextAnalysis.countminHitters.build(spark, d).collect().foreach { row =>
      val est = (0 until graft.ext.TextAnalysis.CmDepth).map { dep =>
        val h = graft.functions.Hash60.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(s"$dep:${row.getString(0)}"))
        streamed((dep, h % graft.ext.TextAnalysis.CmWidth.toLong))
      }.min
      assert(est === row.getLong(2), s"term ${row.getString(0)} estimate from streamed cells")
    }
  }

  test("streaming k-anonymity gate audits against the batch privacy audit at sf0.001") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = sf()
    val rowsQi = spark.read.parquet(s"$d/customer.parquet")
      .select(col("c_nationkey").cast("long"), col("c_mktsegment"))
      .as[(Long, String)].collect()
    val (first, second) = rowsQi.splitAt(rowsQi.length / 2)
    val mem = MemoryStream[(Long, String)]
    val q = Streams.kAnonymityCounters(mem.toDS())
      .writeStream.format("memory").queryName("kanon_stream")
      .outputMode("append").start()
    mem.addData(first.toSeq: _*)
    q.processAllAvailable()
    mem.addData(second.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val fin = spark.table("kanon_stream")
      .groupBy("nation_key", "segment")
      .agg(max(struct(col("n_members"), col("n_releasable"), col("k_anonymous"))).as("s"))
      .select(col("nation_key"), col("segment"), col("s.n_members"),
        col("s.n_releasable"), col("s.k_anonymous"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    val batch = graft.ext.Pipelines.kAnonymity.build(spark, d).collect()
    assert(batch.length === fin.size)
    batch.foreach { r =>
      val key = (r.getAs[Number](0).longValue, r.getString(1))
      val (n, releasable, anon) = fin(key)
      assert(n === r.getLong(2), s"class $key size")
      assert(anon === r.getBoolean(3), s"class $key verdict")
      assert(releasable === (if (anon) n else 0L), s"class $key release rule")
    }
  }

  test("streaming t-closeness cells audit against the batch privacy audit at sf0.001") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = sf()
    val rowsQi = spark.read.parquet(s"$d/customer.parquet")
      .select(col("c_nationkey").cast("long"), col("c_mktsegment"))
      .as[(Long, String)].collect()
    val (first, second) = rowsQi.splitAt(rowsQi.length / 2)
    val mem = MemoryStream[(Long, String)]
    val q = Streams.tClosenessCells(mem.toDS())
      .writeStream.format("memory").queryName("tclose_stream")
      .outputMode("append").start()
    mem.addData(first.toSeq: _*)
    q.processAllAvailable()
    mem.addData(second.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val cells = spark.table("tclose_stream")
      .groupBy("nation_key", "segment").agg(max(col("n")).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // the streamed cells must bit-match the batch (QI, sensitive) counts
    val batchCells = spark.read.parquet(s"$d/customer.parquet")
      .groupBy(col("c_nationkey").cast("long").as("nk"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(cells === batchCells, "streamed cells must bit-match the batch counts")
    // re-derive TV per class from the final cells with the batch
    // query's exact integer-micro algebra
    val nTotal = cells.values.sum
    val nSeg = cells.groupBy(_._1._2).map { case (s, m) => s -> m.values.sum }
    val nClass = cells.groupBy(_._1._1).map { case (c, m) => c -> m.values.sum }
    def micro(num: Long, den: Long) = math.floor(num.toDouble / den.toDouble * 1e6 + 0.5).toLong
    val qAll = nSeg.values.map(micro(_, nTotal)).sum
    val derived = nClass.map { case (cls, nc) =>
      val present = cells.collect { case ((c, s), n) if c == cls => (s, n) }
      val tvPresent = present.map { case (s, n) =>
        math.abs(micro(n, nc) - micro(nSeg(s), nTotal)) }.sum
      val qPresent = present.map { case (s, _) => micro(nSeg(s), nTotal) }.sum
      val tv = math.floor((tvPresent + (qAll - qPresent)).toDouble / 2e6 * 1e4 + 0.5) / 1e4
      cls -> (nc, tv, tv <= graft.ext.Pipelines.TCloseT)
    }
    val batch = graft.ext.Pipelines.tCloseness.build(spark, d).collect()
    assert(batch.length === derived.size)
    batch.foreach { r =>
      val cls = r.getAs[Number](0).longValue
      val (nc, tv, close) = derived(cls)
      assert(nc === r.getLong(1), s"class $cls size")
      assert(tv === r.getDouble(2), s"class $cls tv_distance")
      assert(close === r.getBoolean(3), s"class $cls verdict")
    }
  }

  test("streaming entropy cells audit against the batch daily entropy at sf0.001") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = sf()
    val rowsDt = graft.queries.Inventory.events(spark, d)
      .select(date_format(to_date(col("ts")), "yyyy-MM-dd"), col("event_type"))
      .as[(String, String)].collect()
    val (first, second) = rowsDt.splitAt(rowsDt.length / 2)
    val mem = MemoryStream[(String, String)]
    val q = Streams.entropyCells(mem.toDS())
      .writeStream.format("memory").queryName("entropy_stream")
      .outputMode("append").start()
    mem.addData(first.toSeq: _*)
    q.processAllAvailable()
    mem.addData(second.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val cells = spark.table("entropy_stream")
      .groupBy("day", "event_type").agg(max(col("n")).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // re-derive each day's entropy from the final cells with the batch
    // query's exact integer-micro term grid
    val ln2 = 0.6931471805599453
    val derived = cells.groupBy(_._1._1).map { case (day, m) =>
      val nd = m.values.sum
      val h6 = -m.values.map { n =>
        val p = n.toDouble / nd.toDouble
        math.floor(p * (math.log(p) / ln2) * 1e6 + 0.5).toLong
      }.sum
      day -> (nd, m.size.toLong, math.floor(h6.toDouble / 1e6 * 1e6 + 0.5) / 1e6)
    }
    val batch = graft.ext.Sessions.entropyDaily.build(spark, d).collect()
    assert(batch.length === derived.size)
    batch.foreach { r =>
      val day = r.getDate(0).toLocalDate.toString
      val (nd, types, h) = derived(day)
      assert(nd === r.getLong(1), s"$day n_events")
      assert(types === r.getLong(2), s"$day n_types")
      assert(h === r.getDouble(3), s"$day entropy")
    }
  }

  test("streaming dau/mau derives from the closed sketch-cell grid; equals batch at sf0.001") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = sf()
    val evRows = graft.queries.Inventory.events(spark, d)
      .select(col("ts").cast("timestamp"), col("event_type"), col("user_id"))
      .as[(Timestamp, String, Long)].collect()
    val (first, second) = evRows.splitAt(evRows.length / 2)
    val mem = MemoryStream[(Timestamp, String, Long)]
    val q = Streams.sketchCells(
      mem.toDF().toDF("ts", "event_type", "user_id"))
      .writeStream.format("memory").queryName("daumau_cells")
      .outputMode("complete").start()
    mem.addData(first.toSeq: _*)
    q.processAllAvailable()
    mem.addData(second.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    // the twin is a pure read over the STREAM-BUILT cells — no event
    // replay; at this cardinality the HLL sketches are in sparse
    // (exact) mode, so the derived grid must equal the batch registry
    // query row-for-row, 6dp ratio included
    val derived = Streams.dauMauFromCells(spark.table("daumau_cells"))
      .collect().map(_.toString).toSeq
    val batch = graft.ext.Sessions.dauMau.build(spark, d)
      .collect().map(_.toString).toSeq
    assert(derived.nonEmpty && derived === batch)
  }

  test("streaming charclass counters audit against the batch profile at sf0.001") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = sf()
    val rowsLt = spark.read.parquet(s"$d/documents.parquet")
      .select(col("lang"), col("text")).as[(String, String)].collect()
    val (first, second) = rowsLt.splitAt(rowsLt.length / 2)
    val mem = MemoryStream[(String, String)]
    val q = Streams.charclassCounters(mem.toDS())
      .writeStream.format("memory").queryName("charclass_stream")
      .outputMode("append").start()
    mem.addData(first.toSeq: _*)
    q.processAllAvailable()
    mem.addData(second.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    // latest state per lang (all fields monotone sums)
    val fin = spark.table("charclass_stream")
      .groupBy("lang")
      .agg(max(struct(col("n_docs"), col("n_chars"), col("nl"), col("nd"), col("ns"))).as("s"))
      .select(col("lang"), col("s.n_docs"), col("s.n_chars"),
        col("s.nl"), col("s.nd"), col("s.ns"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // the batch query's integer masses, rebuilt with the same regexes
    val batchMass = spark.read.parquet(s"$d/documents.parquet")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(length(col("text"))).as("n_chars"),
        sum(length(col("text")) - length(regexp_replace(col("text"), "[A-Za-z]", ""))).as("nl"),
        sum(length(col("text")) - length(regexp_replace(col("text"), "[0-9]", ""))).as("nd"),
        sum(length(col("text")) - length(regexp_replace(col("text"), "[ \\t\\n\\r]", ""))).as("ns"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(fin === batchMass, "streamed class masses must bit-match the batch counts")
    // the registry query's published ratios re-derive from the masses
    graft.ext.TextAnalysis.charclassProfile.build(spark, d).collect().foreach { r =>
      val (nDocs, nChars, nl, _, _) = fin(r.getString(0))
      assert(nDocs === r.getLong(1) && nChars === r.getLong(2))
      val lr = math.floor(nl.toDouble / nChars * 1e6 + 0.5) / 1e6
      assert(lr === r.getDouble(3), s"lang ${r.getString(0)} letter_ratio")
    }
  }

  test("streaming funnel counters audit against the batch funnel at sf0.001") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val d = sf()
    // event-time-ordered staged rows, stage-priority tiebreak at equal
    // timestamps (view anchors before a same-instant click counts —
    // the batch >= inclusivity)
    val staged = graft.queries.Inventory.events(spark, d)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"),
        when(col("event_type") === "view", 0)
          .when(col("event_type") === "click", 1).otherwise(2).as("stage"),
        unix_micros(col("ts")).as("us"))
      .as[(Long, Int, Long)].collect().sortBy(r => (r._3, r._2))
    val (first, second) = staged.splitAt(staged.length / 2)
    val mem = MemoryStream[(Long, Int, Long)]
    val q = Streams.funnelCounters(mem.toDS())
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append").start()
    mem.addData(first.toSeq: _*)
    q.processAllAvailable()
    mem.addData(second.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    // latest state per user: every field is monotone (−1 → final value,
    // then constant), so the struct max IS the last emission
    val fin = spark.table("funnel_stream")
      .groupBy("user_id")
      .agg(max(struct(col("t_view"), col("t_click"), col("t_purchase"))).as("s"))
      .select(col("user_id"), col("s.t_view"), col("s.t_click"), col("s.t_purchase"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // anchor ordering: each set stage sits at-or-after its predecessor
    fin.foreach { case (tv, tc, tp) =>
      if (tc >= 0) assert(tv >= 0 && tc >= tv, s"click anchor before view: $tv $tc")
      if (tp >= 0) assert(tc >= 0 && tp >= tc, s"purchase anchor before click: $tc $tp")
    }
    // exact integer parity with the oracle-verified batch funnel
    val batch = graft.ext.Sessions.funnel.build(spark, d).collect().head
    assert(fin.count(_._1 >= 0).toLong === batch.getLong(0), "n_viewed")
    assert(fin.count(_._2 >= 0).toLong === batch.getLong(1), "n_clicked_after_view")
    assert(fin.count(_._3 >= 0).toLong === batch.getLong(2), "n_purchased_after_click")
    assert(batch.getLong(0) > 0 && batch.getLong(1) > 0, "funnel non-degenerate")
  }
}
