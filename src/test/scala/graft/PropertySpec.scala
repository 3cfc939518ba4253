package graft

import org.apache.spark.sql.functions._

import graft.engine.Functions

/** Property tests (SURVEY.md §5): the CASE cascades are total
  * functions onto exactly their accepted_values lists, and the
  * portable rounding behaves like fixed-point rounding. Seeded random
  * sampling, evaluated as single Spark jobs over the sample columns.
  */
class PropertySpec extends SparkSpec {

  private val rnd = new scala.util.Random(42)

  private def overLongs(c: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                        samples: Seq[Long]): Seq[String] = {
    val s = spark; import s.implicits._
    samples.toDF("v").select(c(col("v")).as("r")).collect().map(_.getString(0)).toSeq
  }

  test("rank_tier is total onto its accepted_values for arbitrary longs") {
    val accepted = Set("Top 5", "Top 10", "Top 25", "Other")
    val samples = Seq.fill(500)(rnd.nextLong()) ++ Seq(Long.MinValue + 1, -1L, 0L, 5L, 10L, 25L, 26L, Long.MaxValue)
    assert(overLongs(Functions.rankTier, samples).forall(accepted.contains))
  }

  test("growth_category is total onto its accepted_values for arbitrary doubles") {
    val s = spark; import s.implicits._
    val accepted = Set("Explosive (1000%+)", "Very High (500-999%)", "High (200-499%)",
      "Moderate (100-199%)", "Low (<100%)")
    val samples = Seq.fill(500)((rnd.nextDouble() - 0.5) * 1e9) ++
      Seq(99.999999, 100.0, 199.99, 200.0, 499.99, 500.0, 999.99, 1000.0, -1e12, 1e12)
    val got = samples.toDF("v").select(Functions.growthCategory(col("v")).as("r"))
      .collect().map(_.getString(0))
    assert(got.forall(accepted.contains))
  }

  test("interest_level and rank_category are total onto their accepted_values") {
    val interest = Set("Very High Interest", "High Interest", "Moderate Interest",
      "Low Interest", "Very Low Interest")
    val rank = Set("#1 Term", "Top 5", "Top 10", "Other")
    val samples = Seq.fill(500)(rnd.nextLong() % 10000L) ++ Seq(0L, 1L, 19L, 20L, 39L, 40L, 59L, 60L, 79L, 80L, 100L)
    assert(overLongs(Functions.interestLevel, samples).forall(interest.contains))
    assert(overLongs(Functions.rankCategory, samples).forall(rank.contains))
  }

  test("roundPortable is identity on values already at the target scale") {
    val s = spark; import s.implicits._
    val samples = Seq.fill(500)(rnd.between(-9999999L, 9999999L)).map(_ / 100.0)
    val bad = samples.toDF("v")
      .select(col("v"), Functions.roundPortable(col("v"), 2).as("r"))
      .filter(abs(col("v") - col("r")) > 1e-9)
    assert(bad.isEmpty)
  }

  test("PPJoin prefix lemma: J >= tau implies intersecting prefixes (random sets)") {
    // the completeness guarantee jaccardPairsFrom's prefix route relies on, checked
    // over random set pairs for every tau the engine might use
    def prefix(s: Seq[Int], tau: Double): Set[Int] =
      s.sorted.take(s.size - math.ceil(tau * s.size).toInt + 1).toSet
    for (_ <- 1 to 2000) {
      val universe = 40
      val a = Seq.fill(rnd.between(1, 25))(rnd.nextInt(universe)).distinct
      val b = Seq.fill(rnd.between(1, 25))(rnd.nextInt(universe)).distinct
      val j = a.intersect(b).size.toDouble / a.concat(b).distinct.size
      for (tau <- Seq(0.3, 0.5, 0.7, 0.9) if j >= tau) {
        assert(prefix(a, tau).intersect(prefix(b, tau)).nonEmpty,
          s"prefix filter would miss J=$j >= tau=$tau pair: a=$a b=$b")
      }
    }
  }

  test("minhash universal hashes stay in [0, p) and preserve set identity") {
    import graft.ext.Dedup
    assert(Dedup.coefA.forall(a => a >= 1 && a < Dedup.P))
    assert(Dedup.coefB.forall(b => b >= 0 && b < Dedup.P))
    for (_ <- 1 to 500) {
      val x = math.abs(rnd.nextLong()) % (1L << 60)
      (0 until Dedup.NumHashes).foreach { i =>
        val h = (Dedup.coefA(i) * (x % Dedup.P) + Dedup.coefB(i)) % Dedup.P
        assert(h >= 0 && h < Dedup.P)
      }
    }
  }

  test("intervalJoin equals the naive inequality join, one row per overlapping pair") {
    // random interval sets, several bucket widths (including widths
    // far from the typical span, where pairs share MANY cells — the
    // first-common-cell dedup must still emit exactly one row)
    val s = spark; import s.implicits._
    val left = Seq.tabulate(80) { i =>
      val st = rnd.between(0L, 5000L); (i.toLong, st, st + rnd.between(0L, 900L))
    }
    val right = Seq.tabulate(60) { i =>
      val st = rnd.between(0L, 5000L); (i.toLong, st, st + rnd.between(0L, 900L))
    }
    val expected = (for {
      (li, ls, le) <- left; (ri, rs, re) <- right
      if ls <= re && rs <= le
    } yield (li, ri)).toSet
    val l = left.toDF("lid", "l_start", "l_end")
    val r = right.toDF("rid", "r_start", "r_end")
    for (bucket <- Seq(7L, 100L, 1024L, 10000L)) {
      val got = graft.engine.Joins
        .intervalJoin(l, "l_start", "l_end", r, "r_start", "r_end", bucket)
        .select("lid", "rid").collect().map(row => (row.getLong(0), row.getLong(1)))
      assert(got.length === got.distinct.length,
        s"bucket=$bucket emitted duplicate pairs")
      assert(got.toSet === expected, s"bucket=$bucket pair set diverges from naive join")
    }
  }

  test("bloom filter never false-negatives and stays under the fp bound at size") {
    // the two contract booleans dedup_bloom_prefilter's oracle pins,
    // exercised directly on the wrapped expressions: every built item
    // MUST probe true; unbuilt probes may collide but only rarely at
    // this sizing (1000 items in 2^20 bits)
    val s = spark; import s.implicits._
    val built = (1 to 1000).map(i => s"item-$i").toDF("v")
    val bf = built.agg(
      graft.functions.BloomFilterOps.bloomAgg(xxhash64(col("v")), 10000L, 1L << 20).as("bf"))
    val probes = (1 to 3000).map(i => s"item-$i").toDF("v")
    val flagged = probes
      .withColumn("flagged", graft.functions.BloomFilterOps.mightContain(
        org.apache.spark.sql.GraftColumnBridge.scalarSubquery(bf), xxhash64(col("v"))))
      .collect().map(r => (r.getString(0), r.getBoolean(1))).toMap
    assert((1 to 1000).forall(i => flagged(s"item-$i")), "false negative — impossible for a bloom")
    val fps = (1001 to 3000).count(i => flagged(s"item-$i"))
    assert(fps <= 20, s"fp count $fps/2000 exceeds the 1% sizing bound")
  }

  test("globalRowNumber/ntile equal the single-partition window on random skewed data") {
    import org.apache.spark.sql.expressions.Window
    val s = spark; import s.implicits._
    // skewed keys (zipf-ish), random sizes, random partition counts —
    // tie groups larger than whole range partitions included
    for (trial <- 1 to 5) {
      val n = 50 + rnd.nextInt(900)
      val rows = (1 to n).map(i => (math.abs(rnd.nextInt(1 + rnd.nextInt(7))), i.toLong))
      val df = rows.toDF("k", "id")
      val parts = Seq(1, 2, 7, 32)(rnd.nextInt(4))
      val exp = df.withColumn("rn",
          row_number().over(Window.orderBy(col("k"), col("id"))).cast("long"))
        .withColumn("t", ntile(5).over(Window.orderBy(col("k"), col("id"))))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3))).sorted
      val got = graft.engine.Windows.globalRowNumber(
          df, Seq(col("k"), col("id")), partitions = parts)
        .withColumn("t", graft.engine.Windows.ntileFromRowNumber(col("rn"), lit(n.toLong), 5))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3))).sorted
      assert(got.toSeq === exp.toSeq, s"trial $trial n=$n parts=$parts")
    }
  }

  test("rank boundaries land in the reference buckets (golden contract)") {
    val cases = Seq(1L -> "Top 5", 5L -> "Top 5", 6L -> "Top 10", 10L -> "Top 10",
      11L -> "Top 25", 25L -> "Top 25", 26L -> "Other")
    val got = overLongs(Functions.rankTier, cases.map(_._1))
    assert(got === cases.map(_._2))
    assert(overLongs(Functions.rankCategory, Seq(1L)) === Seq("#1 Term"))
  }

  test("minhashSignatureJvm band keys equal lshBands on random whitespace-laden text") {
    // the streaming near-dup gate's bit-parity contract, stressed with
    // GENERATED text over an alphabet rich in the characters where
    // java.lang.String and Spark SQL semantics diverge (tabs, newlines,
    // CR, multiple spaces, mixed case, unicode letters) — one Spark
    // job for all samples, per this suite's convention
    val s = spark; import s.implicits._
    val alphabet = "ab cd\tef\ngh\rij  kl MN Op é ß 0"
    def randText(): String =
      (0 until (rnd.nextInt(60) + 1)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val docs = (0L until 200L).map(i => i -> randText()) ++
      Seq(200L -> " ", 201L -> "", 202L -> "\t\n", 203L -> "a b c\n", 204L -> "x  y\tz ")
    val batch = graft.ext.Dedup.lshBands(
        graft.ext.Dedup.shinglePostsDf(docs.toDF("doc_id", "text"), graft.ext.Dedup.hash60))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).toSet).toMap
    val jvm = docs.map { case (id, text) =>
      id -> graft.ext.Dedup.bandKeysJvm(graft.ext.Dedup.minhashSignatureJvm(text)).toSet
    }.filter(_._2.nonEmpty).toMap
    assert(jvm === batch, "JVM signature path diverged from lshBands on generated text")
  }

  test("MediaCodec encode→decode is the identity on header fields for random parameters") {
    import graft.ext.MediaCodec
    for (_ <- 1 to 100) {
      val (w, h) = (rnd.nextInt(500) + 1, rnd.nextInt(300) + 1)
      val bmp = MediaCodec.decode(1L,
        MediaCodec.encodeBmp(w, h, (x, y, c) => ((x * 7 + y * 13 + c) % 256).toByte))
      assert(bmp.kind === "image" && bmp.width === Some(w) && bmp.height === Some(h) &&
        bmp.bits_per_pixel === Some(24), s"bmp $w x $h")
      val ch = rnd.nextInt(4) + 1
      val rate = Seq(8000, 11025, 16000, 22050, 44100, 48000)(rnd.nextInt(6))
      val n = rnd.nextInt(2000).toLong
      val wav = MediaCodec.decode(2L,
        MediaCodec.encodeWav(ch, rate, n, i => (i % 65536 - 32768).toShort))
      assert(wav.kind === "audio" && wav.channels === Some(ch) &&
        wav.sample_rate === Some(rate) && wav.n_samples === Some(n), s"wav $ch/$rate/$n")
    }
    // non-media bytes must fall through to the binary row, never throw
    for (len <- Seq(0, 1, 43, 53, 100)) {
      val junk = Array.fill[Byte](len)((rnd.nextInt(256) - 128).toByte)
      val dec = MediaCodec.decode(3L, junk)
      assert(dec.n_bytes === len.toLong)
    }
  }

  test("recursion folds (Holt, CUSUM) bit-agree with plain Scala folds on GENERATED series") {
    val s = spark; import s.implicits._
    // random series the harness never shipped: 4 types, ragged day
    // spans, random per-day multiplicity and intra-day times — the
    // collapse-then-fold queries must reproduce a plain Scala fold
    // exactly (identical op order => identical doubles)
    val rnd2 = new scala.util.Random(4242)
    val rows = for {
      (tpe, ti) <- Seq("alpha", "beta", "gamma", "delta").zipWithIndex
      day <- 0 until (20 + ti * 7)
      _ <- 0 until (1 + rnd2.nextInt(9))
    } yield (tpe, day, rnd2.nextInt(86400))
    val dir = "target/fold-fixtures"
    val base = 1709251200000000L // 2024-03-01 00:00:00 UTC in micros
    rows.zipWithIndex.map { case ((tpe, day, sec), i) =>
      (i.toLong, base + day * 86400000000L + sec * 1000000L, (i % 7).toLong, tpe, 1.0)
    }.toDF("event_id", "us", "user_id", "event_type", "value")
      .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val counts: Map[String, Seq[Long]] = rows.groupBy(_._1).map { case (tpe, xs) =>
      tpe -> xs.groupBy(_._2).toSeq.sortBy(_._1).map(_._2.length.toLong)
    }
    def g6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    // Holt
    val holt = graft.ext.Sessions.forecastHolt.build(spark, dir).collect()
      .groupBy(_.getString(0)).map { case (t, rs) => t -> rs.sortBy(_.getString(1)) }
    counts.foreach { case (tpe, ns) =>
      var l = 0.0; var b = 0.0
      val got = holt(tpe)
      assert(got.length === ns.length, s"$tpe day-grid size")
      ns.zipWithIndex.foreach { case (n, i) =>
        if (i == 0) { l = n.toDouble; b = 0.0 }
        else {
          val nl = 0.5 * n.toDouble + 0.5 * (l + b)
          val nb = 0.3 * (nl - l) + 0.7 * b
          l = nl; b = nb
        }
        assert(got(i).getDouble(3) === g6(l), s"$tpe day $i level")
        assert(got(i).getDouble(4) === g6(b), s"$tpe day $i trend")
      }
    }
    // CUSUM
    val cp = graft.ext.Sessions.changepoint.build(spark, dir).collect()
      .groupBy(_.getString(0)).map { case (t, rs) => t -> rs.sortBy(_.getString(1)) }
    counts.foreach { case (tpe, ns) =>
      val nd = ns.length
      val mu = ns.sum.toDouble / nd
      val sigma = math.sqrt(ns.map(n => n * n).sum.toDouble / nd - mu * mu)
      var sp = 0.0; var sn = 0.0
      val got = cp(tpe)
      ns.zipWithIndex.foreach { case (n, i) =>
        sp = math.max(0.0, sp + (n.toDouble - mu - graft.ext.Sessions.CusumK * sigma))
        sn = math.max(0.0, sn + (mu - graft.ext.Sessions.CusumK * sigma - n.toDouble))
        assert(got(i).getDouble(3) === g6(sp), s"$tpe day $i cusum_pos")
        assert(got(i).getDouble(4) === g6(sn), s"$tpe day $i cusum_neg")
        val want = if (sp > graft.ext.Sessions.CusumH * sigma ||
          sn > graft.ext.Sessions.CusumH * sigma) 1L else 0L
        assert(got(i).getLong(5) === want, s"$tpe day $i is_change")
      }
    }
  }

  test("mmrFold equals a plain-Scala greedy on generated candidate/sim sets") {
    val spk = spark; import spk.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val r = new scala.util.Random(4242)
    def g6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    // 40 generated instances with varying candidate counts, duplicate
    // scores (tie exercise), and k occasionally exceeding |cands|
    val cases = (0 until 40).map { qi =>
      val nc = 1 + r.nextInt(12)
      val ids = r.shuffle((0L until 40L).toList).take(nc)
      val cands = ids.map(id => (id, g6(r.nextInt(5) / 4.0 * r.nextDouble())))
      val sims = for { a <- ids; b <- ids if a != b }
        yield (a, b, g6(r.nextInt(8) / 7.0))
      (qi.toLong, cands, sims)
    }
    val schema = StructType(Seq(
      StructField("q_id", LongType),
      StructField("cands", ArrayType(StructType(Seq(
        StructField("id", LongType), StructField("rel", DoubleType))))),
      StructField("sims", ArrayType(StructType(Seq(
        StructField("id_a", LongType), StructField("id_b", LongType),
        StructField("csim", DoubleType)))))))
    val df = spk.createDataFrame(
      spk.sparkContext.parallelize(cases.map { case (q, c, sm) =>
        Row(q, c.map { case (i, rl) => Row(i, rl) }, sm.map { case (a, b, cs) => Row(a, b, cs) })
      }),
      schema)
    val k = 5
    val got = df.select(col("q_id"),
        explode(graft.ext.Similarity.mmrFold(col("cands"), col("sims"), k)
          .getField("out")).as("p"))
      .select(col("q_id"), col("p.neighbor_id"), col("p.rnk"), col("p.rel"), col("p.mmr_score"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(2))
        .map(x => (x.getLong(1), x.getInt(2), x.getDouble(3), x.getDouble(4))).toSeq }
    cases.foreach { case (q, cands, sims) =>
      val simMap = sims.map { case (a, b, cs) => (a, b) -> cs }.toMap
      var selected = Vector.empty[(Long, Int, Double, Double)]
      var remaining = cands
      var rk = 1
      while (rk <= k && remaining.nonEmpty) {
        val scored = remaining.map { case (id, rl) =>
          val div =
            if (selected.isEmpty) 0.0
            else selected.map { case (sid, _, _, _) => simMap((id, sid)) }.max
          (id, rl, graft.ext.Similarity.MmrLambda * rl - graft.ext.Similarity.MmrDivW * div)
        }
        val (pid, prl, psc) = scored.minBy { case (id, _, sc) => (-sc, id) }
        selected :+= ((pid, rk, prl, g6(psc)))
        remaining = remaining.filterNot(_._1 == pid)
        rk += 1
      }
      assert(got.getOrElse(q, Seq.empty) === selected,
        s"case $q: |cands|=${cands.length}")
    }
  }

  test("kcorePeel equals a plain-Scala peel on generated random graphs") {
    val spk = spark; import spk.implicits._
    val r = new scala.util.Random(777)
    // three seeded Erdos-Renyi-ish graphs per density regime, two langs
    val edges = for {
      lang <- Seq("x", "y")
      a <- 0L until 24L
      b <- (a + 1) until 24L
      if r.nextDouble() < (if (lang == "x") 0.18 else 0.45)
    } yield (lang, a.toString, b.toString)
    val und = edges.toDF("lang", "a", "b")
    val sym0 = und.select(col("lang"), col("a").as("v"), col("b").as("u"))
      .unionAll(und.select(col("lang"), col("b").as("v"), col("a").as("u")))
    val k = 4
    val got = graft.ext.Graph.kcorePeel(sym0, k)
      .groupBy("lang", "v").agg(count(lit(1)).as("deg"))
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    // plain-Scala reference: peel to the fixed point
    var sym = edges.flatMap { case (l, a, b) => Seq((l, a, b), (l, b, a)) }
    var prev = -1
    while (sym.size != prev) {
      prev = sym.size
      val deg = sym.groupBy(e => (e._1, e._2)).map { case (kk, es) => kk -> es.size }
      // NB: Map.collect yielding pairs would rebuild a Map and drop
      // same-lang keys — filter the entry set instead
      val alive = deg.filter(_._2 >= k).keySet
      sym = sym.filter { case (l, v, u) => alive((l, v)) && alive((l, u)) }
    }
    val want = sym.groupBy(e => (e._1, e._2)).map { case (kk, es) => kk -> es.size.toLong }
    assert(got === want)
    // sanity: the sparse lang peels away, the dense lang retains a core
    val dense = want.keys.count(_._1 == "y")
    assert(dense > 0, "dense graph must retain a 4-core")
  }

  test("asofJoin equals a plain-Scala as-of in both directions, plain and bucketed") {
    val spk = spark; import spk.implicits._
    import graft.ext.AsOf
    val r = new scala.util.Random(2718)
    (0 until 3).foreach { round =>
      // few keys and a narrow ts range (duplicate timestamps on both
      // sides; negative ones exercise floor bucketing), NULL fields in a
      // two-column payload
      val lft = (0 until 150).map(i => (s"k${r.nextInt(3)}", r.nextInt(61) - 30L, i.toLong))
      val rgt = (0 until 60).map { _ =>
        (s"k${r.nextInt(3)}", r.nextInt(61) - 30L,
          Option.when(r.nextInt(4) > 0)(s"p${r.nextInt(5)}"),
          Option.when(r.nextInt(4) > 0)(r.nextInt(5).toLong))
      }
      val (lDf, rDf) = (lft.toDF("k", "ts", "event_id"), rgt.toDF("k", "rts", "tag", "amount"))
      for (dir <- Seq(AsOf.Backward, AsOf.Forward); width <- Seq(None, Some(1L + r.nextInt(40)))) {
        val got = AsOf.asofJoin(lDf, rDf, "k", "ts", "rts", Seq("tag", "amount"), dir, width)
          .collect().map(x => x.getLong(2) ->
            (Option(x.getString(3)), Option.when(!x.isNullAt(4))(x.getLong(4)))).toMap
        // reference: the greatest (Backward) or least (Forward) right
        // (ts, payload) on the matching side, NULL fields ordered first
        val want = lft.map { case (k, t, id) =>
          val cands = rgt.collect {
            case (rk, rt, tag, amt) if rk == k && (if (dir == AsOf.Backward) rt <= t else rt >= t) =>
              (rt, tag, amt)
          }
          val hit = if (cands.isEmpty) None
            else Some(if (dir == AsOf.Backward) cands.max else cands.min)
          id -> hit.fold((Option.empty[String], Option.empty[Long]))(h => (h._2, h._3))
        }.toMap
        assert(got === want, s"round $round, $dir, bucketWidth=$width")
      }
    }
  }

  test("jaccardPairsFrom: every route, full and delta, equals a plain-Scala all-pairs Jaccard") {
    val spk = spark; import spk.implicits._
    import graft.ext.Dedup
    import Dedup.PairRoute.{Direct, Measured, Prefix}
    def hasWindow(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Window])
    val r = new scala.util.Random(1618)
    val n = 40
    val overBudget = (0 until 4).map { round =>
      // 1-5 own shingles per doc; about a third of the odd docs copy
      // ~70% of their even neighbour's (planted near-dups, J around τ);
      // 9 boilerplate shingles whose df is drawn per round, so the
      // rounds land on both sides of the fan-out budget
      val own = (0 until n).map(i => (0 to r.nextInt(5)).map(j => 1000L * i + j).toSet)
      val planted = (0 until n).map(i =>
        if (i % 2 == 1 && r.nextInt(3) == 0) own(i - 1).filter(_ => r.nextDouble() < 0.7)
        else Set.empty[Long])
      val hot = (0 until 9).map(b =>
        b.toLong -> r.shuffle((0 until n).toList).take(r.nextInt(n + 1)).toSet)
      val sets = (0 until n).map(i => i.toLong ->
        (own(i) ++ planted(i) ++ hot.collect { case (h, docs) if docs(i) => h })).toMap
      val postRows = sets.toSeq.flatMap { case (d, hs) =>
        hs.toSeq.map(h => (d, h, hs.size.toLong)) }
      val posts = postRows.toDF("doc_id", "hs", "sz")
      val all = (for {
        (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a < b
        ov = (sa & sb).size if ov > 0
        j = ov.toDouble / (sa.size + sb.size - ov) if j >= Dedup.JaccardTau
      } yield (a, b) -> math.round(j * 1e6)).toMap
      val dfAll = postRows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val over = for (batch <- Seq(None, Some(r.nextInt(n).toLong))) yield {
        val want = batch.fold(all)(f => all.filter(_._1._2 >= f))
        val dfBatch = postRows.filter(p => batch.forall(p._1 >= _)).groupBy(_._2)
          .view.mapValues(_.size.toLong).toMap
        val (sq, np) = (dfAll.map { case (h, c) => c.toDouble * dfBatch.getOrElse(h, 0L) }.sum,
          postRows.size.toLong)
        assert(Dedup.pairSkewProbe(posts, batch) === ((sq, np)), s"round $round, batchFrom=$batch")
        for (route <- Seq(Direct, Prefix, Measured)) {
          val out = Dedup.jaccardPairsFrom(posts, batch, route)
          val got = out.collect()
            .map(x => (x.getLong(0), x.getLong(1)) -> math.round(x.getDouble(2) * 1e6))
          assert(got.length === got.toMap.size,
            s"round $round, $route, batchFrom=$batch: duplicate pairs")
          assert(got.toMap === want, s"round $round, $route, batchFrom=$batch")
          if (route == Measured)
            assert(hasWindow(out) === sq > Dedup.DirectPairFanoutMax * np,
              s"round $round, batchFrom=$batch: fan-out ${sq / np} took the wrong route")
        }
        sq > Dedup.DirectPairFanoutMax * np
      }
      over.head // the full graph's reading
    }
    assert(overBudget.toSet === Set(true, false), "rounds must probe both over and under budget")
  }

  test("KMeans.assign: flat and two-level, one and two probes, equal a plain-Scala nearest-centroid top-P") {
    val spk = spark; import spk.implicits._
    import graft.ext.KMeans
    import KMeans.Route.{Flat, TwoLevel}
    val r = new scala.util.Random(3141)
    val g6 = (x: Double) => math.floor(x * 1e6 + 0.5) / 1e6
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    // small-integer vectors: equal cosines recur, so csim ties on the
    // 6-dp grid are common, and the last centroid copies the first, so
    // every vector ties between those two clusters
    def gridVec(): Seq[Double] = Iterator.continually(Seq.fill(4)(r.nextInt(5) - 2.0))
      .find(_.exists(_ != 0.0)).get
    val ties = Seq(3, 5, 10).map { k =>
      val base = Seq.fill(k - 1)(gridVec())
      val cents = (base :+ base.head).zipWithIndex.map(_.swap)
      val vecs = (0 until 80).map(i => i.toLong -> gridVec())
      val e = vecs.toDF("vec_id", "embedding")
      val c = cents.toDF("cluster", "centroid")
      // reference: candidates by (csim desc, cluster asc), csim at 6 dp
      val ranked = vecs.map { case (id, v) =>
        id -> cents.map { case (cl, cv) => (cl, g6(cos(v, cv))) }.sortBy { case (cl, s) => (-s, cl) }
      }.toMap
      def rows(df: org.apache.spark.sql.DataFrame, probes: Int): Map[(Long, Int), (Int, Double)] =
        df.collect().map { x =>
          val rank = if (probes == 1) 0 else x.getAs[Int]("probe_rank")
          (x.getAs[Long]("vec_id"), rank) -> ((x.getAs[Int]("cluster"), x.getAs[Double]("csim")))
        }.toMap
      for (route <- Seq(Flat, TwoLevel(k, KMeans.coarseCells(k))); probes <- Seq(1, 2)) {
        val got = KMeans.assign(e, c, probes, route)
        val want = ranked.flatMap { case (id, cands) =>
          cands.take(probes).zipWithIndex.map { case (cand, rank) => (id, rank) -> cand }
        }
        assert(got.count() === vecs.length * probes, s"k=$k, $route, probes=$probes: duplicate rows")
        assert(rows(got, probes) === want, s"k=$k, $route, probes=$probes")
      }
      assert(rows(graft.ParityForms.assignWindow(e, c), 1) === rows(KMeans.assign(e, c), 1),
        s"k=$k: window argmax differs from assign")
      // one probed coarse cell: still one valid cluster per vector, and
      // an argmax over a subset never beats the full one
      val partial = rows(KMeans.assign(e, c, route = TwoLevel(k, 1)), 1)
      assert(partial.keySet === vecs.map(_._1 -> 0).toSet, s"k=$k: TwoLevel(k, 1) is not total")
      partial.foreach { case ((id, _), (cl, s)) =>
        assert(cl >= 0 && cl < k && s <= ranked(id).head._2, s"k=$k: vec $id scored $s via $cl")
      }
      ranked.values.count(cands => cands(0)._2 == cands(1)._2)
    }
    assert(ties.forall(_ > 0), s"every round must plant csim ties: $ties")
    Seq(1, 5, KMeans.TwoLevelMinK - 1, KMeans.TwoLevelMinK, KMeans.TwoLevelMinK + 1, 100000)
      .foreach { k =>
        val want = if (k >= KMeans.TwoLevelMinK) TwoLevel(k, 2) else Flat
        assert(KMeans.Route.forK(k) === want, s"k=$k")
      }
  }

  test("rebandedParams: occupancy-targeting B, recall-satisfying L, monotone in n") {
    import graft.ext.Dedup.rebandedParams
    // the measured anchor points (BENCHNOTES r14): harness 2k -> the
    // B=4 contract floor; 30x (60k) -> 9; 100x (200k) -> 11
    assert(rebandedParams(2000, 0.85)._1 === 4)
    assert(rebandedParams(60000, 0.85)._1 === 9)
    assert(rebandedParams(200000, 0.85)._1 === 11)
    // the returned (B, L) must satisfy the recall identity it claims:
    // 1 - (1 - p^B)^L >= target with p = 1 - acos(tau)/pi — and L-1
    // must NOT (L is minimal)
    Seq(2000L, 60000L, 200000L, 10000000L, 1000000000L).foreach { n =>
      val (b, l) = rebandedParams(n, 0.85)
      val p = 1.0 - math.acos(0.85) / math.Pi
      def recall(ll: Int) = 1.0 - math.pow(1.0 - math.pow(p, b), ll)
      assert(recall(l) >= 0.97, s"n=$n (B=$b, L=$l)")
      if (l > 1) assert(recall(l - 1) < 0.97, s"n=$n L not minimal")
      // expected occupancy lands at or below ~2x the target (ceil
      // rounds B up, halving occupancy at worst)
      assert(n.toDouble / (1L << b) <= 125 * 1.0001, s"n=$n occupancy")
    }
    // monotone: more rows never fewer bits
    val bs = Seq(1000L, 10000L, 100000L, 1000000L, 100000000L)
      .map(rebandedParams(_, 0.85)._1)
    assert(bs === bs.sorted)
  }

  test("partitionsFor: data-sized, floored at 1, no thread-count ceiling; edge-rule anchors") {
    import graft.engine.Partitioning._
    assert(partitionsFor(0) === 1)
    assert(partitionsFor(1) === 1)
    // the official harness input (~17.5 MiB measured) stays under the
    // cpus floor in Bench -> official partitioning is unchanged by
    // the policy
    assert(partitionsFor(17508506L) === 3)
    // the r14 hand-set 64 falls out of the measured 30x corpus bytes
    // as ~55 - policy replaces operator lore within its working range
    assert(partitionsFor(453764391L) === 55)
    // monotone, and a ceiling never reappears: 1 TiB of input demands
    // ~131k partitions regardless of the box
    val ps = Seq(1L << 20, 100L << 20, 10L << 30, 1L << 40).map(partitionsFor(_))
    assert(ps === ps.sorted)
    assert(partitionsFor(1L << 40) === 131072)
    // loop-state edge rule: ~87k edges per partition; harness-scale
    // graphs stay single-partition (the r12 scheduling-noise fix),
    // a billion-edge graph fans to ~11k tasks with no knob touched
    assert(forEdges(3000) === 1)
    assert(forEdges(87381) === 1)
    assert(forEdges(87382) === 2)
    assert(forEdges(1000000000L) === 11445)
  }

  test("dirBytes: counts data files only, ignores write metadata, survives a symlink cycle") {
    import graft.engine.Partitioning.dirBytes
    val root = java.nio.file.Files.createTempDirectory("graft-dirbytes")
    try {
      val sub = java.nio.file.Files.createDirectory(root.resolve("part=0"))
      java.nio.file.Files.write(sub.resolve("data.parquet"), new Array[Byte](1000))
      // write metadata Spark's readers skip must not inflate the count
      java.nio.file.Files.write(root.resolve("_SUCCESS"), new Array[Byte](50))
      java.nio.file.Files.write(root.resolve(".data.parquet.crc"), new Array[Byte](60))
      // a directory symlink CYCLE under the data dir (ADVICE r15:
      // File.listFiles follows it — unbounded recursion)
      java.nio.file.Files.createSymbolicLink(sub.resolve("loop"), root)
      assert(dirBytes(root.toString) === 1000L)
      // a symlink to a REAL data directory must count (ADVICE r16:
      // Spark's listing follows it — version-switch layouts would
      // otherwise size to ~0 and get the minimum partition count);
      // only REVISITS of an already-walked real path are skipped
      val other = java.nio.file.Files.createTempDirectory("graft-dirbytes-v")
      java.nio.file.Files.write(other.resolve("more.parquet"), new Array[Byte](500))
      java.nio.file.Files.createSymbolicLink(root.resolve("v1"), other)
      try {
        assert(dirBytes(root.toString) === 1500L)
        // TWO sibling links to the same data directory count once
        // EACH — Spark's listing reads the data per link (ADVICE r17:
        // visits are keyed by traversal edge, not by real path alone)
        java.nio.file.Files.createSymbolicLink(root.resolve("v2"), other)
        assert(dirBytes(root.toString) === 2000L)
      } finally {
        import scala.reflect.io.Directory
        new Directory(other.toFile).deleteRecursively(); ()
      }
    } finally {
      import scala.reflect.io.Directory
      new Directory(root.toFile).deleteRecursively()
      ()
    }
  }

  test("semdedupParams: contract-anchored k, floor at oracle K, monotone, linear pair mass") {
    import graft.ext.KMeans.{semdedupParams, K, SemDedupTargetCluster}
    // anchor points: the 1x harness corpus (2,000 vectors) reproduces
    // the oracle contract k = 5 EXACTLY; 30x (60k) -> 150; 100x
    // (200k) -> 500 (the BENCHNOTES r15 measured configurations)
    assert(semdedupParams(2000) === 5)
    assert(semdedupParams(60000) === 150)
    assert(semdedupParams(200000) === 500)
    // floor: corpora below K*target never drop under the contract k
    assert(semdedupParams(1) === K)
    assert(semdedupParams(500) === K)
    // mean cluster size never exceeds the target above the floor, so
    // expected pair mass sum|c|^2 ~ n * target stays LINEAR in n
    Seq(2001L, 60000L, 200000L, 10000000L, 1000000000L).foreach { n =>
      val k = semdedupParams(n)
      assert(n.toDouble / k <= SemDedupTargetCluster, s"n=$n k=$k")
      // and k never overshoots into sub-efficient slivers: one fewer
      // cluster would break the target (ceil minimality)
      if (k > K) assert(n.toDouble / (k - 1) > SemDedupTargetCluster, s"n=$n k not minimal")
    }
    // monotone: more rows never fewer clusters
    val ks = Seq(1000L, 10000L, 100000L, 1000000L, 100000000L).map(semdedupParams(_))
    assert(ks === ks.sorted)
  }

  // ------------------------------------------------------------------
  // Post-conditions for the FIXED-ITERATION operators (VERDICT r13
  // ask #3): a replay oracle proves the k iterations ran as written,
  // but cannot say whether k iterations were ENOUGH, nor whether an
  // edit silently broke the mathematical structure the truncation
  // leans on (the r11 k-core lesson). These specs pin the structure:
  // the damped power methods conserve teleport mass exactly and
  // contract in L1 at rate ≤ damping (so the k-step residual bound
  // ||r* − r_k||₁ ≤ d^k/(1−d) · ||r_1 − r_0||₁ is licensed), and each
  // Lloyd half-step is individually optimal. SCALING.md enumerates
  // the full iterative-operator contract table.
  // ------------------------------------------------------------------

  /** d-damped power iteration over a column-substochastic transition
    * list; returns r_0..r_kMax keyed by node.
    */
  private def powerIters(
      nodes: Seq[String], edges: Seq[(String, String, Double)],
      teleport: Double, r0: Double, kMax: Int): Seq[Map[String, Double]] = {
    var r = nodes.map(_ -> r0).toMap
    Seq(r) ++ (1 to kMax).map { _ =>
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _, p) => r(src) * p }.sum
      }
      r = nodes.map(n => n -> (teleport + 0.85 * contrib.getOrElse(n, 0.0))).toMap
      r
    }
  }

  private def l1(a: Map[String, Double], b: Map[String, Double]): Double =
    a.keys.map(k => math.abs(a(k) - b(k))).sum

  test("pagerank post-conditions: teleport mass conserved; L1 contraction at rate <= damping") {
    val d = sf()
    val g6 = (x: Double) => math.floor(x * 1e6 + 0.5) / 1e6
    // replay the edge build: consecutive transitions per user
    val ev = graft.queries.Inventory.events(spark, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
    val trans = ev.groupBy(_._1).toSeq.flatMap { case (_, xs) =>
      val s = xs.sortBy(x => (x._2.getTime, x._3)).map(_._4)
      s.zip(s.drop(1))
    }
    val w = trans.groupBy(identity).map { case ((a, b), xs) => (a, b, xs.size.toLong) }.toSeq
    val outW = w.groupBy(_._1).map { case (src, es) => src -> es.map(_._3).sum }
    val edges = w.map { case (src, dst, n) => (src, dst, n.toDouble / outW(src)) }
    val nodes = ev.map(_._4).distinct.toSeq.sorted
    val n = nodes.size
    val rs = powerIters(nodes, edges, 0.15 / n, 1.0 / n, 5)
    // (1) mass conservation: no dangling nodes (every harness type
    // transitions out), so sum r_k = 1 exactly at every k
    rs.foreach(r => assert(math.abs(r.values.sum - 1.0) < 1e-9, s"mass ${r.values.sum}"))
    // (2) geometric contraction: ||r_{k+1} - r_k||_1 <= d * ||r_k - r_{k-1}||_1
    // (P column sums are 1, teleport cancels in differences)
    val resid = rs.sliding(2).map { case Seq(a, b) => l1(a, b) }.toSeq
    resid.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= 0.85 * a + 1e-12, s"contraction violated: $b > 0.85*$a")
    }
    // (3) the shipped k=3 sits within the licensed residual bound of
    // the fixed point: ||r* - r_3||_1 <= d^3/(1-d) * ||r_1 - r_0||_1
    assert(resid(3) <= math.pow(0.85, 3) / 0.15 * resid(0) + 1e-12)
    // (4) and the replay IS the published ranking (ties the math to
    // the plan): rounded r_3 matches graph_pagerank row-for-row
    val published = graft.ext.Graph.pagerank.build(spark, d).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(published === rs(3).map { case (k, v) => k -> g6(v) })
  }

  test("textrank post-conditions: per-language mass conserved; L1 contraction; top-k matches") {
    val d = sf()
    val g6 = (x: Double) => math.floor(x * 1e6 + 0.5) / 1e6
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val und = docs.flatMap { case (_, lang, text) =>
      val t = text.trim.toLowerCase.split("\\s+").toSeq
      t.zip(t.drop(1)).filter { case (a, b) => a != b }
        .map { case (a, b) => (lang, if (a < b) (a, b) else (b, a)) }
    }.groupBy(identity).map { case ((lang, (a, b)), xs) => (lang, a, b, xs.size.toLong) }.toSeq
    val langs = und.map(_._1).distinct
    langs.foreach { lang =>
      val sym = und.filter(_._1 == lang).flatMap { case (_, a, b, wgt) =>
        Seq((a, b, wgt), (b, a, wgt)) }
      val outW = sym.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
      val edges = sym.map { case (s, t2, wgt) => (s, t2, wgt.toDouble / outW(s)) }
      val nodes = sym.map(_._1).distinct.sorted
      val rs = powerIters(nodes, edges, 0.15, 1.0, 5)
      // mass: sum r_k = |V| at every k (all-ones start, no dangling)
      rs.foreach(r => assert(math.abs(r.values.sum - nodes.size) < 1e-6 * nodes.size,
        s"$lang mass ${r.values.sum} vs ${nodes.size}"))
      val resid = rs.sliding(2).map { case Seq(a, b) => l1(a, b) }.toSeq
      resid.sliding(2).foreach { case Seq(a, b) =>
        assert(b <= 0.85 * a + 1e-9 * nodes.size, s"$lang contraction: $b > 0.85*$a")
      }
      // published top-10 = replay's rounded-score ranking
      val want = rs(3).toSeq.map { case (t2, r) => (t2, g6(r)) }
        .sortBy { case (t2, r) => (-r, t2) }.take(graft.ext.Graph.TextRankK)
      val got = graft.ext.Graph.textrankKeywords.build(spark, d).collect()
        .filter(_.getString(0) == lang)
        .sortBy(_.getInt(3)).map(r => (r.getString(1), r.getDouble(2))).toSeq
      assert(got === want, s"$lang top-k")
    }
  }

  test("kmeans post-conditions: each Lloyd half-step is individually optimal") {
    val d = sf()
    val g6 = (x: Double) => math.floor(x * 1e6 + 0.5) / 1e6
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val vecs = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val k = graft.ext.KMeans.K
    val c0 = (0 until k).map(c => c -> vecs(c.toLong)).toMap
    def assignTo(cents: Map[Int, Array[Double]]): Map[Long, (Int, Double)] =
      vecs.map { case (id, v) =>
        id -> (0 until k).map(c => (c, g6(cos(v, cents(c))))).maxBy { case (c, s) => (s, -c) }
      }
    val a1 = assignTo(c0)
    val c1 = (0 until k).map { c =>
      val members = vecs.collect { case (id, v) if a1(id)._1 == c => v }
      c -> (0 until graft.ext.KMeans.Dim).map(i => members.map(_(i)).sum / members.size).toArray
    }.toMap
    val a2 = assignTo(c1)
    // (1) REASSIGN optimality, exact on the 6dp grid per row: the new
    // assignment's score against c1 is >= the old assignment's score
    // against c1 (argmax over the same candidate set)
    vecs.keys.foreach { id =>
      assert(a2(id)._2 >= g6(cos(vecs(id), c1(a1(id)._1))), s"vec $id reassign")
    }
    // (2) RECOMPUTE optimality: the mean minimizes within-cluster
    // squared L2 for the FIXED assignment a1 (exact math, float slack)
    def sq(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    (0 until k).foreach { c =>
      val members = vecs.collect { case (id, v) if a1(id)._1 == c => v }.toSeq
      val jNew = members.map(sq(_, c1(c))).sum
      val jOld = members.map(sq(_, c0(c))).sum
      assert(jNew <= jOld * (1 + 1e-12) + 1e-12, s"cluster $c: $jNew > $jOld")
    }
    // (3) the replay IS the registry row: a2 matches emb_kmeans_assign
    val published = graft.ext.KMeans.kmeansAssign.build(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    assert(published === a2)
  }
}
