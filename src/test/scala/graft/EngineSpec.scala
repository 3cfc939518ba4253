package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine._
import graft.engine.Materialization.{Table, View}

class EngineSpec extends SparkSpec {
  import spark.implicits._

  private def m(name: String, deps: Seq[String], tests: Seq[DataTest] = Nil)(
      f: Map[String, DataFrame] => DataFrame): Model =
    Model(name, deps, View, tests)(f)

  test("topoSort orders dependencies before dependents") {
    val a = m("a", Seq("src"))(in => in("src"))
    val b = m("b", Seq("a"))(in => in("a"))
    val c = m("c", Seq("a", "b"))(in => in("b"))
    val runner = new DagRunner(new MapCatalog(Map("src" -> Seq(1).toDF("x"))))
    val order = runner.topoSort(Seq(c, b, a)).map(_.name)
    assert(order.indexOf("a") < order.indexOf("b"))
    assert(order.indexOf("b") < order.indexOf("c"))
  }

  test("topoSort rejects cycles") {
    val a = m("a", Seq("b"))(in => in("b"))
    val b = m("b", Seq("a"))(in => in("a"))
    val runner = new DagRunner(new MapCatalog(Map.empty))
    intercept[IllegalArgumentException](runner.topoSort(Seq(a, b)))
  }

  test("failed test gates transitive descendants (dbt build semantics)") {
    val src = Seq((1, Option.empty[String]), (2, Some("ok"))).toDF("id", "name")
    val bad = m("bad", Seq("src"), tests = Seq(NotNull("name")))(in => in("src"))
    val child = m("child", Seq("bad"))(in => in("bad"))
    val grandchild = m("grandchild", Seq("child"))(in => in("child"))
    val independent = m("independent", Seq("src"))(in => in("src"))
    val r = new DagRunner(new MapCatalog(Map("src" -> src)))
      .run(Seq(bad, child, grandchild, independent))
    assert(r.tests == Seq(TestResult("bad", "not_null_name", passed = false)))
    assert(r.skipped.toSet == Set("child", "grandchild"))
    assert(r.relations.keySet == Set("bad", "independent"))
  }

  test("accepted_values passes NULLs (SQL three-valued logic, SURVEY §2.8 T2)") {
    val df = Seq(Some("a"), Some("b"), None).toDF("v")
    assert(AcceptedValues("v", Seq("a", "b")).passes(df))
    assert(!AcceptedValues("v", Seq("a")).passes(df))
    assert(NotNull("v").failureCount(df) == 1)
  }

  test("table materialization writes parquet and downstream reads the files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val src = Seq((1, "x"), (2, "y")).toDF("id", "v")
    val t = Model("t", Seq("src"), Table)(in => in("src").filter($"id" > 0))
    val r = new DagRunner(new MapCatalog(Map("src" -> src)), new TableSink.Parquet(dir)).run(Seq(t))
    assert(r("t").count() == 2)
    assert(new java.io.File(s"$dir/t").exists())
  }

  test("dynamic partition overwrite rewrites only the incoming partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-incr").toString
    val sink = new TableSink.Parquet(dir,
      Map("t" -> Seq("refresh_date")), overwritePartitions = true)
    val full = Seq(("2024-01-01", 1L), ("2024-01-01", 2L), ("2024-01-08", 3L))
      .toDF("refresh_date", "id")
    sink.write("t", full)
    // incremental refresh: only the 01-08 partition arrives, with new rows
    val incr = Seq(("2024-01-08", 30L), ("2024-01-08", 31L)).toDF("refresh_date", "id")
    val rel = sink.write("t", incr)
    val got = rel.select($"refresh_date".cast("string"), $"id")
      .orderBy("refresh_date", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("2024-01-01", 1L), ("2024-01-01", 2L),
      ("2024-01-08", 30L), ("2024-01-08", 31L)))
    // the overwrite mode is a per-writer option, so concurrent writes
    // from a parallel wave can't race on session state: two partitioned
    // incremental models written in the same wave both keep their
    // untouched partitions
    val cat = new MapCatalog(Map("src" -> full))
    val sink2 = new TableSink.Parquet(dir,
      Map("m1" -> Seq("refresh_date"), "m2" -> Seq("refresh_date")),
      overwritePartitions = true)
    def model(n: String) = Model(n, Seq("src"), Materialization.Table)(in => in("src"))
    new DagRunner(cat, sink2, maxParallelism = 2).run(Seq(model("m1"), model("m2")))
    val incr2 = Seq(("2024-01-08", 99L)).toDF("refresh_date", "id")
    val par = new DagRunner(new MapCatalog(Map("src" -> incr2)), sink2, maxParallelism = 2)
      .run(Seq(model("m1"), model("m2")))
    Seq("m1", "m2").foreach { m =>
      assert(par(m).count() === 3, s"$m lost its untouched partition") // 2 old + 1 refreshed
    }
  }

  test("parallel DAG run matches sequential semantics (relations, tests, gating)") {
    val seq = graft.models.TrendsModels.run(spark)
    val par = new DagRunner(
      new MapCatalog(graft.models.TrendsFixtures.catalog(spark)),
      new TableSink.Cached, maxParallelism = 4)
      .run(graft.models.TrendsModels.all)
    assert(par.relations.keySet == seq.relations.keySet)
    assert(par.tests.sortBy(t => (t.model, t.test)) == seq.tests.sortBy(t => (t.model, t.test)))
    assert(par.skipped == seq.skipped)
    assert(par.allTestsPassed)
    // gating still holds when a wave member fails in parallel mode
    val src = Seq((1, Option.empty[String]), (2, Some("ok"))).toDF("id", "name")
    val bad = m("bad", Seq("src"), tests = Seq(NotNull("name")))(in => in("src"))
    val ok = m("ok", Seq("src"))(in => in("src"))
    val child = m("child", Seq("bad", "ok"))(in => in("bad"))
    val r = new DagRunner(new MapCatalog(Map("src" -> src)),
      new TableSink.Cached, maxParallelism = 4).run(Seq(bad, ok, child))
    assert(r.skipped == Seq("child"))
    assert(r.relations.keySet == Set("bad", "ok"))
  }

  test("salted join and salted aggregation match their unsalted equivalents") {
    // 90% of fact rows share one hot key — the shape salting exists for
    val fact = (1 to 1000).map(i => (if (i % 10 == 0) i.toLong % 7 else 0L, i.toLong))
      .toDF("k", "v")
    val dim = Seq((0L, "hot"), (1L, "a"), (2L, "b"), (6L, "c")).toDF("k", "name")
    val plain = fact.join(dim, Seq("k")).orderBy("v")
      .collect().map(_.toString).toSeq
    val salted = Joins.saltedJoin(fact, dim, "k", salts = 8, saltSource = col("v"))
      .orderBy("v").collect().map(_.toString).toSeq
    assert(salted == plain)
    val plainAgg = fact.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .orderBy("k").collect().map(_.toString).toSeq
    val saltedAgg = Joins.saltedAgg(fact, "k", salts = 8, saltSource = col("v"))(
      Seq(sum("v").as("ps"), count(lit(1)).as("pn")),
      Seq(sum("ps").as("s"), sum("pn").as("n")))
      .orderBy("k").collect().map(_.toString).toSeq
    assert(saltedAgg == plainAgg)
  }

  test("JSONL source loads with explicit schema and fails fast on corrupt lines") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl")
    val good = dir.resolve("docs.jsonl")
    java.nio.file.Files.writeString(good,
      """{"doc_id": 1, "text": "hello world"}
        |{"doc_id": 2, "text": "second doc"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    assert(Seeds.loadJsonl(spark, good.toString, schema, enabled = false).isEmpty)
    val df = Seeds.loadJsonl(spark, good.toString, schema).get
    assert(df.count() === 2)
    assert(df.orderBy("doc_id").head.getString(1) === "hello world")
    val bad = dir.resolve("bad.jsonl")
    java.nio.file.Files.writeString(bad, "{\"doc_id\": 1, \"text\": \"ok\"}\nnot json at all\n")
    intercept[Exception] {
      Seeds.loadJsonl(spark, bad.toString, schema).get.collect()
    }
  }

  test("generate_schema_name routing (macros/generate_schema_name.sql:1-23)") {
    assert(Seeds.schemaFor("seed", Some("raw"), "analytics", "dev") == "raw")
    assert(Seeds.schemaFor("model", Some("marts"), "analytics", "prod") == "analytics_marts")
    assert(Seeds.schemaFor("model", Some("marts"), "analytics", "dev") == "analytics")
    assert(Seeds.schemaFor("model", None, "analytics", "prod") == "analytics")
  }

  test("seed CSV ingestion with explicit schema, gated by flag") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-seed")
    val csv = dir.resolve("raw_products.csv")
    java.nio.file.Files.writeString(csv, "sku,name,type,price,description\nS1,Widget,jaffle,1250,desc\n")
    val schema = StructType(Seq(
      StructField("sku", StringType), StructField("name", StringType), StructField("type", StringType),
      StructField("price", LongType), StructField("description", StringType)))
    assert(Seeds.load(spark, csv.toString, schema, enabled = false).isEmpty)
    val df = Seeds.load(spark, csv.toString, schema).get
    val row = df.select($"price", Functions.centsToDollars($"price").as("dollars")).head()
    assert(row.getLong(0) == 1250L)
    assert(row.getDecimal(1).doubleValue() == 12.5)
  }

  test("keyed parquet upsert merges updates, appends new keys, keeps untouched rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert").toString
    val sink = new TableSink.ParquetUpsert(dir, Map("t" -> Seq("id")))
    val base = Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "v", "x")
    sink.write("t", base)
    val batch = Seq((2L, "B", 99), (3L, "c", 30)).toDF("id", "v", "x")
    val merged = sink.write("t", batch).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(merged === Seq((1L, "a", 10), (2L, "B", 99), (3L, "c", 30)))
    // re-running the same batch is idempotent (retry safety)
    assert(sink.write("t", batch).count() === 3)
    // a model with no declared key falls back to full overwrite
    assert(new TableSink.ParquetUpsert(dir, Map.empty).write("t", batch).count() === 2)
  }

  test("upsert refuses to write when a previous swap was interrupted") {
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert-guard").toString
    val sink = new TableSink.ParquetUpsert(dir, Map("t" -> Seq("id")))
    val base = Seq((1L, "a")).toDF("id", "v")
    sink.write("t", base)
    // simulate a crash between rename-aside and swap-in: backup
    // present, target gone — the merge history is in the backup
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/t"),
      new org.apache.hadoop.fs.Path(s"$dir/t__backup")))
    val e = intercept[java.io.IOException] { sink.write("t", base) }
    assert(e.getMessage.contains("interrupted"))
  }

  test("snapshot (SCD2 timestamp strategy) opens, closes, and preserves intervals") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val s0 = Snapshots.snapshot(None,
      Seq((1L, "a", t0), (2L, "b", t0)).toDF("id", "v", "updated_at"), "id", "updated_at")
    assert(s0.filter($"dbt_valid_to".isNull).count() === 2)
    // run 2: id=1 advanced to t1, id=2 absent (stays open), id=3 new
    val batch2 = Seq((1L, "A", t1), (3L, "c", t1)).toDF("id", "v", "updated_at")
    val s1 = Snapshots.snapshot(Some(s0), batch2, "id", "updated_at").cache()
    assert(s1.count() === 4) // closed v1 of id=1, open A, open b, open c
    val open = s1.filter($"dbt_valid_to".isNull).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(open === Seq((1L, "A"), (2L, "b"), (3L, "c")))
    val closed = s1.filter($"dbt_valid_to".isNotNull).collect()
    assert(closed.length === 1)
    assert(closed(0).getLong(0) === 1L)
    assert(closed(0).getTimestamp(4) === t1) // closed AT the replacing version's ts
    // unchanged re-run is a no-op (same updated_at neither closes nor opens)
    assert(Snapshots.snapshot(Some(s1), batch2, "id", "updated_at").count() === 4)
  }

  test("unique and relationships tests (dbt built-ins 3 and 4)") {
    val dup = Seq(Some(1) -> "a", Some(2) -> "b", Some(2) -> "c", None -> "d")
      .toDF("k", "v")
    // duplicates fail; NULL keys are excluded like dbt's compiled test
    assert(!Unique("k").passes(dup))
    assert(Unique("k").failingRows(dup).count() === 1) // the k=2 group only
    assert(Unique("v").passes(dup))
    val parent = Seq(1, 2, 3).toDF("id")
    val child = Seq(Some(1), Some(2), Some(9), None).toDF("pid")
    val rel = Relationships("pid", () => parent, "id")
    assert(!rel.passes(child))
    // exactly the orphan (9); NULL children pass, like dbt
    assert(rel.failingRows(child).collect().map(_.getInt(0)).toSeq === Seq(9))
    assert(Relationships("pid", () => parent, "id")
      .passes(child.filter($"pid".isNull || $"pid" < 3)))
  }

  test("cents_to_dollars dialect dispatch mirrors adapter.dispatch resolution") {
    val df = Seq(1250L, 99L).toDF("cents")
    def vals(target: String): Seq[BigDecimal] =
      df.select(Functions.centsToDollarsFor(target)($"cents").cast("decimal(16,2)").as("d"))
        .orderBy("d").collect().map(r => BigDecimal(r.getDecimal(0))).toSeq
    // every arm agrees on clean cents values; each exercises its own
    // dialect's operation order (divide-then-cast vs cast-then-divide)
    Seq("default", "postgres", "bigquery", "fabric").foreach { t =>
      assert(vals(t) === Seq(BigDecimal("0.99"), BigDecimal("12.50")), s"arm $t")
    }
    // an unknown target resolves to the default__ arm, like dispatch
    assert(vals("duckdb") === vals("default"))
    // postgres casts BEFORE dividing: decimal in, exact decimal division
    import org.apache.spark.sql.types.DecimalType
    val pgType = df.select(Functions.centsToDollarsArms("postgres")($"cents").as("d"))
      .schema("d").dataType
    assert(pgType.isInstanceOf[DecimalType])
  }

  test("the reference's shipped seed CSVs load with their published schemas") {
    import org.apache.spark.sql.types._
    val dir = getClass.getResource("/jaffle-data").getPath
    val loaded = Seeds.loadJaffle(spark, dir)
    assert(loaded.keySet === Set("raw_customers", "raw_products", "raw_stores", "raw_supplies"))
    // published row counts of the shipped one-year dataset
    assert(loaded("raw_customers").count() === 935)
    assert(loaded("raw_products").count() === 10)
    assert(loaded("raw_stores").count() === 6)
    assert(loaded("raw_supplies").count() === 65)
    // published dtypes survive the explicit-schema load
    assert(loaded("raw_products").schema("price").dataType === IntegerType)
    assert(loaded("raw_stores").schema("opened_at").dataType === TimestampType)
    assert(loaded("raw_stores").schema("tax_rate").dataType === DoubleType)
    assert(loaded("raw_supplies").schema("perishable").dataType === BooleanType)
    // typed columns parsed, not silently nulled (FAILFAST + spot checks)
    assert(loaded("raw_stores").filter($"opened_at".isNull || $"tax_rate".isNull).count() === 0)
    assert(loaded("raw_supplies").filter($"perishable".isNull || $"cost".isNull).count() === 0)
    // seeds route to their custom namespace verbatim (generate_schema_name)
    assert(Seeds.schemaFor("seed", Some("raw"), "analytics", "dev") === "raw")
    // the load_source_data gate disables the whole set
    assert(Seeds.loadJaffle(spark, dir, enabled = false).isEmpty)
  }

  test("manifest names the cycle instead of overflowing the stack") {
    val a = m("a", Seq("b"))(in => in("b"))
    val b = m("b", Seq("a"))(in => in("a"))
    val ex = intercept[IllegalArgumentException](
      Manifest.manifest(spark, Seq(a, b)).collect())
    assert(ex.getMessage.contains("cycle"))
    assert(ex.getMessage.contains("a") && ex.getMessage.contains("b"))
  }

  test("SQL model refuses to clobber a pre-existing session temp view") {
    val src = Seq((1, "x")).toDF("id", "name")
    // user state that shares a dependency's name
    Seq(99).toDF("precious").createOrReplaceTempView("src")
    try {
      val sqlModel = Model.sql("m_sql", Seq("src"), View, "SELECT id FROM src")
      val ex = intercept[IllegalArgumentException](
        sqlModel.transform(Map("src" -> src)))
      assert(ex.getMessage.contains("src"))
      // the colliding view is untouched — not replaced, not dropped
      assert(spark.table("src").columns.toSeq === Seq("precious"))
    } finally spark.catalog.dropTempView("src")
    // and with the collision gone the same model runs fine
    val sqlModel = Model.sql("m_sql", Seq("src"), View, "SELECT id FROM src")
    assert(sqlModel.transform(Map("src" -> src)).collect().map(_.getInt(0)).toSeq === Seq(1))
  }

  test("dedup funnel DAG materializes pairs/labels once and consumers read parquet, not the pair graph") {
    val d = sf("0.001")
    val wh = java.nio.file.Files.createTempDirectory("graft-funnel").toString
    val r = graft.models.DedupFunnel.run(spark, d, new TableSink.Parquet(wh))
    assert(r.allTestsPassed, r.tests.filterNot(_.passed).mkString(", "))
    assert(r.skipped.isEmpty)
    // outputs match the standalone registry queries row-for-row
    val report = r("dedup_cluster_report").orderBy("doc_id").collect().toSeq
    val standalone = graft.ext.Clusters.dedupComponents.build(spark, d).collect().toSeq
    assert(report === standalone)
    val keep = r("dedup_keep_list").orderBy("cluster_id").collect().toSeq
    val keepStandalone = graft.ext.Clusters.dedupKeepBest.build(spark, d).collect().toSeq
    assert(keep === keepStandalone)
    // the SCALING.md claim, pinned: downstream consumers read the
    // MATERIALIZED labels table — their plans scan the sink's parquet
    // and contain none of the pair-graph machinery (shingle window /
    // posting-list join would show up as posexplode + xxhash64)
    val consumerPlan = graft.ext.Clusters
      .keepBest(r("dedup_labels"), spark.read.parquet(s"$d/documents.parquet"))
      .queryExecution.executedPlan.toString
    assert(consumerPlan.contains(wh), consumerPlan)
    assert(!consumerPlan.contains("posexplode") && !consumerPlan.contains("xxhash64"),
      s"keep list recomputes the pair graph:\n$consumerPlan")
  }

  test("salted partition write survives a frame whose only non-partition column nests a map") {
    // ADVICE r16: the salt-source filter must be RECURSIVE — a struct
    // with a nested map passed the old top-level MapType check, and
    // hash() over it fails at analysis in the writersPerPartition>1
    // path (the exact class the r15 fix targeted). With no hashable
    // column at all, the writer falls back to the partition columns
    // (constant salt — no worse than writers = 1) instead of throwing.
    import spark.implicits._
    val df = Seq((0, Map("a" -> 1)), (1, Map("b" -> 2)))
      .toDF("p", "m")
      .select(col("p"), struct(col("m")).as("payload"))
    val wh = java.nio.file.Files.createTempDirectory("graft-saltmap").toString
    val sink = new TableSink.BucketedParquet(wh, Map.empty,
      partitions = Map("t" -> Seq("p")), writersPerPartition = 2)
    val back = sink.write("t", df)
    assert(back.count() === 2)
    assert(back.select("p").collect().map(_.getInt(0)).sorted === Array(0, 1))
  }

  test("semantic dedup funnel DAG materializes the assignment once and matches the standalone rows") {
    val d = sf("0.001")
    val wh = java.nio.file.Files.createTempDirectory("graft-semfunnel").toString
    val r = graft.models.SemanticDedupFunnel.run(spark, d, new TableSink.Parquet(wh))
    assert(r.allTestsPassed, r.tests.filterNot(_.passed).mkString(", "))
    assert(r.skipped.isEmpty)
    // every emit is row-identical to its standalone registry row (the
    // k policy lands on the contract floor at harness scale)
    assert(r("sem_occupancy").collect().toSeq ===
      graft.ext.KMeans.semdedupOccupancy.build(spark, d).collect().toSeq)
    assert(r("sem_pairs").orderBy("cluster", "id_a", "id_b").collect().toSeq ===
      graft.ext.KMeans.semdedupAuto.build(spark, d).collect().toSeq)
    assert(r("sem_keep_list").orderBy("cluster_id").collect().toSeq ===
      graft.ext.Clusters.semdedupKeep.build(spark, d).collect().toSeq)
    // consumers of the materialized assignment read the sink's
    // parquet — the n·k centroid scoring (KMeans.assign's
    // BroadcastNestedLoopJoin grid) never survives into their plans;
    // the cosine that remains is the pair grid's own within-cluster
    // verify, which is its job
    val consumerPlan = graft.ext.KMeans.semdedupPairs(r("sem_assignments"))
      .queryExecution.executedPlan.toString
    assert(consumerPlan.contains(wh), consumerPlan)
    assert(!consumerPlan.contains("BroadcastNestedLoopJoin"),
      s"pair grid re-runs the centroid assignment grid:\n$consumerPlan")
  }

  test("dedup_funnel_keep registry row equals the standalone keep-best through the materialized DAG") {
    // the r19 row materializes models.DedupFunnel into a temp
    // warehouse, gates on its model tests, and publishes the WRITTEN
    // keep list — this pins the whole lifecycle (writes, read-back,
    // bounded collect, cache scope) row-identical to the standalone
    // composition whose oracle the row shares
    val d = sf("0.001")
    assert(graft.ext.Clusters.dedupFunnelKeep.build(spark, d)
      .orderBy("cluster_id").collect().toSeq ===
      graft.ext.Clusters.dedupKeepBest.build(spark, d).collect().toSeq)
  }

  test("ANN index DAG: materialized search equals the in-query registry result; report conserves") {
    val d = sf("0.001")
    val wh = java.nio.file.Files.createTempDirectory("graft-annidx").toString
    val r = graft.models.AnnIndexPipeline.run(spark, d, new TableSink.Parquet(wh))
    assert(r.allTestsPassed, r.tests.filterNot(_.passed).mkString(", "))
    assert(r.skipped.isEmpty)
    val raw = spark.read.parquet(s"$d/embeddings.parquet")
    // THE contract: search over the materialized tables returns
    // row-for-row what the standalone (train-in-query) registry
    // query returns — materialization must never change answers
    val fromIndex = graft.models.AnnIndexPipeline.search(raw, r(_))
      .collect().toSeq
    val standalone = graft.ext.Similarity.ivfpqTopK.build(spark, d).collect().toSeq
    assert(fromIndex === standalone)
    // search's plan reads the SINK's parquet (the materialized index),
    // and contains no codebook-training machinery (the Lloyd round
    // would show up as an avg over posexploded sub-vectors)
    val plan = graft.models.AnnIndexPipeline.search(raw, r(_))
      .queryExecution.executedPlan.toString
    assert(plan.contains(wh), plan)
    // report invariants: every vector indexed, cells partition the
    // corpus, code usage bounded by the codebook size
    val rep = r("ann_index_report").collect().head
    assert(rep.getLong(1) === raw.count(), "n_indexed = corpus size")
    assert(rep.getLong(2) >= 1L && rep.getLong(2) <= rep.getLong(3))
    assert(rep.getLong(5) <= graft.ext.Similarity.PqCodes.toLong)
    // codes table shape: one code per (vector, block)
    val codes = r("ann_pq_codes")
    assert(codes.count() === raw.count() * graft.ext.Similarity.PqBlocks)
    assert(codes.groupBy("vec_id", "blk").count().filter(col("count") > 1).count() === 0L)
  }

  test("Eval DAG: materialized reports equal the in-query registry results row-for-row") {
    val d = sf("0.001")
    val wh = java.nio.file.Files.createTempDirectory("graft-evaldag").toString
    val r = graft.models.EvalPipeline.run(spark, d, new TableSink.Parquet(wh))
    assert(r.allTestsPassed, r.tests.filterNot(_.passed).mkString(", "))
    assert(r.skipped.isEmpty)
    // THE contract: every report over the MATERIALIZED scores table
    // returns row-for-row what its standalone registry query returns —
    // materialization must never change answers
    assert(r("classifier_eval_report").collect().toSeq ===
      graft.ext.Pipelines.classifierEval.build(spark, d).collect().toSeq)
    assert(r("classifier_calibration_report").collect().toSeq ===
      graft.ext.Pipelines.classifierCalibration.build(spark, d).collect().toSeq)
    assert(r("rater_agreement_report").collect().toSeq ===
      graft.ext.Pipelines.raterAgreement.build(spark, d).collect().toSeq)
    // the report plans read the SINK's parquet (the scores table),
    // not the raw corpus: no tokenizer/NB training machinery re-runs
    val plan = r("classifier_eval_report").queryExecution.executedPlan.toString
    assert(plan.contains(wh), plan)
    assert(!plan.contains("documents.parquet"),
      s"report must not re-score the corpus:\n$plan")
  }

  test("ANN index DAG wave-parallel run matches sequential table-for-table") {
    // centroids ∥ codebook are independent roots (wave 1), cells ∥
    // codes follow (wave 2) — the build parallelizes across the two
    // index arms and must produce identical tables
    val d = sf("0.001")
    val seqR = graft.models.AnnIndexPipeline.run(
      new graft.engine.ParquetCatalog(spark, d), new TableSink.Cached)
    val parR = new graft.engine.DagRunner(
      new graft.engine.ParquetCatalog(spark, d), new TableSink.Cached,
      maxParallelism = 4).run(graft.models.AnnIndexPipeline.all)
    assert(seqR.allTestsPassed && parR.allTestsPassed)
    Seq("ann_centroids", "ann_cells", "ann_pq_codebook", "ann_pq_codes").foreach { t =>
      assert(parR(t).exceptAll(seqR(t)).count() === 0L &&
        seqR(t).exceptAll(parR(t)).count() === 0L, s"$t differs under wave scheduling")
    }
  }

  test("bucketed sink: co-bucketed index tables join with ZERO exchanges") {
    val d = sf("0.001")
    val wh = java.nio.file.Files.createTempDirectory("graft-bucket").toString
    val sink = new TableSink.BucketedParquet(wh, Map(
      "ann_cells" -> (8, Seq("vec_id")),
      "ann_pq_codes" -> (8, Seq("vec_id"))))
    val r = graft.models.AnnIndexPipeline.run(spark, d, sink)
    assert(r.allTestsPassed, r.tests.filterNot(_.passed).mkString(", "))
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      // the recurring fact-to-fact join of the index: codes ⋈ cells on
      // vec_id — co-bucketed, so the scans' partitioning satisfies the
      // join requirement and NO exchange appears anywhere in the plan
      val j = spark.table("ann_pq_codes").join(spark.table("ann_cells"), "vec_id")
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)
      // bucketed output matches the unbucketed write row-for-row
      assert(spark.table("ann_pq_codes").count() ===
        r("ann_pq_codes").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
      spark.sql("DROP TABLE IF EXISTS ann_pq_codes")
      spark.sql("DROP TABLE IF EXISTS ann_cells")
    }
  }

  test("ANN index incremental refresh: delta encodes against the frozen codebook, upserts merge") {
    val d = sf("0.001")
    val wh = java.nio.file.Files.createTempDirectory("graft-annref").toString
    val r = graft.models.AnnIndexPipeline.run(spark, d, new TableSink.Parquet(wh))
    assert(r.allTestsPassed)
    val raw = spark.read.parquet(s"$d/embeddings.parquet")
    val n = raw.count()
    // a new batch: same vectors re-ingested under fresh ids
    val batch = raw.select((col("vec_id") + lit(100000L)).as("vec_id"),
      col("embedding"), col("label"))
    graft.models.AnnIndexPipeline.refresh(spark, wh, batch)
    val codes = spark.read.parquet(s"$wh/ann_pq_codes")
    val cells = spark.read.parquet(s"$wh/ann_cells")
    assert(cells.count() === 2 * n)
    assert(codes.count() === 2 * n * graft.ext.Similarity.PqBlocks)
    // frozen-codebook determinism: a replica's codes equal its
    // original's (same sub-vectors, same codebook, same tiebreak)
    val orig = codes.filter(col("vec_id") < 100000L)
      .select(col("vec_id"), col("blk"), col("code"))
    val replica = codes.filter(col("vec_id") >= 100000L)
      .select((col("vec_id") - 100000L).as("vec_id"), col("blk"), col("code"))
    assert(replica.exceptAll(orig).count() === 0L && orig.exceptAll(replica).count() === 0L)
    // same-key re-ingest REPLACES: refreshing the same batch again
    // does not grow the tables
    graft.models.AnnIndexPipeline.refresh(spark, wh, batch)
    assert(spark.read.parquet(s"$wh/ann_pq_codes").count() ===
      2 * n * graft.ext.Similarity.PqBlocks)
    // the refreshed index answers queries over the GROWN corpus: full
    // rank sets come back, and the identical-vector replicas surface
    // as top hits (cosine 1.0 duplicates — exactly what a dedup pass
    // over search results would then catch)
    // the corpus handed to search is the GROWN one (the re-rank
    // fetches full-precision vectors by id from it)
    val fromIndex = graft.models.AnnIndexPipeline.search(raw.unionByName(batch),
      name => spark.read.parquet(s"$wh/$name")).collect().toSeq
    assert(fromIndex.size === graft.ext.Similarity.NumQueries * graft.ext.Similarity.TopK)
    assert(fromIndex.exists(_.getLong(1) >= 100000L), "replicas reachable via the index")
  }

  test("corpus pipeline DAG: stages compose doc-level, agree with registry metrics, and checkpoint") {
    import graft.engine.Functions.{avgExact, roundPortable}
    val d = sf("0.001")
    val wh = java.nio.file.Files.createTempDirectory("graft-corpus").toString
    val r = graft.models.CorpusPipeline.run(spark, d, new TableSink.Parquet(wh))
    assert(r.allTestsPassed, r.tests.filterNot(_.passed).mkString(", "))
    assert(r.skipped.isEmpty)
    // stage 1 equals the registry query's published per-lang metrics:
    // the doc-level clean stage re-aggregated must reproduce
    // pipeline_clean_corpus exactly (shared gate expressions)
    val cleanedSummary = r("corpus_cleaned")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
        roundPortable(avgExact(col("n_tokens")), 4).as("avg_tokens"))
      .orderBy("lang").collect().toSeq
    val registry = graft.ext.Pipelines.cleanCorpus.build(spark, d).collect().toSeq
    assert(cleanedSummary === registry)
    // stage 2 agrees with the registry contamination verdicts: nothing
    // the registry flags survives, and no benchmark doc leaks through
    val flagged = graft.ext.Pipelines.decontaminate.build(spark, d)
      .filter(col("contaminated")).select("doc_id").collect().map(_.getLong(0)).toSet
    val surviving = r("corpus_decontaminated").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(surviving.intersect(flagged).isEmpty)
    assert(!surviving.exists(_ < graft.ext.Pipelines.BenchmarkDocs))
    // resample stage: the model-scored gate bites (strict subset) and
    // never invents rows; per-lang it keeps more than the head third
    // (head is all kept) and at most head+middle
    val deconIds = surviving
    val resampledIds = r("corpus_resampled").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(resampledIds.subsetOf(deconIds), "resample invented rows")
    assert(resampledIds.size < deconIds.size, "resample gate did not bite")
    val deconByLang = r("corpus_decontaminated").select("lang", "doc_id").collect()
      .groupBy(_.getString(0)).map { case (l, xs) => l -> xs.map(_.getLong(1)).toSet }
    r("corpus_resampled").select("lang", "doc_id").collect()
      .groupBy(_.getString(0)).foreach { case (l, xs) =>
        val n = deconByLang(l).size
        val kept = xs.length
        assert(kept >= n / 3 && kept <= (2 * n) / 3 + 2,
          s"$l: resample kept $kept of $n — outside the head..head+middle band")
      }
    // stage 3: hard cap per language
    r("corpus_capped").groupBy("lang").count().collect()
      .foreach(row => assert(row.getLong(1) <= graft.ext.Pipelines.DomainCap))
    // budget stage: the waterline must bite at harness scale, spend at
    // most CorpusBudget tokens, and keep a quality-dominant subset
    val cappedRows = r("corpus_capped")
      .select("doc_id", "n_tokens", "quality").collect()
    val budgetIds = r("corpus_budget").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(budgetIds.size < cappedRows.length,
      "corpus budget did not bite — stage is untested at this scale")
    val spentTokens = cappedRows.filter(row => budgetIds(row.getLong(0)))
      .map(_.getLong(1)).sum
    assert(spentTokens <= graft.ext.Pipelines.CorpusBudget,
      s"budget stage spent $spentTokens > ${graft.ext.Pipelines.CorpusBudget}")
    val binOf = (q: Double) => math.floor(q * graft.ext.Pipelines.BudgetBins).toLong
    val minSelBin = cappedRows.filter(row => budgetIds(row.getLong(0)))
      .map(row => binOf(row.getDouble(2))).min
    cappedRows.filterNot(row => budgetIds(row.getLong(0))).foreach { row =>
      assert(binOf(row.getDouble(2)) <= minSelBin,
        s"rejected doc ${row.getLong(0)} sits in a bin above the waterline")
    }
    // stage 4: every doc's pack is its starting-offset bucket (docs are
    // never split, so a pack may spill past the budget by the last
    // doc's tail — the invariant is the START offsets, not the sum)
    val budget = graft.ext.Pipelines.PackBudget
    r("corpus_packed").orderBy("lang", "doc_id").collect()
      .groupBy(_.getString(1)).foreach { case (_, docs) =>
        var cum = 0L
        docs.sortBy(_.getLong(0)).foreach { row =>
          assert(row.getLong(3) === cum / budget,
            s"pack_id mismatch at doc ${row.getLong(0)}: start=$cum")
          cum += row.getLong(2)
        }
      }
    // each stage consumes the previous stage's PARQUET checkpoint —
    // tokenization/scoring never re-runs downstream
    val p = r("corpus_decontaminated").queryExecution.executedPlan.toString
    assert(p.contains(wh), p)
    assert(!p.contains("regexp_replace"), s"downstream stage re-scores the corpus:\n$p")
    // near-dup stage: survivors are exactly the keep-list representatives
    // drawn from the cleaned corpus, and no near-dup EDGE survives (every
    // pair links two docs of one cluster; only one of them is kept)
    val cleanedIds = r("corpus_cleaned").select("doc_id").collect().map(_.getLong(0)).toSet
    val keptIds = r("corpus_keep_list").select("kept_doc").collect().map(_.getLong(0)).toSet
    val nearIds = r("corpus_neardup").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(nearIds === cleanedIds.intersect(keptIds))
    val pairRows = r("corpus_pairs").select("doc_a", "doc_b").collect()
    assert(pairRows.nonEmpty, "fixture produced no near-dup pairs — the stage is untested")
    assert(!pairRows.exists(e => nearIds(e.getLong(0)) && nearIds(e.getLong(1))),
      "a near-dup pair survived the keep-list semi-join")
    // the keep list is consumed FROM PARQUET: the near-dup stage's plan
    // scans the sink, never the pair-graph machinery
    val np = r("corpus_neardup").queryExecution.executedPlan.toString
    assert(np.contains(wh), np)
    assert(!np.contains("posexplode") && !np.contains("xxhash64"),
      s"near-dup stage recomputes the pair graph:\n$np")
  }

  test("skew-safe corpus stages equal their window forms on adversarial shapes") {
    import org.apache.spark.sql.expressions.Window
    import graft.models.CorpusPipeline
    import graft.ext.Pipelines
    val d = sf("0.001")
    // (a) cleaned keep-first: duplicate every text under a higher id —
    // the min_by aggregate must keep exactly the window form's rn=1 rows
    val docs = spark.read.parquet(s"$d/documents.parquet")
    val dupDocs = docs.unionByName(
      docs.withColumn("doc_id", col("doc_id") + lit(1000000L)))
    val gotClean = CorpusPipeline.cleaned.transform(Map("documents" -> dupDocs))
      .orderBy("doc_id").collect().toSeq
    val qc = graft.ext.TextAnalysis.qualityCols(col("text"))
    val scored = dupDocs
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        qc.nTokens.cast("long").as("n_tokens"), qc.score.as("qr"),
        graft.engine.Functions.roundPortable(qc.score, 6).as("quality"),
        qc.stopRatio.as("sr"))
      .withColumn("text_hash", md5(encode(col("text"), "UTF-8")))
      .filter(col("qr") >= CorpusPipeline.QualityMin && col("sr") > 0)
    val wHash = Window.partitionBy("text_hash").orderBy("doc_id")
    val expClean = scored.withColumn("rn", row_number().over(wHash))
      .filter(col("rn") === 1)
      .select("doc_id", "lang", "source", "text", "n_tokens", "quality")
      .orderBy("doc_id").collect().toSeq
    assert(gotClean === expClean)
    assert(gotClean.nonEmpty && gotClean.forall(_.getLong(0) < 1000000L),
      "a duplicated text survived under the higher id")
    // (b) capped: one hot lang (2700 of 3000 rows) + heavy quality ties
    val res = spark.range(0, 3000).select(col("id").as("doc_id"),
      when(col("id") < 2700, lit("en"))
        .otherwise(concat(lit("l"), (col("id") % 7).cast("string"))).as("lang"),
      lit("s").as("source"), lit("t").as("text"),
      (col("id") % 97 + 1).as("n_tokens"),
      ((col("id") % 9).cast("double") / 10.0).as("quality"))
    val gotCap = CorpusPipeline.capped.transform(Map("corpus_resampled" -> res))
      .orderBy("doc_id").collect().toSeq
    val wCap = Window.partitionBy("lang").orderBy(col("quality").desc, col("doc_id"))
    val expCap = res.withColumn("rnk", row_number().over(wCap))
      .filter(col("rnk") <= Pipelines.DomainCap).drop("rnk")
      .orderBy("doc_id").collect().toSeq
    assert(gotCap === expCap)
    // (c) packed: degenerate lang split across range partitions
    val bud = spark.range(0, 2500).select(col("id").as("doc_id"),
      when(col("id") < 2200, lit("en")).otherwise(lit("fr")).as("lang"),
      (col("id") % 313 + 1).as("n_tokens"))
    val gotPack = CorpusPipeline.packed.transform(Map("corpus_budget" -> bud))
      .orderBy("doc_id").collect().toSeq
    val wP = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expPack = bud.withColumn("cum", sum(col("n_tokens")).over(wP))
      .withColumn("pack_id", expr(s"(cum - n_tokens) div ${Pipelines.PackBudget}"))
      .select("doc_id", "lang", "n_tokens", "pack_id")
      .orderBy("doc_id").collect().toSeq
    assert(gotPack === expPack)
  }

  test("incremental corpus refresh merges batch deltas and matches a full rebuild row-for-row") {
    import graft.models.CorpusPipeline
    val d = sf("0.01")
    val docs = spark.read.parquet(s"$d/documents.parquet")
    // append-only ingest: the batch is the upper half of the id space
    val batchFrom = docs.agg(max("doc_id")).head.getLong(0) / 2
    val tables = Seq("corpus_cleaned", "corpus_postings", "corpus_pairs",
      "corpus_labels", "corpus_keep_list", "corpus_neardup",
      "corpus_decontaminated", "corpus_resampled", "corpus_capped",
      "corpus_budget", "corpus_packed")

    // day 1: standing corpus from the base half
    val wh = java.nio.file.Files.createTempDirectory("graft-inc").toString
    val sink = new TableSink.ParquetUpsert(wh, CorpusPipeline.incrementalKeys)
    val base = new DagRunner(
      new MapCatalog(Map("documents" -> docs.filter(col("doc_id") < batchFrom))), sink)
      .run(CorpusPipeline.all)
    assert(base.allTestsPassed, base.tests.filterNot(_.passed).mkString(", "))

    // day 2: refresh with the batch — text-bearing stages run on the
    // delta only, standing tables merge by key, downstream recomputes
    val inc = new DagRunner(
      new MapCatalog(Map(
        "documents" -> docs,
        CorpusPipeline.BaseCleaned -> spark.read.parquet(s"$wh/corpus_cleaned"))), sink)
      .run(CorpusPipeline.incremental(batchFrom))
    assert(inc.allTestsPassed, inc.tests.filterNot(_.passed).mkString(", "))
    assert(inc.skipped.isEmpty)

    // the batch-only claim, pinned in the plan: pair generation
    // broadcasts the batch postings so the standing posting list is
    // never shuffled — the join must be broadcast, probe side batch
    val posts = spark.read.parquet(s"$wh/corpus_postings")
    val deltaPlan = graft.ext.Dedup.jaccardPairsFrom(posts, Some(batchFrom),
      graft.ext.Dedup.PairRoute.Direct)
      .queryExecution.executedPlan.toString
    assert(deltaPlan.contains("BroadcastHashJoin"),
      s"pair delta shuffles the standing posting list:\n$deltaPlan")

    // ground truth: a from-scratch rebuild over all documents
    val wh2 = java.nio.file.Files.createTempDirectory("graft-full").toString
    val full = new DagRunner(new MapCatalog(Map("documents" -> docs)),
      new TableSink.Parquet(wh2)).run(CorpusPipeline.all)
    assert(full.allTestsPassed, full.tests.filterNot(_.passed).mkString(", "))

    // every standing table is row-identical to the rebuild
    tables.foreach { name =>
      val merged = spark.read.parquet(s"$wh/$name").collect().map(_.toString).sorted
      val rebuilt = spark.read.parquet(s"$wh2/$name").collect().map(_.toString).sorted
      assert(merged.length === rebuilt.length,
        s"$name: ${merged.length} merged rows vs ${rebuilt.length} rebuilt")
      assert(merged === rebuilt, s"$name diverges from the full rebuild")
    }
    // and the refresh actually exercised the merge path: day-1 rows
    // survived (not a disguised full rewrite of an empty table)
    assert(spark.read.parquet(s"$wh/corpus_cleaned")
      .filter(col("doc_id") < batchFrom).count() > 0)
    assert(spark.read.parquet(s"$wh/corpus_cleaned")
      .filter(col("doc_id") >= batchFrom).count() > 0)
  }

  test("compaction collapses a fragmented table without changing a row") {
    import graft.engine.Compaction
    val wh = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val path = s"$wh/frag"
    val src = spark.read.parquet(s"${sf()}/lineitem.parquet")
    src.repartition(64).write.parquet(path)
    val before = spark.read.parquet(path)
      .collect().map(_.toString).sorted.toSeq
    val dir = new java.io.File(path)
    def files() = dir.listFiles.count(f => f.getName.endsWith(".parquet"))
    assert(files() === 64, "fixture should be fragmented")
    val bytes = dir.listFiles.filter(_.getName.endsWith(".parquet")).map(_.length).sum
    // target a quarter of the data per file -> exactly 4 output files
    val r = Compaction.compact(spark, path, targetBytes = (bytes + 3) / 4)
    assert(r.filesBefore === 64 && r.filesAfter === 4, r)
    assert(files() === 4)
    // pure layout change: row-identical content, no leftover swap dirs
    val after = spark.read.parquet(path)
      .collect().map(_.toString).sorted.toSeq
    assert(after === before)
    assert(!new java.io.File(path + "__staging").exists())
    assert(!new java.io.File(path + "__backup").exists())
    // idempotent at the target size: a second pass keeps 4 files
    assert(Compaction.compact(spark, path, targetBytes = (bytes + 3) / 4).filesAfter <= 4)
  }
}
