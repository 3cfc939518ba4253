package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DecimalType, DoubleType, StringType}

import graft.engine.Functions._
import graft.engine.ParquetCatalog

/** One verification query per operator of SURVEY.md §2, expressed over
  * the driver's harness tables (TESTDATA.md) with a DuckDB-runnable
  * ANSI-SQL oracle.
  *
  * Determinism contract (SURVEY.md §7.2): the driver hash-compares row
  * streams, so every query ends in a total ORDER BY over a NON-NULL
  * unique key prefix (Spark sorts NULLS FIRST on ASC, DuckDB NULLS
  * LAST — never sort on a nullable column). Floating aggregates are
  * rounded; money goes through DECIMAL and back to DOUBLE so both
  * engines agree bit-for-bit.
  */
object Inventory {

  /** A verification query: the Spark build plus an optional oracle.
    * Oracle-less entries get the driver's weaker rows-only check
    * (used for ops DuckDB can't express, e.g. MinHash-LSH).
    */
  final case class Q(build: (SparkSession, String) => DataFrame, oracle: Option[String])

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    ParquetCatalog.read(s, s"$dir/$name.parquet")

  /** The harness `events.ts` has shipped in three physical encodings so
    * far (ns-precision INT64 read as long under
    * `spark.sql.legacy.parquet.nanosAsLong`, µs TIMESTAMP_NTZ, µs
    * TIMESTAMP-with-tz). Normalize all of them to session-local
    * `TimestampType` so every downstream `unix_micros(ts)` /
    * `cast(ts as bigint)` consumer analyzes regardless of which one the
    * driver's parquet writer produced.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    // Defensive: the driver's smoke-check session may not carry the flag.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(t(s, dir, "events"))
  }

  /** Rebalance a relation ahead of CPU-heavy per-row work (tokenize,
    * vector math, explode) when the scan's natural parallelism is
    * below the cluster's — the single-row-group fixture shape, which
    * parquet cannot split, pins such work to one task. The partition
    * count is explicit because AQE coalesces a count-less repartition
    * back to one partition for byte-small/CPU-heavy rows. On a wide
    * production scan this is a no-op: no shuffle is added.
    *
    * The partition-count probe runs ONLY on narrow plans (leaf scan +
    * per-row ops): on a derived input, `.rdd` finalizes the adaptive
    * plan and eagerly executes any upstream shuffle stages, whose
    * results the real query then cannot reuse — paying that work
    * twice. A derived input needs no rebalance anyway: its upstream
    * exchange already fanned the rows to spark.sql.shuffle.partitions.
    */
  def rebalanced(df: DataFrame, key: String): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (!narrowScan(df.queryExecution.logical)) df
    else if (df.rdd.getNumPartitions < par) df.repartition(par, col(key))
    else df
  }

  /** True when the plan is a leaf relation under only per-row
    * (exchange-free) operators, so creating its RDD cannot trigger
    * upstream stage execution.
    */
  private def narrowScan(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case _: LeafNode => true
      case n: Project => narrowScan(n.child)
      case n: Filter => narrowScan(n.child)
      case n: Generate => narrowScan(n.child)
      case n: SubqueryAlias => narrowScan(n.child)
      case _ => false
    }
  }

  /** Rewrites `ts` to `TimestampType` from any of the three harness
    * encodings. Under the pinned UTC session the NTZ→LTZ cast is the
    * identity on the underlying micros value.
    */
  def normalizeTs(raw: DataFrame, tsCol: String = "ts"): DataFrame =
    raw.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.LongType =>
        // `div` is integral division on longs — `/` would go through double
        // and round ~2% of epoch-ns values (>2^53) off by 1 µs.
        raw.withColumn(tsCol, timestamp_micros(expr(s"$tsCol div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn(tsCol, col(tsCol).cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }

  // ------------------------------------------------------------------
  // §2.1 S1 — source scan (full table, fixed projection order)
  // ------------------------------------------------------------------
  val s1Scan: Q = Q(
    (s, d) => t(s, d, "region").select("r_regionkey", "r_name").orderBy("r_regionkey"),
    Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")
  )

  // ------------------------------------------------------------------
  // §2.2 P1/P2 — column projection + reorder (the staging-model shape,
  // reference `models/staging/stg_top_terms.sql:11-25`)
  // ------------------------------------------------------------------
  val p2Projection: Q = Q(
    (s, d) =>
      t(s, d, "customer")
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
        .orderBy("c_custkey"),
    Some("SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer ORDER BY c_custkey")
  )

  // ------------------------------------------------------------------
  // §2.2 P3/P6 — alias + INT→STRING cast (reference
  // `models/marts/top_terms_comparison.sql:20-21`)
  // ------------------------------------------------------------------
  val p3RenameCast: Q = Q(
    (s, d) =>
      t(s, d, "customer")
        .select(
          col("c_custkey").cast(StringType).as("entity_key"),
          col("c_name").as("entity_name"),
          col("c_nationkey").as("nation_key"))
        .orderBy("entity_key"),
    Some("""SELECT CAST(c_custkey AS VARCHAR) AS entity_key, c_name AS entity_name,
           |       c_nationkey AS nation_key
           |FROM customer ORDER BY entity_key""".stripMargin)
  )

  // ------------------------------------------------------------------
  // §2.2 P4/P5 + §2.6 U1 — literal scope columns, typed NULL column,
  // positional UNION ALL (the `top_terms_comparison` merge shape,
  // reference `models/marts/top_terms_comparison.sql:1-35`)
  // ------------------------------------------------------------------
  val p4ScopeUnion: Q = Q(
    (s, d) => {
      val c = t(s, d, "customer").select(
        lit("customer").as("scope"),
        col("c_custkey").cast(StringType).as("entity_key"),
        col("c_name").as("entity_name"),
        col("c_mktsegment").as("segment"),
        col("c_acctbal").as("acctbal"))
      val sup = t(s, d, "supplier").select(
        lit("supplier").as("scope"),
        col("s_suppkey").cast(StringType).as("entity_key"),
        col("s_name").as("entity_name"),
        lit(null).cast(StringType).as("segment"),
        col("s_acctbal").as("acctbal"))
      // positional union — NOT unionByName (SURVEY.md §4 trap 3)
      c.union(sup).orderBy("scope", "entity_key")
    },
    Some("""SELECT 'customer' AS scope, CAST(c_custkey AS VARCHAR) AS entity_key,
           |       c_name AS entity_name, c_mktsegment AS segment, c_acctbal AS acctbal
           |FROM customer
           |UNION ALL
           |SELECT 'supplier', CAST(s_suppkey AS VARCHAR), s_name, CAST(NULL AS VARCHAR), s_acctbal
           |FROM supplier
           |ORDER BY scope, entity_key""".stripMargin)
  )

  // ------------------------------------------------------------------
  // §2.7 F1 — rank_tier CASE cascade
  // (reference `models/marts/trending_terms_analysis.sql:53-58`)
  // ------------------------------------------------------------------
  val f1RankTier: Q = Q(
    (s, d) =>
      t(s, d, "part")
        .select(col("p_partkey"), col("p_size"), rankTier(col("p_size")).as("rank_tier"))
        .orderBy("p_partkey"),
    Some("""SELECT p_partkey, p_size,
           |  CASE WHEN p_size <= 5 THEN 'Top 5'
           |       WHEN p_size <= 10 THEN 'Top 10'
           |       WHEN p_size <= 25 THEN 'Top 25'
           |       ELSE 'Other' END AS rank_tier
           |FROM part ORDER BY p_partkey""".stripMargin)
  )

  // ------------------------------------------------------------------
  // §2.7 F2 — growth_category CASE cascade
  // (reference `models/marts/trending_terms_analysis.sql:60-66`)
  // ------------------------------------------------------------------
  val f2GrowthCategory: Q = Q(
    (s, d) =>
      t(s, d, "orders")
        .select(col("o_orderkey"),
          (col("o_totalprice") / lit(100)).as("percent_gain"),
          growthCategory(col("o_totalprice") / lit(100)).as("growth_category"))
        .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey, o_totalprice / 100 AS percent_gain,
           |  CASE WHEN o_totalprice / 100 >= 1000 THEN 'Explosive (1000%+)'
           |       WHEN o_totalprice / 100 >= 500 THEN 'Very High (500-999%)'
           |       WHEN o_totalprice / 100 >= 200 THEN 'High (200-499%)'
           |       WHEN o_totalprice / 100 >= 100 THEN 'Moderate (100-199%)'
           |       ELSE 'Low (<100%)' END AS growth_category
           |FROM orders ORDER BY o_orderkey""".stripMargin)
  )

  // ------------------------------------------------------------------
  // §2.7 F3 — rank_category with the `rank = 1` equality arm
  // (reference `models/marts/top_terms_comparison.sql:50-55`)
  // ------------------------------------------------------------------
  val f3RankCategory: Q = Q(
    (s, d) =>
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          rankCategory(col("l_linenumber")).as("rank_category"))
        .orderBy("l_orderkey", "l_linenumber"),
    Some("""SELECT l_orderkey, l_linenumber,
           |  CASE WHEN l_linenumber = 1 THEN '#1 Term'
           |       WHEN l_linenumber <= 5 THEN 'Top 5'
           |       WHEN l_linenumber <= 10 THEN 'Top 10'
           |       ELSE 'Other' END AS rank_category
           |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)
  )

  // ------------------------------------------------------------------
  // §2.7 F4 — interest_level buckets over a 0–100 domain
  // (reference `models/marts/top_terms_comparison.sql:57-63`)
  // ------------------------------------------------------------------
  val f4InterestLevel: Q = Q(
    (s, d) =>
      t(s, d, "part")
        .select(col("p_partkey"), (col("p_size") * lit(2)).as("score"),
          interestLevel(col("p_size") * lit(2)).as("interest_level"))
        .orderBy("p_partkey"),
    Some("""SELECT p_partkey, p_size * 2 AS score,
           |  CASE WHEN p_size * 2 >= 80 THEN 'Very High Interest'
           |       WHEN p_size * 2 >= 60 THEN 'High Interest'
           |       WHEN p_size * 2 >= 40 THEN 'Moderate Interest'
           |       WHEN p_size * 2 >= 20 THEN 'Low Interest'
           |       ELSE 'Very Low Interest' END AS interest_level
           |FROM part ORDER BY p_partkey""".stripMargin)
  )

  // ------------------------------------------------------------------
  // §2.2 P8 + §2.7 F5 — CASE over LIKE predicates
  // (reference `models/marts/weekly_trends_summary.sql:97-105`)
  // ------------------------------------------------------------------
  val f5LikeCase: Q = Q(
    (s, d) =>
      t(s, d, "part")
        .select(col("p_partkey"), col("p_name"), col("p_type"),
          when(col("p_name").like("%widget%"), "Widget").otherwise("Other").as("product_family"),
          when(col("p_type").like("ECO%"), "Economy").otherwise("Premium").as("price_class"))
        .orderBy("p_partkey"),
    Some("""SELECT p_partkey, p_name, p_type,
           |  CASE WHEN p_name LIKE '%widget%' THEN 'Widget' ELSE 'Other' END AS product_family,
           |  CASE WHEN p_type LIKE 'ECO%' THEN 'Economy' ELSE 'Premium' END AS price_class
           |FROM part ORDER BY p_partkey""".stripMargin)
  )

  // ------------------------------------------------------------------
  // §2.7 F7 — cents_to_dollars macro
  // (reference `macros/cents_to_dollars.sql:3-21`). Round-trips through
  // integer cents and DECIMAL(16,2) so both engines agree exactly; the
  // final DOUBLE cast normalizes the result schema across dialects.
  // ------------------------------------------------------------------
  val f7CentsToDollars: Q = Q(
    (s, d) => {
      val cents = round(col("l_extendedprice") * lit(100), 0).cast("long")
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), cents.as("price_cents"),
          centsToDollars(cents).cast(DoubleType).as("price_dollars"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber,
           |  CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_cents,
           |  CAST(round(CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT) / 100 AS DECIMAL(16,2)), 2) AS DOUBLE) AS price_dollars
           |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)
  )

  // ------------------------------------------------------------------
  // §2.4 A1–A5 + §2.7 F6 — multi-key hash aggregate: count(*), avg,
  // max, exact count(distinct), round(_,2)
  // (reference `models/marts/weekly_trends_summary.sql:5-14`).
  // Scale note: Catalyst plans partial+final HashAggregateExec (map-side
  // combine before the shuffle); countDistinct stays EXACT per §2.4 A5.
  // ------------------------------------------------------------------
  val aGroupAgg: Q = Q(
    (s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("total_rows"),
          roundPortable(avgExact(col("l_quantity")), 2).as("avg_qty"),
          max(col("l_extendedprice")).as("max_price"),
          countDistinct(col("l_suppkey")).as("unique_suppliers"))
        .orderBy("l_returnflag", "l_linestatus"),
    Some("""SELECT l_returnflag, l_linestatus, count(*) AS total_rows,
           |       floor(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) * 100 + 0.5) / 100 AS avg_qty,
           |       max(l_extendedprice) AS max_price,
           |       count(DISTINCT l_suppkey) AS unique_suppliers
           |FROM lineitem GROUP BY l_returnflag, l_linestatus
           |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  )

  // ------------------------------------------------------------------
  // §2.5 — global ORDER BY ... DESC with tiebreak
  // (reference `models/marts/weekly_trends_summary.sql:111`)
  // ------------------------------------------------------------------
  val sortGlobal: Q = Q(
    (s, d) =>
      t(s, d, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey")),
    Some("""SELECT o_orderkey, o_orderstatus, o_totalprice
           |FROM orders ORDER BY o_totalprice DESC, o_orderkey""".stripMargin)
  )

  // ------------------------------------------------------------------
  // §2.8 T1 — not_null data test ("select failing rows" compiled form;
  // dbt test passes iff count == 0).
  // Scale note: all columns' null counts come from ONE scan — a single
  // aggregate of conditional counts, pivoted to rows via inline() —
  // instead of one scan per tested column.
  // ------------------------------------------------------------------
  val t1NotNull: Q = Q(
    (s, d) => {
      val cols = Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
      val counts = cols.map(c => count(when(col(c).isNull, 1)).as(s"null_$c"))
      t(s, d, "lineitem")
        .agg(counts.head, counts.tail: _*)
        .select(inline(array(cols.map(c =>
          struct(lit(c).as("column_name"), col(s"null_$c").as("failing_rows"))): _*)))
        .orderBy("column_name")
    },
    Some("""SELECT 'l_orderkey' AS column_name, count(*) AS failing_rows FROM lineitem WHERE l_orderkey IS NULL
           |UNION ALL SELECT 'l_quantity', count(*) FROM lineitem WHERE l_quantity IS NULL
           |UNION ALL SELECT 'l_returnflag', count(*) FROM lineitem WHERE l_returnflag IS NULL
           |UNION ALL SELECT 'l_shipdate', count(*) FROM lineitem WHERE l_shipdate IS NULL
           |ORDER BY column_name""".stripMargin)
  )

  // ------------------------------------------------------------------
  // §2.8 T2 — accepted_values data test, with the NULL-pass semantics
  // of dbt's compiled `not in` filter (SURVEY.md §4 trap 5)
  // ------------------------------------------------------------------
  // Scale note: one scan per TABLE (lineitem's two column checks share
  // a single conditional-count aggregate), not one per tested column.
  val t2AcceptedValues: Q = Q(
    (s, d) => {
      def fail(c: String, vals: Seq[String]) =
        count(when(!col(c).isin(vals: _*) && col(c).isNotNull, 1))
      val ord = t(s, d, "orders")
        .agg(fail("o_orderstatus", Seq("P", "O", "F")).as("failing_rows"))
        .select(lit("o_orderstatus").as("column_name"), col("failing_rows"))
      val li = t(s, d, "lineitem")
        .agg(
          fail("l_returnflag", Seq("A", "N", "R")).as("f_rf"),
          fail("l_linestatus", Seq("O", "F")).as("f_ls"))
        .select(inline(array(
          struct(lit("l_returnflag").as("column_name"), col("f_rf").as("failing_rows")),
          struct(lit("l_linestatus").as("column_name"), col("f_ls").as("failing_rows")))))
      ord.union(li).orderBy("column_name")
    },
    Some("""SELECT 'o_orderstatus' AS column_name, count(*) AS failing_rows
           |FROM orders WHERE o_orderstatus NOT IN ('P','O','F') AND o_orderstatus IS NOT NULL
           |UNION ALL SELECT 'l_returnflag', count(*)
           |FROM lineitem WHERE l_returnflag NOT IN ('A','N','R') AND l_returnflag IS NOT NULL
           |UNION ALL SELECT 'l_linestatus', count(*)
           |FROM lineitem WHERE l_linestatus NOT IN ('O','F') AND l_linestatus IS NOT NULL
           |ORDER BY column_name""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Extension (§2.8 beyond reference): dbt's other two built-in tests.
  // t3 runs the `unique` failing-rows shape (group-by key HAVING
  // count > 1) as a profile over three key columns — lineitem's
  // orderkey legitimately duplicates (one row per line), the true
  // primary keys report zero. t4 runs `relationships` (referential
  // integrity via LEFT ANTI join): TPC-H foreign keys are intact,
  // while events.user_id is NOT a customer key — a realistic orphan
  // report with nonzero rows.
  // ------------------------------------------------------------------
  val t3Unique: Q = Q(
    (s, d) => {
      def profile(df: DataFrame, c: String, label: String) =
        graft.engine.Unique(c).failingRows(df)
          .agg(count(lit(1)).as("failing_keys"),
            coalesce(sum(col("n")), lit(0L)).as("duplicate_rows"))
          .select(lit(label).as("test"), col("failing_keys"), col("duplicate_rows"))
      profile(t(s, d, "customer"), "c_custkey", "unique_customer_c_custkey")
        .union(profile(t(s, d, "orders"), "o_orderkey", "unique_orders_o_orderkey"))
        .union(profile(t(s, d, "lineitem"), "l_orderkey", "unique_lineitem_l_orderkey"))
        .orderBy("test")
    },
    Some("""WITH c AS (SELECT c_custkey, count(*) AS n FROM customer WHERE c_custkey IS NOT NULL GROUP BY 1 HAVING count(*) > 1),
           |     o AS (SELECT o_orderkey, count(*) AS n FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1 HAVING count(*) > 1),
           |     l AS (SELECT l_orderkey, count(*) AS n FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1 HAVING count(*) > 1)
           |SELECT 'unique_customer_c_custkey' AS test, count(*) AS failing_keys,
           |       CAST(coalesce(sum(n), 0) AS BIGINT) AS duplicate_rows FROM c
           |UNION ALL
           |SELECT 'unique_orders_o_orderkey', count(*), CAST(coalesce(sum(n), 0) AS BIGINT) FROM o
           |UNION ALL
           |SELECT 'unique_lineitem_l_orderkey', count(*), CAST(coalesce(sum(n), 0) AS BIGINT) FROM l
           |ORDER BY test""".stripMargin)
  )

  val t4Relationships: Q = Q(
    (s, d) => {
      def profile(child: DataFrame, childCol: String,
          parent: DataFrame, parentCol: String, label: String) =
        graft.engine.Relationships(childCol, () => parent, parentCol).failingRows(child)
          .agg(count(lit(1)).as("orphan_rows"),
            countDistinct(col(childCol)).as("orphan_keys"))
          .select(lit(label).as("relation"), col("orphan_rows"), col("orphan_keys"))
      profile(t(s, d, "orders"), "o_custkey", t(s, d, "customer"), "c_custkey",
        "orders_custkey_to_customer")
        .union(profile(t(s, d, "lineitem"), "l_orderkey", t(s, d, "orders"), "o_orderkey",
          "lineitem_orderkey_to_orders"))
        .union(profile(events(s, d), "user_id", t(s, d, "customer"), "c_custkey",
          "events_userid_to_customer"))
        .orderBy("relation")
    },
    Some("""SELECT 'orders_custkey_to_customer' AS relation, count(*) AS orphan_rows,
           |       count(DISTINCT o_custkey) AS orphan_keys
           |FROM orders o WHERE o_custkey IS NOT NULL
           |  AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
           |UNION ALL
           |SELECT 'lineitem_orderkey_to_orders', count(*), count(DISTINCT l_orderkey)
           |FROM lineitem l WHERE l_orderkey IS NOT NULL
           |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
           |UNION ALL
           |SELECT 'events_userid_to_customer', count(*), count(DISTINCT user_id)
           |FROM events e WHERE user_id IS NOT NULL
           |  AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)
           |ORDER BY relation""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Flagship: the full `weekly_trends_summary` mart shape
  // (reference `models/marts/weekly_trends_summary.sql:1-112`) over the
  // harness `events` table — per-grain hash aggregates per event_type
  // scope, typed-NULL gain columns on the non-value scopes,
  // round(_,2), CASE-over-LIKE categories, global DESC sort.
  //
  // Scale note: the reference's 4-way UNION of per-scope GROUP BYs
  // would scan `events` 4 times. Because every branch groups the SAME
  // table at the SAME (week, event_type) grain, the engine computes
  // ONE groupBy(week, event_type) — one scan, one shuffle — and
  // derives each branch's shape (trend_type label, NULLed max_value)
  // with CASE projections over the tiny aggregate. Identical rows,
  // 1/4 of the I/O; at 100 TB the scan is the whole cost. (The
  // positional-union operator itself is exercised by p4_scope_union
  // and the TrendsModels DAG, which keep the literal reference shape.)
  // ------------------------------------------------------------------
  val martWeeklyEventsSummary: Q = Q(
    (s, d) => {
      val ev = events(s, d)
      val hasValue = col("event_type").isin("purchase", "click")
      ev.filter(col("event_type").isin("purchase", "click", "view", "signup"))
        .groupBy(
          date_trunc("week", col("ts")).cast(DateType).as("week"),
          col("event_type"))
        .agg(
          count(lit(1)).as("total_events"),
          avgExact(col("value")).as("avg_value"),
          max(col("value")).as("max_value_raw"),
          countDistinct(col("user_id")).as("unique_users"))
        .select(
          col("week"),
          when(col("event_type") === "purchase", "rising_purchase")
            .when(col("event_type") === "click", "rising_click")
            .when(col("event_type") === "view", "top_view")
            .otherwise("top_signup").as("trend_type"),
          col("total_events"),
          roundPortable(col("avg_value"), 2).as("avg_value"),
          when(hasValue, col("max_value_raw")).otherwise(lit(null).cast(DoubleType))
            .as("max_value"),
          col("unique_users"))
        .select(
          col("week"), col("trend_type"), col("total_events"),
          col("avg_value"), col("max_value"), col("unique_users"),
          when(col("trend_type").like("rising%"), "Rising Trends").otherwise("Top Trends")
            .as("trend_category"),
          when(col("trend_type").like("%purchase%"), "Revenue").otherwise("Engagement")
            .as("engagement_scope"))
        .orderBy(col("week").desc, col("trend_type"))
    },
    Some("""WITH b AS (
           |  SELECT CAST(date_trunc('week', ts) AS DATE) AS week, 'rising_purchase' AS trend_type,
           |         count(*) AS total_events,
           |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value,
           |         max(value) AS max_value,
           |         count(DISTINCT user_id) AS unique_users
           |  FROM events WHERE event_type = 'purchase' GROUP BY 1
           |  UNION ALL
           |  SELECT CAST(date_trunc('week', ts) AS DATE), 'rising_click', count(*),
           |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*),
           |         max(value), count(DISTINCT user_id)
           |  FROM events WHERE event_type = 'click' GROUP BY 1
           |  UNION ALL
           |  SELECT CAST(date_trunc('week', ts) AS DATE), 'top_view', count(*),
           |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*),
           |         CAST(NULL AS DOUBLE), count(DISTINCT user_id)
           |  FROM events WHERE event_type = 'view' GROUP BY 1
           |  UNION ALL
           |  SELECT CAST(date_trunc('week', ts) AS DATE), 'top_signup', count(*),
           |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*),
           |         CAST(NULL AS DOUBLE), count(DISTINCT user_id)
           |  FROM events WHERE event_type = 'signup' GROUP BY 1
           |)
           |SELECT week, trend_type, total_events, floor(avg_value * 100 + 0.5) / 100 AS avg_value, max_value,
           |       unique_users,
           |       CASE WHEN trend_type LIKE 'rising%' THEN 'Rising Trends' ELSE 'Top Trends' END AS trend_category,
           |       CASE WHEN trend_type LIKE '%purchase%' THEN 'Revenue' ELSE 'Engagement' END AS engagement_scope
           |FROM b ORDER BY week DESC, trend_type""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Extension (§7.1-6): multi-way join with broadcast dims — revenue
  // per nation. Not in the reference surface (§2.3: no joins) but part
  // of the engine's capability set. DECIMAL(18,4) per-item cast makes
  // the sum order-independent and exact in both engines; final DOUBLE
  // cast normalizes the schema.
  // Scale note: nation is broadcast by HINT (25 rows at ANY scale
  // factor — a true fixed-cardinality dim). customer is NOT hinted:
  // its cardinality scales with SF (the r19 broadcast-hint sweep
  // caught an explicit broadcast(cust) here — fits at harness SF,
  // guaranteed OOM at 100 TB), so the customer join is left to
  // size-based planning: AQE auto-broadcasts it while it fits and
  // falls back to a shuffle join when it doesn't — the self-correcting
  // behavior an explicit hint forfeits. lineitem⋈orders shuffles on
  // orderkey — the one unavoidable shuffle.
  // ------------------------------------------------------------------
  val joinRevenueByNation: Q = Q(
    (s, d) => {
      val li = t(s, d, "lineitem")
      val ord = t(s, d, "orders").select("o_orderkey", "o_custkey")
      val cust = t(s, d, "customer").select("c_custkey", "c_nationkey")
      val nat = t(s, d, "nation").select("n_nationkey", "n_name")
      li.select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(DecimalType(18, 4)).as("rev"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(sum(col("rev")).cast(DoubleType).as("revenue"), count(lit(1)).as("n_items"))
        .orderBy("n_name")
    },
    Some("""SELECT n_name,
           |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           |       count(*) AS n_items
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation ON c_nationkey = n_nationkey
           |GROUP BY n_name ORDER BY n_name""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Extension (§2.3, runtime filtering): fact⋈fact join where one side
  // carries a selective predicate — the shape where Spark's runtime
  // bloom filter earns its keep at 100 TB. `orders` is filtered to
  // one status (~1/3 selective; in production think "last day's
  // orders", 1e-3); the optimizer builds a bloom filter over the
  // surviving o_orderkey set and injects `might_contain(l_orderkey)`
  // into the LINEITEM scan, so ~2/3 of the big fact's rows die at the
  // scan instead of travelling through the shuffle. Semantically a
  // no-op (the join would drop them anyway) — which is why the DuckDB
  // oracle is just the plain filtered join — so the driver gate proves
  // the rewrite preserves values while PlanSpec (with the size
  // thresholds lowered, since sf0.1 is below the 10 GB default) pins
  // the BloomFilterMightContain injection itself.
  // ------------------------------------------------------------------
  val joinRuntimeFiltered: Q = Q(
    (s, d) => {
      val li = t(s, d, "lineitem").select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(DecimalType(18, 4)).as("rev"))
      val ord = t(s, d, "orders").select("o_orderkey", "o_orderpriority", "o_orderstatus")
        .filter(col("o_orderstatus") === "F")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum(col("rev")).cast(DoubleType).as("revenue"), count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority,
           |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           |       count(*) AS n_items
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |WHERE o_orderstatus = 'F'
           |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Extension (§2.3 note made concrete): LEFT SEMI / LEFT ANTI joins —
  // existence tests without join fan-out. Customers with vs without
  // orders, per market segment. Semi/anti never duplicate left rows
  // (no fan-out on customers with many orders) and the right side
  // reduces to its join key at the exchange.
  // ------------------------------------------------------------------
  val joinSemiAnti: Q = Q(
    (s, d) => {
      val cust = t(s, d, "customer").select("c_custkey", "c_mktsegment")
      val ord = t(s, d, "orders").select("o_custkey")
      val withOrders = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("with_orders"))
      val withoutOrders = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("without_orders"))
      withOrders
        .join(withoutOrders, Seq("c_mktsegment"), "full_outer")
        .select(col("c_mktsegment"),
          coalesce(col("with_orders"), lit(0L)).as("with_orders"),
          coalesce(col("without_orders"), lit(0L)).as("without_orders"))
        .orderBy("c_mktsegment")
    },
    Some("""WITH w AS (
           |  SELECT c_mktsegment, count(*) AS with_orders FROM customer
           |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
           |  GROUP BY 1
           |), wo AS (
           |  SELECT c_mktsegment, count(*) AS without_orders FROM customer
           |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
           |  GROUP BY 1
           |)
           |SELECT c_mktsegment,
           |       coalesce(with_orders, 0) AS with_orders,
           |       coalesce(without_orders, 0) AS without_orders
           |FROM w FULL OUTER JOIN wo USING (c_mktsegment)
           |ORDER BY c_mktsegment""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Extension (§2.4 beyond reference): ROLLUP — hierarchical
  // subtotals (per (status, priority), per status, grand total) in ONE
  // pass; Catalyst expands the grouping sets into a single aggregate,
  // not one scan per level. Ordering is on grouping_id + coalesced
  // keys because rolled-up keys are NULL and the engines disagree on
  // NULL sort order (SURVEY.md §7.2).
  // ------------------------------------------------------------------
  val aggRollup: Q = Q(
    (s, d) =>
      t(s, d, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("total_price"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), coalesce(col("o_orderstatus"), lit("")),
          coalesce(col("o_orderpriority"), lit(""))),
    Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
           |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           |       GROUPING(o_orderstatus, o_orderpriority) AS gid
           |FROM orders
           |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
           |ORDER BY gid, coalesce(o_orderstatus, ''), coalesce(o_orderpriority, '')""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Extension (§2.6 beyond reference): INTERSECT / EXCEPT — both
  // DISTINCT-set semantics in Spark and DuckDB. Nation keys that have
  // customers vs suppliers; the tag column disambiguates the union of
  // the two result sets.
  // ------------------------------------------------------------------
  // ------------------------------------------------------------------
  // Extension (§2.5 beyond reference): lag/lead analytics — the
  // week-over-week delta shape every trends dashboard needs. The
  // window is keyed per event_type and ordered by week; deltas and
  // percent change are computed from the ROUNDED weekly averages so
  // both engines difference identical doubles. First week per key has
  // NULL deltas (no prior row) — nulls stay out of the sort keys.
  //
  // Scale notes: one shuffle for the weekly aggregate, and the lag
  // window REUSES that (event_type) partitioning over the tiny
  // per-week summary rows — at 100 TB the window input is
  // |keys|·|weeks| rows, not the event count.
  // ------------------------------------------------------------------
  val windowWowChange: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, d)
      val weekly = ev
        .groupBy(col("event_type"), date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week"))
        .agg(count(lit(1)).as("n_events"),
          roundPortable(avgExact(col("value")), 2).as("avg_value"))
      val w = Window.partitionBy("event_type").orderBy("week")
      weekly
        .withColumn("prev_avg", lag("avg_value", 1).over(w))
        .select(
          col("event_type"), col("week"), col("n_events"), col("avg_value"),
          roundPortable(col("avg_value") - col("prev_avg"), 2).as("wow_change"),
          when(col("prev_avg") =!= 0,
            roundPortable((col("avg_value") - col("prev_avg")) / col("prev_avg") * 100, 4))
            .as("wow_pct"))
        .orderBy("event_type", "week")
    },
    Some("""WITH weekly AS (
           |  SELECT event_type, strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
           |    count(*) AS n_events,
           |    floor(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) * 100 + 0.5) / 100 AS avg_value
           |  FROM events GROUP BY 1, 2
           |), lagd AS (
           |  SELECT event_type, week, n_events, avg_value,
           |    lag(avg_value) OVER (PARTITION BY event_type ORDER BY week) AS prev_avg
           |  FROM weekly
           |)
           |SELECT event_type, week, n_events, avg_value,
           |  floor((avg_value - prev_avg) * 100 + 0.5) / 100 AS wow_change,
           |  CASE WHEN prev_avg <> 0
           |       THEN floor((avg_value - prev_avg) / prev_avg * 100 * 10000 + 0.5) / 10000 END AS wow_pct
           |FROM lagd ORDER BY event_type, week""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Extension (§2.3 beyond reference): NON-EQUI range join — bucketing
  // facts into a dimension of value bands (`lo <= v < hi`). Spark
  // plans this as a BroadcastNestedLoopJoin with the tiny band table
  // broadcast: each fact row tests a handful of band predicates
  // map-side, no shuffle of the fact table at all. That is the right
  // plan while the band dimension is small; a large interval dimension
  // instead bins arithmetically (floor(v/width)) to recover an
  // equi-join — both shapes documented, this query exercises the
  // non-equi planner path.
  // ------------------------------------------------------------------
  val joinRangeBands: Q = Q(
    (s, d) => {
      val bands = Seq(
        ("p00_20", 0.0, 20.0), ("p20_50", 20.0, 50.0), ("p50_100", 50.0, 100.0),
        // 1e308 matches the oracle's literal exactly — Double.MaxValue
        // (~1.798e308) would band values in [1e308, MaxValue) here only.
        ("p100_150", 100.0, 150.0), ("p150_up", 150.0, 1e308))
      val bandDf = s.createDataFrame(bands).toDF("band", "lo", "hi")
      events(s, d)
        .join(broadcast(bandDf), col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_events"),
          roundPortable(avgExact(col("value")), 2).as("avg_value"))
        .orderBy("band")
    },
    Some("""WITH bands(band, lo, hi) AS (
           |  VALUES ('p00_20', 0.0, 20.0), ('p20_50', 20.0, 50.0), ('p50_100', 50.0, 100.0),
           |         ('p100_150', 100.0, 150.0), ('p150_up', 150.0, 1e308)
           |)
           |SELECT band, count(*) AS n_events,
           |       floor(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) * 100 + 0.5) / 100 AS avg_value
           |FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
           |GROUP BY 1 ORDER BY band""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Extension (§2.4 beyond reference): exact second-moment statistics.
  // Built-in stddev/variance accumulate doubles in partition order —
  // non-deterministic across cluster layouts and unverifiable against
  // a single-node engine. This computes Σx and Σx² EXACTLY in decimal
  // (2-dp money squares to 4-dp — both fit easily in DECIMAL(38,4)),
  // then derives mean and sample stddev in double from those exact
  // sums: bit-identical on any partitioning, any engine. The partial
  // sums are associative, so map-side combine still applies — the
  // usual scale property of algebraic aggregates is kept, determinism
  // is gained.
  // ------------------------------------------------------------------
  val aggStatsExact: Q = Q(
    (s, d) => {
      // Exact mean/stddev with shuffle-order-independent sums. The
      // obvious exact encoding — sum over DECIMAL(18,2) with a
      // DECIMAL(38,4) x·x product — pays BigDecimal changePrecision on
      // every row (measured 1.8× slower at sf0.1). Cents-as-long is
      // the fast exact path: the half-up quantization floor(x·100+0.5)
      // is one integer op, Σc is a plain long sum, and only the c²
      // SUM (which could pass ~9e18 at sf0.1) widens to DECIMAL(38,0)
      // — the per-row product stays a long multiply. Both engines
      // convert the exact integer sums to double in the same order, so
      // the 4dp outputs are bit-identical regardless of partitioning.
      val xc = floor(col("l_extendedprice") * 100 + 0.5)
      val grouped = t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(xc).as("sc"),
          sum((xc * xc).cast(DecimalType(38, 0))).as("sc2"))
      val sx = col("sc").cast(DoubleType) / 100.0
      val sx2 = col("sc2").cast(DoubleType) / 10000.0
      val variance = (sx2 - sx * sx / col("n")) / (col("n") - 1)
      grouped.select(
        col("l_returnflag"), col("n"),
        roundPortable(sx / col("n"), 4).as("mean_price"),
        roundPortable(sqrt(variance), 4).as("stddev_price"))
        .orderBy("l_returnflag")
    },
    Some("""WITH t AS (
           |  SELECT l_returnflag, CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c FROM lineitem
           |), g AS (
           |  SELECT l_returnflag, count(*) AS n,
           |         CAST(sum(c) AS DOUBLE) / 100.0 AS sx,
           |         CAST(sum(c * c) AS DOUBLE) / 10000.0 AS sx2
           |  FROM t GROUP BY 1
           |)
           |SELECT l_returnflag, n,
           |       floor(sx / n * 10000 + 0.5) / 10000 AS mean_price,
           |       floor(sqrt((sx2 - sx * sx / n) / (n - 1)) * 10000 + 0.5) / 10000 AS stddev_price
           |FROM g ORDER BY l_returnflag""".stripMargin)
  )

  val setOps: Q = Q(
    (s, d) => {
      val custNations = t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
      val suppNations = t(s, d, "supplier").select(col("s_nationkey").as("nationkey"))
      custNations.intersect(suppNations)
        .select(lit("both").as("tag"), col("nationkey"))
        .union(custNations.except(suppNations)
          .select(lit("customers_only").as("tag"), col("nationkey")))
        .orderBy("tag", "nationkey")
    },
    Some("""SELECT 'both' AS tag, nationkey FROM (
           |  SELECT c_nationkey AS nationkey FROM customer
           |  INTERSECT
           |  SELECT s_nationkey FROM supplier
           |)
           |UNION ALL
           |SELECT 'customers_only', nationkey FROM (
           |  SELECT c_nationkey AS nationkey FROM customer
           |  EXCEPT
           |  SELECT s_nationkey FROM supplier
           |)
           |ORDER BY tag, nationkey""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Extension (§2.4 beyond reference): PIVOT — long-to-wide reshape of
  // event counts into one column per event type. The value list is
  // EXPLICIT, which matters twice: Spark skips the extra distinct-scan
  // it would otherwise run to discover pivot columns, and the output
  // schema is stable however the data shifts. Physically this is a
  // single conditional aggregate (one shuffle on the group key) — the
  // same plan as the mart's 4-way-union rewrite, so it scales exactly
  // like any hash aggregate.
  // ------------------------------------------------------------------
  val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  val aggPivot: Q = Q(
    (s, d) => {
      val ev = events(s, d)
      ev.groupBy(date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week"))
        .pivot("event_type", EventTypes)
        .agg(count(lit(1)))
        // absent (week, type) cells come back NULL from pivot; the
        // conditional-count oracle says 0 — align, and prefix names so
        // no column collides with a SQL keyword
        .select(col("week") +: EventTypes.map(e => coalesce(col(e), lit(0L)).as(s"n_$e")): _*)
        .orderBy("week")
    },
    Some("""SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
           |       count(*) FILTER (WHERE event_type = 'click') AS n_click,
           |       count(*) FILTER (WHERE event_type = 'error') AS n_error,
           |       count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           |       count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
           |       count(*) FILTER (WHERE event_type = 'view') AS n_view
           |FROM events GROUP BY 1 ORDER BY week""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Extension (§2.4): UNPIVOT/MELT — wide-to-long, the inverse
  // reshape. Runs on a per-flag aggregate, so the melt itself touches
  // |groups|·|measures| rows (an Expand over a tiny input — zero
  // shuffle after the aggregate). Value columns share one type
  // (DOUBLE), the precondition Spark's unpivot enforces.
  // ------------------------------------------------------------------
  val aggUnpivot: Q = Q(
    (s, d) => {
      val base = t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_price"),
          sum(col("l_discount").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_disc"))
      base.unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
        "measure", "value")
        .orderBy("l_returnflag", "measure")
    },
    Some("""WITH base AS (
           |  SELECT l_returnflag,
           |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           |         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           |         CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
           |  FROM lineitem GROUP BY 1
           |)
           |SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM base
           |UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM base
           |UNION ALL SELECT l_returnflag, 'sum_disc', sum_disc FROM base
           |ORDER BY l_returnflag, measure""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Extension (§2.4): CUBE — all 2^k grouping combinations in ONE
  // pass (Expand + a single hash aggregate), vs 4 separate scans
  // unioned. grouping_id() disambiguates which NULLs are subtotal
  // markers vs data; sort keys coalesce them out (house null rule).
  // ------------------------------------------------------------------
  val aggCube: Q = Q(
    (s, d) =>
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), coalesce(col("l_returnflag"), lit("")),
          coalesce(col("l_linestatus"), lit(""))),
    Some("""SELECT l_returnflag, l_linestatus, count(*) AS n_items,
           |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           |       GROUPING(l_returnflag, l_linestatus) AS gid
           |FROM lineitem
           |GROUP BY CUBE (l_returnflag, l_linestatus)
           |ORDER BY gid, coalesce(l_returnflag, ''), coalesce(l_linestatus, '')""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Extension (§2.5): distribution-rank window suite — ntile /
  // percent_rank / cume_dist, the ranking functions the wow/top-k
  // queries don't cover. The window ORDER BY carries a unique
  // tiebreak (c_custkey), so every rank is a deterministic function
  // of the data — percent_rank and cume_dist are then identical IEEE
  // divisions of identical integers on both engines (rounded anyway,
  // house rule for derived doubles).
  //
  // Scale notes — DEMO CONTRACT (r17 VERDICT #5): this row windows
  // raw customer rows on a ~25-ary key, the anti-family the dedup /
  // corpus paths eliminated. It stays a window DELIBERATELY, to pin
  // the reference's rank-function semantics in their native form; at
  // corpus scale the same suite is computed windowlessly — the
  // customer_rfm row (globalRowNumber + ntileFromRowNumber, and
  // percent_rank/cume_dist are closed forms of (rn, n) the same way).
  // ------------------------------------------------------------------
  val windowRankSuite: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("c_nationkey").orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
          ntile(4).over(w).as("quartile"),
          roundPortable(percent_rank().over(w), 6).as("pct_rank"),
          roundPortable(cume_dist().over(w), 6).as("cume"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_nationkey, c_acctbal,
           |       CAST(ntile(4) OVER w AS INT) AS quartile,
           |       floor(percent_rank() OVER w * 1000000 + 0.5) / 1000000 AS pct_rank,
           |       floor(cume_dist() OVER w * 1000000 + 0.5) / 1000000 AS cume
           |FROM customer
           |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
           |ORDER BY c_custkey""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Extension (§2.5): top-k per group via row_number — the classic
  // "3 biggest events per type". Spark ≥3.5 rewrites the
  // rank-then-filter shape into WindowGroupLimit: each map task keeps
  // only k rows per key BEFORE the shuffle, so the exchange carries
  // k·partitions rows per key instead of the whole table — the same
  // bounded-shuffle property TopKPairs gives the ANN queries
  // (asserted in PlanSpec).
  //
  // DEMO CONTRACT (r17 VERDICT #5): kept as a window ON PURPOSE, to
  // pin that Spark's own rewrite makes THIS shape scale-safe — the
  // GroupLimit fires only for rank-then-FILTER; a rank flag consumed
  // downstream (the pre-r18 pipeline_domain_cap) gets no rescue and
  // must use Windows.topKPerGroup instead (Legs `skew`, r18: 44.9 s
  // window vs 0.86 s heap on a 4×10⁷-row planted lang). The two rows
  // together document exactly where the optimizer's safety net ends.
  // ------------------------------------------------------------------
  val windowTopkPerGroup: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy(col("value").desc, col("event_id"))
      events(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("event_type"), col("rn"), col("event_id"), col("value"))
        .orderBy("event_type", "rn")
    },
    Some("""SELECT event_type, rn, event_id, value FROM (
           |  SELECT event_type, event_id, value,
           |         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
           |  FROM events
           |) WHERE rn <= 3 ORDER BY event_type, rn""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Extension (§2.5): rolling RANGE-frame window — trailing 7-day
  // totals per event type. Two-level shape: aggregate to DAILY grain
  // first (the only full-data shuffle), then the rolling frame runs
  // over |keys|·|days| rows — at 100 TB the window input is a few
  // thousand rows however big the raw stream is. The frame is
  // RANGE-based on an integer day number, so gap days are handled by
  // VALUE distance (a rows-frame would silently span gaps). Money
  // stays DECIMAL through both the daily and the rolling sum — exact,
  // order-independent — and only the final column drops to DOUBLE.
  // ------------------------------------------------------------------
  val windowRollingRange: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).cast(DateType).as("day"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 2))).as("sv"))
        .withColumn("day_n", datediff(col("day"), lit("1970-01-01").cast(DateType)))
      val w = Window.partitionBy("event_type").orderBy("day_n").rangeBetween(-6, 0)
      daily
        .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n_events"),
          sum(col("n_events")).over(w).as("roll_events"),
          sum(col("sv")).over(w).cast(DoubleType).as("roll_value"))
        .orderBy("event_type", "day")
    },
    Some("""WITH daily AS (
           |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
           |         count(*) AS n_events, sum(CAST(value AS DECIMAL(18,2))) AS sv
           |  FROM events GROUP BY 1, 2
           |), d2 AS (
           |  SELECT *, CAST(day - DATE '1970-01-01' AS BIGINT) AS day_n FROM daily
           |)
           |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n_events,
           |       CAST(sum(n_events) OVER w AS BIGINT) AS roll_events,
           |       CAST(sum(sv) OVER w AS DOUBLE) AS roll_value
           |FROM d2
           |WINDOW w AS (PARTITION BY event_type ORDER BY day_n
           |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
           |ORDER BY event_type, day""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Extension (§2.7): semi-structured JSON extraction — `props` is a
  // JSON string column; get_json_object is a codegen'd Catalyst
  // expression (no UDF), so parse + cast fuse into the scan's
  // whole-stage pipeline and the aggregate sees plain longs. At scale
  // the rule stands: extract ONCE into typed columns at ingest, carry
  // typed columns thereafter — this query is that ingest step fused
  // with its first consumer.
  // ------------------------------------------------------------------
  val eventsJsonProps: Q = Q(
    (s, d) =>
      events(s, d)
        .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"),
          roundPortable(sum(col("k")).cast(DoubleType) / count(lit(1)), 4).as("avg_k"))
        .orderBy("event_type"),
    Some("""SELECT event_type, count(*) AS n_events,
           |       CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
           |       min(CAST(props->>'k' AS BIGINT)) AS min_k,
           |       max(CAST(props->>'k' AS BIGINT)) AS max_k,
           |       floor(CAST(sum(CAST(props->>'k' AS BIGINT)) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS avg_k
           |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Extension (§2.4 A5, the scale path): HyperLogLog++ approximate
  // distinct. Exact countDistinct is the correctness default (and
  // what the oracle gate uses elsewhere), but it costs an Expand plus
  // a second shuffle keyed on (group, value) — at 100 TB with
  // high-cardinality keys THAT is the bottleneck, and a fixed-size
  // HLL sketch (one shuffle, kilobytes per group, register-max merge
  // so the result is partition-order independent) is the standard
  // trade. The raw sketch value is engine-specific (DuckDB's HLL and
  // Spark's HLL++ disagree), so the oracle-able surface is the ERROR
  // BOUND, not the estimate: emit `approx_within_rsd` = 1 iff
  // |approx − exact| / exact ≤ 3×rsd (rsd = 0.02 requested → 0.06
  // allowed, a 3-sigma band on the sketch's standard error). DuckDB
  // replays the exact columns and a literal 1 — so a sketch drifting
  // out of contract flips the hash and FAILS the driver gate. The
  // spec asserts the same 0.06 bound per group.
  // ------------------------------------------------------------------
  val aggApproxDistinct: Q = Q(
    (s, d) =>
      events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
        .select(col("event_type"), col("n_events"), col("exact_users"),
          (abs(col("approx_users").cast(DoubleType) - col("exact_users").cast(DoubleType)) /
            col("exact_users").cast(DoubleType) <= lit(0.06))
            .cast("long").as("approx_within_rsd"))
        .orderBy("event_type"),
    Some("""SELECT event_type, count(*) AS n_events,
           |       count(DISTINCT user_id) AS exact_users,
           |       CAST(1 AS BIGINT) AS approx_within_rsd
           |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Extension (§2.4-adjacent, skew): salted two-level aggregation on a
  // deliberately skewed key. `events.event_type` has ~5 values over
  // millions of rows — at 100 TB a plain groupBy sends each hot key to
  // ONE reducer and the stage runs at the speed of the hottest key.
  // AQE never splits an aggregation key (it splits join partitions),
  // so salting is the tool: phase 1 aggregates on (key, salt) — the
  // hot key's load spreads over `SkewSalts` reducers — phase 2 merges
  // the salt partials per key. The salt is derived from `user_id`
  // (deterministic, retry-safe — a rand() salt re-rolls under
  // speculative execution), and the result is EXACTLY the plain
  // groupBy's because count/decimal-sum are algebraic: the DuckDB
  // oracle runs the plain aggregation, so the driver gate proves the
  // salted rewrite is value-identical, not just shaped right.
  // PlanSpec pins the two-exchange (salt, then key) physical shape.
  // ------------------------------------------------------------------
  val SkewSalts = 16

  val aggSaltedSkew: Q = Q(
    (s, d) => {
      val ev = events(s, d).select(col("event_type"), col("user_id"), col("value"))
      graft.engine.Joins.saltedAgg(ev, "event_type", salts = SkewSalts, saltSource = col("user_id"))(
        Seq(count(lit(1)).as("c"), sum(col("value").cast(DecimalType(18, 2))).as("sv")),
        Seq(sum(col("c")).as("n_events"),
          sum(col("sv")).cast(DoubleType).as("sum_value")))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, count(*) AS n_events,
           |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
           |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Extension (data-quality profiling): per-column completeness and
  // cardinality profile of the events table in ONE scan — the "what is
  // this dataset" pass that precedes any pipeline onboarding, and the
  // generalization of the dbt test predicates (not_null/unique count
  // the same things pass/fail instead of reporting them).
  // Wide-then-stack: one aggregate row (count + per-column null-sum +
  // exact distinct), unpivoted to a tall (col_name, metrics) table by
  // `stack` — an Expand over four already-aggregated values, zero extra
  // shuffle. Scale note: multiple exact countDistincts in one pass cost
  // an Expand ×4 on the shuffle; the 100 TB variant swaps them for
  // approx_count_distinct sketches under the same bounded-error
  // contract as `agg_approx_distinct`.
  // ------------------------------------------------------------------
  val profileColumns: Q = Q(
    (s, d) =>
      events(s, d)
        .agg(count(lit(1)).as("rows_total"),
          sum(col("user_id").isNull.cast("long")).as("null_user_id"),
          countDistinct(col("user_id")).as("dist_user_id"),
          sum(col("event_type").isNull.cast("long")).as("null_event_type"),
          countDistinct(col("event_type")).as("dist_event_type"),
          sum(col("value").isNull.cast("long")).as("null_value"),
          countDistinct(col("value")).as("dist_value"),
          sum(col("props").isNull.cast("long")).as("null_props"),
          countDistinct(col("props")).as("dist_props"))
        .select(expr(
          """stack(4,
            |  'event_type', rows_total, null_event_type, dist_event_type,
            |  'props',      rows_total, null_props,      dist_props,
            |  'user_id',    rows_total, null_user_id,    dist_user_id,
            |  'value',      rows_total, null_value,      dist_value
            |) AS (col_name, n_rows, n_null, n_distinct)""".stripMargin))
        .orderBy("col_name"),
    Some("""WITH s AS (
           |  SELECT count(*) AS rows_total,
           |         CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user_id,
           |         count(DISTINCT user_id) AS dist_user_id,
           |         CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_type,
           |         count(DISTINCT event_type) AS dist_event_type,
           |         CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
           |         count(DISTINCT value) AS dist_value,
           |         CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props,
           |         count(DISTINCT props) AS dist_props
           |  FROM events
           |)
           |SELECT 'event_type' AS col_name, rows_total AS n_rows, null_event_type AS n_null, dist_event_type AS n_distinct FROM s
           |UNION ALL SELECT 'props', rows_total, null_props, dist_props FROM s
           |UNION ALL SELECT 'user_id', rows_total, null_user_id, dist_user_id FROM s
           |UNION ALL SELECT 'value', rows_total, null_value, dist_value FROM s
           |ORDER BY col_name""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Extension (data-quality profiling, scale variant): the 100 TB shape
  // of `profile_columns` promised by its scaladoc — cardinality via
  // approx_count_distinct (HLL++) sketches instead of exact
  // countDistinct. Exact distincts in one aggregate cost an Expand ×N
  // (the scan is replicated once per distinct column on the shuffle);
  // sketches aggregate all columns in a SINGLE pass with kilobyte
  // state, so the profile of a 100 TB table costs one scan + one
  // 1-row shuffle regardless of column count. Oracle contract follows
  // `agg_approx_distinct`: the sketch estimate itself is
  // engine-specific, so the query emits the exact distinct plus a
  // bounded-error boolean (|approx−exact|/exact ≤ 3×rsd = 0.06) the
  // oracle replays as a literal — a sketch out of contract fails the
  // gate. The exact columns exist ONLY to verify the contract; the
  // production profiling pass drops them (and with them the Expand).
  // ------------------------------------------------------------------
  val profileColumnsApprox: Q = Q(
    (s, d) => {
      def ok(c: String) =
        (abs(col(s"apx_$c").cast(DoubleType) - col(s"dist_$c").cast(DoubleType)) /
          col(s"dist_$c").cast(DoubleType) <= lit(0.06)).cast("long").as(s"ok_$c")
      val ev = events(s, d)
      // the PRODUCTION pass: all sketches in one un-expanded scan
      // (this aggregate alone is the 100 TB profile)
      val sketch = ev.agg(
        approx_count_distinct(col("user_id"), 0.02).as("apx_user_id"),
        approx_count_distinct(col("event_type"), 0.02).as("apx_event_type"),
        approx_count_distinct(col("value"), 0.02).as("apx_value"),
        approx_count_distinct(col("props"), 0.02).as("apx_props"))
      // the ORACLE pass: exact counts the contract is checked against.
      // Kept as a SEPARATE aggregate: mixing countDistinct (which
      // rewrites through an Expand ×N_distinct) with the HLL
      // aggregates drags the sketches through the expanded rows —
      // measured 2.4 s for the fused aggregate vs 0.45+0.85 s for the
      // two passes at sf0.1. Both sides are 1-row, so the join is free.
      val exact = ev.agg(count(lit(1)).as("rows_total"),
        sum(col("user_id").isNull.cast("long")).as("null_user_id"),
        countDistinct(col("user_id")).as("dist_user_id"),
        sum(col("event_type").isNull.cast("long")).as("null_event_type"),
        countDistinct(col("event_type")).as("dist_event_type"),
        sum(col("value").isNull.cast("long")).as("null_value"),
        countDistinct(col("value")).as("dist_value"),
        sum(col("props").isNull.cast("long")).as("null_props"),
        countDistinct(col("props")).as("dist_props"))
      exact.crossJoin(sketch)
        .select(col("*"), ok("user_id"), ok("event_type"), ok("value"), ok("props"))
        .select(expr(
          """stack(4,
            |  'event_type', rows_total, null_event_type, dist_event_type, ok_event_type,
            |  'props',      rows_total, null_props,      dist_props,      ok_props,
            |  'user_id',    rows_total, null_user_id,    dist_user_id,    ok_user_id,
            |  'value',      rows_total, null_value,      dist_value,      ok_value
            |) AS (col_name, n_rows, n_null, n_distinct, approx_within_rsd)""".stripMargin))
        .orderBy("col_name")
    },
    Some("""WITH s AS (
           |  SELECT count(*) AS rows_total,
           |         CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user_id,
           |         count(DISTINCT user_id) AS dist_user_id,
           |         CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_type,
           |         count(DISTINCT event_type) AS dist_event_type,
           |         CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
           |         count(DISTINCT value) AS dist_value,
           |         CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props,
           |         count(DISTINCT props) AS dist_props
           |  FROM events
           |)
           |SELECT 'event_type' AS col_name, rows_total AS n_rows, null_event_type AS n_null, dist_event_type AS n_distinct, CAST(1 AS BIGINT) AS approx_within_rsd FROM s
           |UNION ALL SELECT 'props', rows_total, null_props, dist_props, CAST(1 AS BIGINT) FROM s
           |UNION ALL SELECT 'user_id', rows_total, null_user_id, dist_user_id, CAST(1 AS BIGINT) FROM s
           |UNION ALL SELECT 'value', rows_total, null_value, dist_value, CAST(1 AS BIGINT) FROM s
           |ORDER BY col_name""".stripMargin)
  )

  /** Insertion-ordered registry: name → Q. */
  // ------------------------------------------------------------------
  // Market-basket co-occurrence — which parts ship together. The
  // within-group self-join is bounded by ORDER SIZE (TPC-H ≤ 7 items),
  // so pair generation is O(Σ|order|²) ≈ linear in lineitems, never a
  // corpus cartesian; the pair aggregate shuffles (part_a, part_b)
  // keys and the top-K lands in TakeOrderedAndProject (map-side
  // bounded — output is ≤ K rows at ANY scale). Lift joins the two
  // per-part frequency sides onto the K survivors UNHINTED: freq is
  // |parts| rows — SF-SCALED (TPC-H parts = SF·200k; billions at
  // 100 TB), so an explicit broadcast(freq) is a guaranteed driver
  // OOM at scale (VERDICT r19 lead finding). AQE sizes the real
  // build sides at runtime and broadcasts the ≤K-row co side — the
  // scale-correct plan falls out of the limit's own bound. Only the
  // 1-row order-count anchor keeps its broadcast hint. Ties at the
  // top are broken (count DESC, part_a, part_b), so the K-row result
  // is deterministic in both engines even when co-counts saturate at
  // small values.
  // ------------------------------------------------------------------
  val BasketTopK = 20

  val marketBasket: Q = Q(
    (s, d) => {
      val items = t(s, d, "lineitem").select("l_orderkey", "l_partkey").distinct()
      val a = items.select(col("l_orderkey"), col("l_partkey").as("part_a"))
      val b = items.select(col("l_orderkey"), col("l_partkey").as("part_b"))
      val co = a.join(b, Seq("l_orderkey")).filter(col("part_a") < col("part_b"))
        .groupBy("part_a", "part_b").agg(count(lit(1)).as("co_count"))
        .orderBy(col("co_count").desc, col("part_a"), col("part_b"))
        .limit(BasketTopK)
      val freq = items.groupBy("l_partkey").agg(count(lit(1)).as("n_part"))
      val totals = items.agg(countDistinct(col("l_orderkey")).as("n_orders"))
      co
        .join(freq.select(col("l_partkey").as("part_a"), col("n_part").as("n_a")), Seq("part_a"))
        .join(freq.select(col("l_partkey").as("part_b"), col("n_part").as("n_b")), Seq("part_b"))
        .crossJoin(broadcast(totals))
        .select(col("part_a"), col("part_b"), col("co_count"), col("n_a"), col("n_b"),
          roundPortable(col("co_count").cast(DoubleType) * col("n_orders")
            / (col("n_a") * col("n_b")), 6).as("lift"))
        .orderBy(col("co_count").desc, col("part_a"), col("part_b"))
    },
    Some(s"""WITH i AS (
            |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            |), co AS (
            |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS co_count
            |  FROM i a JOIN i b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            |  GROUP BY 1, 2
            |  ORDER BY co_count DESC, part_a, part_b
            |  LIMIT $BasketTopK
            |), f AS (
            |  SELECT l_partkey, count(*) AS n_part FROM i GROUP BY 1
            |), tot AS (
            |  SELECT count(DISTINCT l_orderkey) AS n_orders FROM i
            |)
            |SELECT co.part_a, co.part_b, co.co_count, fa.n_part AS n_a, fb.n_part AS n_b,
            |       floor(CAST(co.co_count AS DOUBLE) * tot.n_orders
            |             / (fa.n_part * fb.n_part) * 1000000 + 0.5) / 1000000 AS lift
            |FROM co
            |JOIN f fa ON co.part_a = fa.l_partkey
            |JOIN f fb ON co.part_b = fb.l_partkey
            |CROSS JOIN tot
            |ORDER BY co.co_count DESC, co.part_a, co.part_b""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Pareto / ABC analysis — revenue concentration per nation: how many
  // top suppliers carry 80% of a nation's revenue. Per-supplier
  // revenue sums in DECIMAL (exact, order-independent); the per-nation
  // running sum is a window PARTITIONED by nation (parallel across
  // nations — |suppliers per nation| rows each, never a global ordered
  // window). The 80% head test stays in exact decimal integer
  // arithmetic ((cum − own)·10 < total·8), so no double comparison can
  // flip a boundary row between engines; only the published shares
  // convert to double, once, in the same op order on both sides.
  // DEMO CONTRACT (window_* showcase family): the window's input is
  // supplier-COLLAPSED, not raw lineitem, but |suppliers| scales with
  // SF, so one nation's posting is |suppliers|/25 — fine at the ABC
  // reporting grain this row demonstrates, a straggler if suppliers
  // reach corpus scale. The windowless equivalent is the r19
  // conversion recipe verbatim: Windows.groupedPrefixSum over n_name
  // for cum_rev + a 25-row total join for tot_rev (the
  // pipeline_token_budget shape).
  // ------------------------------------------------------------------
  val paretoShare: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val rev = t(s, d, "lineitem")
        .select(col("l_suppkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(DecimalType(18, 4)).as("rev"))
        .groupBy("l_suppkey").agg(sum(col("rev")).as("srev"))
      val sup = t(s, d, "supplier").select("s_suppkey", "s_nationkey")
      val nat = t(s, d, "nation").select("n_nationkey", "n_name")
      val w = Window.partitionBy("n_name").orderBy(col("srev").desc, col("l_suppkey"))
      // supplier is deliberately NOT broadcast-hinted: it scales with
      // SF (the r19 broadcast-hint sweep caught an explicit
      // broadcast(sup) here), so the supplier-rev join is left to
      // size-based planning — AQE broadcasts while it fits, shuffles
      // two supplier-collapsed sides when it doesn't. nation stays
      // hinted (25 rows at any SF).
      val cum = rev
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .withColumn("cum_rev", sum(col("srev")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("tot_rev", sum(col("srev")).over(Window.partitionBy("n_name")))
      cum.groupBy("n_name")
        .agg(
          count(lit(1)).as("n_suppliers"),
          sum(when((col("cum_rev") - col("srev")) * 10 < col("tot_rev") * 8, 1L).otherwise(0L))
            .as("head_n"),
          roundPortable(max(col("srev")).cast(DoubleType) / min(col("tot_rev")).cast(DoubleType), 6)
            .as("top1_share"))
        .withColumn("head_frac", roundPortable(col("head_n").cast(DoubleType) / col("n_suppliers"), 4))
        .orderBy("n_name")
    },
    Some("""WITH rev AS (
           |  SELECT l_suppkey, sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS srev
           |  FROM lineitem GROUP BY 1
           |), cum AS (
           |  SELECT n_name, srev,
           |         sum(srev) OVER (PARTITION BY n_name ORDER BY srev DESC, l_suppkey
           |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev,
           |         sum(srev) OVER (PARTITION BY n_name) AS tot_rev
           |  FROM rev
           |  JOIN supplier ON l_suppkey = s_suppkey
           |  JOIN nation ON s_nationkey = n_nationkey
           |)
           |SELECT n_name, count(*) AS n_suppliers,
           |       CAST(sum(CAST((cum_rev - srev) * 10 < tot_rev * 8 AS BIGINT)) AS BIGINT) AS head_n,
           |       floor(CAST(max(srev) AS DOUBLE) / CAST(min(tot_rev) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS top1_share,
           |       floor(CAST(sum(CAST((cum_rev - srev) * 10 < tot_rev * 8 AS BIGINT)) AS DOUBLE)
           |             / count(*) * 10000 + 0.5) / 10000 AS head_frac
           |FROM cum GROUP BY 1 ORDER BY n_name""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Extension (§2.4-adjacent): explicit GROUPING SETS — the general
  // form rollup/cube specialize. The sets here are deliberately NOT a
  // rollup chain ({(flag,status), (status), ()} skips (flag)), which
  // only GROUPING SETS can express; like `agg_cube` it is ONE pass
  // over the fact table (a single Expand multiplies rows map-side,
  // partial aggregation collapses them immediately) where naive UNION
  // ALL of three aggregates would scan three times. grouping_id
  // disambiguates "NULL because superaggregate" from a genuinely NULL
  // key, and the ORDER BY coalesces the nullable keys (Spark sorts
  // NULLS FIRST, DuckDB LAST — the determinism contract forbids
  // sorting raw nullable columns).
  // ------------------------------------------------------------------
  val aggGroupingSets: Q = Q(
    (s, d) =>
      t(s, d, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), coalesce(col("l_returnflag"), lit("")),
          coalesce(col("l_linestatus"), lit(""))),
    Some("""SELECT l_returnflag, l_linestatus, count(*) AS n_items,
           |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           |       GROUPING(l_returnflag, l_linestatus) AS gid
           |FROM lineitem
           |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
           |ORDER BY gid, coalesce(l_returnflag, ''), coalesce(l_linestatus, '')""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Extension (§2.4-adjacent, re-aggregatable sketches): two-level HLL
  // rollup — the 100 TB distinct-count ARCHITECTURE, not just a single
  // approx aggregate. Phase 1 builds one DataSketches HLL sketch per
  // (event_type, day) — at scale these fine-grained sketches are
  // MATERIALIZED once (kilobytes per cell, vs re-scanning the fact
  // table) — and phase 2 answers the coarser per-event_type question
  // by hll_union_agg over the daily sketches, never touching raw rows
  // again. That union is the property exact countDistinct lacks:
  // distincts don't add across days (users repeat), but sketches
  // merge losslessly (register-max), so ANY rollup (weekly, monthly,
  // all-time) derives from the daily layer. Oracle contract follows
  // `agg_approx_distinct`: estimates are engine-specific, so the
  // query emits exact counts plus a bounded-error boolean the oracle
  // replays as a literal (lgConfigK=14 → rsd ≈ 0.81%, 3σ < 2.5%;
  // bound at 0.04) — a sketch out of contract fails the driver gate.
  // ------------------------------------------------------------------
  val aggSketchMerge: Q = Q(
    (s, d) => {
      val ev = events(s, d)
        .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
      // phase 1: the materializable daily sketch layer
      val daily = ev.groupBy("event_type", "day")
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      // phase 2: rollup by merging sketches — no second fact scan
      val merged = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("approx_users"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      exact.join(merged, Seq("event_type"))
        .select(col("event_type"), col("n_days"), col("exact_users"),
          (abs(col("approx_users").cast(DoubleType) - col("exact_users").cast(DoubleType)) /
            col("exact_users").cast(DoubleType) <= lit(0.04))
            .cast("long").as("approx_within_rsd"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
           |       count(DISTINCT CAST(ts AS DATE)) AS n_days,
           |       count(DISTINCT user_id) AS exact_users,
           |       CAST(1 AS BIGINT) AS approx_within_rsd
           |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Extension (§2.3-adjacent, skew): SALTED JOIN — the join-side twin
  // of `agg_salted_skew`, exercising `Joins.saltedJoin` as a registry
  // query. `events.event_type` is a 5-value key over the whole fact
  // table: a plain shuffle join sends each hot key to ONE reducer and
  // the stage runs at the speed of the hottest key. AQE only splits
  // skewed SORT-MERGE partitions; a skewed shuffle-HASH join feeding
  // stateful operators, or one hot key exceeding a single executor,
  // still needs salting. The fact side salts each row deterministically
  // (from user_id — retry-safe under speculative execution, where a
  // rand() salt would re-roll), the dim side explodes `salts`×, and
  // the join lands on (key, salt) with per-bucket load ≈ hot/salts.
  // The DuckDB oracle runs the PLAIN join + aggregate, so the gate
  // proves the salted rewrite value-identical, not just shaped right.
  // (At this dim size broadcast would win — the query is the pattern's
  // correctness proof; production reaches for it when the dim is too
  // big to broadcast AND the fact key is hot.)
  // ------------------------------------------------------------------
  val joinSkewSalted: Q = Q(
    (s, d) => {
      val ev = events(s, d).select(col("event_type"), col("user_id"), col("value"))
      // dim derived from the fact's own key domain: category = first
      // letter, so the oracle can rebuild the identical table
      val dim = ev.select("event_type").distinct()
        .withColumn("category", upper(substring(col("event_type"), 1, 1)))
      graft.engine.Joins.saltedJoin(ev, dim, "event_type", salts = SkewSalts,
          saltSource = col("user_id"))
        .groupBy("category")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
        .orderBy("category")
    },
    Some("""WITH dim AS (
           |  SELECT DISTINCT event_type, upper(substr(event_type, 1, 1)) AS category
           |  FROM events
           |)
           |SELECT category, count(*) AS n_events,
           |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
           |FROM events JOIN dim USING (event_type)
           |GROUP BY 1 ORDER BY category""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Extension (storage layout / data skipping): Z-ORDER clustering key.
  // Interleaving the bits of two dimension keys makes rows that are
  // close in EITHER dimension close in the sort order, so sorting (or
  // range-partitioning) a 100 TB table by the z-value gives parquet
  // row-group min/max stats that prune on BOTH columns — the layout
  // trick behind multi-dimensional clustering in modern lakehouse
  // table formats, expressed here as plain integer arithmetic (bit
  // ops via div/mod so the oracle replays them exactly; no UDF, fully
  // codegen). The query computes z = interleave(quantity, discount%)
  // per lineitem, groups rows into z-range buckets (z div 16 — what a
  // writer would put in one row group), and emits per-bucket min/max
  // of BOTH source dimensions: tight per-bucket ranges in the output
  // ARE the data-skipping claim made measurable (a scan with
  // `quantity BETWEEN a AND b AND discount = c` skips every bucket
  // whose [min,max] misses the predicate box).
  // Domains are fixed by the data dictionary (quantity 1..50 → 6
  // bits; discount 0.00..0.10 → percent 0..10 → 4 bits, padded to 6),
  // so bucket ids are sf-independent. floor(x+0.5) — not CAST — maps
  // the doubles to ints: Spark CAST truncates, DuckDB CAST rounds.
  // ------------------------------------------------------------------
  val ZBits = 6

  /** Bit-interleave `Σ_i bit_i(bx)·4^i·(1) + bit_i(by)·4^i·2` as an
    * arithmetic expression string valid in BOTH Spark SQL (`intDiv`)
    * and DuckDB (`//`) — the caller passes the dialect's integer-div
    * operator spelling via `idiv`.
    */
  private def zInterleave(bx: String, by: String, idiv: (String, Long) => String): String =
    (0 until ZBits).map { i =>
      val (m, px, py) = (1L << i, 1L << (2 * i), 1L << (2 * i + 1))
      s"((${idiv(bx, m)}) % 2) * $px + ((${idiv(by, m)}) % 2) * $py"
    }.mkString(" + ")

  val sortZorder: Q = Q(
    (s, d) => {
      val sparkZ = zInterleave("qx", "dx", (e, m) => s"$e div $m")
      t(s, d, "lineitem")
        .select(floor(col("l_quantity") + lit(0.5)).cast("long").as("qx"),
          floor(col("l_discount") * 100 + lit(0.5)).cast("long").as("dx"))
        .withColumn("z", expr(sparkZ))
        .withColumn("z_bucket", expr("z div 16"))
        .groupBy("z_bucket")
        .agg(count(lit(1)).as("n_rows"),
          min(col("qx")).as("min_qty"), max(col("qx")).as("max_qty"),
          min(col("dx")).as("min_disc"), max(col("dx")).as("max_disc"))
        .orderBy("z_bucket")
    },
    Some {
      val duckZ = zInterleave("qx", "dx", (e, m) => s"$e // $m")
      s"""WITH b AS (
         |  SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS qx,
         |         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS dx
         |  FROM lineitem
         |), z AS (
         |  SELECT qx, dx, ($duckZ) AS z FROM b
         |)
         |SELECT z // 16 AS z_bucket, count(*) AS n_rows,
         |       min(qx) AS min_qty, max(qx) AS max_qty,
         |       min(dx) AS min_disc, max(dx) AS max_disc
         |FROM z GROUP BY 1 ORDER BY z_bucket""".stripMargin
    }
  )

  // ------------------------------------------------------------------
  // RFM customer scoring (recency / frequency / monetary quintiles) —
  // the classic CRM segmentation, built so the quintiles are EXACT
  // ntile(5) semantics without ntile's unpartitioned window: each
  // metric's global rank comes from
  // [[graft.engine.Windows.globalRowNumber]] (range exchange +
  // per-partition offsets), and the tile is the closed-form
  // [[graft.engine.Windows.ntileFromRowNumber]] over (rank, n). Three
  // ranked metrics → three range exchanges over the |customers|-sized
  // aggregate — each fully parallel, none ever single-partition. The
  // monetary sum goes through DECIMAL(18,2) (o_totalprice is 2-dp) so
  // the value — and therefore the rank order — is partition-order
  // independent; every ORDER BY ends with o_custkey, making each rank
  // a total order. The oracle runs DuckDB's native ntile over the
  // same orders, proving the closed-form distribution identical.
  // ------------------------------------------------------------------
  val customerRfm: Q = Q(
    (s, d) => {
      import graft.engine.Windows.{globalRowNumber, ntileFromRowNumber}
      // base is read by SEVEN plan branches (3 ranked + 3 offset +
      // n_cust); cached so orders is scanned and aggregated ONCE —
      // without it, column pruning specializes each branch's subtree
      // (different ReadSchema per metric) which defeats AQE exchange
      // reuse, and the orders aggregation runs 5× (measured). The
      // per-customer aggregate is |customers|-sized — orders of
      // magnitude below the fact table — and the cache stays alive on
      // the success path because the returned plan reads it (the
      // Clusters.connectedComponents convention).
      val base = t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(to_date(col("o_orderdate"))).as("last_order"),
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("monetary"))
        .cache()
      val n = count(lit(1)).cast("long")
      val nDf = base.agg(n.as("n_cust"))
      // Each tile ranks base independently and joins (custkey, tile)
      // back — flat lineage. The nested alternative
      // (tile(tile(tile(base)))) doubles the base subtree per level
      // (each globalRowNumber references its input twice: ranked rows
      // + offsets) — 2^3 copies of the orders aggregate in the plan,
      // the same exponential-composition trap the eigen iteration
      // documented.
      def tileOf(metric: String, out: String): DataFrame =
        globalRowNumber(base, Seq(col(metric), col("o_custkey")), rnCol = "__rn")
          .crossJoin(broadcast(nDf))
          .select(col("o_custkey"),
            ntileFromRowNumber(col("__rn"), col("n_cust"), 5).as(out))
      val tiled = base
        .join(tileOf("last_order", "r_tile"), Seq("o_custkey"))
        .join(tileOf("n_orders", "f_tile"), Seq("o_custkey"))
        .join(tileOf("monetary", "m_tile"), Seq("o_custkey"))
      tiled
        .withColumn("segment",
          when(col("r_tile") >= 4 && col("f_tile") >= 4 && col("m_tile") >= 4, "champion")
            .when(col("r_tile") <= 2 && col("f_tile") <= 2, "hibernating")
            .when(col("r_tile") <= 2 && col("f_tile") >= 3, "at_risk")
            .when(col("f_tile") >= 4, "loyal")
            .when(col("m_tile") >= 4, "big_spender")
            .otherwise("regular"))
        .select(col("o_custkey").as("custkey"), col("last_order"),
          col("n_orders"), col("monetary"),
          col("r_tile"), col("f_tile"), col("m_tile"), col("segment"))
        .orderBy("custkey")
    },
    Some("""WITH c AS (
           |  SELECT o_custkey,
           |    max(CAST(o_orderdate AS DATE)) AS last_order,
           |    count(*) AS n_orders,
           |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
           |  FROM orders GROUP BY 1
           |), t AS (
           |  SELECT *,
           |    ntile(5) OVER (ORDER BY last_order, o_custkey) AS r_tile,
           |    ntile(5) OVER (ORDER BY n_orders, o_custkey) AS f_tile,
           |    ntile(5) OVER (ORDER BY monetary, o_custkey) AS m_tile
           |  FROM c
           |)
           |SELECT o_custkey AS custkey, last_order, n_orders, monetary,
           |  r_tile, f_tile, m_tile,
           |  CASE WHEN r_tile >= 4 AND f_tile >= 4 AND m_tile >= 4 THEN 'champion'
           |       WHEN r_tile <= 2 AND f_tile <= 2 THEN 'hibernating'
           |       WHEN r_tile <= 2 AND f_tile >= 3 THEN 'at_risk'
           |       WHEN f_tile >= 4 THEN 'loyal'
           |       WHEN m_tile >= 4 THEN 'big_spender'
           |       ELSE 'regular' END AS segment
           |FROM t ORDER BY custkey""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Benford first-significant-digit profile over order totals — the
  // standard fraud/data-quality screen: natural multiplicative data
  // follows P(d) = log10(1 + 1/d); synthetic or truncated data
  // doesn't, and the chi-square decomposition says which digit
  // deviates. One scan, one 9-group aggregate — trivially
  // map-side-combined at any scale. The first digit is extracted
  // through the INTEGER-string route (floor → BIGINT → first char),
  // never floor(x / 10^floor(log10 x)) — the log/pow round-trip
  // misclassifies exact powers of ten under double rounding. The
  // expected share ln(1+1/d)/ln(10) is computed with the same IEEE
  // sequence in both engines; every reported 6-dp rounding sits ≥5e-7
  // from its tie boundary, far beyond any ulp-level libm divergence.
  // ------------------------------------------------------------------
  val ordersBenford: Q = Q(
    (s, d) => {
      val digit = substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
        .cast("int")
      val expShare = log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0))
      t(s, d, "orders")
        .filter(col("o_totalprice") >= 1.0)
        .groupBy(digit.as("digit"))
        .agg(count(lit(1)).as("n_orders"))
        // unpartitioned window over the ≤9-row digit aggregate only
        .withColumn("n_total", sum(col("n_orders")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
        .select(col("digit"), col("n_orders"),
          roundPortable(col("n_orders") / col("n_total"), 6).as("obs_share"),
          roundPortable(expShare, 6).as("exp_share"),
          roundPortable(
            (col("n_orders") / col("n_total") - expShare)
              * (col("n_orders") / col("n_total") - expShare)
              / expShare * col("n_total"), 6).as("chi2_term"))
        .orderBy("digit")
    },
    Some("""WITH b AS (
           |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
           |         count(*) AS n_orders
           |  FROM orders WHERE o_totalprice >= 1.0 GROUP BY 1
           |), n AS (SELECT CAST(sum(n_orders) AS BIGINT) AS n_total FROM b)
           |SELECT digit, n_orders,
           |  floor(CAST(n_orders AS DOUBLE) / n_total * 1000000 + 0.5) / 1000000 AS obs_share,
           |  floor(ln(1.0 + 1.0 / digit) / ln(10.0) * 1000000 + 0.5) / 1000000 AS exp_share,
           |  floor((CAST(n_orders AS DOUBLE) / n_total - ln(1.0 + 1.0 / digit) / ln(10.0))
           |        * (CAST(n_orders AS DOUBLE) / n_total - ln(1.0 + 1.0 / digit) / ln(10.0))
           |        / (ln(1.0 + 1.0 / digit) / ln(10.0)) * n_total * 1000000 + 0.5) / 1000000 AS chi2_term
           |FROM b CROSS JOIN n ORDER BY digit""".stripMargin)
  )

  // ------------------------------------------------------------------
  // Open-order backlog — interval counting by SWEEP LINE: each order
  // contributes +1 at its open date and −1 the day after its last
  // shipment, and the backlog is the running sum of daily deltas.
  // This is the scale-correct alternative to the interval JOIN for
  // "how many intervals cover each point": the corpus collapses into
  // a |days|-row daily aggregate (two map-side-combined counts), and
  // the cumulative window runs over THOSE rows — thousands, not
  // millions — so the single-partition ordered window is a
  // deliberate, bounded choice (the mixture-KL precedent), never a
  // corpus sort. Orders with no shipped lineitems never close and
  // stay in the backlog — the real-world semantics, stated so the
  // oracle replays it. The close day is greatest(last_ship, open)+1:
  // the harness data ships ~20% of lineitems BEFORE the order date,
  // and a naive `last_ship+1` close would emit −1 sweep events ahead
  // of their +1, making the backlog transiently negative (the spec's
  // direct interval count caught exactly that in the first draft).
  // ------------------------------------------------------------------
  // ------------------------------------------------------------------
  // Ship-latency SLA by order priority — the operational "are URGENT
  // orders actually shipping faster" report: per priority class, line
  // volume, the share shipping within the 7-day SLA, and the
  // mean/worst latency in days. The canonical date-arithmetic +
  // dimension-rollup query (TPC-H Q4's shape with the latency made
  // explicit). Latencies are integer day diffs; the SLA share is one
  // LONG-count ratio; the mean divides an exact LONG day sum — no
  // float surface before the final published doubles. Scale: one
  // fact-fact equi-join on orderkey (co-partitionable) collapsing
  // straight to |priorities| rows map-side.
  // ------------------------------------------------------------------
  val SlaDays = 7

  val ordersPrioritySla: Q = Q(
    (s, d) => {
      val ord = t(s, d, "orders")
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"),
          col("o_orderpriority"))
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"), datediff(col("sd"), col("od")).cast("long").as("lat"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("lat") <= SlaDays, 1L).otherwise(0L)).as("n_within_sla"),
          sum(col("lat")).as("lat_sum"), max(col("lat")).as("max_latency_days"))
        .select(col("o_orderpriority"), col("n_lines"),
          graft.engine.Functions.roundPortable(
            col("n_within_sla").cast(DoubleType) / col("n_lines").cast(DoubleType), 6)
            .as("sla_share"),
          graft.engine.Functions.roundPortable(
            col("lat_sum").cast(DoubleType) / col("n_lines").cast(DoubleType), 4)
            .as("avg_latency_days"),
          col("max_latency_days"))
        .orderBy("o_orderpriority")
    },
    Some(s"""WITH j AS (
            |  SELECT o_orderpriority,
            |         date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS lat
            |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            |), g AS (
            |  SELECT o_orderpriority, count(*) AS n_lines,
            |    CAST(sum(CASE WHEN lat <= $SlaDays THEN 1 ELSE 0 END) AS BIGINT) AS n_within_sla,
            |    CAST(sum(lat) AS BIGINT) AS lat_sum,
            |    CAST(max(lat) AS BIGINT) AS max_latency_days
            |  FROM j GROUP BY 1
            |)
            |SELECT o_orderpriority, n_lines,
            |  floor(CAST(n_within_sla AS DOUBLE) / n_lines * 1000000 + 0.5) / 1000000 AS sla_share,
            |  floor(CAST(lat_sum AS DOUBLE) / n_lines * 10000 + 0.5) / 10000 AS avg_latency_days,
            |  max_latency_days
            |FROM g ORDER BY o_orderpriority""".stripMargin)
  )

  val ordersBacklog: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val opens = t(s, d, "orders")
        .select(to_date(col("o_orderdate")).as("day"))
        .groupBy("day").agg(count(lit(1)).as("opened"))
      val closes = t(s, d, "lineitem")
        .groupBy("l_orderkey").agg(max(to_date(col("l_shipdate"))).as("last_ship"))
        .join(t(s, d, "orders").select(col("o_orderkey"),
          to_date(col("o_orderdate")).as("od")),
          col("l_orderkey") === col("o_orderkey"))
        .select(date_add(greatest(col("last_ship"), col("od")), 1).as("day"))
        .groupBy("day").agg(count(lit(1)).as("closed"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      opens.join(closes, Seq("day"), "full_outer")
        .select(col("day"),
          coalesce(col("opened"), lit(0L)).as("opened"),
          coalesce(col("closed"), lit(0L)).as("closed"))
        .withColumn("backlog", sum(col("opened") - col("closed")).over(w))
        .orderBy("day")
    },
    Some("""WITH opens AS (
           |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS opened
           |  FROM orders GROUP BY 1
           |), lastship AS (
           |  SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS last_ship
           |  FROM lineitem GROUP BY 1
           |), closes AS (
           |  SELECT greatest(ls.last_ship, CAST(o.o_orderdate AS DATE)) + 1 AS day,
           |         count(*) AS closed
           |  FROM lastship ls JOIN orders o ON o.o_orderkey = ls.l_orderkey
           |  GROUP BY 1
           |), daily AS (
           |  SELECT coalesce(o.day, c.day) AS day,
           |         coalesce(o.opened, 0) AS opened, coalesce(c.closed, 0) AS closed
           |  FROM opens o FULL OUTER JOIN closes c ON o.day = c.day
           |)
           |SELECT day, opened, closed,
           |  CAST(sum(opened - closed) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS backlog
           |FROM daily ORDER BY day""".stripMargin)
  )

  // ------------------------------------------------------------------
  // ONE-PASS Pearson correlation matrix over the lineitem measures —
  // the multivariate step beyond `profile_columns`' per-column stats:
  // which measures move together (the feature-redundancy screen a
  // model-training or anomaly pipeline runs before fitting anything).
  // All C(4,2)=6 pairwise correlations come from a SINGLE aggregate
  // over one scan — n, Σx and Σx² per column, Σxy per pair — so the
  // corpus is read once and only 15 partial sums shuffle (map-side
  // combined; the textbook computational formula
  // corr = (Σxy/n − x̄ȳ) / √(var_x · var_y)). The 1-row sum vector
  // explodes into the 6 output rows AFTER aggregation — never a
  // per-pair re-scan (Spark's own ds.stat.corr makes one pass PER
  // pair and returns a driver scalar; this is the set-returning,
  // single-pass form).
  //
  // Numeric contract: inputs publish on the repo's 6-dp grid, and
  // every sum is EXACT decimal — values as DECIMAL(18,6), products in
  // DECIMAL(37,12) (exact: 6dp×6dp=12dp), sums at the engines' (38,12)
  // — so the aggregate is partition-order-independent; the corr/cov
  // derivation is one double expression with identical op order in
  // both engines. Σx² headroom: worst column Σ(1e5)² ≈ 1e10/row →
  // overflow at ~10¹⁶ rows, far beyond 100 TB. Zero-variance columns
  // publish NULL corr (guarded), never ±inf. Wide decimals stay
  // INTERNAL — the output schema is strings, BIGINT and doubles (the
  // emb_centroid_drift lesson, pinned in OutputContractSpec).
  // ------------------------------------------------------------------
  private val CorrCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  val profileNumericCorr: Q = Q(
    (s, d) => {
      import org.apache.spark.sql.Column
      val pairs = for { i <- CorrCols.indices; j <- i + 1 until CorrCols.size }
        yield (CorrCols(i), CorrCols(j))
      def d18(name: String) = roundPortable(col(name), 6).cast(DecimalType(18, 6))
      val aggs: Seq[Column] =
        (count(lit(1)).as("n") +:
          CorrCols.flatMap(c => Seq(
            sum(d18(c)).as(s"s_$c"),
            sum(d18(c) * d18(c)).as(s"q_$c")))) ++
          pairs.map { case (a, b) => sum(d18(a) * d18(b)).as(s"p_${a}_$b") }
      val g = t(s, d, "lineitem").agg(aggs.head, aggs.tail: _*)
      val nD = col("n").cast(DoubleType)
      def mean(c: String) = col(s"s_$c").cast(DoubleType) / nD
      def variance(c: String) = col(s"q_$c").cast(DoubleType) / nD - mean(c) * mean(c)
      val rows = pairs.map { case (a, b) =>
        val cov = col(s"p_${a}_$b").cast(DoubleType) / nD - mean(a) * mean(b)
        struct(lit(a).as("col_a"), lit(b).as("col_b"), col("n").as("n_rows"),
          roundPortable(cov, 6).as("cov_val"),
          roundPortable(
            when(variance(a) * variance(b) > 0.0, cov / sqrt(variance(a) * variance(b))),
            6).as("corr_val"))
      }
      g.select(explode(array(rows: _*)).as("p")).select("p.*")
        .orderBy("col_a", "col_b")
    },
    Some {
      val pairs = for { i <- CorrCols.indices; j <- i + 1 until CorrCols.size }
        yield (CorrCols(i), CorrCols(j))
      def grid(c: String) = s"floor($c * 1000000 + 0.5) / 1000000 AS $c"
      // width 19 forces DuckDB's int128 decimal storage — at (18,6) its
      // multiply stays in int64 and overflows on Σ(price²)-sized products
      def d18(c: String) = s"CAST($c AS DECIMAL(19,6))"
      val sums =
        (CorrCols.flatMap(c => Seq(
          s"sum(${d18(c)}) AS s_$c",
          s"sum(${d18(c)} * ${d18(c)}) AS q_$c")) ++
          pairs.map { case (a, b) => s"sum(${d18(a)} * ${d18(b)}) AS p_${a}_$b" })
          .mkString(",\n|    ")
      def m(c: String) = s"(CAST(s_$c AS DOUBLE) / CAST(n AS DOUBLE))"
      def v(c: String) = s"(CAST(q_$c AS DOUBLE) / CAST(n AS DOUBLE) - ${m(c)} * ${m(c)})"
      def r6(x: String) = s"floor(($x) * 1000000 + 0.5) / 1000000"
      val arms = pairs.map { case (a, b) =>
        val cov = s"(CAST(p_${a}_$b AS DOUBLE) / CAST(n AS DOUBLE) - ${m(a)} * ${m(b)})"
        s"""SELECT '$a' AS col_a, '$b' AS col_b, n AS n_rows,
           |  ${r6(cov)} AS cov_val,
           |  CASE WHEN ${v(a)} * ${v(b)} > 0.0
           |       THEN ${r6(s"$cov / sqrt(${v(a)} * ${v(b)})")}
           |       ELSE NULL END AS corr_val
           |FROM g""".stripMargin
      }.mkString("\n|UNION ALL\n|")
      s"""WITH qv AS (
         |  SELECT ${CorrCols.map(grid).mkString(", ")} FROM lineitem
         |), g AS (
         |  SELECT count(*) AS n,
         |    $sums
         |  FROM qv
         |)
         |$arms
         |ORDER BY col_a, col_b""".stripMargin
    }
  )

  val all: Seq[(String, Q)] = Seq(
    "s1_scan" -> s1Scan,
    "orders_backlog" -> ordersBacklog,
    "orders_priority_sla" -> ordersPrioritySla,
    "p2_projection" -> p2Projection,
    "p3_rename_cast" -> p3RenameCast,
    "p4_scope_union" -> p4ScopeUnion,
    "f1_rank_tier" -> f1RankTier,
    "f2_growth_category" -> f2GrowthCategory,
    "f3_rank_category" -> f3RankCategory,
    "f4_interest_level" -> f4InterestLevel,
    "f5_like_case" -> f5LikeCase,
    "f7_cents_to_dollars" -> f7CentsToDollars,
    "a_group_agg" -> aGroupAgg,
    "sort_global" -> sortGlobal,
    "t1_not_null" -> t1NotNull,
    "t2_accepted_values" -> t2AcceptedValues,
    "t3_unique" -> t3Unique,
    "t4_relationships" -> t4Relationships,
    "mart_weekly_events_summary" -> martWeeklyEventsSummary,
    "join_revenue_by_nation" -> joinRevenueByNation,
    "join_semi_anti" -> joinSemiAnti,
    "join_runtime_filtered" -> joinRuntimeFiltered,
    "join_range_bands" -> joinRangeBands,
    "agg_rollup" -> aggRollup,
    "agg_stats_exact" -> aggStatsExact,
    "set_ops" -> setOps,
    "window_wow_change" -> windowWowChange,
    "agg_pivot" -> aggPivot,
    "agg_unpivot" -> aggUnpivot,
    "agg_cube" -> aggCube,
    "agg_approx_distinct" -> aggApproxDistinct,
    "agg_salted_skew" -> aggSaltedSkew,
    "window_rank_suite" -> windowRankSuite,
    "window_topk_per_group" -> windowTopkPerGroup,
    "window_rolling_range" -> windowRollingRange,
    "events_json_props" -> eventsJsonProps,
    "profile_columns" -> profileColumns,
    "profile_columns_approx" -> profileColumnsApprox,
    "agg_market_basket" -> marketBasket,
    "window_pareto_share" -> paretoShare,
    "agg_grouping_sets" -> aggGroupingSets,
    "agg_sketch_merge" -> aggSketchMerge,
    "join_skew_salted" -> joinSkewSalted,
    "sort_zorder" -> sortZorder,
    "customer_rfm" -> customerRfm,
    "orders_benford" -> ordersBenford,
    "profile_numeric_corr" -> profileNumericCorr
  )

}
