package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tools.WindowAudit.{broadcastSignatures, collectorSites}

/** Unit pins for the audit MECHANISM itself (tools/WindowAudit) — the
  * registry sweeps in PlanSpec trust these two functions to classify
  * plans, so their edge semantics get their own tests, anchored on
  * the exact regressions a review caught in the first cut:
  * an Aggregate on one join branch must not launder the other
  * branch's raw leaves, and collectors used as WINDOW functions must
  * be visible to the collector sweep.
  */
class AuditSpec extends SparkSpec {

  private def nation: DataFrame = spark.read.parquet(s"${sf()}/nation.parquet")
  private def docs: DataFrame = spark.read.parquet(s"${sf()}/documents.parquet")

  private def sigs(df: DataFrame): Seq[String] =
    broadcastSignatures(df.queryExecution.analyzed)

  test("broadcast shape: raw leaf, filter gate, key-carrying aggregate collapse, limit") {
    assert(sigs(docs.join(broadcast(nation), lit(true))) == Seq("raw:nation"))
    assert(sigs(docs.crossJoin(broadcast(nation.filter(col("n_nationkey") < 3))))
      == Seq("flt:nation"))
    assert(sigs(docs.crossJoin(broadcast(
      nation.groupBy("n_regionkey").agg(count(lit(1)).as("n")))))
      == Seq("agg(n_regionkey):nation"))
    // a GlobalLimit is its own class — bounded by a literal
    assert(sigs(docs.crossJoin(broadcast(nation.limit(3)))) == Seq("lim:nation"))
  }

  test("broadcast shape: grouping keys are carried — a corpus-scaled-key agg is distinct from a global agg (VERDICT r19 #2)") {
    // the r19 laundering gap: agg_market_basket's |parts|-row
    // freq = lineitem.groupBy(l_partkey).count and its 1-row totals
    // emitted the SAME "agg:lineitem" token, so an SF-scaled broadcast
    // hid behind a prose annotation. With keys carried they are
    // mechanically distinct, and PlanSpec's class check rejects an
    // SF-scaled key classified as a bounded collapse.
    val perDoc = docs.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val global = docs.agg(count(lit(1)).as("n"))
    assert(sigs(nation.crossJoin(broadcast(perDoc))) == Seq("agg(doc_id):documents"))
    assert(sigs(nation.crossJoin(broadcast(global))) == Seq("agg():documents"))
    // Distinct is group-by-all-columns; Deduplicate carries its keys
    assert(sigs(nation.crossJoin(broadcast(docs.select("lang").distinct())))
      == Seq("agg(lang):documents"))
    assert(sigs(nation.crossJoin(broadcast(docs.select("doc_id", "lang")
      .dropDuplicates("lang")))) == Seq("agg(lang):documents"))
  }

  test("broadcast shape: an aggregate on one join branch cannot launder the other branch (the review case)") {
    // docs ⋈ tiny-agg: output scales with docs however small the agg
    // side — the exists()-based first cut read this as "agg:..."
    val tinyAgg = docs.groupBy("lang").agg(count(lit(1)).as("n"))
    val laundered = docs.join(tinyAgg, Seq("lang"))
    assert(sigs(nation.crossJoin(broadcast(laundered)))
      == Seq("raw:documents"))
    // but a LEFT-SEMI against anything is bounded by its left side
    val semi = tinyAgg.join(docs.select("lang"), Seq("lang"), "left_semi")
    assert(sigs(nation.crossJoin(broadcast(semi))) == Seq("agg(lang):documents"))
    // and a collapse ABOVE the join certifies the whole subtree —
    // the KMeans.seedSlice fix shape
    val certified = laundered.groupBy("lang").agg(count(lit(1)).as("m"))
    assert(sigs(nation.crossJoin(broadcast(certified))) == Seq("agg(lang):documents"))
  }

  test("broadcast shape: explode re-raises a collapse (ADVICE r19) — exp must be judged, never inherit the agg certificate") {
    // explode over an agg that collected per-group arrays: output is
    // the COLLECTED ELEMENT COUNT, not the group count — the first
    // cut passed Generate through as the child's shape, so this
    // corpus-scaled re-expansion signed as a bounded 'agg'
    val collected = docs.groupBy("lang").agg(collect_list(col("doc_id")).as("xs"))
    val reExploded = collected.select(col("lang"), explode(col("xs")).as("doc_id"))
    assert(sigs(nation.crossJoin(broadcast(reExploded)))
      == Seq("exp[agg(lang)]:documents"))
    // a filter above the explode WRAPS (the predicate may be the
    // bounding contract — decontaminate's bench side) but the explode
    // stays visible for the allowlist to judge
    val gated = reExploded.filter(col("doc_id") < 20)
    assert(sigs(nation.crossJoin(broadcast(gated)))
      == Seq("flt[exp[agg(lang)]]:documents"))
    // explode over a raw subtree adds nothing raw didn't already say
    val rawExplode = docs.select(explode(split(col("text"), " ")).as("t"))
    assert(sigs(nation.crossJoin(broadcast(rawExplode))) == Seq("raw:documents"))
  }

  test("broadcast shape: filter over a collapse stays agg; filter over raw is flt; worst side wins in a union") {
    val aggThenFilter = docs.groupBy("lang").agg(count(lit(1)).as("n")).filter(col("n") > 0)
    assert(sigs(nation.crossJoin(broadcast(aggThenFilter))) == Seq("agg(lang):documents"))
    val u = docs.select("lang").filter(col("lang") =!= "")
      .unionAll(docs.select("lang"))
    assert(sigs(nation.crossJoin(broadcast(u))) == Seq("raw:documents"))
  }

  test("broadcast leaves: multiple tables sort into one '+'-joined set; local relations read as local") {
    val two = docs.select(col("lang").as("k"))
      .join(nation.select(col("n_name").as("k")), Seq("k"))
    assert(sigs(spark.range(1).crossJoin(broadcast(two)))
      == Seq("raw:documents+nation"))
    import spark.implicits._
    val local = Seq((1L, "a")).toDF("id", "v")
    assert(sigs(docs.crossJoin(broadcast(local))) == Seq("raw:local"))
  }

  test("repartition sites: explicit counts are reported, count-less forms are not") {
    import graft.tools.WindowAudit.repartitionSites
    def rs(df: DataFrame) = repartitionSites(df.queryExecution.analyzed)
    assert(rs(docs.repartitionByRange(7, col("doc_id"))) ==
      Seq("7:doc_id ASC NULLS FIRST"))
    assert(rs(docs.repartition(5, col("lang"))) == Seq("5:lang"))
    assert(rs(docs.repartition(9)) == Seq("9:<ROUNDROBIN>"))
    assert(rs(docs.coalesce(2)) == Seq("2:<COALESCE>"))
    // a count-less keyed repartition inherits the session conf at
    // EXECUTION time — nothing frozen in the plan, nothing to audit
    assert(rs(docs.repartition(col("lang"))).isEmpty)
  }

  test("rangedPid boundary hides exactly the frozen range exchange (VERDICT r20 #4 / r21 #5)") {
    // The audit blind-spot pin: the two-phase Windows primitives cross
    // an RDD boundary, so every plan sweep (PlanSpec's window /
    // collector / broadcast / repartition allowlists) is blind to the
    // subtree BELOW it. The rule (stated at PlanSpec's RDD-boundary
    // sweep) is that this boundary may hide only rangedPid's four
    // lines: repartitionByRange(session-derived partitions, sort cols)
    // + sortWithinPartitions + the __pid tag. This test pins the
    // hidden shape from OUTSIDE the boundary:
    //  - lineage truncation is real (every leaf of the analyzed plan
    //    is the boundary LogicalRDD — the parquet scan is invisible);
    //  - both algebra branches (per-pid counts AND ranked rows) read
    //    ONE frozen RDD (the r20 consistency contract — the reason the
    //    boundary exists);
    //  - the hidden subtree bottoms out in exactly one shuffle (the
    //    range exchange) at the session-derived width, tagging the
    //    input schema + __pid and nothing else. A second hidden
    //    exchange, a changed width policy, or extra hidden columns
    //    fail here.
    import org.apache.spark.sql.execution.LogicalRDD
    val in = docs.select("doc_id", "n_chars")
    val out = graft.engine.Windows.globalRowNumber(in, Seq(col("doc_id")))
    val leaves = out.queryExecution.analyzed.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[LogicalRDD]),
      s"expected lineage truncation at the boundary, got leaves: $leaves")
    val rdds = leaves.map(_.asInstanceOf[LogicalRDD].rdd)
    assert(rdds.map(_.id).distinct.size === 1,
      "both two-phase branches must read the ONE frozen boundary RDD")
    val rdd = rdds.head
    assert(rdd.getNumPartitions ===
      spark.sessionState.conf.numShufflePartitions,
      "hidden range exchange must follow the session-derived width")
    val lineage = rdd.toDebugString
    assert(lineage.linesIterator.count(_.contains("ShuffledRowRDD")) === 1,
      s"the boundary must hide exactly ONE exchange (the range split):\n$lineage")
    val leafSchema = leaves.head.asInstanceOf[LogicalRDD].output.map(_.name)
    assert(leafSchema === in.schema.fieldNames.toSeq :+ "__pid",
      s"boundary schema must be input + __pid, got $leafSchema")
  }

  test("collector sites: grouped, global, windowed, and the __pid PARTS signature") {
    val grouped = docs.groupBy("lang").agg(collect_list(col("doc_id")).as("xs"))
    assert(collectorSites(grouped.queryExecution.analyzed) == Seq("lang" -> false))
    val global = docs.agg(collect_set(col("lang")).as("xs"))
    assert(collectorSites(global.queryExecution.analyzed) == Seq("<GLOBAL>" -> false))
    // a WINDOWED collector buffers one partition per row — must be
    // visible (the review case: the first cut only saw Aggregates)
    val windowed = docs.withColumn("xs",
      collect_list(col("doc_id")).over(Window.partitionBy("lang")))
    assert(collectorSites(windowed.queryExecution.analyzed) == Seq("lang" -> false))
    // the PARTS signature: every collector input references __pid
    val parts = docs
      .withColumn("__pid", spark_partition_id())
      .groupBy("lang")
      .agg(collect_list(struct(col("__pid"), col("doc_id"))).as("xs"))
    assert(collectorSites(parts.queryExecution.analyzed) == Seq("lang" -> true))
    // plans with no collectors contribute nothing
    assert(collectorSites(docs.groupBy("lang").count().queryExecution.analyzed).isEmpty)
  }
}
