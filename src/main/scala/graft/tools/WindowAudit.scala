package graft.tools

import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList, CollectSet}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Dump every Window node in every registry plan with its partition
  * keys (expr-ids stripped) — the generator for PlanSpec's mechanical
  * partitioned-window allowlist (VERDICT r18 ask #3): the
  * unpartitioned-window sweep made ONE degenerate class mechanical;
  * this catalogs the partitioned-but-possibly-degenerate class so the
  * spec can pin, per query, exactly which partition keys windows are
  * allowed over.
  *
  * Since r19 the dump also catalogs UNBOUNDED-STATE COLLECTORS
  * (`collect_list`/`collect_set`) with their grouping keys (COLAUDIT
  * lines) — the aggregate-side twin of the degenerate-key window
  * family: partial aggregation bounds a sum/min/heap state by
  * CONSTRUCTION, but a collector's state is the group's row count, so
  * a collector grouped by a hot key rebuilds the very
  * whole-group-in-one-buffer shape the window conversions engineered
  * out. PlanSpec pins these to an exact per-query key allowlist too.
  *
  * And EXPLICIT BROADCAST HINTS (BCAUDIT lines): AQE's auto-broadcast
  * self-corrects at scale (it sizes the real build side at runtime),
  * but an explicit `broadcast(df)` is obeyed regardless — a hint on a
  * corpus-scaled relation that fits at the test SF is a guaranteed
  * driver/executor OOM at 100 TB. Each hinted subtree gets a
  * mechanical signature `<shape>:<sorted leaf tables>` (see
  * [[broadcastSignatures]]).
  *
  * Usage: sbt "runMain graft.tools.WindowAudit [sfDir]"
  * Prints one line per (query, window partition-key set), one per
  * (query, collector grouping-key set), and one per (query,
  * broadcast-hint signature).
  */
object WindowAudit {

  private def keyString(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): String =
    if (exprs.isEmpty) "<GLOBAL>"
    else exprs.map(_.sql.replaceAll("#\\d+", "")).sorted.mkString(",")

  /** Every collect_list/collect_set site in the plan — GROUPED
    * (Aggregate node: grouping keys) or WINDOWED (Window node:
    * partition keys; a windowed collector buffers one PARTITION's
    * elements per row-frame, the same unbounded state) — as
    * (key string, every-collector-input-references-__pid). The key is
    * the site's keys, name-sorted, comma-joined, expr-ids stripped,
    * "<GLOBAL>" when empty; the __pid flag is the mechanical signature
    * of the two-phase Windows offset assembly (PARTS class). `__pid`
    * is a RESERVED internal attribute name (ADVICE r19): only
    * engine/Windows produces it (the rangedPid boundary tags it via
    * mapPartitionsWithIndex since r20), so the
    * name-based match is the convention's enforcement — a collector
    * over an unrelated column that merely reuses the name would
    * launder past this check, which is why no other code may bind
    * `__pid`. Shared by the COLAUDIT dump and PlanSpec's collector
    * sweep so the ground truth and the pin can never drift.
    */
  def collectorSites(plan: LogicalPlan): Seq[(String, Boolean)] = {
    def collectors(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      exprs.flatMap(_.collect {
        case c: CollectList => c.child
        case c: CollectSet => c.child
      })
    def allPid(children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      children.forall(_.exists {
        case ar: AttributeReference => ar.name == "__pid"
        case _ => false
      })
    plan.collect {
      case a: Aggregate =>
        val cs = collectors(a.aggregateExpressions)
        if (cs.isEmpty) None else Some(keyString(a.groupingExpressions) -> allPid(cs))
      case w: Window =>
        val cs = collectors(w.windowExpressions)
        if (cs.isEmpty) None else Some(keyString(w.partitionSpec) -> allPid(cs))
    }.flatten
  }

  /** One signature per explicit broadcast hint in the plan:
    * `<shape>:<sorted distinct leaf tables>` (multi-path relations
    * contribute one leaf per root path). Shape is computed by an
    * OUTPUT-CARDINALITY walk from the hint's child, not a mere
    * exists() over the subtree — an Aggregate on one branch of a join
    * must not launder the other branch's raw leaves (the soundness
    * hole a review caught in the first cut):
    *  - Aggregate → `agg(<sorted grouping keys>)`: output ≤ the key
    *    domain, and the KEYS ARE CARRIED (VERDICT r19 ask #2) so a
    *    1-row global agg (`agg()`) is mechanically distinguishable
    *    from a corpus-scaled-key agg (`agg(l_partkey)`) over the same
    *    leaves — the granularity gap that let agg_market_basket's
    *    SF-scaled freq broadcast hide behind a prose annotation.
    *    Distinct/Deduplicate are agg with the row/dedup keys;
    *  - GlobalLimit → `lim` (output ≤ a literal — bounded at any SF);
    *  - Filter over a bounded shape passes it through; over an
    *    explode it wraps (`flt[exp[...]]` — the predicate may be the
    *    bounding contract but the explode stays visible); over a
    *    raw/flt subtree → `flt` (bounded only when the predicate is
    *    a contract — allowlist-classified);
    *  - Generate (explode and friends) is cardinality-RAISING
    *    (ADVICE r19): over a raw subtree it stays `raw`; over a
    *    bounded/filtered one it becomes `exp[<child shape>]` —
    *    ranked above flt, so an explode that re-expands a per-group
    *    collect must be judged explicitly by the allowlist instead of
    *    inheriting the collapse's certificate;
    *  - leaves → `raw`;
    *  - a join takes the WORST of its sides by class
    *    (raw > exp > flt > agg > lim) — sides tying at the worst
    *    class are all carried, '&'-joined sorted — except
    *    left-semi/anti, whose output is ≤ the left side; a union
    *    takes the worst of its children; other nodes pass through.
    * Shared by the BCAUDIT dump and PlanSpec's broadcast-hint sweep so
    * the ground truth and the pin can never drift.
    */
  def broadcastSignatures(plan: LogicalPlan): Seq[String] = {
    val rank = Map("lim" -> 0, "agg" -> 1, "flt" -> 2, "exp" -> 3, "raw" -> 4)
    // class of a shape token = its leading letters ("exp[agg(x)]" →
    // "exp", "agg(a)&agg(b)" → "agg")
    def cls(token: String): String = token.takeWhile(_.isLetter)
    def worst(ss: Seq[String]): String =
      if (ss.isEmpty) "lim" // childless non-leaf (OneRowRelation-like): 1 row
      else {
        val m = ss.map(s => rank(cls(s))).max
        ss.filter(s => rank(cls(s)) == m).distinct.sorted.mkString("&")
      }
    def keyStr(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): String =
      exprs.map(_.sql.replaceAll("#\\d+", "")).sorted.mkString(",")
    def shapeOf(p: LogicalPlan): String = p match {
      case a: Aggregate => s"agg(${keyStr(a.groupingExpressions)})"
      case d: Distinct => s"agg(${keyStr(d.child.output)})" // group-by-all-columns
      case d: Deduplicate => s"agg(${keyStr(d.keys)})"
      case _: GlobalLimit => "lim"
      case f: Filter =>
        val c = shapeOf(f.child)
        // a filter cannot unbound a collapse/limit; over an explode
        // it wraps (`flt[exp[...]]` — a contract predicate CAN bound
        // an exploded posting set, e.g. the decontaminate bench side,
        // but the explode stays visible for the allowlist to judge);
        // only raw/flt subtrees collapse to the bare "contract
        // predicate" flt class
        if (rank(cls(c)) <= rank("agg")) c
        else if (cls(c) == "exp") s"flt[$c]"
        else "flt"
      case g: Generate =>
        val c = shapeOf(g.child)
        if (cls(c) == "raw") "raw" else s"exp[$c]"
      case j: Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi ||
            j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti =>
        shapeOf(j.left)
      case j: Join => worst(Seq(shapeOf(j.left), shapeOf(j.right)))
      case _: LeafNode => "raw"
      case other => worst(other.children.map(shapeOf))
    }
    plan.collect {
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
        val leaves = h.child.collect {
          case lr: LogicalRelation =>
            lr.relation match {
              case fs: HadoopFsRelation =>
                fs.location.rootPaths.map(_.getName.stripSuffix(".parquet")).toSeq
              case other => Seq(other.getClass.getSimpleName)
            }
          case _: LocalRelation => Seq("local")
          case _: Range => Seq("range")
          case l: LeafNode => Seq(l.nodeName)
        }.flatten
        s"${shapeOf(h.child)}:${leaves.distinct.sorted.mkString("+")}"
    }
  }

  /** Every repartition with an EXPLICIT partition count in the plan —
    * `RepartitionByExpression` (repartition(n, cols) /
    * repartitionByRange(n, cols)) and `Repartition`
    * (repartition(n) / coalesce(n)) — as `<n>:<keys>`
    * (`<ROUNDROBIN>` / `<COALESCE>` for the key-less forms). The
    * fifth operator class of the degenerate-scale audit (VERDICT r19
    * #6): a hardcoded partition COUNT is frozen parallelism — correct
    * at the harness SF, a 32-way ceiling on a 1000-executor cluster.
    * The class-defining trick lives in PlanSpec's sweep: plans are
    * rebuilt under a session whose shuffle-partition conf is an
    * off-default prime, so a session-derived count follows the conf
    * while a hardcoded literal keeps its constant — the
    * literal-vs-config distinction no single-conf dump can make.
    * Counts that derive from DATA (Partitioning.partitionsFor) read
    * as literals of the measured input and are allowlisted as such.
    */
  def repartitionSites(plan: LogicalPlan): Seq[String] =
    plan.collect {
      case r: RepartitionByExpression if r.optNumPartitions.isDefined =>
        s"${r.optNumPartitions.get}:${keyString(r.partitionExpressions)}"
      case r: Repartition =>
        s"${r.numPartitions}:${if (r.shuffle) "<ROUNDROBIN>" else "<COALESCE>"}"
    }

  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = graft.obs.session(graft.obs.cpus, d)
    // The ANALYZED plan, not the optimized one: cache substitution
    // (CacheManager.useCachedData) rewrites optimized plans through
    // InMemoryRelation whenever an EARLIER query persisted a matching
    // subtree, so optimized-plan window sets depend on build ORDER —
    // the analyzed plan is cache-independent (and cache-hidden windows
    // still run on a cold cache, so it is also truer to the audit's
    // intent). Lineage truncated through RDDs (checkpointed loops)
    // stays invisible either way; those stages are priced separately.
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // the stage marker keeps a failure attributable to the audit
      // pass that actually threw — a BCAUDIT exception must not read
      // as a window-audit error with silently missing collector lines
      var stage = "PLAN"
      try {
        val plan = fn(spark, d).queryExecution.analyzed
        stage = "WINAUDIT"
        val wins = plan.collect { case w: Window => w }
        if (wins.exists(_.partitionSpec.isEmpty)) println(s"""WINAUDIT\t$name\t<GLOBAL>""")
        wins.filter(_.partitionSpec.nonEmpty)
          .map(w => keyString(w.partitionSpec))
          .toSet.toSeq.sorted.foreach(k => println(s"""WINAUDIT\t$name\t$k"""))
        stage = "COLAUDIT"
        collectorSites(plan).map(_._1)
          .toSet.toSeq.sorted.foreach(k => println(s"""COLAUDIT\t$name\t$k"""))
        stage = "BCAUDIT"
        broadcastSignatures(plan).toSet.toSeq.sorted
          .foreach(k => println(s"""BCAUDIT\t$name\t$k"""))
        stage = "REPAUDIT"
        repartitionSites(plan).toSet.toSeq.sorted
          .foreach(k => println(s"""REPAUDIT\t$name\t$k"""))
      } catch {
        case e: Throwable =>
          println(s"""${stage}_ERR\t$name\t${e.getClass.getSimpleName}""")
      }
    }
    spark.stop()
  }
}
