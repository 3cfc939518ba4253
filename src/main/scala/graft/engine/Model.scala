package graft.engine

import org.apache.spark.sql.DataFrame

/** Materialization policy, mirroring `dbt_project.yml:33-38`:
  * staging models are views, marts are tables.
  */
sealed trait Materialization
object Materialization {

  /** No storage: the model's DataFrame is handed lazily to downstream
    * models. Catalyst inlines it into consumers — the exact analogue
    * of warehouse view expansion, and the reason staging-level
    * predicate pushdown / column pruning are free (SURVEY.md §4).
    */
  case object View extends Materialization

  /** Full-refresh precompute: `CREATE OR REPLACE TABLE ... AS` in the
    * reference; here a parquet write (or cache) via a [[TableSink]].
    */
  case object Table extends Materialization
}

/** One node of the transformation DAG — the analogue of a dbt model
  * file. `deps` carries what `ref()`/`source()` calls declare in the
  * reference (SURVEY.md §2.1 S1/S2): every name is either another
  * model or a catalog source, and `transform` receives exactly those
  * relations by name.
  */
final case class Model(
    name: String,
    deps: Seq[String],
    materialization: Materialization,
    tests: Seq[DataTest] = Nil
)(val transform: Map[String, DataFrame] => DataFrame)

object Model {

  /** A model authored as SQL TEXT — parity of experience with the
    * reference, whose users write model files as SQL. Each dependency
    * relation is registered as a temp view under its dep name, so the
    * statement references `ref()`/`source()` names verbatim; the text
    * then runs through the SAME Catalyst pipeline as DataFrame-authored
    * models (views inline, predicates push, pruning reaches the scan),
    * with every function registered by `GraftExtensions`
    * (`cosine_similarity`, `dot_product`, `topk_pairs`) available.
    *
    * Dep names must be valid SQL identifiers (all reference model
    * names are). The temp views exist only for the duration of SQL
    * ANALYSIS (eager in `spark.sql`; the analyzed plan inlines the
    * view definitions): they are dropped before returning, so a later
    * statement in the same session cannot accidentally resolve an
    * undeclared or stale name, and nothing shadows catalog tables.
    * Register→analyze→drop runs under a lock — temp views are
    * session-global, so two wave-parallel SQL models would otherwise
    * race on registration. Only driver-side analysis is serialized;
    * execution stays concurrent.
    */
  def sql(
      name: String,
      deps: Seq[String],
      materialization: Materialization,
      sqlText: String,
      tests: Seq[DataTest] = Nil): Model =
    Model(name, deps, materialization, tests) { inputs =>
      val spark = inputs.headOption
        .map(_._2.sparkSession)
        .getOrElse(org.apache.spark.sql.SparkSession.active)
      sqlAnalysisLock.synchronized {
        // Registering deps would silently REPLACE (and the finally-drop
        // then permanently destroy) any session temp view sharing a dep
        // name — fail fast instead of eating user state.
        val clashes = inputs.keys.filter { dep =>
          spark.catalog.tableExists(dep) && spark.catalog.getTable(dep).isTemporary
        }
        require(
          clashes.isEmpty,
          s"SQL model '$name': session temp view(s) ${clashes.mkString(", ")} " +
            "already exist and collide with dependency names; drop or rename them first")
        inputs.foreach { case (dep, df) => df.createOrReplaceTempView(dep) }
        try spark.sql(sqlText)
        finally inputs.keys.foreach(spark.catalog.dropTempView(_))
      }
    }

  private val sqlAnalysisLock = new Object
}

/** Where `Materialization.Table` models land. */
trait TableSink {

  /** Persist `df` under `name` and return the relation downstream
    * models should read (post-materialization, like reading the CTAS
    * output table — NOT the defining query).
    */
  def write(name: String, df: DataFrame): DataFrame
}

object TableSink {

  /** Spark-memory materialization for in-session pipelines and tests.
    * `cache() + count()` forces computation once, like CTAS, without
    * touching disk.
    */
  final class Cached extends TableSink {
    override def write(name: String, df: DataFrame): DataFrame = {
      val c = df.cache()
      c.count() // force, so downstream reads + tests don't recompute
      c
    }
  }

  /** Parquet-directory materialization — the scale path. Each mart is
    * written once (optionally partitioned) and downstream/BI reads hit
    * the precomputed files, exactly like the reference's mart tables.
    *
    * With `overwritePartitions = true`, a partitioned write replaces
    * ONLY the partitions present in the incoming DataFrame (dynamic
    * partition overwrite) — the incremental path for the reference's
    * `refresh_date`-keyed re-materialization (SURVEY.md §2.10): a
    * daily refresh rewrites one partition, not the 100 TB table.
    */
  final class Parquet(
      dir: String,
      partitionBy: Map[String, Seq[String]] = Map.empty,
      overwritePartitions: Boolean = false)
      extends TableSink {

    override def write(name: String, df: DataFrame): DataFrame = {
      val path = s"$dir/$name"
      val partCols = partitionBy.getOrElse(name, Nil)
      // per-WRITER option, never the session conf: a session-level
      // toggle would race with concurrent writes from a wave-parallel
      // DagRunner (another thread restoring STATIC mid-write turns a
      // one-partition refresh into a whole-table wipe)
      val w = df.write.mode("overwrite")
      val w2 =
        if (overwritePartitions && partCols.nonEmpty)
          w.option("partitionOverwriteMode", "dynamic")
        else w
      if (partCols.nonEmpty) w2.partitionBy(partCols: _*).parquet(path)
      else w2.parquet(path)
      ParquetCatalog.read(df.sparkSession, path)
    }
  }

  /** BUCKETED parquet materialization — the physical-layout path.
    * Models named in `buckets` write via `bucketBy(n, cols).sortBy`
    * + `saveAsTable` into the session catalog (Spark's bucketing
    * metadata lives in the catalog, not the files — a plain
    * `.parquet(path)` write cannot carry it), so two tables bucketed
    * on the same key with the same count JOIN WITHOUT ANY EXCHANGE:
    * the scan's output partitioning already satisfies the join's
    * requirement. This is the 100 TB answer for fact⋈fact joins that
    * recur on one key (codes⋈cells on vec_id, postings⋈postings on
    * hs): pay the shuffle ONCE at write, never per query.
    * `EngineSpec` pins the exchange-free plan. Unbucketed models fall
    * back to plain parquet-dir writes.
    *
    * Models named in `partitions` additionally (or instead) write
    * directory-partitioned — the pruning layout: a join or literal
    * predicate on the partition column prunes whole directories at
    * plan time (static) or via dynamic partition pruning at run time
    * (the ANN index stores PQ codes cell-major this way, so an IVF
    * probe reads only the probed cells' directories — PlanSpec pins
    * the `dynamicpruning` filter on the scan). A column may appear in
    * a model's partition spec or its bucket spec, not both (Spark's
    * rule); partition-by-low-cardinality + bucket-by-key composes.
    *
    * Caveats stated: bucket pruning/colocation applies only while the
    * defining catalog is alive (table metadata is session-scoped
    * here; production uses a shared metastore), and the bucket count
    * must match on both sides — size it to the LARGER table's target
    * partition bytes, since re-bucketing is a rewrite.
    */
  /** `catalogPrefix` namespaces the catalog entries a bucketed write
    * creates (`saveAsTable(prefix + name)`): bucketing metadata MUST
    * live in the session catalog, so a throwaway build (the registry's
    * `ann_ivfpq_from_index` temp warehouse) would otherwise DROP and
    * overwrite a session's real table of the same name (ADVICE r14).
    * Readers are unaffected — write() returns the relation itself and
    * the DAG wires DataFrames, not names.
    */
  /** `writersPerPartition` bounds the partition-only write's task
    * fan-in: clustering on the partition columns alone serializes the
    * write into ONE task per distinct partition value (the same
    * per-key parallelism ceiling the semdedup pair join had — fine
    * for the harness's handful of IVF cells, a straggler wall for a
    * corpus-scale codes write). Values > 1 add a deterministic
    * row-hash salt so each directory is written by up to that many
    * tasks (= files); the harness default 1 keeps the
    * one-whole-file-per-directory layout the small-files fix wanted.
    */
  final class BucketedParquet(
      dir: String,
      buckets: Map[String, (Int, Seq[String])],
      partitions: Map[String, Seq[String]] = Map.empty,
      catalogPrefix: String = "",
      writersPerPartition: Int = 1)
      extends TableSink {

    override def write(name: String, df: DataFrame): DataFrame = {
      (buckets.get(name), partitions.get(name)) match {
        case (None, None) =>
          df.write.mode("overwrite").parquet(s"$dir/$name")
          ParquetCatalog.read(df.sparkSession, s"$dir/$name")
        case (None, Some(pcols)) =>
          // partition-only layout needs no catalog entry: partition
          // DISCOVERY carries the pruning metadata in the directory
          // names themselves (dynamic partition pruning fires on the
          // discovered scan — PlanSpec pins it), so skip saveAsTable's
          // catalog round-trips. Repartition ON the partition columns
          // first: otherwise every upstream task writes a sliver into
          // every directory (tasks × partitions small files — 32×5 for
          // the harness ANN index); clustered, each directory gets
          // whole files with full-size row groups. writersPerPartition
          // (class scaladoc) widens this when one-task-per-value is
          // the bottleneck rather than the fix.
          import org.apache.spark.sql.functions.{col, hash, lit, pmod}
          import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
          // Salt source (ADVICE r15): hash(all columns) breaks on
          // MapType (unhashable — analysis error) and does needless
          // per-row work on wide array columns (embeddings, codes)
          // when a cheap scalar column exists. Prefer the narrow
          // non-partition scalars; fall back to any hashable column;
          // only the degenerate all-partition-column frame keeps the
          // partition columns themselves (constant salt — no worse
          // than writers = 1). The map check is RECURSIVE (ADVICE
          // r16): a struct/array with a NESTED map is just as
          // unhashable as a top-level one.
          def hasMap(dt: DataType): Boolean = dt match {
            case _: MapType => true
            case s: StructType => s.fields.exists(f => hasMap(f.dataType))
            case a: ArrayType => hasMap(a.elementType)
            case _ => false
          }
          val nonPart = df.schema.fields.filterNot(f => pcols.contains(f.name))
          val hashable = nonPart.filterNot(f => hasMap(f.dataType))
          val scalar = hashable.filterNot(f =>
            f.dataType.isInstanceOf[ArrayType] || f.dataType.isInstanceOf[StructType])
          val saltSrc = (if (scalar.nonEmpty) scalar
            else if (hashable.nonEmpty) hashable
            else df.schema.fields.filterNot(f => hasMap(f.dataType)))
            .map(f => col(f.name)).toSeq
          val clustered =
            if (writersPerPartition <= 1) df.repartition(pcols.map(col): _*)
            else df.repartition(pcols.map(col) :+
              pmod(hash(saltSrc: _*), lit(writersPerPartition)): _*)
          clustered
            .write.mode("overwrite").partitionBy(pcols: _*).parquet(s"$dir/$name")
          ParquetCatalog.read(df.sparkSession, s"$dir/$name")
        case (Some((n, cols)), p) =>
          val spark = df.sparkSession
          val tbl = catalogPrefix + name
          spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
          val w0 = df.write.mode("overwrite").format("parquet")
            .option("path", s"$dir/$name")
          val w1 = p.fold(w0)(pcols => w0.partitionBy(pcols: _*))
          w1.bucketBy(n, cols.head, cols.tail: _*)
            .sortBy(cols.head, cols.tail: _*)
            .saveAsTable(tbl)
          spark.table(tbl)
      }
    }
  }

  /** Keyed parquet upsert — dbt's `incremental` materialization with
    * `unique_key` (SCD Type 1 merge): incoming rows REPLACE same-key
    * base rows, new keys append, untouched keys survive. Models whose
    * name has no entry in `keys` fall back to full overwrite.
    *
    * Without a transactional table format, the merge must rewrite
    * files — and Spark cannot overwrite a path that feeds the plan
    * being executed, so the merged relation is written to a staging
    * directory first and swapped in with a filesystem rename. At
    * scale, partition the table and pair this with dynamic partition
    * overwrite so only touched partitions rewrite; the anti-join
    * itself shuffles only the key columns of the base table.
    */
  final class ParquetUpsert(dir: String, keys: Map[String, Seq[String]])
      extends TableSink {
    import org.apache.hadoop.fs.Path

    override def write(name: String, df: DataFrame): DataFrame = {
      val spark = df.sparkSession
      val path = s"$dir/$name"
      val target = new Path(path)
      val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val key = keys.getOrElse(name, Nil)
      if (!fs.exists(target) && fs.exists(new Path(path + "__backup")))
        throw new java.io.IOException(
          s"$path missing but ${path}__backup exists: a previous swap was interrupted — " +
            "restore the backup before writing, or the merge history is lost")
      if (key.isEmpty || !fs.exists(target)) {
        df.write.mode("overwrite").parquet(path)
      } else {
        val keyCols = key.map(org.apache.spark.sql.functions.col)
        val merged = ParquetCatalog.read(spark, path)
          .join(df.select(keyCols: _*).distinct(), key, "left_anti")
          .unionByName(df)
        merged.write.mode("overwrite").parquet(path + "__staging")
        TableSink.stagedSwap(fs, path)
      }
      // The rename swap mutates the path BEHIND Spark's back (a normal
      // insert command invalidates caches over its output path; a
      // filesystem rename does not). Any cached plan whose lineage
      // scans this path — e.g. the label cache a previous DAG run's
      // connectedComponents left alive — would otherwise keep serving
      // PRE-SWAP data: InMemoryFileIndex equality is by rootPath only,
      // so the cache manager considers old and new scans of the path
      // the same plan. Invalidate them all before handing out the
      // post-swap relation.
      spark.catalog.refreshByPath(path)
      ParquetCatalog.read(spark, path)
    }
  }

  /** Swap `path`__staging into `path` with crash-recoverable rename
    * order: the base is RENAMED ASIDE, never deleted before the new
    * data is in place — a crash mid-swap leaves either the old table
    * or the new one recoverable, not a vanished directory that the
    * next write would silently treat as a first load. Shared by
    * [[TableSink.ParquetUpsert]] and [[Compaction]].
    */
  private[engine] def stagedSwap(
      fs: org.apache.hadoop.fs.FileSystem, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val target = new Path(path)
    val staging = new Path(path + "__staging")
    val backup = new Path(path + "__backup")
    fs.delete(backup, true)
    if (!fs.rename(target, backup))
      throw new java.io.IOException(s"failed to move $path aside before swap")
    if (!fs.rename(staging, target)) {
      fs.rename(backup, target) // restore
      throw new java.io.IOException(s"failed to swap staging dir into $path")
    }
    fs.delete(backup, true)
  }
}
