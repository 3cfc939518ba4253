package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source registry: resolves logical table names to DataFrames.
  *
  * Plays the role of dbt's `source()` + `__sources.yml` registry
  * (reference: `models/staging/__sources.yml:3-91`,
  * `models/staging/stg_top_terms.sql:5`): a model asks for a table by
  * name; where it physically lives is the catalog's concern.
  *
  * Scale note: implementations must return *lazy* DataFrames (a parquet
  * scan, a catalog table) — never collected data. At 100 TB the catalog
  * hands Catalyst a `FileSourceScanExec`-able relation so that column
  * pruning, predicate pushdown, and partition pruning all reach the
  * scan; it must not force materialization.
  */
trait Catalog {
  def table(name: String): DataFrame
}

/** Directory-of-parquet catalog: `<dir>/<name>.parquet`.
  *
  * This is the harness layout (TESTDATA.md) and also the natural lake
  * layout at scale (one dataset = one partitioned parquet root).
  */
final class ParquetCatalog(spark: SparkSession, dir: String) extends Catalog {
  override def table(name: String): DataFrame =
    ParquetCatalog.read(spark, s"$dir/$name.parquet")
}

object ParquetCatalog {

  /** The one way the library reads a parquet source: the relation
    * a plain `spark.read.parquet` builds, without the one-task Spark job
    * that call runs to infer the schema. The schema comes from one
    * footer read on the calling thread and converted by Spark's own
    * code (`GraftParquetBridge.footerSchema`), so the schema, the
    * discovered partition columns and the rows are the plain read's;
    * when no footer can be read, or the session merges schemas, this
    * is the plain read, so its error is Spark's. Nothing is cached:
    * every call sees the path as it is. The path is listed twice, once
    * for the footer and once by the read; a directory level with more
    * than `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * entries is listed by a Spark job each time, so there this read
    * fires as many jobs as the plain one.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
      .footerSchema(spark, path)
      .fold(spark.read)(schema => spark.read.schema(schema))
      .parquet(path)
}

/** Fixed in-memory mapping — used for fixture-driven tests and for
  * chaining DAG runs (a mart output becomes a downstream source).
  */
final class MapCatalog(tables: Map[String, DataFrame]) extends Catalog {
  override def table(name: String): DataFrame =
    tables.getOrElse(
      name,
      throw new NoSuchElementException(s"catalog has no table '$name'; has: ${tables.keys.mkString(", ")}")
    )
}

/** Seed ingestion: CSV with an explicit schema, loaded into a target
  * namespace — the analogue of `dbt seed`
  * (reference: `dbt_project.yml:27-31`, CSVs under `seeds/jaffle-data/`,
  * `README.md:196-203` for the published column types).
  *
  * dbt infers seed column types; we require an explicit `StructType`
  * because schema inference needs an extra full pass over the data —
  * wrong at any scale, fatal at 100 TB.
  */
object Seeds {

  /** Load one seed CSV. `enabled` mirrors the `load_source_data` var
    * gate (`dbt_project.yml:31`): disabled seeds yield None.
    */
  def load(
      spark: SparkSession,
      path: String,
      schema: StructType,
      enabled: Boolean = true
  ): Option[DataFrame] =
    if (!enabled) None
    else
      Some(
        spark.read
          .option("header", "true")
          .option("mode", "FAILFAST") // schema drift should fail, not null out
          .schema(schema)
          .csv(path)
      )

  /** Load a JSONL (newline-delimited JSON) source with an explicit
    * schema — the interchange format training-data pipelines ingest
    * most. Explicit schema for the same reason as CSV (no inference
    * pass); `mode=FAILFAST` surfaces corrupt lines instead of
    * silently nulling them, and `multiLine` stays false so the file
    * splits by line across executors (a multiLine JSON file is ONE
    * task at any size — never at 100 TB).
    */
  def loadJsonl(
      spark: SparkSession,
      path: String,
      schema: StructType,
      enabled: Boolean = true
  ): Option[DataFrame] =
    if (!enabled) None
    else
      Some(
        spark.read
          .option("mode", "FAILFAST")
          .schema(schema)
          .json(path)
      )

  /** The reference's four shipped seed tables with their PUBLISHED
    * long-term schemas (reference CSVs under `seeds/jaffle-data`;
    * `README.md:196-203` documents the column types: customers
    * `(id text, name text)`, products `(sku text, name text, type
    * text, price int, description text)`, stores `(id text, name
    * text, opened_at datetime, tax_rate float)`, supplies `(id text,
    * name text, cost int, perishable boolean, sku text)`). Declared
    * explicitly rather than inferred — same no-inference-pass rule as
    * [[load]].
    */
  val jaffleSchemas: Map[String, StructType] = {
    import org.apache.spark.sql.types._
    Map(
      "raw_customers" -> StructType(Seq(
        StructField("id", StringType),
        StructField("name", StringType))),
      "raw_products" -> StructType(Seq(
        StructField("sku", StringType),
        StructField("name", StringType),
        StructField("type", StringType),
        StructField("price", IntegerType),
        StructField("description", StringType))),
      "raw_stores" -> StructType(Seq(
        StructField("id", StringType),
        StructField("name", StringType),
        StructField("opened_at", TimestampType),
        StructField("tax_rate", DoubleType))),
      "raw_supplies" -> StructType(Seq(
        StructField("id", StringType),
        StructField("name", StringType),
        StructField("cost", IntegerType),
        StructField("perishable", BooleanType),
        StructField("sku", StringType))))
  }

  /** Load every jaffle seed from a directory of CSVs, FAILFAST so a
    * schema drift surfaces instead of silently nulling columns. The
    * `enabled` gate mirrors `load_source_data` exactly as [[load]].
    */
  def loadJaffle(
      spark: SparkSession,
      dir: String,
      enabled: Boolean = true
  ): Map[String, DataFrame] =
    jaffleSchemas.flatMap { case (name, schema) =>
      load(spark, s"$dir/$name.csv", schema, enabled)
        .map(df => name -> df)
    }

  /** Namespace routing — a pure port of the reference's
    * `generate_schema_name` macro (`macros/generate_schema_name.sql:1-23`):
    * seeds go verbatim to their custom schema (`raw`); other nodes get
    * `<default>_<custom>` in prod and the default schema otherwise.
    */
  def schemaFor(
      resourceType: String,
      customSchema: Option[String],
      defaultSchema: String,
      targetName: String
  ): String =
    (resourceType, customSchema) match {
      case ("seed", Some(c))                      => c
      case (_, Some(c)) if targetName == "prod"   => s"${defaultSchema}_$c"
      case _                                      => defaultSchema
    }
}
