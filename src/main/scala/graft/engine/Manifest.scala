package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Project manifest — the analogue of `dbt docs generate`'s
  * `manifest.json` lineage artifact: one row per model with its
  * dependencies, materialization, test inventory, and DAG depth, as a
  * DataFrame (queryable, writable, joinable — the idiomatic shape for
  * a Spark-native engine rather than a JSON side-file).
  *
  * Depth is the longest dependency path from a source, i.e. the wave
  * index a [[DagRunner]] executes the model in — so `ORDER BY depth`
  * reads as the execution schedule.
  */
object Manifest {

  final case class ModelInfo(
      name: String,
      materialization: String,
      depth: Int,
      deps: Seq[String],
      sources: Seq[String],
      tests: Seq[String])

  def manifest(spark: SparkSession, models: Seq[Model]): DataFrame = {
    import spark.implicits._
    val names = models.map(_.name).toSet
    val depth = DagRunner.waveIndex(models).map { case (m, d) => m.name -> d }.toMap
    models.map { m =>
      ModelInfo(
        name = m.name,
        materialization = m.materialization match {
          case Materialization.View  => "view"
          case Materialization.Table => "table"
        },
        depth = depth(m.name),
        deps = m.deps.filter(names.contains),
        sources = m.deps.filterNot(names.contains),
        tests = m.tests.map(_.name))
    }.toDF().orderBy("depth", "name")
  }
}
