package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.engine.Functions.roundPortable
import graft.ext.Similarity

/** Reference formulations the native library forms are pinned
  * against: composed from built-ins (or a window where the library
  * uses an aggregate), interpreted or unbounded, so never the hot path
  * and kept out of the main sources.
  */
object ParityForms {

  /** The composed built-in formulation the oracle SQL mirrors
    * (`('0x' || substr(md5(s), 1, 15))::BIGINT` in DuckDB) — the
    * reference for the native `Dedup.hash60`.
    */
  def hash60Composed(s: Column): Column =
    conv(substring(md5(encode(s, "UTF-8")), 1, 15), 16, 10).cast("long")

  /** Cosine composed from built-in higher-order functions — the
    * reference for the native `Similarity.cosine` (identical
    * accumulation order ⇒ bit-identical doubles).
    */
  def cosineHof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast(DoubleType) * q.cast(DoubleType)),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** The window formulation of `Similarity.rankTopK`. NaN AND NULL
    * scores are filtered first: Spark's ORDER BY desc sorts NaN as
    * LARGEST and still ranks NULLs (last), while
    * [[graft.functions.TopKPairs]] drops both in `update()` — the
    * shared filter keeps the two formulations agreeing by construction
    * even when a query has fewer than k scoreable candidates.
    */
  def rankTopKWindow(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored.filter(col("sim").isNotNull && !isnan(col("sim")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= Similarity.TopK)
      .orderBy("q_id", "rnk")
  }

  /** The composed form `Similarity.lshBucketOf` replaced (and the shape
    * the oracle SQL mirrors: sign of the dot, since cosine and dot
    * share their sign under positive norms).
    */
  def lshBucketOfComposed(v: Column, tablePlanes: Array[Array[Double]]): Column =
    tablePlanes.indices.map(b =>
      when(graft.functions.CosineSimilarity(v, typedLit(tablePlanes(b).toSeq)) > 0,
        lit(1L << b)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))

  /** The window formulation of `KMeans.assign` (one probe, flat route):
    * a `row_number` over (csim desc, cluster) per vector — the shape
    * the DuckDB oracle runs, where the library reduces by `max_by`.
    */
  def assignWindow(e: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cluster"))
    e.crossJoin(broadcast(cents))
      .withColumn("csim",
        roundPortable(graft.functions.CosineSimilarity(col("embedding"), col("centroid")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cluster"), col("csim"))
  }
}
