package graft

import org.apache.spark.sql.functions._

import graft.ext.Similarity

/** The native codegen'd cosine expression vs the higher-order-function
  * reference implementation: must agree bit-for-bit (same accumulation
  * order), and match a driver-side double computation.
  */
class CosineSimilaritySpec extends SparkSpec {

  test("native expression equals HOF composition bit-for-bit on real embeddings") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet").limit(50)
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val pairs = a.crossJoin(b).filter(col("ia") < col("ib"))
    val diffs = pairs.select(
      Similarity.cosine(col("va"), col("vb")).as("native"),
      ParityForms.cosineHof(col("va"), col("vb")).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diffs.isEmpty)
  }

  test("native expression matches driver-side arithmetic") {
    import spark.implicits._
    val va = Array(1.0f, 2.0f, 3.0f)
    val vb = Array(-1.0f, 0.5f, 2.0f)
    val got = Seq((va, vb)).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b"))).head.getDouble(0)
    def d(x: Array[Float], y: Array[Float]) =
      x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
    val want = d(va, vb) / (math.sqrt(d(va, va)) * math.sqrt(d(vb, vb)))
    assert(got === want)
  }

  test("GraftExtensions registers cosine_similarity for spark.sql users") {
    import org.apache.spark.sql.SparkSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[2]")
        .withExtensions(new graft.functions.GraftExtensions).getOrCreate()
      val r = s2
        .sql("SELECT cosine_similarity(array(3.0D, 0.0D), array(3.0D, 4.0D)) AS c")
        .head.getDouble(0)
      assert(math.abs(r - 0.6) < 1e-12)
      // null element propagates null, per the expression contract
      val nl = s2.sql("SELECT cosine_similarity(array(1.0D, NULL), array(1.0D, 2.0D)) AS c")
      assert(nl.head.isNullAt(0))
      val dp = s2.sql("SELECT dot_product(array(2.0D, 3.0D), array(4.0D, 5.0D)) AS d")
        .head.getDouble(0)
      assert(dp === 23.0)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("dot product on pre-normalized vectors equals cosine on raw vectors") {
    import graft.functions.DotProduct
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet").limit(100)
    val normed = e.select(col("vec_id"), DotProduct.normalized(col("embedding")).as("nv"),
      col("embedding"))
    val a = normed.select(col("vec_id").as("ia"), col("nv").as("na"), col("embedding").as("va"))
    val b = normed.select(col("vec_id").as("ib"), col("nv").as("nb"), col("embedding").as("vb"))
    val bad = a.crossJoin(b).filter(col("ia") < col("ib"))
      .select(
        DotProduct(col("na"), col("nb")).as("dot"),
        Similarity.cosine(col("va"), col("vb")).as("cos"))
      .filter(abs(col("dot") - col("cos")) > 1e-12)
    assert(bad.isEmpty)
    // driver-side parity of the raw dot itself
    import spark.implicits._
    val got = Seq((Array(1.0f, 2.0f, 3.0f), Array(-1.0f, 0.5f, 2.0f))).toDF("a", "b")
      .select(DotProduct(col("a"), col("b"))).head.getDouble(0)
    assert(got === (1.0 * -1.0 + 2.0 * 0.5 + 3.0 * 2.0))
  }

  test("expression survives codegen (no fallback errors) across a full aggregation") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val q = e.select(col("vec_id").as("ia"), col("embedding").as("va")).limit(5)
    val n = e.crossJoin(broadcast(q))
      .select(Similarity.cosine(col("va"), col("embedding")).as("sim"))
      .agg(count(when(abs(col("sim")) <= 1.0 + 1e-9, 1)), count(lit(1)))
      .head
    // self-pairs can overshoot 1.0 by an ulp (sqrt roundoff) — allowed
    assert(n.getLong(0) === n.getLong(1), "all sims within [-1,1] (+ulp)")
  }
}
