package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** The native 60-bit md5 key vs the composed built-in formulation
  * (`conv(substring(md5(...)))`) that every DuckDB oracle replays:
  * must agree value-for-value, interpreted and codegen'd, or every
  * hash-keyed operator in the library silently drifts off its oracle.
  */
class Hash60Spec extends SparkSpec {

  test("native hash60 equals the composed md5 formula on the real corpus") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val diffs = docs.select(
      Dedup.hash60(col("text")).as("native"),
      ParityForms.hash60Composed(col("text")).as("composed"))
      .filter(col("native") =!= col("composed"))
    assert(diffs.isEmpty)
  }

  test("native hash60 equals the composed formula on adversarial strings") {
    import spark.implicits._
    // empty, unicode (multi-byte UTF-8), long, leading-zero-digest-prone
    val rows = Seq("", "a", "é中文 😀", " \t ",
      "x" * 10000) ++ (0 until 500).map(i => s"probe-$i")
    val df = rows.toDF("s")
    val diffs = df.select(Dedup.hash60(col("s")).as("native"),
      ParityForms.hash60Composed(col("s")).as("composed"))
      .filter(col("native") =!= col("composed"))
    assert(diffs.isEmpty)
    // and every value is in [0, 2^60) — the oracle's BIGINT parse range
    val bad = df.select(Dedup.hash60(col("s")).as("h"))
      .filter(col("h") < 0 || col("h") >= (1L << 60))
    assert(bad.isEmpty)
  }

  test("expression matches driver-side digest arithmetic") {
    import spark.implicits._
    val s = "the quick brown fox"
    val got = Seq(s).toDF("s").select(Dedup.hash60(col("s"))).head.getLong(0)
    val md = MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got === java.lang.Long.parseLong(hex.take(15), 16))
  }

  test("GraftExtensions registers hash60 for spark.sql users") {
    import org.apache.spark.sql.SparkSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[2]")
        .withExtensions(new graft.functions.GraftExtensions).getOrCreate()
      val got = s2.sql("SELECT hash60('the quick brown fox') AS h").head.getLong(0)
      val md = MessageDigest.getInstance("MD5")
      val hex = md.digest("the quick brown fox".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(got === java.lang.Long.parseLong(hex.take(15), 16))
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
