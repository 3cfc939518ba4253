package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.tools.Legs

/** Smoke run of every measurement leg at tiny args over the spec's
  * session: each must finish and print at least one JSON line of the
  * shared schema, so a broken leg shows here instead of in a scale run.
  */
class LegsSpec extends SparkSpec {

  private val tiny: Map[String, Seq[String]] = Map(
    "skew" -> Seq("1000", "1000"),
    "pairs" -> Seq(sf(), "probe,direct,prefix,delta_probe,delta_direct,delta_prefix", "400"),
    "reband" -> Seq(sf(), "4,16"),
    "semdedup" -> Seq(sf(), "both"),
    "funnel" -> Seq(sf()),
    "components" -> Seq("4", "2", "2"),
    "substring" -> Seq(sf()),
    "writers" -> Seq(sf()))

  Legs.names.foreach { leg =>
    test(s"leg $leg runs at tiny args and prints lines with leg and wall_s") {
      implicit val s: SparkSession = spark
      val out = new java.io.ByteArrayOutputStream
      try Console.withOut(out)(Legs.run(leg, tiny(leg)))
      finally spark.catalog.clearCache()
      val mapper = new ObjectMapper()
      val lines = out.toString("UTF-8").linesIterator.filter(_.startsWith("{")).map(mapper.readTree).toSeq
      assert(lines.nonEmpty, s"$leg printed no JSON line")
      lines.foreach { j =>
        assert(j.get("leg").asText === leg)
        assert(j.get("wall_s").isNumber)
        assert(j.get("task_metrics").isObject)
      }
    }
  }

  test("semdedup planted prints one line per assignment variant") {
    implicit val s: SparkSession = spark
    val out = new java.io.ByteArrayOutputStream
    try Console.withOut(out)(Legs.run("semdedup", Seq(sf(), "planted")))
    finally spark.catalog.clearCache()
    val mapper = new ObjectMapper()
    val lines = out.toString("UTF-8").linesIterator.filter(_.startsWith("{")).map(mapper.readTree).toSeq
    assert(lines.map(_.get("config").asText) === Seq("planted_fixed_k5", "planted_formula_k",
      "planted_formula_k_2t", "planted_formula_k_2l", "planted_formula_k_mp2", "planted_formula_k_2lmp2"))
    lines.foreach { j =>
      assert(j.get("n_planted").asLong > 0 && j.get("n_hit").asLong <= j.get("n_planted").asLong,
        j.toString)
    }
  }

  test("pairs: delta legs without batchFrom fail with a usage error") {
    // with no batch the "batch" would be the whole posting list, and
    // delta_direct would broadcast all of it
    implicit val s: SparkSession = spark
    Seq("delta_probe", "delta_direct", "delta_prefix", "delta_plans").foreach { leg =>
      val e = intercept[IllegalArgumentException](Legs.run("pairs", Seq(sf(), s"probe,$leg")))
      assert(e.getMessage.contains("usage"), leg)
    }
  }
}
