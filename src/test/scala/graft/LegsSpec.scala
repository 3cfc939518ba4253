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
}
