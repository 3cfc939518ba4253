package graft

import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** The measurement kernel: the one session policy, the span timer and
  * the JSON emitter every main shares.
  */
class ObsSpec extends SparkSpec {

  test("session(4, dir) sets the confs Bench and Verify used: 4 partitions, UTC, nanosAsLong, UI off") {
    assume(sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").isEmpty)
    val shared = spark
    Seq("0.01", "0.1").foreach { scale =>
      assert(obs.shufflePartitions(4, sf(scale)) === 4)
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      try {
        val s = obs.session(4, sf(scale))
        assert(s ne shared, "a fresh session, not the spec's")
        assert(s.conf.get("spark.sql.shuffle.partitions") === "4")
        assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
        assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
        assert(s.sparkContext.getConf.get("spark.ui.enabled") === "false")
        assert(s.sparkContext.master === "local[4]")
      } finally {
        SparkSession.setDefaultSession(shared)
        SparkSession.setActiveSession(shared)
      }
    }
  }

  test("json emitter round-trips escapes and a cut surrogate pair through Jackson") {
    val strings = Seq("quote \" q", "back \\ slash", "tab\there", "cr\r lf\n", "ctl \u0000\u0001\u001f",
      "é and 😀", "cut after a high surrogate " + "😀".take(1), "")
    val line = obs.json(strings.zipWithIndex.map { case (v, i) => s"s$i" -> v } ++
      Seq("n" -> 3L, "i" -> 7, "d" -> 0.5, "nan" -> Double.NaN,
        "m" -> VectorMap("x" -> 1, "y" -> "two")): _*)
    val mapper = new ObjectMapper()
    // as the String, and as the UTF-8 bytes a file holds
    Seq(mapper.readTree(line), mapper.readTree(line.getBytes("UTF-8"))).foreach { j =>
      strings.zipWithIndex.foreach { case (v, i) => assert(j.get(s"s$i").asText === v) }
      assert(j.get("n").asLong === 3L && j.get("i").asInt === 7 && j.get("d").asDouble === 0.5)
      assert(j.get("nan").isNull)
      assert(j.get("m").fields.asScala.map(e => e.getKey -> e.getValue.asText).toSeq ===
        Seq("x" -> "1", "y" -> "two"))
      assert(j.fieldNames.asScala.toSeq.take(2) === Seq("s0", "s1"))
    }
  }

  test("span counts the tasks of a one-job action and none for a no-op") {
    implicit val s: SparkSession = spark
    val one = obs.span("one job")(spark.range(0, 1000, 1, 2).count())
    assert(one.value === 1000L)
    assert(one.tasks > 0)
    assert(one.wallS > 0)
    val none = obs.span("no-op")(42)
    assert(none.value === 42)
    assert(none.tasks === 0)
  }
}
