package graft.tools

/** Dev helper: print the physical plan of the named registry queries
  * at sf0.001 (PLANS.md is assembled from this output).
  *
  *   sbt "runMain graft.tools.DumpPlans q1,q2,... [formatted]"
  *
  * A second arg of `formatted` switches to `.explain("formatted")`
  * output (the plans/rNN before/after artifact format).
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(Seq.empty)
    val mode: org.apache.spark.sql.execution.ExplainMode =
      if (args.length > 1 && args(1) == "formatted")
        org.apache.spark.sql.execution.FormattedMode
      else org.apache.spark.sql.execution.SimpleMode
    val d = "/root/testdata/sf0.001"
    val spark = graft.obs.session(graft.obs.cpus, d)
    names.foreach { n =>
      println(s"===== $n =====")
      println(graft.SparkEntry.queries(n)(spark, d).queryExecution.explainString(mode))
    }
    spark.stop()
  }
}
