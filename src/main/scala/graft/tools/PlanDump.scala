package graft.tools

/** Print the EXECUTED (post-AQE) formatted plan of declared queries —
  * the `.explain("formatted")` iteration loop as a batch tool.
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.PlanDump <query> ..."
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for (n <- args.toSeq) {
      val df = graft.SparkEntry.queries(n)(spark, sf)
      graft.BenchUtil.force(df) // run so AQE finalizes
      println(s"==== $n ====")
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
