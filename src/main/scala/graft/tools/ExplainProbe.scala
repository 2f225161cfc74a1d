package graft.tools

/** Plan-waste probe: print parquet-scan and ReusedExchange counts for the
  * named declared queries (all args; defaults to the two that motivated
  * it). A diffed subtree consumed twice inlines twice unless something
  * (exchange reuse, an explicit checkpoint) deduplicates it — this is how
  * j7's 6-scans-for-2-tables and dq2's double profile pass were caught
  * (both now pinned in PlanAuditSpec).
  *
  * Usage: sbt "runMain graft.tools.ExplainProbe [query ...]"
  */
object ExplainProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names =
      if (args.nonEmpty) args.toSeq else Seq("j7_skew_join", "dq2_profile_drift")
    for (n <- names) {
      val p = graft.SparkEntry.queries(n)(spark, sf).queryExecution.executedPlan.toString
      val scans = "Scan parquet".r.findAllIn(p).size
      val reused = "ReusedExchange".r.findAllIn(p).size
      println(s"PROBE $n scans=$scans reused=$reused")
    }
    spark.stop()
  }
}
