package graft.tools

/** Per-query trace of declared queries: where a query's wall goes
  * (executor stages vs driver floor, job by job) and what its executed
  * plan costs. Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=4 \
  *     sbt "runMain graft.tools.Trace <query> [query ...]"
  * The queries run through [[Sweep]] (one warmup, 3 pass-major sweeps);
  * per query the lower-median run prints one line
  *   TRACE <q> median= stage= runs= jobs= rows= exchange_bytes= spill_bytes= scans= reused=
  * (walls in seconds; `runs` lists every successful run's wall; the plan
  * numbers are [[graft.Observe.planMetrics]], Bench's `plan` map), then
  * that run's job timeline in submission order, and its executed plan
  * lands in `target/trace/<q>.plan.txt`. */
object Trace {

  val SWEEPS = 3

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Trace <query> [query ...]")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(MakeHeavy.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val queries = graft.SparkEntry.queries // bind once: a def
    val unknown = args.toSet -- queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val runs = Sweep(spark, args.toSeq.map(n => n -> (() => queries(n)(spark, sf))), SWEEPS)
    for ((n, all) <- runs) Sweep.median(all) match {
      case None => println(s"TRACE $n failed")
      case Some(r) =>
        val (rows, exchange, spill, scans) = r.plan
        println(f"TRACE $n median=${r.wall}%.3f stage=${r.stageSeconds}%.3f " +
          s"runs=${all.map(w => f"${w.wall}%.3f").mkString(",")} jobs=${r.jobs.size} " +
          s"rows=$rows exchange_bytes=$exchange spill_bytes=$spill scans=$scans reused=${r.reused}")
        for (j <- r.jobs)
          println(f"  job ${j.id}%4d  ${j.ms}%5d ms  (+${j.gapMs}%4d ms gap)  ${j.desc.take(110)}")
        graft.BenchUtil.writeArtifact(s"target/trace/$n.plan.txt", r.executedPlan)
    }
    spark.stop()
  }
}
