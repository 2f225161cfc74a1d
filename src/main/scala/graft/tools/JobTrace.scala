package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-JOB timeline of one declared query: which Spark jobs a query
  * launches, each one's wall and call site — the breakdown that says
  * whether a multi-action operator (fixture build, CDF apply loop) is
  * paying compute or per-job scheduling floor. Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.tools.JobTrace <query> [query ...]"
  * Each query runs once untimed (JIT/codegen/file-cache warm), then once
  * traced; jobs print in submission order with ms walls and the first
  * user-code frame of the submitting call site.
  */
object JobTrace {
  private case class Job(id: Int, desc: String, site: String,
      start: Long, var end: Long = -1L)

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(MakeHeavy.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    // volatile: flipped on the main thread, read on the listener-bus
    // thread; the drain sleeps below keep warm-run events from bleeding
    // into (or traced events out of) the recording window
    @volatile var tracing = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (tracing) {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.nonEmpty)
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short")))
            .filter(_.nonEmpty))
          .orElse(e.stageInfos.headOption.map(_.name))
          .getOrElse("")
        jobs.put(e.jobId, Job(e.jobId, desc, "", e.time))
        order.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) j.end = e.time
      }
    })
    for (n <- args.toSeq) {
      val q = graft.SparkEntry.queries(n)
      graft.BenchUtil.force(q(spark, sf)) // warm
      Thread.sleep(300) // drain in-flight warm-run events off the bus
      jobs.clear(); order.clear()
      tracing = true
      val t0 = System.nanoTime()
      graft.BenchUtil.force(q(spark, sf))
      val wall = (System.nanoTime() - t0) / 1e9
      tracing = false
      Thread.sleep(300) // drain listener bus
      println(s"==== $n wall=${"%.3f".format(wall)}s jobs=${order.size} ====")
      var prevEnd = -1L
      import scala.jdk.CollectionConverters._
      for (id <- order.asScala) {
        val j = jobs.get(id)
        val dur = if (j.end > 0) j.end - j.start else -1
        val gap = if (prevEnd > 0) j.start - prevEnd else 0
        prevEnd = if (j.end > 0) j.end else prevEnd
        println(f"  job $id%4d  ${dur}%5d ms  (+${gap}%4d ms gap)  ${j.desc.take(110)}")
      }
    }
    spark.stop()
  }
}
