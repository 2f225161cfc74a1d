package graft.tools

import graft.{BenchUtil, GraftSession, SparkEntry}

/** Local iteration aid: time named SparkEntry queries under the Bench
  * forcing (full materialization to a noop sink), median of 3 after one
  * untimed warmup — the same protocol as graft.Bench, for one query
  * instead of the 40-minute suite. Usage:
  *   sbt "runMain graft.tools.TimeQuery <sfDir> <query> [query ...]"
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSeq
    val spark = GraftSession.local(MakeHeavy.cpus)
    // stage-runtime accounting (the BENCHNOTES `stage s` convention):
    // wall minus stage is the fixed driver/AQE scheduling floor
    val stageMs = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val st = s.stageInfo
        for (c <- st.completionTime; b <- st.submissionTime) stageMs.addAndGet(c - b)
      }
    })
    val queries = SparkEntry.queries
    names.foreach { n =>
      val q = queries(n)
      BenchUtil.force(q(spark, sfDir)) // warmup
      val runs = (1 to 3).map { _ =>
        stageMs.set(0)
        val t0 = System.nanoTime()
        BenchUtil.force(q(spark, sfDir))
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(150) // let the listener bus drain stage-completed events
        (wall, stageMs.get() / 1e3)
      }
      val med = runs.sortBy(_._1).apply(1)
      println(f"TIMEQ $n%-28s median=${med._1}%.3f  stage=${med._2}%.3f  runs=${runs.map(t => f"${t._1}%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
