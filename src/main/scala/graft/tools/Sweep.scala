package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The tools' one sweep harness (BenchHeavy, BenchStar, Trace). Each thunk
  * warms once untimed (JIT, codegen, file listing; a failure is tolerated),
  * then `sweeps` pass-major sweeps time every thunk under
  * [[graft.BenchUtil.force]] — graft.Bench's protocol: a sustained host
  * contention window corrupts one temporally separated sample per query,
  * which the median rejects. One listener records, per run, the executor
  * stage time, the disk spill and the job timeline. */
private[tools] object Sweep {

  /** One Spark job of a run: its wall, the gap since the previous job's
    * end (negative when jobs overlap) and its description — the job
    * description, else the short call site, else the first stage's name.
    * `ms` is -1 when the job's end event missed the run's drain. */
  final case class Job(id: Int, ms: Long, gapMs: Long, desc: String)

  /** One successful run. `stageSeconds` sums each stage's submit to
    * complete: wall minus stage is the driver/scheduling floor. `plan` is
    * [[graft.Observe.planMetrics]] of the executed plan (rows out,
    * exchange bytes, spill bytes, scans) and `reused` its ReusedExchange
    * count; they and `executedPlan` are read after the wall, untimed. */
  final case class Run(wall: Double, stageSeconds: Double, spillBytes: Long,
      jobs: Seq[Job], plan: (Long, Long, Long, Long), reused: Int,
      executedPlan: String)

  /** Events of the current run; the listener writes into whichever window
    * is current when an event arrives. */
  private final class Window {
    val starts = new ConcurrentLinkedQueue[(Int, Long, String)]()
    val ends = new ConcurrentHashMap[Int, Long]()
    val stageMs = new AtomicLong(0)
    val spill = new AtomicLong(0)

    def jobs: Seq[Job] = {
      var prevEnd = -1L
      starts.asScala.toSeq.map { case (id, start, desc) =>
        val end = ends.getOrDefault(id, -1L)
        val gap = if (prevEnd > 0) start - prevEnd else 0L
        if (end > 0) prevEnd = end
        Job(id, if (end > 0) end - start else -1L, gap, desc)
      }
    }
  }

  private final class Recorder extends SparkListener {
    // volatile: swapped on the main thread, read on the listener-bus thread
    @volatile var window = new Window
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).filter(_.nonEmpty)
      val desc = prop("spark.job.description").orElse(prop("callSite.short"))
        .orElse(e.stageInfos.headOption.map(_.name)).getOrElse("")
      window.starts.add((e.jobId, e.time, desc))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = window.ends.put(e.jobId, e.time)
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val st = s.stageInfo
      for (c <- st.completionTime; b <- st.submissionTime) window.stageMs.addAndGet(c - b)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskMetrics != null) window.spill.addAndGet(t.taskMetrics.diskBytesSpilled)
  }

  /** Let the listener bus deliver a finished run's events before they are
    * read, so they neither go missing nor bleed into the next run. */
  private def drain(): Unit = Thread.sleep(150)

  /** The lower median run by wall ([[graft.BenchUtil.median]]'s rule), or
    * None when every run failed. */
  def median(runs: Seq[Run]): Option[Run] = {
    val v = runs.sortBy(_.wall)
    v.lift((v.size - 1) / 2)
  }

  /** A JSON object of one number per query, -1 for a query with no
    * successful run — the per-query maps of the heavy harnesses' lines. */
  def perQuery(results: Seq[(String, Option[Run])])(f: Run => Double): String =
    results.map { case (k, r) => "\"" + k + "\":" + r.fold(-1.0)(f) }.mkString("{", ",", "}")

  /** Warm and sweep: per thunk, in `runnable` order, its successful runs
    * in sweep order. A failed run gives no sample. */
  def apply(spark: SparkSession, runnable: Seq[(String, () => DataFrame)],
      sweeps: Int): Seq[(String, Vector[Run])] = {
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    try {
      for ((_, fn) <- runnable)
        try graft.BenchUtil.force(fn()) catch { case _: Throwable => () }
      drain()
      val samples = scala.collection.mutable.Map(runnable.map(_._1 -> Vector.empty[Run]): _*)
      for (_ <- 1 to sweeps; (name, fn) <- runnable) {
        val w = new Window
        rec.window = w
        val t0 = System.nanoTime()
        val done = try {
          val df = fn()
          graft.BenchUtil.force(df)
          Some(df)
        } catch { case _: Throwable => None }
        val wall = (System.nanoTime() - t0) / 1e9
        drain()
        done.foreach { df =>
          val executed = df.queryExecution.executedPlan.toString
          samples(name) :+= Run(wall, w.stageMs.get() / 1e3, w.spill.get(), w.jobs,
            graft.Observe.planMetrics(df.queryExecution),
            "ReusedExchange".r.findAllIn(executed).size, executed)
        }
      }
      runnable.map { case (name, _) => name -> samples(name) }
    } finally spark.sparkContext.removeSparkListener(rec)
  }
}
