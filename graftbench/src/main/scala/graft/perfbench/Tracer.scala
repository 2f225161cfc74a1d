package graft.perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** A span the benchmark records around a boundary it controls: an op, the
  * public call inside it, or the drain of the returned frame. Times are
  * wall-clock milliseconds with sub-millisecond precision. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    start: Double, end: Double, runId: String)

/** Job-level totals gathered by [[JobListener]]. */
final class JobStats(val id: Int, val start: Long) {
  var end: Long = -1L
  var tasks = 0L
  var cpuNs = 0L
  var schedDelayMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var writtenBytes = 0L
}

/** Records every job's interval and its tasks' metrics. Jobs are
  * attributed to ops afterwards by interval: ops run one at a time on one
  * client thread, so a job that starts inside an op's span belongs to it. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobStats(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); js <- jobs.get(j); m <- Option(e.taskMetrics)) {
      js.tasks += 1
      js.cpuNs += m.executorCpuTime
      val info = e.taskInfo
      val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
      js.schedDelayMs += math.max(0L, info.duration - busy - info.gettingResultTime)
      js.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      js.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      js.inputBytes += m.inputMetrics.bytesRead
      js.writtenBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Wait until every started job has ended (the listener bus delivers
    * asynchronously), then return them in start order. */
  def drained(timeoutMs: Long = 10000L): Seq[JobStats] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def open = synchronized(jobs.values.count(_.end < 0))
    while (open > 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(100) // trailing task-end events of the last job
    synchronized(jobs.values.filter(_.end >= 0).toVector)
  }
}
