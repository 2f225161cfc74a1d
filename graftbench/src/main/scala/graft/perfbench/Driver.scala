package graft.perfbench

import graft.{BenchUtil, GraftSession, Tables}
import org.apache.spark.sql.{DataFrame, SaveMode}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The benchmark's in-JVM half: one SparkSession from the production
  * factory, one client thread, a closed loop of ops. Each op is one call
  * into a module's public function; a returned frame is drained with
  * `BenchUtil.force`. Everything measured is written as raw records to
  * `<run>/result.json` (with spans and jobs for a traced run); the Python
  * runner turns them into metrics.
  *
  * Usage: Driver <workload> <seed> <seconds> <trace 0|1> <inputDir> <runDir> <cores>
  */
object Driver {
  final case class Sample(pass: Int, op: String, layer: String, write: Boolean,
      traced: Boolean, spanId: Int, callS: Double, drainS: Double, wallS: Double,
      cpuS: Double, error: Option[String])

  /** Passes (blocks for the lake) of a traced run: one traced, one not. */
  private val TracePasses = 2

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS: Double = osBean.getProcessCpuTime / 1e9

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, inputDir, runDir, coresS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = coresS.toInt
    require(Workloads.Names.contains(workload), s"unknown workload '$workload'")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    // ---- set-up: one cold session build and input check; the set-up
    // interval runs from JVM start to the first timed op
    val t0 = System.nanoTime()
    val s = GraftSession.local(cores)
    if (workload == "lake_churn") Lake.Confs.foreach { case (k, v) => s.conf.set(k, v) }
    val t1 = System.nanoTime()
    // the program must resolve every input table it will read; row counts
    // and content are checked by fingerprint before the JVM starts
    inputTables(workload).foreach(t => require(Tables.table(s, inputDir, t).schema.nonEmpty))
    val buildS = (t1 - t0) / 1e9
    val checkS = (System.nanoTime() - t1) / 1e9
    var firstOpMs = Double.NaN

    val spans = mutable.ArrayBuffer.empty[Span]
    val runId = s"$workload-$seed-${ProcessHandle.current().pid()}"
    def span(parent: Int, name: String, kind: String, a: Double, b: Double): Int = {
      spans += Span(spans.size + 1, parent, name, kind, a, b, runId)
      spans.size
    }
    val samples = mutable.ArrayBuffer.empty[Sample]
    val checkFailures = mutable.LinkedHashMap.empty[String, String]
    val listener = new JobListener
    var attached = false
    def setTraced(on: Boolean): Unit = if (on != attached) {
      if (on) s.sparkContext.addSparkListener(listener)
      else s.sparkContext.removeSparkListener(listener)
      attached = on
    }

    /** Time one op: the public call, then the drain of what it returns. */
    def timed(pass: Int, name: String, layer: String, write: Boolean, traced: Boolean)(
        call: () => Option[DataFrame]): (Sample, Option[DataFrame]) = {
      val c0 = cpuS
      val a = nowMs
      if (firstOpMs.isNaN) firstOpMs = a
      var df: Option[DataFrame] = None
      var err: Option[String] = None
      try df = call() catch { case e: Throwable => err = Some(msg(e)) }
      val b = nowMs
      if (err.isEmpty) df.foreach { d =>
        try BenchUtil.force(d) catch { case e: Throwable => err = Some(msg(e)) }
      }
      val c = nowMs
      val id = span(0, name, "op", a, c)
      span(id, name, "call", a, b)
      if (df.nonEmpty) span(id, name, "drain", b, c)
      val smp = Sample(pass, name, layer, write, traced, id, (b - a) / 1000, (c - b) / 1000,
        (c - a) / 1000, cpuS - c0, err)
      samples += smp
      (smp, if (err.isEmpty) df else None)
    }

    /** Timed passes (blocks for the lake): a fixed count, so every run
      * does the same work whatever the host's speed — `seconds` of op time
      * at the workload's nominal pass time, at least one; a traced run does
      * two, one traced and one not, so its counts repeat. */
    val timedPasses =
      if (trace) TracePasses
      else math.max(1, math.round(seconds / Workloads.PassSeconds).toInt)

    var warmupS = 0.0
    var passes = 0
    val lakeOut = mutable.LinkedHashMap.empty[String, Double]

    /** Run one block of the lake op sequence (every op once, writes and
      * reads alternating). */
    def runLakeBlock(lake: Lake, traced: Boolean, warm: Boolean): Unit = {
      val ops: Seq[() => Unit] =
        lake.writeOps.map { case (name, layer, prep) => () =>
          val (call, user) = prep()
          if (warm) call()
          else lake.measuredWrite(user) {
            timed(passes, name, layer, write = true, traced) { () =>
              call(); None
            }
          }
        } ++ lake.readOps.map { case (name, layer, prep) => () =>
          if (warm) {
            val (df, check) = prep()
            BenchUtil.force(df)
            check(df).foreach(m => checkFailures(name) = m)
          } else {
            var check: DataFrame => Option[String] = null
            val (smp, df) = timed(passes, name, layer, write = false, traced) { () =>
              val (d, c) = prep()
              check = c
              Some(d)
            }
            df.foreach(d => check(d).foreach { m =>
              checkFailures.getOrElseUpdate(name, m)
              samples(samples.size - 1) = smp.copy(error = Some(m))
            })
          }
        }
      val (w, r) = ops.splitAt(lake.writeOps.size)
      w.zipAll(r, () => (), () => ()).foreach { case (a, b) => a(); b() }
    }

    if (workload != "lake_churn") {
      val ops = Workloads.queryOps(workload)
      val oracle = graft.SparkEntry.oracleSql
      ops.filterNot(op => oracle.contains(op.name)).foreach(op => checkFailures(op.name) = "no oracle SQL")
      Files.createDirectories(Paths.get(runDir))
      Files.writeString(Paths.get(runDir, "oracle_sql.json"),
        write(ops.flatMap(op => oracle.get(op.name).map(op.name -> _)).toMap))
      // warmup: two drained passes (codegen, JIT, schema memo; the JIT is
      // still compiling during the first, whose CPU runs ~1.7x a steady pass)
      val w0 = System.nanoTime()
      (1 to 2).foreach(_ => ops.foreach { op =>
        try BenchUtil.force(Workloads.resolve(op)(s, inputDir))
        catch { case e: Throwable => checkFailures.getOrElseUpdate(op.name, msg(e)) }
      })
      warmupS = (System.nanoTime() - w0) / 1e9
      while (passes < timedPasses) {
        val traced = trace && passes % 2 == (seed % 2).toInt
        setTraced(traced)
        ops.foreach { op =>
          val fn = Workloads.resolve(op)
          timed(passes, op.name, op.layer, op.write, traced)(() => Some(fn(s, inputDir)))
        }
        passes += 1
      }
      setTraced(false)
      // the check: one more call of every op after the timed passes, its
      // output written (untimed) for the oracle compare, so state the engine
      // keeps between calls (schema memo, sink invalidation, scratch
      // overwrites) is covered by it
      ops.foreach { op =>
        try Workloads.resolve(op)(s, inputDir).coalesce(1).write.mode(SaveMode.Overwrite)
          .parquet(s"$runDir/check/${op.name}")
        catch { case e: Throwable => checkFailures.getOrElseUpdate(op.name, msg(e)) }
      }
    } else {
      val base = Tables.events(s, inputDir)
        .select("event_id", "user_id", "event_type", "value")
      val w0 = System.nanoTime()
      // warmup: one block of every op on a small throwaway lake
      val warmLake = new Lake(s, s"$runDir/lake_warm", seed + 1,
        base.filter(base("event_id") < Lake.WarmRows))
      warmLake.create()
      runLakeBlock(warmLake, traced = false, warm = true)
      warmupS = (System.nanoTime() - w0) / 1e9
      val lake = new Lake(s, s"$runDir/lake", seed, base)
      lake.create()
      while (passes < timedPasses) {
        val traced = trace && passes % 2 == (seed % 2).toInt
        setTraced(traced)
        runLakeBlock(lake, traced, warm = false)
        passes += 1
      }
      lakeOut("Lakehouse.write_amp") = lake.writtenBytes.toDouble / lake.userBytes
      lakeOut("Lakehouse.space_amp") = lake.spaceAmp()
      lakeOut ++= lake.counts()
      lakeOut("Lakehouse.optimize_commits") = lake.optimized
    }

    setTraced(false)
    val kernels = if (trace) Kernels.run(s, inputDir) else Map.empty[String, Double]
    val jobs = if (trace) listener.drained() else Nil

    def sample(m: Sample): Map[String, Any] = Map(
      "pass" -> m.pass, "op" -> m.op, "layer" -> m.layer, "write" -> m.write,
      "traced" -> m.traced, "span" -> m.spanId, "call_s" -> m.callS, "drain_s" -> m.drainS,
      "wall_s" -> m.wallS, "cpu_s" -> m.cpuS) ++ m.error.map("error" -> _)
    val traceOut: Map[String, Any] = if (!trace) Map.empty else Map(
      "spans" -> spans.map(sp => Map("id" -> sp.id, "parent" -> sp.parent, "name" -> sp.name,
        "kind" -> sp.kind, "start_ms" -> sp.start, "end_ms" -> sp.end, "run" -> sp.runId)),
      "jobs" -> jobs.map(j => Map("id" -> j.id, "start_ms" -> j.start.toDouble,
        "end_ms" -> j.end.toDouble, "tasks" -> j.tasks, "task_cpu_s" -> j.cpuNs / 1e9,
        "sched_delay_s" -> j.schedDelayMs / 1e3, "shuffle_bytes" -> j.shuffleBytes,
        "spill_bytes" -> j.spillBytes, "input_bytes" -> j.inputBytes,
        "written_bytes" -> j.writtenBytes)))
    val result = write(Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "setup_s" -> (firstOpMs - jvmStartMs) / 1000, "build_s" -> buildS, "check_s" -> checkS,
      "warmup_s" -> warmupS, "passes" -> passes, "peak_rss_mb" -> peakRssMb(),
      "check_failures" -> checkFailures.toMap, "lake" -> lakeOut.toMap, "kernels" -> kernels,
      "samples" -> samples.map(sample)) ++ traceOut)
    s.stop()
    Files.writeString(Paths.get(runDir, "result.json"), result)
    sys.exit(0) // no pool thread the program left behind may keep the JVM up
  }

  /** The input tables a workload reads (checked at every set-up). */
  def inputTables(workload: String): Seq[String] =
    if (workload == "lake_churn") Seq("events") else Tables.all

  private def write(v: Map[String, Any]): String =
    org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)

  private def msg(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  /** The driver's peak resident set (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
