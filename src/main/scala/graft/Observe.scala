package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Structured run observability [EXT] — the Spark-first re-expression of
  * the reference's tracing stack (src/main.rs:42-93: a per-run JSON log
  * file under `logs/` whose name carries the run timestamp and user
  * login, structured JSON events with level/target/location and span
  * context, and per-stage progress marks like main.rs:108's
  * `info!(city_id, "Processing city")`).
  *
  * On Spark the unit worth tracing is the QUERY, not the line of code:
  * [[install]] registers a `QueryExecutionListener` that emits ONE JSON
  * line per completed action — action name, wall, output rows, exchange
  * data size, disk spill, scan count, status, error class — which is
  * exactly the page-someone signal a 100 TB deployment monitors (spill
  * growing round-over-round, a scan count jumping after a plan change,
  * a query that started failing). [[Handle.event]] adds the reference's
  * free-form progress marks between queries. Files are size-rotated
  * (`.1`, `.2`, … suffixes) so a long-lived session's log stays bounded
  * — the log-rotation half of the reference's observability posture.
  *
  * Everything is best-effort by design: a metrics extraction failure
  * degrades to `-1` fields, never to a failed query — observability must
  * not be able to take down the pipeline it watches.
  */
object Observe {

  /** JSON string escape: backslash, quote, ALL control chars (<0x20) —
    * Verify.scala's convention, so a newline in an error message cannot
    * corrupt the JSONL stream. */
  private def esc(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def jline(fields: Seq[(String, Any)]): String =
    fields.map {
      case (k, v: String) => s"${esc(k)}:${esc(v)}"
      case (k, v: Long) => s"${esc(k)}:$v"
      case (k, v: Int) => s"${esc(k)}:$v"
      // a non-finite double (a caller's NaN event field) would emit
      // invalid JSON and corrupt the machine-readable stream — stringify
      case (k, v: Double) if java.lang.Double.isFinite(v) => s"${esc(k)}:$v"
      case (k, v: Boolean) => s"${esc(k)}:$v"
      case (k, v) => s"${esc(k)}:${esc(String.valueOf(v))}"
    }.mkString("{", ",", "}")

  private val tsFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd_HH-mm-ss").withZone(ZoneOffset.UTC)

  private val installSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Size-rotated JSONL writer. Rotation closes `base` and reopens
    * `base.N` once the current file crosses `maxBytes` — checked after
    * each write, so one oversized event still lands whole. */
  private final class RotatingWriter(base: Path, maxBytes: Long) {
    private var part = 0
    private var written = 0L
    private def current: Path =
      if (part == 0) base else Paths.get(s"$base.$part")
    def write(line: String): Unit = synchronized {
      val bytes = (line + "\n").getBytes(StandardCharsets.UTF_8)
      Files.write(current, bytes,
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      written += bytes.length
      if (written > maxBytes) { part += 1; written = 0L }
    }
    def paths: Seq[Path] = (0 to part).map(i =>
      if (i == 0) base else Paths.get(s"$base.$i"))
  }

  /** The installed surface: progress events + detach. */
  final class Handle private[Observe] (spark: SparkSession,
      writer: RotatingWriter, listener: QueryExecutionListener) {
    /** Reference-style progress mark (main.rs:108/125/204): a free-form
      * named event with structured fields, same stream as the query
      * records. */
    def event(name: String, fields: (String, Any)*): Unit =
      writer.write(jline(Seq(
        "ts" -> Instant.now().toString,
        "kind" -> "event",
        "name" -> name) ++ fields))
    /** Files written so far (first + rotated parts). */
    def files: Seq[Path] = writer.paths.filter(Files.exists(_))
    /** Unregister the listener and stop observing queries. Files remain,
      * and [[event]] stays usable — the stream is the RUN's log, closing
      * detaches only the query listener (the reference's `info!` outlives
      * any one stage the same way). */
    def close(): Unit = spark.listenerManager.unregister(listener)
  }

  /** Best-effort plan metrics: (rows out, exchange data bytes, spill
    * bytes, parquet scans). `rows_out` is the `numOutputRows` of the first
    * node down from the root that exposes it, passing only nodes that keep
    * the row count (codegen, input and columnar adapters, AQE stages and
    * shuffle reads, project, sort, shuffle exchange): under the `toRdd`
    * drain the root is such a wrapper. A `Union` sums its children's
    * counts, each found the same way; any other row-changing node without
    * the metric, or a Union child without a count, leaves -1. Walks the FINAL adaptive plan when AQE ran —
    * the pre-execution plan's metrics are zeros — and descends into
    * query-stage wrappers (AQE's materialized stages are leaf wrappers;
    * a plain `collect` never sees inside them). `exchange_bytes` sums
    * dataSize over Exchange nodes ONLY (shuffle + broadcast):
    * ReusedExchangeExec is a leaf pointing at an already-counted
    * exchange, so skipping non-Exchange nodes also prevents the
    * double-count it would cause. Limitation: subquery plans hanging off
    * expressions (scalar/IN subqueries) are not traversed — their
    * exchanges and scans are not in these sums. */
  private[graft] def planMetrics(qe: QueryExecution): (Long, Long, Long, Long) =
    try {
      import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter, ProjectExec,
        SortExec, UnionExec, WholeStageCodegenExec}
      import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
      def expand(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => expand(a.executedPlan)
        case q: QueryStageExec => q +: expand(q.plan)
        case other => other +: other.children.flatMap(expand)
      }
      def keepsRows(p: SparkPlan): Boolean = p match {
        case _: WholeStageCodegenExec | _: InputAdapter | _: ColumnarToRowExec |
            _: QueryStageExec | _: AQEShuffleReadExec | _: ProjectExec | _: SortExec |
            _: ShuffleExchangeExec => true
        case _ => false
      }
      // every row-keeping node is unary: descend its one child (a query
      // stage's plan) until a node counts its rows; a Union's rows are its
      // children's, each found by the same descent
      def rowsOf(p: SparkPlan): Long = p match {
        case a: AdaptiveSparkPlanExec => rowsOf(a.executedPlan)
        case _ if p.metrics.contains("numOutputRows") => p.metrics("numOutputRows").value
        case q: QueryStageExec => rowsOf(q.plan)
        case u: UnionExec =>
          val parts = u.children.map(rowsOf)
          if (parts.contains(-1L)) -1L else parts.sum
        case _ if keepsRows(p) => p.children.headOption.fold(-1L)(rowsOf)
        case _ => -1L
      }
      val nodes = expand(qe.executedPlan)
      val rows = rowsOf(qe.executedPlan)
      val exchange = nodes.collect { case e: Exchange => e }
        .flatMap(_.metrics.get("dataSize")).map(_.value).sum
      val spill = nodes.flatMap(_.metrics.get("spillSize")).map(_.value).sum
      val scans = nodes.count(_.nodeName.toLowerCase.contains("scan"))
      (rows, exchange, spill, scans.toLong)
    } catch { case _: Throwable => (-1L, -1L, -1L, -1L) }

  /** Install the observability surface on a session. One JSON line per
    * completed/failed DataFrame action into
    * `<dir>/graft_<utc-ts>_<user>.jsonl` (user from `GRAFT_USER_LOGIN`,
    * falling back to the reference's `default_user` — main.rs:40), files
    * rotated past `maxBytes`. */
  def install(spark: SparkSession, dir: String = "logs",
      maxBytes: Long = 64L * 1024 * 1024): Handle = {
    // sanitize: the login lands in a FILENAME — a '/' or '..' in the env
    // value would redirect the resolve into nonexistent subdirectories
    // and fail every listener write
    val user = sys.env.getOrElse("GRAFT_USER_LOGIN", "default_user")
      .replaceAll("[^A-Za-z0-9._-]", "_")
    val d = Paths.get(dir)
    Files.createDirectories(d)
    // pid + seq suffix: the reference names by (timestamp, user) alone
    // (main.rs:28-33); two installs inside one second — same JVM (seq) or
    // two JVMs (pid) — would interleave two sessions' records otherwise
    val pid = ProcessHandle.current().pid()
    val seq = installSeq.getAndIncrement()
    val base = d.resolve(s"graft_${tsFmt.format(Instant.now())}_${user}_p${pid}_$seq.jsonl")
    val writer = new RotatingWriter(base, maxBytes)
    val listener = new QueryExecutionListener {
      private def record(funcName: String, qe: QueryExecution,
          durationNs: Long, error: Option[Throwable]): Unit = {
        val (rows, shuffle, spill, scans) = planMetrics(qe)
        writer.write(jline(Seq(
          "ts" -> Instant.now().toString,
          "kind" -> "query",
          "action" -> funcName,
          "status" -> error.map(_ => "failed").getOrElse("ok"),
          "wall_s" -> durationNs / 1e9,
          "rows_out" -> rows,
          "exchange_bytes" -> shuffle,
          "spill_bytes" -> spill,
          "scans" -> scans) ++
          error.map(e => "error" ->
            s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")))
      }
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = record(funcName, qe, durationNs, None)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = record(funcName, qe, 0L, Some(exception))
    }
    spark.listenerManager.register(listener)
    new Handle(spark, writer, listener)
  }
}
