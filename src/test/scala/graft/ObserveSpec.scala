package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** Observe [EXT]: the per-query JSONL trace (reference main.rs:42-93
  * re-expressed as a QueryExecutionListener). Listener delivery is async
  * (the execution-listener bus), so assertions poll. */
class ObserveSpec extends SparkSpecBase {

  private val dir = s"$scratchRoot/obslogs"

  private def lines(h: Observe.Handle): Seq[String] =
    h.files.flatMap(p => Files.readAllLines(p).asScala)

  private def await(cond: => Boolean, ms: Long = 8000): Boolean = {
    val t0 = System.currentTimeMillis()
    while (!cond && System.currentTimeMillis() - t0 < ms) Thread.sleep(100)
    cond
  }

  test("query actions land as structured JSONL records with plan metrics") {
    val h = Observe.install(spark, dir)
    try {
      import spark.implicits._
      val n = Tables.orders(spark, sfDir)
        .groupBy($"o_orderpriority").count().collect().length
      assert(n > 0)
      assert(await(lines(h).exists(l =>
        l.contains("\"kind\":\"query\"") && l.contains("\"status\":\"ok\""))),
        s"no ok query record in:\n${lines(h).mkString("\n")}")
      val rec = lines(h).find(l => l.contains("\"kind\":\"query\"")
        && l.contains("\"status\":\"ok\"")).get
      // structured fields present and the line is real JSON
      for (f <- Seq("\"ts\":", "\"action\":", "\"wall_s\":", "\"rows_out\":",
          "\"exchange_bytes\":", "\"spill_bytes\":", "\"scans\":"))
        assert(rec.contains(f), s"missing $f in $rec")
      val parsed = org.json4s.jackson.JsonMethods.parse(rec)
      assert((parsed \ "status") === org.json4s.JString("ok"))
    } finally h.close()
  }

  test("planMetrics: exchange bytes sum Exchange nodes only (reuse not double-counted), scans counted inside AQE stages") {
    import spark.implicits._
    // a self-join of one aggregated subtree: AQE reuses the shuffle
    // exchange, so the final plan has ONE Exchange + one ReusedExchange
    // (or a reused stage) — the r14 planMetrics summed dataSize over
    // every node and double-counted exactly this shape (r15 advice)
    val agg = Tables.orders(spark, sfDir)
      .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
    val df = agg.as("a").join(agg.as("b"), "o_orderpriority")
    BenchUtil.force(df)
    val (_, exch, _, scans) = Observe.planMetrics(df.queryExecution)
    // the traversal descends into query stages: the parquet scan(s) are
    // inside materialized stages, invisible to a plain plan.collect
    assert(scans >= 1, s"scans=$scans — stage interiors not traversed")
    // ground truth: sum dataSize over distinct Exchange node INSTANCES
    // (a reused exchange points back at the same instance)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    def expand(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => expand(a.executedPlan)
      case q: QueryStageExec => q +: expand(q.plan)
      case other => other +: other.children.flatMap(expand)
    }
    val distinctExchanges = expand(df.queryExecution.executedPlan)
      .collect { case e: Exchange => e }.distinct
    val want = distinctExchanges.flatMap(_.metrics.get("dataSize")).map(_.value).sum
    assert(exch === want,
      s"exchange_bytes=$exch != distinct-instance sum $want (double count?)")
    assert(exch > 0, "the grouped self-join must ship at least one exchange")
  }

  test("planMetrics: rows_out is the real output row count after a force drain (filter+project, AQE aggregate, join)") {
    import spark.implicits._
    val orders = Tables.orders(spark, sfDir)
    val customer = Tables.customer(spark, sfDir)
    // the drained root is a codegen (or AQE) wrapper with no
    // numOutputRows of its own: the count comes from the node below it
    // thunks: the expected count comes from a separate execution, since
    // re-running one QueryExecution accumulates into the same metrics
    val cases: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "filter+project" -> (() => orders.filter($"o_orderpriority" === "1-URGENT")
        .select($"o_orderkey", $"o_totalprice")),
      "aqe aggregate" -> (() => orders.groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))),
      "join" -> (() => orders.join(customer, $"o_custkey" === $"c_custkey")
        .select($"o_orderkey", $"c_name")),
      "union" -> (() => orders.filter($"o_orderpriority" === "1-URGENT")
        .select($"o_custkey".as("k")).union(customer.select($"c_custkey".as("k")))))
    val got = cases.map { case (label, mk) =>
      val want = mk().collect().length.toLong
      assert(want > 0, s"$label: empty fixture result")
      val df = mk()
      BenchUtil.force(df)
      (label, Observe.planMetrics(df.queryExecution)._1, want)
    }
    val wrong = got.filter { case (_, rows, want) => rows != want }
    assert(wrong.isEmpty, wrong.map { case (l, r, w) => s"$l: rows_out=$r, expected $w" }
      .mkString("; "))
  }

  test("failed actions record status=failed with the error class") {
    val h = Observe.install(spark, dir)
    try {
      import spark.implicits._
      intercept[Exception] {
        Seq(1, 2).toDF("x")
          .select(when($"x" > 1, raise_error(lit("boom"))).otherwise($"x"))
          .collect()
      }
      assert(await(lines(h).exists(l =>
        l.contains("\"status\":\"failed\"") && l.contains("\"error\":"))),
        s"no failure record in:\n${lines(h).mkString("\n")}")
    } finally h.close()
  }

  test("progress events interleave; files rotate past maxBytes") {
    val h = Observe.install(spark, dir, maxBytes = 300)
    try {
      h.event("processing_city", "city_id" -> 7L) // main.rs:108's shape
      for (i <- 1 to 4) h.event("padding", "i" -> i.toLong,
        "note" -> ("x" * 120))
      assert(lines(h).exists(l => l.contains("\"name\":\"processing_city\"")
        && l.contains("\"city_id\":7")))
      assert(h.files.size >= 2, s"no rotation: ${h.files}")
      // every line in every part is intact JSON (rotation never splits)
      lines(h).foreach(org.json4s.jackson.JsonMethods.parse(_))
    } finally h.close()
  }

  test("close() detaches: no records for actions after close") {
    val h = Observe.install(spark, dir)
    h.event("marker", "k" -> 1L)
    h.close()
    import spark.implicits._
    Seq(1).toDF("x").count()
    Thread.sleep(600) // would-be delivery window
    assert(!lines(h).exists(_.contains("\"kind\":\"query\"")),
      s"record written after close:\n${lines(h).mkString("\n")}")
  }
}
