package graft.tools

import org.apache.spark.sql.DataFrame

/** Star-join crossover harness: measure q2/q3 (plain and bucketed) at a
  * SEQUENCE of scale factors to turn BENCHNOTES_HEAVY's "the star-join
  * ratio inverts when the fact table exceeds one node" from an assertion
  * into a measured trend. A star tier is MakeHeavy's table subset
  * `MakeHeavy <src> <out> <copies> orders customer lineitem region nation`
  * — the heavy tier's text/event tables would waste most of the build time
  * at 250x; the bucketed rows lay it out through
  * [[graft.operators.Bucketed]] on their untimed warmup. `BenchStar` times
  * the six rows with BenchHeavy's sweep protocol; tools/crossover.py runs
  * DuckDB on the identical oracle SQL per tier and renders the
  * ratio-vs-sf table.
  */
object BenchStar {

  val SWEEPS = 3

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val label = if (args.length > 1) args(1) else dir.split('/').last
    // trailing args past (dir, label) subset the sweep — BenchHeavy's
    // convention, so a new query joins existing tier JSONs via
    // tools/merge_bench.py without re-running the whole tier
    val subset = args.drop(2).toSet
    val spark = graft.GraftSession.local(MakeHeavy.cpus)
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")

    def pq(t: String): DataFrame = spark.read.parquet(s"$dir/$t.parquet")
    val all: Seq[(String, () => DataFrame)] = Seq(
      // the DECLARED q2 is the shuffle core (see q2ShippingPriority's doc)
      "q2_shipping_priority" -> (() =>
        graft.operators.Analytics.q2From(spark, pq("customer"), pq("orders"), pq("lineitem"))),
      "q3_revenue_by_nation" -> (() =>
        graft.operators.Analytics.q3PlainFrom(spark, pq("region"), pq("nation"),
          pq("customer"), pq("orders"), pq("lineitem"))),
      "q2_bucketed" -> (() => graft.operators.Bucketed.q2Bucketed(spark, dir)),
      "q3_bucketed" -> (() => graft.operators.Bucketed.q3Bucketed(spark, dir)),
      // two-phase exact percentile selection over the replicated fact
      // table: the point where DuckDB's full-sort rank replay grows with
      // n·log n while the histogram locate's shuffle stays |groups|×|buckets|
      "a13_exact_percentiles" -> (() =>
        graft.operators.Analytics.a13From(spark, pq("lineitem"))),
      // the wide scan-agg flagship: 6 groups, so the ratio is pure
      // per-row pipeline cost vs DuckDB's vectorized scan — the r12
      // verdict's one unexplained flagship ratio (3.8x at sf25 pre-
      // sum128); the star tiers give it the trend line q2/q3 have
      "q1_pricing_summary" -> (() =>
        graft.operators.Relational.q1PricingSummary(spark, dir)))
    val runnable = if (subset.isEmpty) all else all.filter(p => subset(p._1))
    require(runnable.nonEmpty, s"no queries match subset $subset")

    // FORCING (round 13): full-materialization noop-sink write, the same
    // protocol as graft.Bench/BenchHeavy since round 10. The `.count()`
    // forcing used here through round 12 was safe for the original sweep
    // — q2/q3/a13 end in limit/TakeOrdered, which ForceProbe showed
    // measure identically either way — but q1 (added this round) has no
    // limit, and under count() Catalyst prunes its aggregate VALUE
    // expressions to the grouping keys: the measured q1 was a gutted
    // plan (0.96s vs 2.9s honest at sf25) while DuckDB always fetched
    // full rows.
    // disk_spill_gb: at the largest tiers a high-cardinality per-task
    // aggregate can exceed executor memory — surfacing diskBytesSpilled
    // per query tells the ratio table WHY a point regressed (memory
    // ceiling, not plan shape)
    val results = Sweep(spark, runnable, SWEEPS).map { case (n, runs) => n -> Sweep.median(runs) }
    val qs = Sweep.perQuery(results)(_.wall)
    val cs = Sweep.perQuery(results)(_.stageSeconds)
    val sp = Sweep.perQuery(results)(_.spillBytes / 1e9)
    val total = results.flatMap(_._2).map(_.wall).sum
    val line = s"""{"metric":"star_total","value":$total,"unit":"sec","tier":"$label","queries":$qs,"stage_compute":$cs,"disk_spill_gb":$sp,"sf":"$dir"}"""
    println(line)
    // a subset run lands in a side file so it can't clobber the tier's
    // full artifact — merge with tools/merge_bench.py
    val out = if (subset.isEmpty) s"target/bench_star_$label.json"
              else s"target/bench_star_$label.subset.json"
    graft.BenchUtil.writeArtifact(out, line)
    spark.stop()
  }
}
