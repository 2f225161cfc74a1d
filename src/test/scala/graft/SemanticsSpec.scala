package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators._

/** Semantics the oracle can't see (SURVEY.md §5.2 #3): null-miss rows,
  * "Unknown" defaulting, top-K containment, epoch round-trips. */
class SemanticsSpec extends SparkSpecBase {

  test("J1 left-outer keeps miss rows with NULL payload (vendor.rs:82-115 parity)") {
    import spark.implicits._
    val codes = Seq("a", "b", "c").toDF("code")
    val details = Seq(("a", "na"), ("c", "nc")).toDF("code", "name")
    val joined = codes.join(details, Seq("code"), "left_outer")
      .select($"code", coalesce($"name", lit("Unknown")).as("name"))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(joined === Map("a" -> "na", "b" -> "Unknown", "c" -> "nc"))
  }

  test("P2 json extract defaults to Unknown on missing/non-string (vendor.rs:61-64)") {
    import spark.implicits._
    val df = Seq("""{"name":"x"}""", """{"other":1}""", "not json").toDF("details")
      .select(coalesce(get_json_object($"details", "$.name"), lit("Unknown")).as("name"))
    assert(df.collect().map(_.getString(0)).toSeq === Seq("x", "Unknown", "Unknown"))
  }

  test("W1 top-K per group is contained in its group and capped at K") {
    import spark.implicits._
    val topk = Windows.w1TopkPerGroup(spark, sfDir)
    val perUser = topk.groupBy($"user_id").count().collect()
    assert(perUser.forall(_.getLong(1) <= 3))
    // membership: every (user,event) pair exists in the source
    val src = Tables.events(spark, sfDir).select($"user_id", $"event_id")
    assert(topk.select($"user_id", $"event_id").except(src).count() === 0)
  }

  test("A6b approx distinct lands in the HLL error envelope (rsd=0.01, 5-sigma)") {
    // a6b has no DuckDB oracle (sketch results are engine-specific); this
    // is its quantitative check: |approx - exact| / exact < 5 * rsd. HLL
    // is deterministic for a fixed input, so the assertion cannot flake.
    val exact = Relational.a6DistinctCodes(spark, sfDir)
      .collect()(0).getLong(0)
    val approx = Relational.a6bApproxDistinct(spark, sfDir)
      .collect()(0).getLong(0)
    val relErr = math.abs(approx - exact).toDouble / exact.toDouble
    assert(relErr < 0.05, s"approx=$approx exact=$exact relErr=$relErr")
  }

  test("A14 sketch union: merged per-day sketches ≡ one-shot sketch; partitioning-invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val merged = Relational.a14SketchUnion(spark, sfDir)
      .collect()(0).getLong(0)
    // union of per-day sketches equals the sketch of the union at equal
    // lgK — the mergeability contract the persisted table relies on
    val oneShot = Tables.events(spark, sfDir)
      .agg(hll_sketch_estimate(hll_sketch_agg($"user_id", 12)).as("n"))
      .collect()(0).getLong(0)
    assert(merged === oneShot, s"merge lost fidelity: $merged vs $oneShot")
    // register-max insertion is order-insensitive: any partitioning of
    // the day stream unions to the same registers
    val repart = Tables.events(spark, sfDir).repartition(7)
      .groupBy(to_date($"ts").as("day"))
      .agg(hll_sketch_agg($"user_id", 12).as("sketch"))
      .agg(hll_sketch_estimate(hll_union_agg($"sketch")).as("n"))
      .collect()(0).getLong(0)
    assert(repart === merged)
    // and the estimate sits in the error envelope of the exact count
    val exact = Tables.events(spark, sfDir)
      .agg(countDistinct($"user_id")).collect()(0).getLong(0)
    assert(math.abs(merged - exact).toDouble / exact < 0.05,
      s"merged=$merged exact=$exact")
  }

  test("L3i quantized top-10 recovers the exact top-10 (SQ8 recall sanity)") {
    // int8 quantization perturbs each dot by at most ~d·|x|max²/127 — on the
    // fixture the exact and quantized top-10 coincide outright; assert ≥8
    // so a legitimate near-boundary reorder can't flake the suite
    val exact = graft.llm.Similarity.l3BruteForceTopk(spark, sfDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val quant = graft.llm.Similarity.l3iSq8Topk(spark, sfDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(exact.intersect(quant).size >= 8,
      s"quantized top-10 lost the exact set: $quant vs $exact")
  }

  test("L3j two-stage retrieval ≡ exact brute-force top-10 (re-rank repairs SQ8 noise)") {
    // the whole point of the 10x shortlist: quantization may reorder
    // WITHIN the shortlist but cannot push a true top-10 neighbor out of
    // the top 100, so after exact re-rank the result is bit-identical
    val exact = graft.llm.Similarity.l3BruteForceTopk(spark, sfDir).collect()
    val staged = graft.llm.Similarity.l3jRerankTopk(spark, sfDir).collect()
    assert(staged.toSeq === exact.toSeq)
  }

  test("F3 epoch-seconds round trip is identity at second granularity") {
    import spark.implicits._
    val df = Seq("2024-03-01 12:34:56").toDF("s")
      .select(unix_timestamp($"s".cast("timestamp")).as("e"))
      .select(date_format(timestamp_seconds($"e"), "yyyy-MM-dd HH:mm:ss").as("rt"))
    assert(df.head().getString(0) === "2024-03-01 12:34:56")
  }

  test("F13 jitter stays within [base, base+span) and is deterministic") {
    val j = graft.functions.Scalars.f13Jitter(spark, sfDir)
    val vals = j.collect().map(_.getLong(1))
    assert(vals.forall(v => v >= 2000 && v < 3000))
    val again = graft.functions.Scalars.f13Jitter(spark, sfDir).collect().map(_.getLong(1))
    assert(vals.sameElements(again))
  }

  test("ETL partition keys are total: every vendor row lands in exactly one partition") {
    import spark.implicits._
    val v = Etl.vendorFrame(spark, sfDir)
    assert(v.filter($"city_id".isNull || $"year".isNull || $"month".isNull || $"day".isNull).count() === 0)
    assert(v.count() === Tables.orders(spark, sfDir).count())
  }

  test("golden ETL: partitioned write/read-back preserves schema, counts, and partition layout") {
    import spark.implicits._
    val out = s"$scratchRoot/golden_etl"
    val v = Etl.vendorFrame(spark, sfDir).filter($"year" === 2000 && $"month" === 1)
    v.write.mode("overwrite").partitionBy("city_id", "year", "month", "day").parquet(out)
    val back = spark.read.parquet(out)
    assert(back.count() === v.count())
    assert(back.columns.toSet === v.columns.toSet)
    // Hive-style dirs exist
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("city_id=")))
    // 8-column vendor payload intact (SURVEY §1.2) + 4 partition keys
    val payload = Seq("code", "name", "details", "batch_number", "reviews",
      "ratings", "extraction_started_at", "extraction_completed_at")
    assert(payload.forall(back.columns.contains))
  }

  test("A2 distribution percentages are derived from one total and sum sanely") {
    val rows = Relational.a2RatingsDistribution(spark, sfDir).collect()
    val total = rows.head.getAs[Long]("total_count")
    assert(rows.map(_.getAs[Long]("cnt")).sum === total)
    val pctSum = rows.map(_.getAs[Long]("percentage")).sum
    assert(pctSum >= 95 && pctSum <= 100) // integer floors
  }

  test("set1b: the Settings worklist drives the plan — override re-targets, dim side broadcasts") {
    // the reference's city loop (main.rs:107) as a config-driven
    // predicate: a GRAFT_CITIES overlay must change which cities the
    // SAME query computes, with no code change
    val defaults = graft.Settings.loadDefault(env = Map.empty)
    assert(defaults.cities === Seq("1", "9", "14")) // the oracle's IN-list
    val overridden = graft.Settings.loadDefault(
      env = Map("GRAFT_CITIES" -> "2,7"))
    val got = Relational.set1bCitiesConfig(spark, sfDir, overridden)
    val cities = got.collect().map(_.getLong(0)).toSeq
    assert(cities === Seq(2L, 7L))
    // worklist rides a broadcast of the filtered dimension — the fact
    // side scans once regardless of |cities|
    val p = got.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q3 plain gated-broadcast form equals the shuffle-core plan in every gate mode") {
    // the r14 plain-star rework: the declared q3 runs the count-gated
    // broadcast-dimension plan (Analytics.gatedBroadcast); value parity
    // with the original join-then-aggregate core must hold on BOTH sides
    // of the gate — broadcast hint taken (default budget at this sf,
    // unbounded budget) and shuffle fallback (zero budget)
    def q3() = Analytics.q3PlainFrom(spark, Tables.region(spark, sfDir),
      Tables.nation(spark, sfDir), Tables.customer(spark, sfDir),
      Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir)).collect().toSeq
    val core3 = Analytics.q3From(spark, Tables.region(spark, sfDir),
      Tables.nation(spark, sfDir), Tables.customer(spark, sfDir),
      Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir)).collect().toSeq
    try {
      for (budget <- Seq(None, Some(Long.MaxValue), Some(0L))) {
        budget match {
          case Some(b) => spark.conf.set("spark.graft.star.broadcastMaxDimRows", b.toString)
          case None => spark.conf.unset("spark.graft.star.broadcastMaxDimRows")
        }
        val label = budget.fold("default")(_.toString)
        assert(q3() === core3, s"q3 diverged under budget=$label")
      }
    } finally spark.conf.unset("spark.graft.star.broadcastMaxDimRows")
  }

  test("a9: the GK band holds at the guarantee") {
    // the DECLARED row: every group's rank bands true (the in-row verdict
    // the oracle grades as plain TRUE literals — a sketch drift flips it)
    val banded = Analytics.a9Percentiles(spark, sfDir).collect()
    assert(banded.nonEmpty)
    banded.foreach { r =>
      assert(r.getAs[Boolean]("band_p50_ok") && r.getAs[Boolean]("band_p90_ok"),
        s"GK rank band violated for ${r.getString(0)}")
    }
  }
}
