package graft

import graft.sources.Throttle

/** The politeness throttle (sources/Throttle.scala — main.rs:139-141 /
  * vendor.rs:44 semantics): bounded jittered spacing, mean-preserving
  * rate, deficit-forgiving schedule, and a no-op fast path. All with an
  * injected clock — no wall-clock sleeping in the suite. */
class ThrottleSpec extends SparkSpecBase {

  /** Fake time: sleeps advance the clock exactly; consumption is instant. */
  private class FakeClock {
    var now = 0L
    def nanoTime(): Long = now
    def sleep(n: Long): Unit = { assert(n > 0); now += n }
  }

  test("inter-element spacing is base*(1 +/- jitterFrac), first element free") {
    val clock = new FakeClock
    val n = 500
    val base = 1000000L // 1000/s
    var releases = Vector.empty[Long]
    Throttle.paced((1 to n).iterator, 1000.0, 0.2, seed = 7L,
      nanoTime = clock.nanoTime _, sleep = clock.sleep _)
      .foreach(_ => releases :+= clock.now)
    assert(releases.head === 0L) // no delay before the first request
    val gaps = releases.sliding(2).map(p => p(1) - p(0)).toVector
    assert(gaps.forall(g => g >= (base * 0.8).toLong && g <= (base * 1.2).toLong),
      s"gap outside jitter envelope: min=${gaps.min} max=${gaps.max}")
    // mean-preserving jitter: long-run rate within 2% of the target
    val mean = gaps.sum.toDouble / gaps.length
    assert(math.abs(mean - base) / base < 0.02, s"mean gap $mean vs base $base")
    // jitter actually varies (not a fixed interval)
    assert(gaps.distinct.length > n / 4)
  }

  test("schedule is deterministic in (seed, i) and differs across seeds") {
    def schedule(seed: Long): Vector[Long] = {
      val clock = new FakeClock
      var rel = Vector.empty[Long]
      Throttle.paced((1 to 50).iterator, 100.0, 0.3, seed,
        nanoTime = clock.nanoTime _, sleep = clock.sleep _)
        .foreach(_ => rel :+= clock.now)
      rel
    }
    assert(schedule(1L) === schedule(1L))
    assert(schedule(1L) !== schedule(2L))
  }

  test("a slow consumer absorbs its latency instead of stacking sleeps") {
    val clock = new FakeClock
    val base = 1000000L
    val it = Throttle.paced((1 to 3).iterator, 1000.0, 0.0, seed = 0L,
      nanoTime = clock.nanoTime _, sleep = clock.sleep _)
    it.next() // t = 0
    clock.now += 10 * base // downstream takes 10 intervals to process
    val t1 = { it.next(); clock.now }
    assert(t1 === 10 * base) // already past due: released immediately...
    val t2 = { it.next(); clock.now }
    assert(t2 === 11 * base) // ...and the NEXT interval restarts from now
  }

  test("maxPerSecond <= 0 is the identity (no wrapper allocation cost)") {
    val src = (1 to 10).iterator
    assert(Throttle.paced(src, 0.0, 0.2, 1L) eq src)
  }

  test("a malformed or out-of-range rateJitter is refused on the driver, naming the key, before any job") {
    val group = s"throttle-conf-${System.nanoTime}"
    spark.sparkContext.setJobGroup(group, "throttle conf refusal")
    spark.conf.set("spark.graft.source.maxRowsPerSecond", "100000")
    try {
      for (bad <- Seq("abc", "1.5")) {
        spark.conf.set("spark.graft.source.rateJitter", bad)
        val e = intercept[IllegalArgumentException] {
          graft.sources.Paginated.s4PointLookup(spark, sfDir)
        }
        assert(e.getMessage.contains("spark.graft.source.rateJitter"), e.getMessage)
      }
      assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty,
        "a job ran before the conf was refused")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.conf.set("spark.graft.source.maxRowsPerSecond", "0")
      spark.conf.set("spark.graft.source.rateJitter", "0.2")
    }
  }

  test("S4 results are identical with the throttle enabled") {
    // high rate so the integration run costs ~50ms of real sleeping
    val base = graft.sources.Paginated.s4PointLookup(spark, sfDir).collect()
    spark.conf.set("spark.graft.source.maxRowsPerSecond", "100000")
    try {
      val throttled = graft.sources.Paginated.s4PointLookup(spark, sfDir).collect()
      assert(throttled === base)
    } finally spark.conf.set("spark.graft.source.maxRowsPerSecond", "0")
  }
}
