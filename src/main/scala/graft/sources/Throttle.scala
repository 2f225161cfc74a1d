package graft.sources

/** Politeness rate limiting for the connection seams (SURVEY §3.3) — the
  * reference's defining runtime behavior: a jittered delay between
  * successive requests (main.rs:139-141 sleeps 2.5-3.5 s between listing
  * pages; vendor.rs:44 jitters between vendors) so the scraper never
  * presents as a burst client.
  *
  * Expressed Spark-side as PER-PARTITION pacing inside the `mapPartitions`
  * seam (one client per partition ⇒ one rate budget per client; the
  * cluster-wide rate is `partitions × maxPerSecond`, which is how a real
  * deployment reasons about politeness — per-connection, then capped by
  * connection count). Plan-level throttling would be wrong twice: the
  * driver can't pace executor-side iterators, and task re-runs would
  * double-count the budget.
  *
  * Pacing is schedule-based, not sleep-per-element: element i's release
  * time is `start + Σ jittered intervals`, so a slow downstream consumer
  * absorbs its own latency (no added sleep when already behind schedule —
  * the reference's inter-page sleep behaves the same way: the page fetch
  * itself counts toward the interval). Jitter is deterministic from
  * (seed, i) — splitmix64, the F13 keyed-jitter idiom — mean-preserving in
  * `[1-jitterFrac, 1+jitterFrac)`, so the long-run rate is exactly
  * `maxPerSecond` and tests replay the schedule bit-for-bit. */
object Throttle {

  /** The `spark.graft.source.maxRowsPerSecond` / `rateJitter` pair
    * (rows per second per partition, 0 = off; jitter fraction in [0, 1)),
    * read once on the driver through the refusing parse: a malformed or
    * out-of-range value fails the query naming its key before any job
    * runs, not inside an executor task. */
  private[graft] def rate(spark: org.apache.spark.sql.SparkSession): (Double, Double) = {
    val maxPerSec = graft.operators.TableLog.confDouble(spark,
      "spark.graft.source.maxRowsPerSecond", "0")
    val jitterFrac = graft.operators.TableLog.confDouble(spark,
      "spark.graft.source.rateJitter", "0.2")
    require(jitterFrac >= 0 && jitterFrac < 1,
      s"spark.graft.source.rateJitter must be in [0, 1), got $jitterFrac")
    (maxPerSec, jitterFrac)
  }

  /** Wrap a partition iterator so elements release no faster than
    * `maxPerSecond` on average. `maxPerSecond <= 0` disables (identity);
    * `jitterFrac` is in [0, 1), checked on the driver by [[rate]].
    * `nanoTime`/`sleep` are injectable so specs assert the schedule
    * without wall-clock sleeping. */
  def paced[T](it: Iterator[T], maxPerSecond: Double, jitterFrac: Double,
      seed: Long, nanoTime: () => Long = System.nanoTime,
      sleep: Long => Unit = sleepNanos): Iterator[T] = {
    if (maxPerSecond <= 0) return it
    val baseNanos = (1e9 / maxPerSecond).toLong
    new Iterator[T] {
      private var started = false
      private var dueAt = 0L
      private var i = 0L
      override def hasNext: Boolean = it.hasNext
      override def next(): T = {
        if (!started) { started = true; dueAt = nanoTime() } // first: free
        else {
          dueAt += intervalNanos(baseNanos, jitterFrac, seed, i)
          val wait = dueAt - nanoTime()
          if (wait > 0) sleep(wait)
          else dueAt = nanoTime() // behind schedule: don't bank the deficit
          i += 1
        }
        it.next()
      }
    }
  }

  /** The i-th jittered inter-element interval: `base * u` with `u` uniform
    * in [1-jitterFrac, 1+jitterFrac) derived from splitmix64(seed, i) —
    * mean-preserving, deterministic, engine-independent. */
  def intervalNanos(baseNanos: Long, jitterFrac: Double, seed: Long, i: Long): Long = {
    if (jitterFrac == 0) return baseNanos
    val h = graft.plans.RademacherSigs.splitmix64(seed * 1000003L + i)
    val u = (h >>> 11).toDouble / (1L << 53).toDouble // [0, 1)
    (baseNanos * (1.0 - jitterFrac + 2.0 * jitterFrac * u)).toLong
  }

  private def sleepNanos(n: Long): Unit = {
    val ms = n / 1000000L
    Thread.sleep(ms, (n - ms * 1000000L).toInt)
  }
}
