package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Source operators (SURVEY.md §2.1 S3/S4): the reference's network edge —
  * an offset/limit cursor scan (main.rs:119-147) and per-key point lookups
  * (api.rs:73-150) — re-expressed as distributed scans.
  *
  * The correctness-scoped form replays over recorded tables (SURVEY §7.3):
  * pages become key-range partitions, lookups become a deterministic
  * per-partition "connection". The same shapes take a live HTTP client at
  * the marked seam — one client per partition, pages fanned out as tasks —
  * which is exactly how a cluster scrapes without a driver bottleneck.
  */
object Paginated {

  val PAGE_SIZE = 48 // main.rs:120

  /** S3: paginated scan — the listing keyed into fixed-size pages by a
    * stable key (arrival order is nondeterministic distributed; SURVEY
    * §4.3). One page ≙ one input split; `available_count`/`returned_count`
    * (response.rs:8-13) become the per-page metadata columns. */
  def s3PaginatedScan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, sfDir)
      .select($"o_orderkey")
      .withColumn("page", expr(s"(o_orderkey - 1) div $PAGE_SIZE"))
      .groupBy($"page")
      .agg(
        count(lit(1)).as("returned_count"),
        min($"o_orderkey").as("first_key"),
        max($"o_orderkey").as("last_key"))
      .orderBy($"page")
  }

  /** S4: point-lookup enrichment with a connection per partition. The
    * lookup here is a deterministic stub (md5-derived payload; every 7th
    * key is the HTTP-400 miss kept as a NULL row — api.rs:119-125,
    * vendor.rs:82-115); a production client opens its pool in the
    * `mapPartitions` prologue exactly where the comment marks it. Each
    * lookup runs under [[Retry.withRetry]] (retry.rs:4-29); every 997th
    * key simulates a first-attempt 429 so the retry path executes inside
    * the real distributed plan, not just in specs — the retried result is
    * identical, so the oracle is unaffected. */
  def s4PointLookup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // politeness throttle (main.rs:139-141 / vendor.rs:44): per-partition
    // rows/second with keyed jitter, OFF by default (0) so recorded-table
    // replays run at full speed; a live deployment sets the conf and each
    // partition's client paces itself (see sources/Throttle.scala)
    val (maxPerSec, jitterFrac) = Throttle.rate(spark)
    // fan the key column out to every core BEFORE the lookup seam: the
    // scan's partitioning follows file splits (a 150 MB key column = 2
    // splits), but a point-lookup source is throughput-bound on the
    // per-element call, so parallelism must track cores/connections, not
    // bytes. The repartition shuffles only the 8-byte keys.
    val codes = Tables.orders(spark, sfDir).select($"o_orderkey".as("code"))
      .repartition(spark.sparkContext.defaultParallelism)
    val hexDigits = "0123456789abcdef".toCharArray
    val looked = codes.as[Long].mapPartitions { it0 =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val it = Throttle.paced(it0, maxPerSec, jitterFrac, seed = pid.toLong)
      // per-partition "connection" init (pool.rs analog): one digest/client
      // instance reused for every row of the partition
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { code =>
        if (code % 7 == 0) (code, Option.empty[String]) // 400 -> null payload
        else Retry.withRetry(maxAttempts = 3, baseDelayMs = 1L, seed = code) { attempt =>
          if (attempt == 1 && code % 997 == 0)
            throw Retry.Transient(s"429 for $code") // transient; retried
          md.reset()
          val bytes = md.digest(s"detail#$code".getBytes("UTF-8"))
          // only the first 4 bytes surface (8 hex chars): format exactly
          // those, without a per-byte String.format
          val sb = new java.lang.StringBuilder(8)
          var i = 0
          while (i < 4) {
            val b = bytes(i) & 0xff
            sb.append(hexDigits(b >> 4)); sb.append(hexDigits(b & 15))
            i += 1
          }
          (code, Some(sb.toString))
        }
      }
    }.toDF("code", "detail")
    looked
      .select($"code", $"detail",
        $"detail".isNull.as("is_miss"),
        coalesce($"detail", lit("Unknown")).as("detail_or_default"))
      .orderBy($"code")
  }
}
