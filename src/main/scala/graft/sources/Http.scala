package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** S3 live form: the reference's paginated listing scan executed over real
  * HTTP (main.rs:119-177), distributed Spark-side.
  *
  * Topology: the driver makes ONE probe request (offset 0) to learn
  * `available_count` — exactly the reference's initial request
  * (main.rs:119-130) — then the page index range fans out as a normal
  * RDD, one page fetch per element, so a 1000-executor cluster scrapes
  * 1000 connections wide with no driver bottleneck. Each task binds the
  * executor-JVM [[Http.Pool]] in the `mapPartitions` prologue
  * (pool.rs:14-19: four browser identities, rotated, one pool per
  * process — see [[cachedPool]]), paces itself through
  * [[Throttle.paced]] (main.rs:139-141 inter-page politeness), and runs
  * every fetch under [[Retry.withRetry]] (retry.rs:4-29; api.rs:136-146:
  * 429/5xx retry, 4xx is data). The attempt index rotates the pool so a
  * poisoned client is replaced on retry (clients/http.rs:110-138).
  *
  * Everything here is plain JDK (`java.net.http`) + json4s from Spark's
  * own classpath — no extra dependencies. HttpSourceSpec drives the whole
  * loop against an in-process HTTP server with fault injection; the
  * recorded-table form ([[Paginated.s3PaginatedScan]]) remains the
  * correctness-oracle surface because a live endpoint is not available to
  * the differential harness.
  */
object Http {

  /** Conf values that reproduce the reference's politeness budgets
    * exactly, as (rate, jitterFrac) pairs for [[Throttle.paced]] — the
    * deployment defaults a parity-faithful scrape sets on
    * `spark.graft.source.maxRowsPerSecond` / `rateJitter`:
    *
    *  - inter-page: 2000 ms + U[0, 1000] ms (main.rs:139-141,
    *    utils/time.rs:4-7) = mean 2500 ms on support [2000, 3000] —
    *    `paced(0.4, 0.2)` has the same mean and the same support
    *    (2500 ms × (1 ± 0.2)), both uniform;
    *  - inter-vendor: 1500 ms + U[0, 1000] ms (services/vendor.rs:33,44)
    *    = mean 2000 ms on [1500, 2500] — `paced(0.5, 0.25)`.
    *
    * HttpSourceSpec pins both schedules against these constants (fake
    * clock) and drives the page budget through [[s3LiveScan]] live. */
  val REF_PAGE_RATE = 0.4
  val REF_PAGE_JITTER = 0.2
  val REF_VENDOR_RATE = 0.5
  val REF_VENDOR_JITTER = 0.25

  /** The reference's four-browser client pool (clients/pool.rs:14-19).
    * One `HttpClient` per identity; `pick(i)` round-robins. */
  val USER_AGENTS: Seq[String] = Seq(
    "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/115.0",
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.0 Safari/605.1.15",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Edge/120.0")

  /** One pool per executor JVM (keyed by timeout + static header map),
    * matching the reference's one-pool-per-process topology
    * (pool.rs:14-19). A per-TASK pool would spin up four fresh
    * HttpClients (each with its own selector thread) for every partition
    * a long-lived executor processes; the JVM-level cache bounds that at
    * four clients per distinct key for the life of the executor.
    *
    * CONTRACT: the header map is config-static (the handful of
    * Settings.apiHeaders variants a deployment carries), never
    * per-request — each distinct key pins 4 HttpClients until JVM exit.
    * A caller that varies headers per request would grow the cache
    * unboundedly, so the cap below makes that misuse loud (an
    * IllegalStateException naming this contract) instead of a silent
    * selector-thread leak. */
  private val MaxPools = 64
  private val poolCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Map[String, String]), Pool]()
  def cachedPool(timeoutMs: Long,
                 headers: Map[String, String] = Map.empty): Pool =
    poolCache.computeIfAbsent((timeoutMs, headers), { case (t, h) =>
      if (poolCache.size >= MaxPools)
        throw new IllegalStateException(
          s"cachedPool: > $MaxPools distinct (timeout, headers) keys — " +
            "header maps must be config-static, not per-request")
      new Pool(t, headers = h)
    })

  /** `headers` is the config-driven static header map attached to every
    * request (the reference's api.headers from its layered Settings,
    * config.rs:22-24 / clients/http.rs — graft.Settings.apiHeaders is
    * the loaded counterpart). Identity (User-Agent) still rotates per
    * attempt on top of it. */
  final class Pool(timeoutMs: Long, userAgents: Seq[String] = USER_AGENTS,
                   headers: Map[String, String] = Map.empty) {
    private val clients = userAgents.map { _ =>
      java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofMillis(timeoutMs))
        .build()
    }
    def size: Int = clients.size
    /** GET `url` with the i-th identity; returns (status, body, userAgent). */
    def get(i: Int, url: String): (Int, String, String) = {
      val idx = math.floorMod(i, clients.size)
      val ua = userAgents(idx)
      val builder = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofMillis(timeoutMs))
        .header("User-Agent", ua)
      headers.foreach { case (k, v) => builder.header(k, v) }
      val resp = clients(idx).send(builder.GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body(), ua)
    }
  }

  /** One listing page (response.rs:8-18). */
  final case class ListingPage(availableCount: Long, returnedCount: Long,
                               items: Seq[(String, String)])

  /** Fetch + parse one page under the retry policy. 429/5xx raise
    * [[Retry.Transient]] (retried, pool rotated via the attempt index);
    * any other non-200 is a fatal routing outcome (api.rs:136-146). */
  def fetchListingPage(pool: Pool, baseUrl: String, offset: Long, limit: Int,
                       maxAttempts: Int, baseDelayMs: Long,
                       clientSeed: Int = 0,
                       sleep: Long => Unit = Thread.sleep): ListingPage =
    Retry.withRetry(maxAttempts, baseDelayMs, seed = offset, sleep = sleep) { attempt =>
      val url = s"$baseUrl?offset=$offset&limit=$limit"
      val (status, body, _) = pool.get(clientSeed + attempt - 1, url)
      if (status == 429 || status >= 500)
        throw Retry.Transient(s"HTTP $status for $url")
      require(status == 200, s"fatal HTTP $status for $url")
      parseListing(body)
    }

  /** Parse `{"available_count":N,"returned_count":n,"items":[{"code":..,
    * "name":..}]}` — the response.rs:8-18 shape. */
  def parseListing(body: String): ListingPage = {
    val j = JsonMethods.parse(body)
    def num(v: JValue): Long = v match {
      case JInt(n) => n.toLong
      case JLong(n) => n
      case other => sys.error(s"expected number, got $other")
    }
    def str(v: JValue): String = v match {
      case JString(s) => s
      case other => sys.error(s"expected string, got $other")
    }
    val items = (j \ "items") match {
      case JArray(xs) => xs.map(x => (str(x \ "code"), str(x \ "name")))
      case other => sys.error(s"expected items array, got $other")
    }
    ListingPage(num(j \ "available_count"), num(j \ "returned_count"), items)
  }

  /** S4 live form: fetch one detail document (api.rs:73-150). The 400/404
    * routing outcomes are DATA — the reference keeps the vendor row with a
    * NULL payload (vendor.rs:82-115) — so they return None rather than
    * raising; only 429/5xx transients retry. */
  def fetchDetail(pool: Pool, baseUrl: String, code: String,
                  maxAttempts: Int, baseDelayMs: Long, clientSeed: Int = 0,
                  sleep: Long => Unit = Thread.sleep): Option[String] =
    Retry.withRetry(maxAttempts, baseDelayMs, seed = code.hashCode.toLong,
      sleep = sleep) { attempt =>
      val url = s"$baseUrl?code=$code"
      val (status, body, _) = pool.get(clientSeed + attempt - 1, url)
      if (status == 429 || status >= 500)
        throw Retry.Transient(s"HTTP $status for $url")
      if (status == 400 || status == 404) None // miss kept as NULL payload
      else { require(status == 200, s"fatal HTTP $status for $url"); Some(body) }
    }

  /** S4 live: per-key detail lookup over HTTP, distributed. Input is a
    * one-column `code` frame; output matches the recorded form
    * ([[Paginated.s4PointLookup]]): the miss row survives with NULLs. The
    * keys are repartitioned to cores first — a point-lookup source is
    * bound by the per-element call, so parallelism must track
    * cores/connections, not input bytes. */
  def s4LiveLookup(spark: SparkSession, codes: DataFrame, baseUrl: String,
                   maxAttempts: Int = 3, baseDelayMs: Long = 1000L,
                   timeoutMs: Long = 30000L,
                   headers: Map[String, String] = Map.empty): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val (maxPerSec, jitterFrac) = Throttle.rate(spark)
    val looked = codes.select($"code".cast("string")).as[String]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it0 =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val pool = cachedPool(timeoutMs, headers)
        val it = Throttle.paced(it0, maxPerSec, jitterFrac, seed = pid.toLong)
        var i = 0
        it.map { code =>
          i += 1
          (code, fetchDetail(pool, baseUrl, code, maxAttempts, baseDelayMs,
            clientSeed = pid + i))
        }
      }
      .toDF("code", "detail")
    looked.select($"code", $"detail",
      $"detail".isNull.as("is_miss"),
      coalesce($"detail", lit("Unknown")).as("detail_or_default"))
  }

  /** The distributed live scan. Returns one row per listing item with its
    * page provenance (`batch_number` = page + 1, main.rs:159). Pacing and
    * retry knobs mirror the recorded-form confs; pacing is per partition
    * (= per client), the deployment's politeness unit. */
  def s3LiveScan(spark: SparkSession, baseUrl: String,
                 pageSize: Int = Paginated.PAGE_SIZE,
                 maxAttempts: Int = 3, baseDelayMs: Long = 1000L,
                 timeoutMs: Long = 30000L,
                 headers: Map[String, String] = Map.empty): DataFrame = {
    import spark.implicits._
    val (maxPerSec, jitterFrac) = Throttle.rate(spark)
    // driver probe: ONE request to size the scan (main.rs:119-130)
    val probe = fetchListingPage(new Pool(timeoutMs, headers = headers),
      baseUrl, 0, pageSize, maxAttempts, baseDelayMs)
    val nPages = ((probe.availableCount + pageSize - 1) / pageSize).toInt
    val slots = math.max(1, math.min(nPages, spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(0 until nPages, slots)
      .mapPartitions { pages0 =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val pool = cachedPool(timeoutMs, headers) // per-JVM connections (pool.rs)
        val pages = Throttle.paced(pages0, maxPerSec, jitterFrac, seed = pid.toLong)
        pages.flatMap { page =>
          val lp = fetchListingPage(pool, baseUrl, page.toLong * pageSize,
            pageSize, maxAttempts, baseDelayMs, clientSeed = page)
          lp.items.map { case (code, name) =>
            (code, name, page, page + 1, lp.availableCount, lp.returnedCount)
          }
        }
      }
      .toDF("code", "name", "page", "batch_number", "available_count", "returned_count")
  }
}
