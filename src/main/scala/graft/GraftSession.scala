package graft

import org.apache.spark.sql.SparkSession

/** Production session factory: the configuration this library is designed
  * to run under on a real cluster. The driver harnesses (Verify/Bench)
  * build their own minimal sessions; this is the deployment surface for
  * library users, and the single place the 100 TB tuning knobs live.
  */
object GraftSession {

  /** The tuning knobs, as data so tests can validate every key/value
    * against a live session (a typo'd conf key would otherwise be
    * silently ignored at builder time). Rationale (README / SURVEY §4):
    *  - AQE on (with skew-join handling): runtime re-plan picks broadcast
    *    joins from real sizes and splits skewed shuffle partitions —
    *    together with the salting pattern (operators.Analytics.a7SaltedAgg)
    *    this covers both planned and emergent skew;
    *  - shuffle partitions sized ~2-3x total executor cores, then left to
    *    AQE coalescing — at 1000 executors x 4 cores set ~8192, never the
    *    default 200;
    *  - 128 MB scan splits keep scan tasks IO-bound, not scheduler-bound;
    *  - UTC session time: all graft semantics are timezone-pinned
    *    (SURVEY §4.3 determinism).
    */
  def tunedConf(shufflePartitions: Int): Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // runtime bloom filter: a selective dimension predicate becomes a
    // pre-shuffle fact-side filter on fact-fact joins (PlanAuditSpec
    // proves the injection). Already the default since Spark 3.4 — the
    // pin documents and locks the dependency rather than enabling it;
    // the size gates (creation side <= 10 MB, application scan >= 10 GB)
    // only ever fire at scale, so locking it on costs nothing locally
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    // AQE SMJ->SHJ conversion: when every post-shuffle partition of the
    // build side measures <= this, hash-join instead of sorting both
    // sides. The r14 plain-star measurement: q2/q3's big-big fact joins
    // dropped 1.2x/1.5x and their 1-2.4 GB sort spills went to ZERO the
    // moment the sort disappeared. Size-gated per partition on MEASURED
    // (compressed) map sizes, so it scales: decompressed build ~3x the
    // gate -> worst case ~768 MB per running task, sized for >=8 GB
    // executors; AQE skew-split runs first, so a skewed partition either
    // splits under the gate or blocks the conversion entirely.
    // SIZING RULE (the ~3x decompression factor is data-dependent —
    // highly compressible columns expand 10x+ — and SHJ build maps do
    // NOT spill): budget PER EXECUTOR is cores x (threshold x expansion);
    // at 8 cores/8 GB the 256m default already sums past the heap in the
    // worst case, so memory-tight deployments must lower it ("64m", or
    // "0" to disable the conversion) through the Spark key itself: a later
    // `.config` on the builder, or `spark.conf.set` on a live session,
    // since the key is runtime-settable.
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "256m",
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.files.maxPartitionBytes" -> (128L * 1024 * 1024).toString,
    "spark.sql.session.timeZone" -> "UTC",
    // the events fixture stores TIMESTAMP(NANOS), which Spark's micros
    // TimestampType rejects; read nanos as raw longs (Tables.events then
    // floor-divides to micros). Session-level so no loader mutates conf.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // naive parquet timestamps (isAdjustedToUTC=false — what pandas/pyarrow
    // write by default) must read as session-UTC TimestampType, not
    // TIMESTAMP_NTZ: graft's timestamp semantics are timezone-pinned and
    // must not fork on a reader inference accident (Tables.events has a
    // belt-and-braces NTZ cast for sessions missing this pin).
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
  )

  /** Static conf that must be present at session build time: the
    * extension installs every `graft.plans.Native` function. */
  val extensionsConf: (String, String) =
    "spark.sql.extensions" -> classOf[graft.plans.GraftExtensions].getName

  /** S8: object-store sink configuration (reference src/storage/minio.rs:
    * 139-242 — single PUT below 8 MB, multipart above, hand-completed).
    * On Spark this is a committer/filesystem concern, not an operator:
    * the S3A magic committer streams task output straight into in-flight
    * multipart uploads and completes them at job commit — atomic,
    * rename-free, no temporary copy. Every key here is `fs.s3a.*`-scoped
    * Hadoop conf: inert until an `s3a://` URI is written, so `tuned()`
    * sets them unconditionally. The non-s3a-scoped v2 commit fallback
    * deliberately lives in [[v2CommitFallbackConf]], NOT here. */
  def objectStoreConf: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.s3a.committer.name" -> "magic",
    "spark.hadoop.fs.s3a.committer.magic.enabled" -> "true",
    "spark.hadoop.mapreduce.outputcommitter.factory.scheme.s3a" ->
      "org.apache.hadoop.fs.s3a.commit.S3ACommitterFactory",
    // the reference's 8 MB part floor (minio.rs:152) is too chatty at
    // scale: 64 MB parts cut request count 8x per written GB and still
    // allow ~640 GB single files under the 10k-part cap
    "spark.hadoop.fs.s3a.multipart.size" -> "64M",
    "spark.hadoop.fs.s3a.multipart.threshold" -> "128M",
    "spark.hadoop.fs.s3a.fast.upload" -> "true",
  )

  /** Opt-in commit fallback for object stores WITHOUT the magic committer:
    * the v2 FileOutputCommitter algorithm promotes task output at task
    * commit instead of an O(files) serial rename at job commit. It is NOT
    * filesystem-scoped and it is NOT job-commit-atomic — under task-attempt
    * failure or speculative execution it can leave duplicate/partial
    * output (MAPREDUCE-7282) — so `tuned()` keeps Hadoop's safe v1 default
    * and deployments targeting rename-expensive stores apply this
    * explicitly (as S8SinkSpec does). */
  def v2CommitFallbackConf: Seq[(String, String)] = Seq(
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2",
  )

  /** STATIC confs — must be set at session BUILD time (conf.set on a
    * live session refuses them), which is why they live apart from
    * [[tunedConf]] (whose keys the spec proves runtime-settable):
    *  - codegen class cache: defaults to 100 entries; a pipeline
    *    deployment running hundreds of distinct plans per session
    *    evicts compiled classes before reuse and silently re-pays
    *    janino compilation per query (measured 30-100% on the bench
    *    suite's in-sweep rows vs isolated JVMs before graft.Bench
    *    sized it). Size to the workload's distinct-plan count. */
  def staticConf: Seq[(String, String)] = Seq(
    "spark.sql.codegen.cache.maxEntries" -> "4000")

  /** Apply graft's recommended SQL + committer conf to any builder. */
  def tuned(builder: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder = {
    val withRuntime = (tunedConf(shufflePartitions) ++ objectStoreConf ++ staticConf)
      .foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
    withRuntime.config(extensionsConf._1, extensionsConf._2)
  }

  /** Local session (local[n], n shuffle partitions): the one session
    * graftbench and every `graft.tools` main build. */
  def local(cores: Int): SparkSession = {
    val s = tuned(SparkSession.builder().master(s"local[$cores]"), cores)
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
