package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.{Stamp, Tables}

/** The co-located star layout as a FIRST-CLASS operator: orders and
  * lineitem maintained as catalog tables bucketed (and sorted) on the
  * order key, so every orders⋈lineitem query runs its fact join AND its
  * post-join aggregation with ZERO shuffle exchanges. This is the
  * declared form of what CROSSOVER.md measured from the bench tier:
  * the plain q2/q3 pay a growing fact-table exchange per query (12–25s
  * and unstable at sf50) while the bucketed layout amortizes ONE
  * layout-time shuffle across every subsequent join — at 100 TB the
  * standard posture for repeatedly-joined fact tables. Results are
  * layout-independent (the oracle SQL is exactly q2/q3's), so
  * correctness never depends on the bucketing — only cost does.
  *
  * Build/serve split follows the AnnIndex idiom: the layout is built
  * once per (scratch, fixture) into external bucketed tables, stamped
  * with the source files' fingerprint ([[graft.Stamp]]), and rebuilt
  * only when the source bytes change; a fresh JVM re-registers the existing files instead of
  * rewriting them (bucket metadata lives in the catalog DDL, the bytes
  * on disk). It is the engine's only writer of a bucketed layout: the
  * heavy- and star-tier tools lay their tiers out through [[ensure]]. */
object Bucketed {

  /** One bucket per local core; production sizes this to cluster
    * parallelism — bucketed scans parallelize at bucket granularity. */
  val BUCKETS = 32

  private def layoutRoot(spark: SparkSession): String =
    s"${Etl.scratch(spark)}/bucketed"

  /** Catalog-safe suffix per fixture dir, so sf0.001/sf0.01/sf0.1 tables
    * coexist in one session. */
  private def key(sfDir: String): String =
    sfDir.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+|_+$", "").toLowerCase

  /** Ensure one bucketed catalog table over `sfDir/<table>.parquet`
    * (`events` read through [[Tables.events]]'s timestamp normalization),
    * bucket+sort key `bucketKey`. Returns the catalog table name.
    *
    * The rows are repartitioned ON the bucket key before the write: one
    * writer task per bucket leaves exactly one file per bucket whatever
    * the source's file count, the layout a scan under
    * `spark.sql.legacy.bucketedTableScan.outputOrdering=true` trusts to
    * deliver the sort order, so the sort-merge join runs with neither an
    * exchange nor a per-task sort. */
  private[graft] def ensure(spark: SparkSession, sfDir: String, table: String,
      bucketKey: String): String = {
    val name = s"graft_${table}_b_${key(sfDir)}"
    val loc = s"${layoutRoot(spark)}/$name"
    val built = Stamp.ensure(loc, Stamp.of(s"$sfDir/$table.parquet"), Stamp.committed(loc)) {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      val rows =
        if (table == "events") Tables.events(spark, sfDir) else Tables.table(spark, sfDir, table)
      Tables.sink(loc) {
        rows.repartition(BUCKETS, col(bucketKey))
          .write.bucketBy(BUCKETS, bucketKey).sortBy(bucketKey)
          .option("path", loc).mode("overwrite").saveAsTable(name)
      }
    }
    if (!built && !spark.catalog.tableExists(name)) {
      // fresh bytes from an earlier JVM: re-register the DDL over them
      val ddl = spark.read.parquet(loc).schema.toDDL
      spark.sql(
        s"""CREATE TABLE $name ($ddl) USING PARQUET
           |CLUSTERED BY ($bucketKey) SORTED BY ($bucketKey) INTO $BUCKETS BUCKETS
           |LOCATION '$loc'""".stripMargin)
    }
    name
  }

  /** Ensure the bucketed fact pair; returns (orders, lineitem) frames.
    * The merge hint keeps AQE from broadcasting at toy scale — production
    * bucket use is exactly the case where both sides are too big for
    * that, and the hint is what lets the sf0.01 oracle run exercise the
    * same zero-exchange sort-merge plan the 100 TB deployment would. */
  def starFacts(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val orders = ensure(spark, sfDir, "orders", "o_orderkey")
    val lineitem = ensure(spark, sfDir, "lineitem", "l_orderkey")
    (spark.table(orders), spark.table(lineitem).hint("merge"))
  }

  /** Q2 [EXT variant] on the maintained bucketed layout — same result,
    * same oracle SQL as q2_shipping_priority; the fact join and its
    * aggregation run with zero exchanges (PlanAuditSpec pins it). */
  def q2Bucketed(spark: SparkSession, sfDir: String): DataFrame = {
    val (orders, lineitem) = starFacts(spark, sfDir)
    Analytics.q2From(spark, Tables.customer(spark, sfDir), orders, lineitem)
  }

  /** Q3 [EXT variant] on the maintained bucketed layout (see [[q2Bucketed]]). */
  def q3Bucketed(spark: SparkSession, sfDir: String): DataFrame = {
    val (orders, lineitem) = starFacts(spark, sfDir)
    Analytics.q3From(spark, Tables.region(spark, sfDir),
      Tables.nation(spark, sfDir), Tables.customer(spark, sfDir),
      orders, lineitem)
  }
}
