package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{BenchUtil, Tables}

/** Iteration probe for the round-13 decimal-aggregation work: times the
  * shipped q1/q2 forms against integer-unit rewrites (money carried as
  * long cents / 4dp-scaled longs, the l33 DECIMAL-vs-BIGINT lesson run
  * the other way) to isolate how much of the q1 3.8x / q2_bucketed 2.4x
  * sf25 ratios is the BigDecimal-backed sum buffer. Not part of any
  * query registry — a measurement harness only. */
object DecProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/target/bench_heavy/sf25")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = MakeHeavy.session(Some(s"$dir/warehouse"))
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    val haveBuckets = MakeHeavy.registerBucketed(spark, dir,
      Seq(("hv_orders_b", "o_orderkey"), ("hv_lineitem_b", "l_orderkey")))
    val _ = cpus
    import spark.implicits._
    import graft.Exact.money

    def cents(c: org.apache.spark.sql.Column) =
      (money(c) * 100).cast("long")

    def centsFast(c: org.apache.spark.sql.Column) =
      round(c * 100).cast("long")

    val variants: Seq[(String, () => DataFrame)] = Seq(
      "q1_shipped" -> (() => graft.operators.Relational.q1PricingSummary(spark, dir)),
      "q1_centsfast" -> (() => {
        graft.plans.Native.install(spark)
        Tables.lineitem(spark, dir)
          .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
          .select($"l_returnflag", $"l_linestatus", $"l_quantity",
            centsFast($"l_extendedprice").as("pc"),
            (lit(100L) - centsFast($"l_discount")).as("dk"))
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            sum($"l_quantity").cast("double").as("sum_qty"),
            expr("CAST(sum128(pc, 2) AS DOUBLE)").as("sum_base_price"),
            expr("CAST(sum128(pc * dk, 4) AS DOUBLE)").as("sum_disc_price"),
            (sum($"l_quantity") / count(lit(1))).as("avg_qty"),
            (expr("CAST(sum128(pc, 2) AS DOUBLE)") / count(lit(1))).as("avg_price"),
            count(lit(1)).as("count_order"))
          .orderBy($"l_returnflag", $"l_linestatus")
      }),
      "q1_decimal" -> (() => {
        Tables.lineitem(spark, dir)
          .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            sum($"l_quantity").cast("double").as("sum_qty"),
            sum(money($"l_extendedprice")).cast("double").as("sum_base_price"),
            sum(money($"l_extendedprice") * (graft.Exact.one - money($"l_discount")))
              .cast("double").as("sum_disc_price"),
            (sum($"l_quantity") / count(lit(1))).as("avg_qty"),
            (sum(money($"l_extendedprice")).cast("double") / count(lit(1))).as("avg_price"),
            count(lit(1)).as("count_order"))
          .orderBy($"l_returnflag", $"l_linestatus")
      }),
      "q1_long" -> (() => {
        Tables.lineitem(spark, dir)
          .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
          .select($"l_returnflag", $"l_linestatus", $"l_quantity",
            cents($"l_extendedprice").as("pc"),
            (lit(100L) - cents($"l_discount")).as("dk"))
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            sum($"l_quantity").cast("double").as("sum_qty"),
            (sum($"pc").cast("double") / 1e2).as("sum_base_price"),
            (sum($"pc" * $"dk").cast("double") / 1e4).as("sum_disc_price"),
            (sum($"l_quantity") / count(lit(1))).as("avg_qty"),
            ((sum($"pc").cast("double") / 1e2) / count(lit(1))).as("avg_price"),
            count(lit(1)).as("count_order"))
          .orderBy($"l_returnflag", $"l_linestatus")
      }),
      "q1_long_salted" -> (() => {
        Tables.lineitem(spark, dir)
          .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
          .select($"l_returnflag", $"l_linestatus", $"l_quantity",
            pmod($"l_orderkey", lit(65536)).as("salt"),
            cents($"l_extendedprice").as("pc"),
            (lit(100L) - cents($"l_discount")).as("dk"))
          .groupBy($"l_returnflag", $"l_linestatus", $"salt")
          .agg(sum($"l_quantity").as("q"), sum($"pc").as("p"),
            sum($"pc" * $"dk").as("pd"), count(lit(1)).as("n"))
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            sum($"q").cast("double").as("sum_qty"),
            (sum($"p".cast("decimal(38,0)")).cast("double") / 1e2).as("sum_base_price"),
            (sum($"pd".cast("decimal(38,0)")).cast("double") / 1e4).as("sum_disc_price"),
            (sum($"q") / sum($"n")).as("avg_qty"),
            ((sum($"p".cast("decimal(38,0)")).cast("double") / 1e2) / sum($"n")).as("avg_price"),
            sum($"n").as("count_order"))
          .orderBy($"l_returnflag", $"l_linestatus")
      }),
      // q3 projection placement: the shipped form computes rev4 (2 rounds
      // + a multiply) on ALL lineitem rows below the join; this variant
      // carries the two raw doubles through the join and computes rev4
      // only on the ~1/7 of rows whose order survives the date filter —
      // trading 2x join-payload width for 7x less arithmetic
      "q3b_shipped" -> (() => {
        require(haveBuckets, "bucketed tables missing — run MakeStar/MakeHeavy first")
        graft.operators.Analytics.q3From(spark, Tables.region(spark, dir),
          Tables.nation(spark, dir), Tables.customer(spark, dir),
          spark.table("hv_orders_b"), spark.table("hv_lineitem_b").hint("merge"))
      }),
      "q3b_postproj" -> (() => {
        graft.plans.Native.install(spark)
        val region = Tables.region(spark, dir).filter($"r_name" === "ASIA")
        val nation = Tables.nation(spark, dir)
          .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
          .select($"n_nationkey", $"n_name")
        val cust = Tables.customer(spark, dir)
          .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
          .select($"c_custkey", $"n_name")
        val orders = spark.table("hv_orders_b")
          .filter($"o_orderdate" >= lit("1997-01-01").cast("timestamp")
            && $"o_orderdate" < lit("1998-01-01").cast("timestamp"))
          .select($"o_orderkey", $"o_custkey")
        val items = spark.table("hv_lineitem_b").hint("merge")
          .select($"l_orderkey", $"l_extendedprice", $"l_discount")
        orders
          .join(broadcast(cust), $"o_custkey" === $"c_custkey")
          .join(items, $"o_orderkey" === $"l_orderkey")
          .select($"n_name",
            (graft.Exact.cents($"l_extendedprice") *
              (lit(100L) - graft.Exact.cents($"l_discount"))).as("rev4"))
          .groupBy($"n_name")
          .agg(expr("CAST(sum128(rev4, 4) AS DOUBLE)").as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy($"revenue".desc, $"n_name")
      }),
      "q2_decimal" -> (() => graft.operators.Analytics.q2ShippingPriority(spark, dir)),
      "q2_long" -> (() => {
        val cut = lit("1998-07-01").cast("timestamp")
        val cust = Tables.customer(spark, dir)
          .filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
        val orders = Tables.orders(spark, dir)
          .filter($"o_orderdate" < cut)
          .select($"o_orderkey", $"o_custkey", $"o_orderdate")
        val items = Tables.lineitem(spark, dir)
          .filter($"l_shipdate" > cut)
          .select($"l_orderkey",
            (cents($"l_extendedprice") * (lit(100L) - cents($"l_discount"))).as("rev4"))
        orders
          .join(broadcast(cust), $"o_custkey" === $"c_custkey")
          .join(items, $"o_orderkey" === $"l_orderkey")
          .groupBy($"o_orderkey")
          .agg(min(unix_timestamp($"o_orderdate")).as("orderdate_s"),
            (sum($"rev4").cast("double") / 1e4).as("revenue"))
          .select($"o_orderkey", $"orderdate_s", $"revenue")
          .orderBy($"revenue".desc, $"o_orderkey")
          .limit(10)
      }))

    variants.foreach { case (name, thunk) =>
      BenchUtil.force(thunk()) // warmup
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        BenchUtil.force(thunk())
        (System.nanoTime() - t0) / 1e9
      }
      println(f"DECPROBE $name%-16s median=${BenchUtil.median(ts.toVector)}%.3f runs=${ts.map(t => f"$t%.3f").mkString(",")}")
    }
    // value parity across the variants (exactness argument spot-check):
    // every q1_* variant must emit identical rows; q2 pair likewise
    val rows = variants.map { case (n, t) => n -> t().collect().map(_.toString).toSeq }
    val q1s = rows.filter(_._1.startsWith("q1"))
    val q3s = rows.filter(_._1.startsWith("q3b"))
    if (q3s.size > 1)
      println("DECPROBE q3b parity: " + q3s.tail.forall(_._2 == q3s.head._2))
    q1s.tail.foreach { case (n, r) =>
      println(s"DECPROBE q1 parity ${q1s.head._1} == $n: " + (r == q1s.head._2))
      if (r != q1s.head._2)
        println(q1s.head._2.mkString("\n") + "\nVS\n" + r.mkString("\n"))
    }
    val q2s = rows.filter(_._1.startsWith("q2"))
    if (q2s.size > 1)
      println("DECPROBE q2 parity: " + q2s.tail.forall(_._2 == q2s.head._2))
    spark.stop()
  }
}
