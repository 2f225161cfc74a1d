package graft

import org.apache.spark.sql.functions._

/** Bucketing: the co-located join story (SURVEY §2.3 scale notes). Two
  * tables bucketed on the join key join WITHOUT any shuffle exchange —
  * at 100 TB this is the difference between a network-bound and an
  * IO-bound join for repeatedly-joined fact tables. */
class BucketingSpec extends SparkSpecBase {

  test("bucketed tables join with zero shuffle exchanges") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // the in-memory catalog forgets tables between JVMs but their dirs
    // survive — clear the managed locations too
    for (t <- Seq("b_orders", "b_lineitem")) {
      val dir = new java.io.File(s"$scratchRoot/warehouse/$t")
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        rm(dir)
      }
    }
    Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_quantity")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")

    // merge hint: at toy scale AQE would broadcast; production bucket use
    // is exactly the case where both sides are too big for that
    val joined = spark.table("b_orders")
      .join(spark.table("b_lineitem").hint("merge"), $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderkey")
      .agg(count(lit(1)).as("n"), sum($"l_quantity").as("qty"))

    val plan = joined.queryExecution.executedPlan.toString
    // bucket layout feeds the join AND the post-join aggregation: the
    // whole plan runs with zero shuffle exchanges
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle at all:\n$plan")
    assert(plan.contains("Bucketed: true"), plan)

    // and it computes the same thing as the unbucketed join
    val plain = Tables.orders(spark, sfDir)
      .join(Tables.lineitem(spark, sfDir), $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderkey")
      .agg(count(lit(1)).as("n"), sum($"l_quantity").as("qty"))
    assert(joined.except(plain).count() === 0 && plain.except(joined).count() === 0)
  }
}
