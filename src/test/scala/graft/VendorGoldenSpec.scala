package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Golden ETL test over vendor-shaped fixtures (SURVEY.md §5.2 #6,
  * FIXTURES.md §B): the reference's own at-rest schema with its edge
  * cases — a 400-miss row, a >30-review vendor, percentages summing
  * to 100 — through typed JSON views, the top-K cap, and the
  * partitioned write. */
class VendorGoldenSpec extends SparkSpecBase {

  private val ratingsSchema = StructType(Seq(
    StructField("totalCount", IntegerType),
    StructField("createdAt", StringType),
    StructField("updatedAt", StringType),
    StructField("ratings", ArrayType(StructType(Seq(
      StructField("count", IntegerType),
      StructField("percentage", IntegerType),
      StructField("score", IntegerType)))))))

  private val reviewsSchema = ArrayType(StructType(Seq(
    StructField("reviewerId", StringType),
    StructField("text", StringType),
    StructField("rating", IntegerType),
    StructField("createdAt", StringType),
    StructField("dish", StringType))))

  private def reviewJson(n: Int): String =
    (1 to n).map(i =>
      s"""{"reviewerId":"r$i","text":"t$i","rating":${1 + i % 5},"createdAt":"2024-01-${f"${1 + i % 28}%02d"}T10:00:00Z","dish":"d$i"}""")
      .mkString("[", ",", "]")

  private def vendors = {
    import spark.implicits._
    val ratingsJson =
      """{"totalCount":100,"createdAt":"2024-01-01","updatedAt":"2024-02-01",
        |"ratings":[{"count":50,"percentage":50,"score":5},{"count":30,"percentage":30,"score":4},
        |{"count":20,"percentage":20,"score":3}]}""".stripMargin.replace("\n", "")
    val rows = (1 to 20).map { i =>
      val code = s"v$i"
      if (i == 7) // the 400-miss row (vendor.rs:82-115)
        (code, "Unknown", null: String, 1, null: String, null: String, 1704100000L + i, 1704100060L + i, if (i <= 10) "c1" else "c2")
      else if (i == 3) // >30 reviews — cap applies
        (code, s"Vendor $i", s"""{"name":"Vendor $i","cuisine":"thai"}""", 1 + i / 10,
          reviewJson(35), ratingsJson, 1704100000L + i, 1704100060L + i, if (i <= 10) "c1" else "c2")
      else
        (code, s"Vendor $i", s"""{"name":"Vendor $i","cuisine":"thai"}""", 1 + i / 10,
          reviewJson(i % 6), ratingsJson, 1704100000L + i, 1704100060L + i, if (i <= 10) "c1" else "c2")
    }
    rows.toDF("code", "name", "details", "batch_number", "reviews", "ratings",
      "extraction_started_at", "extraction_completed_at", "city_id")
  }

  test("typed views of JSON payload columns parse per FIXTURES.md §B") {
    import spark.implicits._
    val typed = vendors
      .withColumn("ratings_t", from_json($"ratings", ratingsSchema))
      .withColumn("reviews_t", from_json($"reviews", reviewsSchema))
      .withColumn("name_from_details",
        coalesce(get_json_object($"details", "$.name"), lit("Unknown")))
    // miss row: all payloads null, name defaulted
    val miss = typed.filter($"code" === "v7").head()
    assert(miss.getAs[Any]("ratings_t") == null && miss.getAs[Any]("reviews_t") == null)
    assert(miss.getAs[String]("name_from_details") === "Unknown")
    // ratings percentages sum to 100 on present rows
    val pctSums = typed.filter($"ratings_t".isNotNull)
      .select(expr("aggregate(ratings_t.ratings, 0, (acc, r) -> acc + r.percentage)").as("s"))
      .collect().map(_.getInt(0))
    assert(pctSums.nonEmpty && pctSums.forall(_ === 100))
    // name extraction matches the stored name column everywhere
    assert(typed.filter($"name_from_details" =!= $"name").count() === 0)
  }

  test("top-30 review cap (W1/O2 semantics, api.rs:188-193)") {
    import spark.implicits._
    val exploded = vendors
      .withColumn("reviews_t", from_json($"reviews", reviewsSchema))
      .select($"code", explode($"reviews_t").as("r"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"code").orderBy($"r.createdAt".desc, $"r.reviewerId")
    val capped = exploded.withColumn("rk", row_number().over(w)).filter($"rk" <= 30)
      .groupBy($"code").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(capped("v3") === 30)   // capped from 35
    assert(capped("v5") === 5)    // untouched below the cap
  }

  test("partitioned write keeps the 8-col payload under city_id=/year=/month=/day=") {
    import spark.implicits._
    val out = s"$scratchRoot/vendor_golden"
    val withKeys = vendors
      .withColumn("ts", timestamp_seconds($"extraction_started_at"))
      .withColumn("year", year($"ts")).withColumn("month", month($"ts"))
      .withColumn("day", dayofmonth($"ts")).drop("ts")
    withKeys.write.mode("overwrite")
      .partitionBy("city_id", "year", "month", "day").parquet(out)
    val back = spark.read.parquet(out)
    assert(back.count() === 20)
    assert(back.filter($"code" === "v7").head().getAs[String]("details") == null)
    val payload = Seq("code", "name", "details", "batch_number", "reviews",
      "ratings", "extraction_started_at", "extraction_completed_at")
    assert(payload.forall(back.columns.contains))
    // every row lands in exactly one city partition
    assert(back.groupBy($"city_id").count().count() === 2)
  }
}
