package graft

import org.apache.spark.sql.functions._

/** The native model-scoring kernel must equal the composed
  * `size(split(...))` + `aggregate(split(...), 0L, (acc, w) ->
  * acc + coalesce(try_element_at(m, w), oov))` form on every input shape
  * — vocab hits, OOV misses, empty tokens from consecutive/leading/
  * trailing spaces, the empty string — and be null-safe on each operand.
  * Also pins that l17/r11 actually route through the native kernel and
  * that it compiles under whole-stage codegen. */
class ModelScoreSpec extends SparkSpecBase {

  private val composedSum =
    "aggregate(split(t, ' '), 0L, (acc, w) -> acc + coalesce(try_element_at(m, w), oov))"
  private val composedN = "CAST(size(split(t, ' ')) AS BIGINT)"

  test("model_score equals the composed split+fold; null-safe; rejects wrong types") {
    import spark.implicits._
    graft.plans.Native.install(spark)
    val df = spark.range(500).toDF("i")
      // text mixing vocab hits, misses, and the separator edge cases
      .withColumn("t", concat(
        lit("alpha beta "), md5($"i".cast("string")), lit(" gamma x"),
        ($"i" % 5).cast("string")))
      .withColumn("t", when($"i" % 7 === 0, concat(lit("  dbl  space "), $"t", lit(" ")))
        .otherwise($"t"))
      .withColumn("t", when($"i" % 13 === 0, lit("")).otherwise($"t"))
      .withColumn("m", map(
        lit("alpha"), lit(-100L), lit("beta"), lit(-250L),
        lit("x0"), lit(-7L), lit("x3"), lit(-9L), lit(""), lit(-1L)))
      .withColumn("oov", lit(-100000L) - ($"i" % 3))
    assert(df.filter(expr(
      s"model_score(t, m, oov).sum_micronats <> ($composedSum)")).count() === 0L)
    assert(df.filter(expr(
      s"model_score(t, m, oov).n_tokens <> ($composedN)")).count() === 0L)

    // null propagation on each operand
    assert(spark.sql(
      "SELECT model_score(CAST(NULL AS STRING), map('a', 1L), 2L)").head.isNullAt(0))
    assert(spark.sql(
      "SELECT model_score('a', CAST(NULL AS MAP<STRING,BIGINT>), 2L)").head.isNullAt(0))
    assert(spark.sql(
      "SELECT model_score('a', map('a', 1L), CAST(NULL AS BIGINT))").head.isNullAt(0))
    // the empty string is ONE empty token (split semantics)
    val e = spark.sql(
      "SELECT model_score('', map('a', 1L), 7L) AS s").select("s.n_tokens", "s.sum_micronats").head
    assert(e.getLong(0) === 1L && e.getLong(1) === 7L)
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(expr("model_score(m, m, oov)")).collect()
    }
  }

  test("l17 routes through the native kernel and compiles under codegen") {
    val df = graft.llm.TextAnalysis.l17UnigramLogprob(spark, sfDir)
    assert(df.queryExecution.optimizedPlan.toString.contains("model_score"),
      "l17 no longer routes through the native ModelScore expression")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try assert(df.count() > 0)
    finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("word_count_agg equals explode+groupBy counts on the fixture corpus") {
    val sparkS = spark
    import sparkS.implicits._
    graft.plans.Native.install(spark)
    val docs = Tables.documents(spark, sfDir)
      // inject separator edge cases so empty tokens are covered
      .withColumn("text", when($"doc_id" % 17 === 0, concat(lit(" lead "), $"text", lit("  ")))
        .otherwise($"text"))
    val viaAgg = docs.agg(expr("word_count_agg(text)").as("m"))
      .select(explode($"m").as(Seq("w", "cnt")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaExplode = docs.select(explode(split($"text", " ")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaAgg === viaExplode)
    // null rows contribute nothing, matching explode's drop
    val withNull = docs.withColumn("text",
      when($"doc_id" === 0, lit(null)).otherwise($"text"))
    val a = withNull.agg(expr("word_count_agg(text)").as("m"))
      .select(explode($"m").as(Seq("w", "cnt")))
      .agg(sum($"cnt")).head.getLong(0)
    val b = withNull.select(explode(split($"text", " ")).as("w")).count()
    assert(a === b)
  }
}
