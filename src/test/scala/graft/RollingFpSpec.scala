package graft

import org.apache.spark.sql.functions._

/** The native one-pass rolling fingerprint must equal the composed
  * aggregate/transform/substr fold it replaces on ASCII (what the l4e
  * oracle corpus holds), equal the code-point fold on non-ASCII (the
  * DuckDB `unicode(text[i])` semantics), and be null-safe. The composed
  * form is O(n²) per document; the test also pins the codegen'd plan. */
class RollingFpSpec extends SparkSpecBase {

  private val composedAscii =
    "aggregate(transform(sequence(1, length(s)), i -> ascii(substr(s, i, 1))), " +
      "0L, (acc, x) -> (acc * 31 + x) % 1000000007)"

  test("rolling_fp equals the composed fold on ASCII; code points beyond; null-safe") {
    import spark.implicits._
    graft.plans.Native.install(spark)
    val df = spark.range(300).toDF("i")
      .withColumn("s", concat(lit("doc "), md5($"i".cast("string")),
        lit(" end"), $"i".cast("string")))
      .withColumn("s2", when($"i" % 7 === 0, lit(null)).otherwise($"s"))
    assert(df.filter(expr(s"rolling_fp(s) <> ($composedAscii)")).count() === 0L)

    // non-ASCII: fold the code points directly (DuckDB unicode() semantics)
    val cps = "pört_ü€".codePoints.toArray
    val expected = cps.foldLeft(0L)((acc, cp) => (acc * 31 + cp) % 1000000007L)
    val got = spark.sql("SELECT rolling_fp('pört_ü€') AS fp").head.getLong(0)
    assert(got === expected)

    // empty string folds to the seed; null in -> null out
    assert(spark.sql("SELECT rolling_fp('')").head.getLong(0) === 0L)
    assert(df.filter(expr("rolling_fp(s2) IS NULL")).count() ===
      df.filter($"s2".isNull).count())
    // type check rejects non-strings
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(expr("rolling_fp(i)")).collect()
    }
  }

  test("l4e runs the native fold and compiles under codegen (fallback off)") {
    val df = graft.llm.TextAnalysis.l4eFingerprint(spark, sfDir)
    assert(df.queryExecution.optimizedPlan.toString.contains("rolling_fp"),
      "l4e no longer routes through the native RollingFp expression")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try assert(df.count() > 0)
    finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }
}
