package graft

import org.apache.spark.sql.functions._

/** Every native expression must actually COMPILE under whole-stage codegen.
  * A generated-code compile error does not fail a query — Spark logs a
  * CompileException and silently re-runs the stage interpreted — so a
  * codegen bug is invisible to every correctness test and shows up only as
  * a perf cliff. (Round 6 found exactly this: the companion-object `eval`
  * helpers had no static forwarders — the case class inherits
  * `eval(InternalRow)` from Expression, which suppresses same-name
  * forwarders — so `graft.plans.X.eval(...)` in generated Java resolved to
  * the instance method and failed to compile; every native-expression
  * stage had been falling back. The helpers are now `evalHashes` /
  * `evalMd5p48` / `evalSigs`.) With `spark.sql.codegen.fallback=false`
  * the compile error propagates and THIS suite catches the next one. */
class CodegenSpec extends SparkSpecBase {

  private def withNoFallback(body: => Unit): Unit = {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try body finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("all native expressions compile in whole-stage codegen (fallback off)") {
    import spark.implicits._
    graft.plans.Native.install(spark)
    val docs = Seq((1L, "a b c d e f g"), (2L, "h i j k l m n"))
      .toDF("doc_id", "text")
    val vecs = Seq((1L, Array(0.1f, -0.2f, 0.3f, 0.4f)),
      (2L, Array(-0.5f, 0.6f, -0.7f, 0.8f))).toDF("vec_id", "embedding")
    withNoFallback {
      assert(docs.select(expr("md5_prefix48(text)")).collect().length === 2)
      assert(docs.select(expr("rolling_fp(text)")).collect().length === 2)
      assert(docs.select(expr("winnow_hashes(text, 2, 3)")).collect().length === 2)
      assert(docs.select(expr("shingle_hashes(text, 5, 'xxh64')")).collect().length === 2)
      assert(docs.select(expr("shingle_hashes(text, 5, 'md5p48')")).collect().length === 2)
      assert(docs.select(expr("minhash_sigs(text, 5, 4)")).collect().length === 2)
      assert(docs.select(expr("simhash_sig(text, 16)")).collect().length === 2)
      assert(vecs.as("a").crossJoin(vecs.as("b"))
        .select(expr("dot_i64(transform(a.embedding, x -> CAST(x * 10 AS BIGINT)), " +
          "transform(b.embedding, x -> CAST(x * 10 AS BIGINT)))"))
        .collect().length === 4)
      assert(vecs.select(expr("rademacher_sigs(embedding, 7L, 8, 4)")).collect().length === 2)
      assert(vecs.as("a").crossJoin(vecs.as("b"))
        .select(expr("dot_f32(a.embedding, b.embedding)")).collect().length === 4)
      assert(docs.select(expr(
        "model_score(text, map('a', -5L, 'h', -7L), -100L)")).collect().length === 2)
      assert(vecs.select(expr(
        "pq_encode(transform(embedding, x -> CAST(x * 1000000 AS BIGINT)), " +
          "array(array(array(0L, 0L), array(100000L, -200000L)), " +
          "      array(array(300000L, 400000L), array(-700000L, 800000L))))"))
        .collect().length === 2)
    }
  }
}
