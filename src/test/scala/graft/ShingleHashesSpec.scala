package graft

import org.apache.spark.sql.functions._

/** The native shingle-hash expression must be bit-equal to the SQL
  * composition it replaces: distinct `xxhash64`/`md5_prefix48` of the
  * space-joined word k-grams, first-occurrence order. Edge cases pin the
  * split-on-' ' semantics the byte scan re-implements (empty words from
  * doubled/leading/trailing spaces, fewer words than k, multi-byte
  * UTF-8), then the whole fixture corpus is swept for both algos. */
class ShingleHashesSpec extends SparkSpecBase {

  private def sqlForm(algo: String, k: Int) = {
    val h = if (algo == "xxh64") "xxhash64(s)" else "md5_prefix48(s)"
    s"transform(array_distinct(transform(sequence(1, size(split(text, ' ')) - ${k - 1}), " +
      s"i -> array_join(slice(split(text, ' '), i, $k), ' '))), s -> $h)"
  }

  private def check(texts: Seq[String], algo: String, k: Int = 5): Unit = {
    import spark.implicits._
    graft.plans.Native.install(spark)
    val df = texts.toDF("text")
      .withColumn("native", expr(s"shingle_hashes(text, $k, '$algo')"))
      .withColumn("sql",
        when(size(split($"text", " ")) >= k, expr(sqlForm(algo, k)))
          .otherwise(array().cast("array<bigint>")))
    val bad = df.filter(not($"native" <=> $"sql"))
    assert(bad.isEmpty, s"algo=$algo k=$k mismatches: ${bad.collect().mkString("; ")}")
  }

  private val edges = Seq(
    "a b c d e",              // exactly k words
    "a b c d",                // fewer than k -> empty
    "",                       // one empty word
    "a b c d e f g",          // sliding windows
    "x x x x x x x x",        // all-duplicate shingles -> one hash
    "a  b c d e f",           // doubled space: empty word is a word
    " a b c d e",             // leading space
    "a b c d e ",             // trailing space
    "héllo wörld ü ñ ß çat",  // multi-byte UTF-8 regions
    "a b a b a b a b a b")    // period-2 repetition

  test("native xxh64 shingles equal the SQL composition") {
    check(edges, "xxh64")
    check(edges, "xxh64", k = 2)
  }

  test("native md5p48 shingles equal the SQL composition") {
    check(edges, "md5p48")
    check(edges, "md5p48", k = 3)
  }

  test("non-foldable scalar args fail fast with a named AnalysisException") {
    import spark.implicits._
    graft.plans.Native.install(spark)
    val df = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(expr("minhash_sigs(text, 5, doc_id)")).collect()
    }
    assert(ex.getMessage.contains("minhash_sigs"))
    assert(ex.getMessage.contains("numHashes"))
    val ex2 = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(expr("shingle_hashes(text, doc_id, 'xxh64')")).collect()
    }
    assert(ex2.getMessage.contains("shingle_hashes"))
    assert(ex2.getMessage.contains("`k`"))
  }

  test("fixture corpus sweep: both algos, k=5") {
    import spark.implicits._
    val texts = Tables.documents(spark, sfDir).select($"text")
      .as[String].collect().toSeq
    check(texts, "xxh64")
    check(texts, "md5p48")
  }

  test("native minhash_sigs equals array_min over the LCG-transformed hash array") {
    import spark.implicits._
    graft.plans.Native.install(spark)
    val (k, h) = (5, 16)
    val P = graft.plans.MinHashSigs.P
    // the interpreted composition the native form replaced: md5p48 hash
    // array (distinct shingles) -> H array_min(transform(...)) folds
    val sqlSigs = (0 until h).map { j =>
      s"array_min(transform(shingle_hashes(text, $k, 'md5p48'), " +
        s"h -> ((h % $P) * ${graft.plans.MinHashSigs.lcgA(j)} + ${graft.plans.MinHashSigs.lcgB(j)}) % $P))"
    }.mkString("array(", ", ", ")")
    val df = Tables.documents(spark, sfDir)
      .filter(size(split($"text", " ")) >= k)
      .withColumn("native", expr(s"minhash_sigs(text, $k, $h)"))
      .withColumn("sql", expr(sqlSigs))
    assert(df.filter(not($"native" <=> $"sql")).isEmpty)
    // below k words -> empty array (the callers' filter contract)
    val empty = Seq("a b c").toDF("text")
      .select(expr(s"minhash_sigs(text, $k, $h)").as("sigs"))
      .head().getSeq[Long](0)
    assert(empty.isEmpty)
  }

  test("native rademacher_sigs equals the aggregate(zip_with) SQL fold") {
    import spark.implicits._
    graft.plans.Native.install(spark)
    val (seed, signBits, bands) = (7L, 8, 12)
    val proj = graft.llm.Similarity.rademacher(seed, bands * signBits, 64)
    // the interpreted composition the native expression replaced,
    // replayed per band from the same matrix
    def sqlBand(b: Int) = (1 to signBits).map { i =>
      val signs = proj(b * signBits + i - 1)
        .map(v => if (v > 0) "1D" else "-1D").mkString("array(", ", ", ")")
      s"(CASE WHEN aggregate(zip_with(embedding, $signs, " +
        s"(x, s) -> CAST(x AS DOUBLE) * s), CAST(0 AS DOUBLE), (acc, v) -> acc + v) > 0D " +
        s"THEN ${1L << (i - 1)}L ELSE 0L END)"
    }.mkString(" + ")
    val sqlArr = (0 until bands).map(sqlBand).mkString("array(", ", ", ")")
    val df = Tables.embeddings(spark, sfDir)
      .withColumn("native", expr(s"rademacher_sigs(embedding, ${seed}L, $signBits, $bands)"))
      .withColumn("sql", expr(sqlArr))
    assert(df.filter(not($"native" <=> $"sql")).isEmpty)
  }
}
