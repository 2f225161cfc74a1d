package graft

import org.apache.spark.sql.functions._

/** The native winnowing fingerprints must equal the composed SQL form
  * (position-ordered md5p48 k-gram hashes -> array_min of each w-window ->
  * distinct) on the fixture corpus, honor the MOSS guarantee (a shared
  * word run of >= w+k-1 words yields a shared fingerprint), keep the
  * ~2/(w+1) density, and be null-safe. */
class WinnowHashesSpec extends SparkSpecBase {

  private val K = 5
  private val W = 8

  /** The composed (O(n·w), lambda-heavy) reference the native expression
    * replaces: hashes in position order, NO distinct before the windows. */
  private def composed(col: String): String = {
    val posHashes =
      s"transform(sequence(1, size(split($col, ' ')) - ${K - 1}), " +
        s"i -> CAST(conv(substr(md5(array_join(slice(split($col, ' '), i, $K), ' ')), 1, 12), 16, 10) AS BIGINT))"
    s"CASE WHEN size(split($col, ' ')) >= ${K + W - 1} THEN " +
      s"array_distinct(transform(sequence(1, size($posHashes) - ${W - 1}), " +
      s"i -> array_min(slice($posHashes, i, $W)))) " +
      s"ELSE CAST(array() AS ARRAY<BIGINT>) END"
  }

  test("winnow_hashes equals the composed window-min fold on the fixture") {
    import spark.implicits._
    graft.plans.Native.install(spark)
    val docs = Tables.documents(spark, sfDir)
    val cmp = docs.select(
      $"doc_id",
      expr(s"winnow_hashes(text, $K, $W)").as("native"),
      expr(composed("text")).as("ref"),
      expr(s"greatest(size(split(text, ' ')) - ${K + W - 2}, 0)").as("n_win"))
    // sets must be equal (selection order is an implementation detail)
    val bad = cmp.filter(expr(
      "size(array_except(native, ref)) <> 0 OR size(array_except(ref, native)) <> 0")).count()
    assert(bad === 0L)
    // density: never more fingerprints than windows, and usually ~2/(w+1)
    val stats = cmp.select(
      sum(expr("size(native)")).cast("double").as("n_fp"),
      sum($"n_win").cast("double").as("n_win"))
      .head
    val density = stats.getDouble(0) / stats.getDouble(1)
    assert(density > 0.05 && density < 0.6, s"winnow density out of family: $density")
  }

  test("MOSS guarantee: a shared run of w+k-1 words collides; null-safe; short docs empty") {
    import spark.implicits._
    graft.plans.Native.install(spark)
    // two documents sharing EXACTLY a (w+k-1)-word run, otherwise disjoint
    val run = (1 to (W + K - 1)).map(i => s"shared$i").mkString(" ")
    val a = (1 to 30).map(i => s"alpha$i").mkString(" ") + " " + run
    val b = run + " " + (1 to 30).map(i => s"beta$i").mkString(" ")
    val df = Seq((1L, a), (2L, b), (3L, null.asInstanceOf[String]),
      (4L, "too short")).toDF("doc_id", "text")
    val fps = df.select($"doc_id", expr(s"winnow_hashes(text, $K, $W)").as("fps"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1).toSet)).toMap
    assert(fps(3L) === null)
    assert(fps(4L) === Set.empty[Long])
    assert((fps(1L) & fps(2L)).nonEmpty,
      s"guarantee violated: no shared fingerprint for a ${W + K - 1}-word shared run")
  }

  test("l26 screen surfaces planted near-duplicates and respects the df cap") {
    import spark.implicits._
    graft.plans.Native.install(spark)
    val run = (1 to 40).map(i => s"common$i").mkString(" ")
    val boiler = (1 to 40).map(_ => "license boilerplate header text").mkString(" ")
    val docs = (1 to 30).map { i =>
      // every doc carries the boilerplate (df = 30 > cap); docs 1 and 2
      // also share the 40-word run (df = 2, surfaces)
      val body = if (i <= 2) run else (1 to 40).map(j => s"uniq${i}w$j").mkString(" ")
      (i.toLong, s"$boiler $body")
    }.toDF("doc_id", "text")
    docs.createOrReplaceTempView("winnow_planted")
    val fps = docs.select($"doc_id",
      explode(expr(s"winnow_hashes(text, $K, $W)")).as("fp"))
    val capped = fps
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"fp")))
      .filter($"df" <= graft.llm.Dedup.WINNOW_MAXDF)
    val pairs = capped.as("a")
      .join(capped.as("b"), $"a.fp" === $"b.fp" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id", $"b.doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "planted near-dup pair not surfaced")
    // the boilerplate (in all 30 docs) must NOT pair everyone with everyone
    assert(pairs.size < 30, s"df cap failed: ${pairs.size} pairs")
  }
}
