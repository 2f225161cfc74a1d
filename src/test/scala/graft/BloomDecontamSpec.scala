package graft

import org.apache.spark.sql.functions._

/** l27's claims, restated as first principles: (1) the Bloom prefilter
  * never changes the answer — the screen equals the exact l2f_gen form on
  * the fixture (false positives die in the exact-confirm join); (2) the
  * prefilter actually PRUNES — the probe side shrinks to matches plus a
  * small fp tail, which is the exchange the sketch exists to cut; (3) the
  * sketch is fixed-size — bits/8 bytes plus a small header, independent
  * of input cardinality. */
class BloomDecontamSpec extends SparkSpecBase {

  test("l27 equals the exact screen; the prefilter prunes; the sketch is fixed-size") {
    val sparkS = spark
    import sparkS.implicits._
    graft.plans.Native.install(spark)

    val exact = graft.llm.Dedup.l2fDecontamGen(spark, sfDir)
    val bloom = graft.llm.Dedup.l27BloomDecontam(spark, sfDir)
    assert(bloom.except(exact).count() === 0 && exact.except(bloom).count() === 0)
    assert(exact.count() > 0)

    // rebuild the pieces to measure the prune (the operator's plan hides
    // the intermediate count)
    val docs = Tables.documents(spark, sfDir)
    def exploded(d: org.apache.spark.sql.DataFrame) = d.select($"doc_id",
      explode(expr(s"shingle_hashes(text, 5, 'xxh64')")).as("sh"))
    val bench = exploded(docs.filter($"doc_id" < 50)).select($"sh").distinct()
    val sketch = bench.agg(expr(
      s"graft_bloom_agg(sh, ${graft.llm.Dedup.BLOOM_ITEMS}L, ${graft.llm.Dedup.BLOOM_BITS}L)")
      .as("bf")).head.getAs[Array[Byte]]("bf")
    // fixed size: bits/8 payload + a small serialization header
    assert(sketch.length >= graft.llm.Dedup.BLOOM_BITS / 8,
      s"sketch smaller than its bit array: ${sketch.length}")
    assert(sketch.length <= graft.llm.Dedup.BLOOM_BITS / 8 + 64,
      s"sketch not fixed-size: ${sketch.length}")

    val corpus = exploded(docs.filter($"doc_id" >= 50))
    val nCorpus = corpus.count()
    val survivors = corpus
      .filter(call_function("graft_might_contain", lit(sketch), $"sh")).count()
    val nMatches = corpus.join(bench, "sh").count()
    assert(survivors >= nMatches, "prefilter dropped a true match")
    // the prune: survivors = matches + fp tail; at ~2% fpp the tail is a
    // small fraction of non-matches (generous 20% bound rejects a sketch
    // that stopped filtering)
    assert(survivors - nMatches <= (nCorpus - nMatches) / 5,
      s"prefilter stopped pruning: $survivors of $nCorpus survive, $nMatches true")
  }
}
