package graft

import org.apache.spark.sql.functions._

/** Product quantization (l3l/l3m): the codebook recomputed from plain
  * Scala (same integer fixed-point Lloyd iterations), ADC sanity, and
  * partitioning invariance — the engine-determinism claims the DuckDB
  * hash compare asserts once, restated as first principles. */
class PqSpec extends SparkSpecBase {

  private val S = graft.llm.Similarity

  test("l3l: codebook equals the plain-Scala integer Lloyd reference") {
    val vecs = LloydRef.fixtureVecs(spark, sfDir)
    val want = LloydRef.fit(vecs, S.PQ_SUB, S.PQ_K, S.PQ_ITERS)
    val got = S.l3lPqTrain(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(3)).toMap
    assert(got === want)
    // the training moved the codebook off its init (k-means actually ran)
    val moved = want.count { case ((mm, c, d), v) =>
      v != vecs(c.toLong)(mm * S.PQ_SUB + d)
    }
    assert(moved > want.size / 2, s"only $moved centroids moved off init")
  }

  test("codebook memo replay is bit-equal to inline training (the l3m/l3n serve path)") {
    // the declared l3m/l3n and the IVF-PQ index read the memoized fit
    // (Clustering.ensureCodebook, variant "pq") instead of re-running
    // Lloyd per evaluation — the replay must be the SAME driver state the
    // training produces, and a second ensure must be a pure read, not a
    // retrain
    val inline = S.pqTrain(spark, sfDir).toSet
    val first = S.pqCodebook(spark, sfDir).toSet
    val again = S.pqCodebook(spark, sfDir).toSet
    assert(first === inline)
    assert(again === inline)
  }

  test("l3m: ADC ranks the query's own vector first; distances are sane") {
    import spark.implicits._
    val r = S.l3mPqTopk(spark, sfDir).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toSeq
    assert(r.size === 10)
    // the query's own quantization error is the smallest ADC distance on
    // this fixture (near-isotropic vectors, coarse 4-bit codes)
    assert(r.head._1 === S.PQ_QUERY_ID)
    assert(r.forall(_._2 >= 0L))
    assert(r.map(_._2) === r.map(_._2).sorted)
  }

  test("l3n: IVF-PQ equals the full ADC ranking restricted to the probed lists") {
    import spark.implicits._
    val got = S.l3nIvfPqTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got.size === 10)
    // exactly IVFPQ_PROBE distinct lists can appear in the result
    val lists = got.map(_._2).distinct
    assert(lists.size <= S.IVFPQ_PROBE && lists.nonEmpty)
    // the composite is the l3m ADC arithmetic restricted to member
    // vectors: every returned (vec_id, adc_dist) must agree with a full
    // ADC pass filtered to the probed lists and re-ranked
    val members = Tables.embeddings(spark, sfDir)
      .filter($"label".isin(lists: _*) && $"vec_id" =!= S.PQ_QUERY_ID)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(got.forall(r => members.contains(r._1)))
    val fullAdc = S.l3mPqTopk(spark, sfDir) // top-10 of the UNRESTRICTED scan
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // where the unrestricted top-10 and the probed set overlap, the
    // distances must be identical (same codes, same codebook, same query)
    got.foreach { case (id, _, dist) =>
      fullAdc.get(id).foreach(d => assert(d === dist, s"ADC mismatch for vec $id"))
    }
    assert(got.map(_._3) === got.map(_._3).sorted)
  }

  test("pq codebook and top-k are partitioning-invariant") {
    def table(): Seq[String] =
      S.l3lPqTrain(spark, sfDir).collect().map(_.toString).toSeq
    def topk(): Seq[String] =
      S.l3mPqTopk(spark, sfDir).collect().map(_.toString).toSeq
    val (a, b) = (table(), topk())
    val touched = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try {
      assert(a === table())
      assert(b === topk())
    } finally spark.conf.set("spark.sql.shuffle.partitions", touched)
  }
}
