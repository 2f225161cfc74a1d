package graft

import org.apache.spark.sql.SparkSession

/** The plain-Scala integer Lloyd the PQ and clustering specs check the
  * engine's one fit (`Clustering.lloyd`) against: identical rules, no
  * Spark — init from the first `k` vectors by vec_id, exact BIGINT
  * squared distances with the lowest centroid id winning ties,
  * trunc(double(sum)/count) update per (m, c, d), an empty cluster keeps
  * its previous centroid. `sub` is the subspace width: PQ at sub < width,
  * k-means at sub = width. */
object LloydRef {

  type Codebook = Map[(Int, Int, Int), Long]

  /** Per subspace m, the (code, distance) argmin of `q` under `cent`. */
  def encode(q: Array[Long], cent: Codebook, sub: Int): Seq[(Int, Long)] = {
    val k = cent.keys.map(_._2).max + 1
    (0 until q.length / sub).map { m =>
      val (dist, c) = (0 until k).map { c =>
        val dist = (0 until sub).map { d =>
          val diff = q(m * sub + d) - cent((m, c, d)); diff * diff
        }.sum
        (dist, c)
      }.min
      (c, dist)
    }
  }

  def fit(vecs: Map[Long, Array[Long]], sub: Int, k: Int, iters: Int): Codebook = {
    var cent: Codebook = (for {
      (id, c) <- vecs.keys.toSeq.sorted.take(k).zipWithIndex
      (x, pos) <- vecs(id).zipWithIndex
    } yield (pos / sub, c, pos % sub) -> x).toMap
    for (_ <- 1 to iters) {
      val members = for {
        (id, q) <- vecs.toSeq
        ((c, _), m) <- encode(q, cent, sub).zipWithIndex
      } yield (m, c, id)
      val upd = members.groupBy { case (m, c, _) => (m, c) }.flatMap {
        case ((m, c), ms) => (0 until sub).map { d =>
          val vals = ms.map { case (_, _, id) => vecs(id)(m * sub + d) }
          (m, c, d) -> (vals.sum.toDouble / vals.size).toLong
        }
      }
      cent = cent.map { case (key, old) => key -> upd.getOrElse(key, old) }
    }
    cent
  }

  /** The fixture's vectors, micro-quantized as the engine does. */
  def fixtureVecs(spark: SparkSession, sfDir: String): Map[Long, Array[Long]] = {
    import spark.implicits._
    Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x =>
          (x.toDouble * graft.llm.Similarity.PQ_SCALE).toLong).toArray)
      .toMap
  }
}
