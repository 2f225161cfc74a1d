package graft

import org.apache.spark.sql.functions._

/** MakeHeavy's per-replica embedding transform (rotation by k % 64 composed
  * with an xxhash64(k, d)-seeded diagonal ±1 flip) must be ORTHOGONAL —
  * that is the property the whole heavy-tier ANN argument rests on: every
  * replica preserves the base fixture's internal geometry (pairwise dot
  * products, norms), so per-replica ground truth and bucket statistics are
  * those of the base corpus, while cross-replica vectors decorrelate. The
  * spec applies the EXACT generator SQL (same expression text) for several
  * replica ids and checks pairwise dots against the base, plus replica
  * distinctness past the rotation period (k and k+64 differ thanks to the
  * sign flip). */
class HeavyGenSpec extends SparkSpecBase {

  // the generator's transform, verbatim (BenchHeavy.MakeHeavy embeddings)
  private def transformed(k: Int) =
    s"""transform(
       |  concat(slice(embedding, CAST($k % 64 AS INT) + 1, 64 - CAST($k % 64 AS INT)),
       |         slice(embedding, 1, CAST($k % 64 AS INT))),
       |  (x, d) -> IF((xxhash64($k, d) & 1) = 1, -x, x))""".stripMargin

  test("replica transform is orthogonal: pairwise dots match the base corpus") {
    import spark.implicits._
    graft.plans.Native.install(spark)
    val emb = Tables.embeddings(spark, sfDir).filter($"vec_id" < 40)
    def dots(col: String): Array[Double] = {
      val a = emb.select($"vec_id".as("ia"), expr(col).as("ea"))
      val b = emb.select($"vec_id".as("ib"), expr(col).as("eb"))
      a.crossJoin(b).filter($"ia" < $"ib").orderBy($"ia", $"ib")
        .select(expr("dot_f32(ea, eb)")).as[Double].collect()
    }
    val base = dots("embedding")
    for (k <- Seq(1, 17, 63, 250)) {
      val rep = dots(transformed(k))
      assert(rep.length === base.length)
      base.zip(rep).foreach { case (x, y) =>
        // rotation + sign flip reorder the fp summation: equal to ~1 ulp
        // accumulation noise, not bit-equal
        assert(math.abs(x - y) < 1e-5, s"k=$k dot $x vs $y")
      }
    }
  }

  test("replicas stay distinct past the 64-rotation period (sign flip)") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir).filter($"vec_id" < 10)
    val k0 = emb.select($"vec_id", expr(transformed(3)).as("e")).orderBy($"vec_id")
    val k64 = emb.select($"vec_id", expr(transformed(67)).as("e")).orderBy($"vec_id")
    // same rotation (3 = 67 mod 64) but different sign pattern
    val same = k0.collect().zip(k64.collect()).count { case (a, b) =>
      a.getSeq[Float](1) == b.getSeq[Float](1)
    }
    assert(same === 0, s"$same vectors identical across replicas 3 and 67")
  }
}
