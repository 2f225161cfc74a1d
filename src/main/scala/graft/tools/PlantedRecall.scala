package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Recall in the regime the near-dup argument actually lives in.
  *
  * AnnRecall's exact-top-k ground truth honestly shows hyperplane LSH near
  * its random floor on the near-isotropic fixture (true neighbors sit at
  * cos ~0.3-0.5) and ARGUES that a real near-dup corpus (cos >= 0.9)
  * recovers most pairs in a few bands. This tool makes that claim a
  * measurement: PLANT near-duplicates at exactly known cosines and measure
  * each index's candidate condition on the planted pairs.
  *
  * Construction (deterministic, no RNG state): for each sampled base
  * vector v and target cosine c, emit v' = |v|·(c·v̂ + sqrt(1-c²)·û)
  * where û is a unit vector orthogonal to v derived from a seeded
  * xxhash64 direction (Gram-Schmidt against v̂). cos(v, v') = c exactly
  * (float storage rounds it by ~1e-7 — the artifact records the measured
  * mean). The planted copy is what a crawler re-ingest looks like: the
  * same content, slightly perturbed.
  *
  * Judgment is pairwise and index-only, exactly AnnRecall's conditions:
  * seeded Rademacher bands (8-bit + sized width), axis bands, IVF (base
  * label's rank among the planted vector's nearest centroids — "does
  * probing from the re-ingested near-dup reach the original's list").
  * Nothing needs to join the planted rows into the corpus: signatures are
  * per-vector functions and centroids come from the base corpus.
  *
  * Output: tools/planted_recall.json, rendered by tools/bench_compare.py
  * (--planted=) as the second recall section of BENCHNOTES_HEAVY.md.
  */
object PlantedRecall {

  private val SEED = graft.llm.Similarity.L3G_SEED
  private val MAX_BANDS = 16
  private val TARGET_COS = Seq(0.99, 0.95, 0.90)
  private val BASES_PER_REPLICA = 20

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/target/bench_heavy/sf5")
    val out = if (args.length > 1) args(1) else "tools/planted_recall.json"
    val spark = MakeHeavy.session()
    graft.plans.Native.install(spark)
    import spark.implicits._

    val emb = graft.Tables.embeddings(spark, dir).cache()
    val n = emb.count()
    val dim = emb.select(size($"embedding")).first().getInt(0)
    val sizedBits =
      math.max(8, math.ceil(math.log(n / 32.0) / math.log(2.0)).toInt)

    val bases = emb.filter($"vec_id" % MakeHeavy.SHIFT_VEC < BASES_PER_REPLICA)
    val cosines = TARGET_COS.zipWithIndex
      .map { case (c, i) => (i, c, math.sqrt(1 - c * c)) }
      .toDF("ci", "cos_t", "sin_t")

    // generator-side math: interpreted lambdas are fine here (one-time,
    // |bases|·|cosines| rows); measurement joins stay lambda-free
    val planted = bases.crossJoin(broadcast(cosines))
      .withColumn("vnorm", sqrt(expr("dot_f32(embedding, embedding)")))
      .filter($"vnorm" > 0)
      .withColumn("vhat",
        expr("transform(embedding, x -> CAST(x AS DOUBLE) / vnorm)"))
      // seeded direction in [-1,1]^dim, then Gram-Schmidt against vhat
      .withColumn("g", expr(
        "transform(sequence(0, size(embedding) - 1), " +
          "d -> CAST(xxhash64(vec_id, ci, d) % 1001 AS DOUBLE) / 1000.0)"))
      .withColumn("proj", expr(
        "aggregate(zip_with(vhat, g, (a, b) -> a * b), CAST(0 AS DOUBLE), (acc, x) -> acc + x)"))
      .withColumn("u0", expr("zip_with(g, vhat, (gd, vd) -> gd - proj * vd)"))
      .withColumn("u0n", sqrt(expr(
        "aggregate(zip_with(u0, u0, (a, b) -> a * b), CAST(0 AS DOUBLE), (acc, x) -> acc + x)")))
      .filter($"u0n" > 1e-9)
      .withColumn("planted_emb", expr(
        "transform(sequence(0, size(embedding) - 1), " +
          "d -> CAST(vnorm * (cos_t * vhat[d] + sin_t * u0[d] / u0n) AS FLOAT))"))
      .select($"vec_id".as("base_id"), $"label".as("base_label"),
        $"embedding".as("base_emb"), $"ci", $"cos_t",
        $"planted_emb")
      .cache()

    // measured cosine after float rounding — the honesty check on the
    // construction itself
    val measured = planted
      .withColumn("mcos",
        expr("dot_f32(base_emb, planted_emb)") /
          (sqrt(expr("dot_f32(base_emb, base_emb)")) *
            sqrt(expr("dot_f32(planted_emb, planted_emb)"))))
      .groupBy($"cos_t").agg(avg($"mcos").as("mean_cos"), count(lit(1)).as("pairs"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
      .sortBy(-_._1)

    def sigCols(embCol: String, prefix: String) = Seq(
      expr(s"rademacher_sigs($embCol, ${SEED}L, 8, $MAX_BANDS)").as(s"${prefix}_r8"),
      expr(s"rademacher_sigs($embCol, ${SEED}L, $sizedBits, $MAX_BANDS)").as(s"${prefix}_rs"))
    def axisSig(embCol: String, b: Int) = (1 to 8)
      .map { i =>
        val d = b * 8 + i - 1
        when(expr(s"$embCol[$d]") > 0f, lit(1L << (i - 1))).otherwise(lit(0L))
      }.reduce(_ + _)
    val maxAxisBands = dim / 8

    val judged = planted.select(
      (Seq($"base_id", $"cos_t", $"base_label") ++
        sigCols("base_emb", "a") ++ sigCols("planted_emb", "b") :+
        array((0 until maxAxisBands).map(axisSig("base_emb", _)): _*).as("a_ax") :+
        array((0 until maxAxisBands).map(axisSig("planted_emb", _)): _*).as("b_ax") :+
        $"planted_emb"): _*)
      .cache()

    // IVF: centroids from the BASE corpus; recovered at nProbe iff the
    // base's label ranks <= nProbe among the planted vector's centroids
    val comps = emb
      .select($"label", posexplode($"embedding").as(Seq("pos", "v")))
      .groupBy($"label", $"pos")
      .agg((sum($"v".cast("decimal(20,10)")).cast("double") / count(lit(1))).as("c"))
    val centroids = comps.groupBy($"label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)")
        .as("centroid"))
    val pVecs = judged.select($"base_id", $"cos_t", $"base_label", $"planted_emb")
    // centroid cast to float once (tiny frame) so the |labels| x |pairs|
    // ranking join runs the native codegen'd dot, not an interpreted fold
    // (fp-noise in csim can only flip exact centroid ties — irrelevant to
    // a recall measurement)
    val ranked = centroids
      .withColumn("centroid_f", expr("transform(centroid, x -> CAST(x AS FLOAT))"))
      .crossJoin(broadcast(pVecs))
      .withColumn("cdot", expr("CAST(dot_f32(centroid_f, planted_emb) AS DOUBLE)"))
      .withColumn("cnorm", sqrt(expr("CAST(dot_f32(centroid_f, centroid_f) AS DOUBLE)")))
      .withColumn("csim", $"cdot" / $"cnorm") // planted norm constant per row: rank-invariant
      .withColumn("crk", row_number().over(
        Window.partitionBy($"base_id", $"cos_t").orderBy($"csim".desc, $"label")))
      .filter($"label" === $"base_label")
      .select($"base_id", $"cos_t", $"crk")
    val baseRank = ranked.collect()
      .map(r => (r.getLong(0), r.getDouble(1)) -> r.getInt(2)).toMap

    // PQ: the re-ingest dedup question stated in codes — rank every BASE
    // vector by the planted near-dup's asymmetric distance (per-query
    // sub-distance LUT over the corpus-trained codebook, the l3m shape);
    // recovered at shortlist R iff the original ranks <= R. Subsampled to
    // 2 bases/replica: the array-form crossJoin is |queries| x n rows.
    val K_PQ = graft.llm.Similarity.PQ_K
    val SUB = graft.llm.Similarity.PQ_SUB
    val SC = graft.llm.Similarity.PQ_SCALE
    val pqCent = graft.llm.Similarity.pqTrain(spark, dir)
    val vecCodes = graft.llm.Similarity
      .pqAssign(graft.llm.Similarity.pqDims(spark, dir), pqCent)
      .groupBy($"vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(m, c))), s -> s.c)").as("cs"))
    val qLut = planted.filter($"base_id" % MakeHeavy.SHIFT_VEC < 2)
      .select($"base_id", $"ci", $"cos_t", posexplode($"planted_emb"))
      .toDF("base_id", "ci", "cos_t", "pos", "x")
      .select($"base_id", $"ci", $"cos_t",
        expr(s"CAST(pos div $SUB AS INT)").as("m"),
        expr(s"CAST(pos % $SUB AS INT)").as("d"),
        expr(s"CAST(CAST(x AS DOUBLE) * $SC AS BIGINT)").as("qv"))
      .join(broadcast(pqCent.toDF("m", "c", "d", "cent")), Seq("m", "d"))
      .groupBy($"base_id", $"ci", $"cos_t", $"m", $"c")
      .agg(sum(($"qv" - $"cent") * ($"qv" - $"cent")).as("subdist"))
      .groupBy($"base_id", $"ci", $"cos_t")
      .agg(expr("transform(array_sort(collect_list(struct(m, c, subdist))), s -> s.subdist)")
        .as("lt")) // flat (m, c)-ordered LUT: index = m * K + c
    val pqRankRows = vecCodes.crossJoin(broadcast(qLut))
      .withColumn("adc", expr(
        s"aggregate(transform(sequence(0, ${dim / SUB - 1}), " +
          s"m -> lt[m * $K_PQ + CAST(cs[m] AS INT)]), 0L, (acc, x) -> acc + x)"))
      .withColumn("prk", row_number().over(
        Window.partitionBy($"base_id", $"ci").orderBy($"adc".asc, $"vec_id")))
      .filter($"vec_id" === $"base_id")
      .select($"base_id", $"cos_t", $"prk")
      .collect()
    val pqSteps = Seq(1, 10, 100)

    val rows = judged.drop("planted_emb").collect()
    val bandSteps = Seq(1, 2, 4, 8, 12, 16)
    val probeSteps = Seq(1, 2, 4)

    def recallAt(sub: Seq[org.apache.spark.sql.Row], ai: Int, bi: Int, bands: Int) = {
      val hit = sub.count { r =>
        val (a, b) = (r.getSeq[Long](ai), r.getSeq[Long](bi))
        (0 until bands).exists(i => a(i) == b(i))
      }
      hit.toDouble / sub.length
    }
    def tbl(rowsB: Seq[(Int, Double)]): String =
      rowsB.map { case (b, r) => s"""{"k":$b,"recall":${f"$r%.4f"}}""" }
        .mkString("[", ",", "]")

    val perCos = TARGET_COS.map { c =>
      val sub = rows.filter(_.getDouble(1) == c).toSeq
      val r8 = bandSteps.map(b => b -> recallAt(sub, 3, 5, b))
      val rs = bandSteps.map(b => b -> recallAt(sub, 4, 6, b))
      val ax = Seq(1, 2, 4, maxAxisBands).distinct
        .map(b => b -> recallAt(sub, 7, 8, b))
      val ivf = probeSteps.map { p =>
        val hit = sub.count(r => baseRank.get((r.getLong(0), c)).exists(_ <= p))
        p -> (hit.toDouble / sub.length)
      }
      val mc = measured.find(_._1 == c).map(_._2).getOrElse(Double.NaN)
      val pqSub = pqRankRows.filter(_.getDouble(1) == c)
      val pq = pqSteps.map(s =>
        s -> (if (pqSub.isEmpty) 0.0
              else pqSub.count(_.getInt(2) <= s).toDouble / pqSub.length))
      s"""{"cos":$c,"measured_cos":${f"$mc%.5f"},"pairs":${sub.length},""" +
        s""""seeded_8bit":${tbl(r8)},"seeded_sized":${tbl(rs)},""" +
        s""""axis_8bit":${tbl(ax)},"ivf":${tbl(ivf)},""" +
        s""""pq_adc":${tbl(pq)},"pq_pairs":${pqSub.length}}"""
    }
    val json =
      s"""{"dir":"$dir","n":$n,"dim":$dim,"sized_bits":$sizedBits,""" +
        s""""tiers":[${perCos.mkString(",")}]}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(s"PLANTED_RECALL=$out n=$n tiers=${perCos.length}")
    spark.stop()
  }
}
