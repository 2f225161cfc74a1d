package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Recall measurement for the ANN scale paths (SURVEY §2.10): how much of
  * the TRUE top-k neighborhood does each approximate index recover, as a
  * function of its recall knob (bands for LSH, nProbe for IVF)?
  *
  * Method: sample Q query vectors (2 per replica — deterministic), compute
  * exact brute-force top-K per query in ONE corpus scan (the l3d two-phase
  * rank shape), then judge each (query, true-neighbor) pair against:
  *  - seeded Rademacher banded LSH (plans.RademacherSigs, the l3g path) at
  *    the fixture width (8 bits) and the sized width (log2(N/32) bits) —
  *    a pair is RECOVERED by b bands iff its signatures collide in any of
  *    the first b (exactly the bandedPairs candidate condition);
  *  - axis-aligned banded LSH (the l3e path), bands of 8 dimensions;
  *  - IVF (the l3c/l3f path): recovered at nProbe iff the neighbor's label
  *    is among the query's nProbe nearest centroids.
  * The signature/centroid judgment runs on ≤ Q·(K+1) rows, so the whole
  * measurement costs one corpus scan plus the centroid aggregate —
  * runnable at any tier.
  *
  * Output: a JSON artifact (default tools/ann_recall.json, committed) that
  * tools/bench_compare.py renders as the "ANN recall" section of
  * BENCHNOTES_HEAVY.md.
  */
object AnnRecall {

  private val K = 10
  private val SEED = graft.llm.Similarity.L3G_SEED
  private val MAX_BANDS = 16

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/target/bench_heavy/sf5")
    val out = if (args.length > 1) args(1) else "tools/ann_recall.json"
    val spark = MakeHeavy.session()
    graft.plans.Native.install(spark)
    import spark.implicits._

    val emb = graft.Tables.embeddings(spark, dir).cache()
    val n = emb.count()
    val dim = emb.select(size($"embedding")).first().getInt(0)
    val sizedBits =
      math.max(8, math.ceil(math.log(n / 32.0) / math.log(2.0)).toInt)

    // 2 queries per replica (vec_id mod SHIFT_VEC < 2); on a non-replicated
    // dir (plain fixture) this degenerates to vec_id < 2 — still valid
    val queries = emb.filter($"vec_id" % MakeHeavy.SHIFT_VEC < 2)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
      .withColumn("norm_q", sqrt(expr("dot_f32(q_emb, q_emb)")))

    // exact ground truth: one corpus scan, two-phase rank (no full sort)
    val wL = Window.partitionBy($"q_id", $"pid").orderBy($"cosine".desc, $"vec_id")
    val wG = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id")
    val truth = emb.crossJoin(broadcast(queries))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("dot", expr("dot_f32(embedding, q_emb)"))
      .withColumn("norm_a", sqrt(expr("dot_f32(embedding, embedding)")))
      .select($"q_id", $"vec_id",
        ($"dot" / ($"norm_a" * $"norm_q")).as("cosine"))
      .withColumn("pid", spark_partition_id())
      .withColumn("lrk", row_number().over(wL)).filter($"lrk" <= K)
      .withColumn("rk", row_number().over(wG)).filter($"rk" <= K)
      .select($"q_id", $"vec_id")
      // tiny (queries × K rows) but derived from the exact crossJoin:
      // cache so the PQ rank join below doesn't recompute ground truth
      .cache()

    // per-vector signatures for every id the judgment touches
    def axisSig(b: Int) = (1 to 8)
      .map { i =>
        val d = b * 8 + i - 1
        when(expr(s"embedding[$d]") > 0f, lit(1L << (i - 1))).otherwise(lit(0L))
      }.reduce(_ + _)
    val maxAxisBands = dim / 8
    val sigs = emb.select($"vec_id", $"label",
      expr(s"rademacher_sigs(embedding, ${SEED}L, 8, $MAX_BANDS)").as("r8"),
      expr(s"rademacher_sigs(embedding, ${SEED}L, $sizedBits, $MAX_BANDS)").as("rs"),
      array((0 until maxAxisBands).map(axisSig): _*).as("ax"))

    val qSigs = sigs.select($"vec_id".as("q_id"), $"r8".as("q_r8"),
      $"rs".as("q_rs"), $"ax".as("q_ax"))
    val judged = truth
      .join(sigs, "vec_id")
      .join(broadcast(qSigs), "q_id")
      .select($"q_id", $"vec_id", $"label", $"r8", $"rs", $"ax",
        $"q_r8", $"q_rs", $"q_ax")
      .collect()

    def recallAt(get: org.apache.spark.sql.Row => (Seq[Long], Seq[Long]),
        bands: Int): Double = {
      val hit = judged.count { r =>
        val (a, b) = get(r)
        (0 until bands).exists(i => a(i) == b(i))
      }
      hit.toDouble / judged.length
    }
    val bandSteps = Seq(1, 2, 4, 8, 12, 16)
    val r8 = bandSteps.map(b => b -> recallAt(
      r => (r.getSeq[Long](3), r.getSeq[Long](6)), b))
    val rs = bandSteps.map(b => b -> recallAt(
      r => (r.getSeq[Long](4), r.getSeq[Long](7)), b))
    val ax = Seq(1, 2, 4, maxAxisBands).distinct.filter(_ <= maxAxisBands)
      .map(b => b -> recallAt(r => (r.getSeq[Long](5), r.getSeq[Long](8)), b))

    // IVF: exact-decimal centroids per label (the ivfTopk aggregate), then
    // each query's centroid ranking; neighbor recovered iff its label is in
    // the query's top-nProbe labels
    val comps = emb
      .select($"label", posexplode($"embedding").as(Seq("pos", "v")))
      .groupBy($"label", $"pos")
      .agg((sum($"v".cast("decimal(20,10)")).cast("double") / count(lit(1))).as("c"))
    val centroids = comps.groupBy($"label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)")
        .as("centroid"))
    val dotD = "aggregate(zip_with(centroid, q_emb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    val ranked = centroids.crossJoin(broadcast(queries))
      .withColumn("cdot", expr(dotD))
      .withColumn("cnorm", sqrt(expr(
        "aggregate(zip_with(centroid, centroid, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)")))
      .withColumn("csim", $"cdot" / ($"cnorm" * $"norm_q"))
      .withColumn("crk",
        row_number().over(Window.partitionBy($"q_id").orderBy($"csim".desc, $"label")))
      .select($"q_id", $"label", $"crk")
    val labelRank = ranked.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    val probeSteps = Seq(1, 2, 4)
    val ivf = probeSteps.map { p =>
      val hit = judged.count { r =>
        labelRank.get((r.getLong(0), r.getInt(2))).exists(_ <= p)
      }
      p -> (hit.toDouble / judged.length)
    }

    // PQ: rank-based recall — unlike the candidate-condition families
    // above, ADC ranks EVERY vector, so the knob is the shortlist size R
    // a deployment would re-rank (l3j's pattern): a true top-K neighbor is
    // recovered iff its ADC rank (asymmetric distance to the centroid its
    // code names) lands within R. The classic lookup-table form: per-query
    // sub-distance LUT (queries × M × K rows), broadcast onto the code
    // scan — exactly the shape l3mPqTopk ships, widened to many queries.
    val pqCent = graft.llm.Similarity.pqTrain(spark, dir)
    val pqDims = graft.llm.Similarity.pqDims(spark, dir)
    val pqCodes = graft.llm.Similarity.pqAssign(pqDims, pqCent)
    val qDims = pqDims.join(broadcast(queries.select($"q_id")), $"vec_id" === $"q_id")
      .select($"q_id", $"m", $"d", $"qv")
    val lut = qDims
      .join(broadcast(pqCent.toDF("m", "c", "d", "cent")), Seq("m", "d"))
      .groupBy($"q_id", $"m", $"c")
      .agg(sum(($"qv" - $"cent") * ($"qv" - $"cent")).as("subdist"))
    val adcRank = pqCodes.join(broadcast(lut), Seq("m", "c"))
      .groupBy($"q_id", $"vec_id")
      .agg(sum($"subdist").as("adc"))
      .filter($"q_id" =!= $"vec_id")
      .withColumn("prk", row_number().over(
        Window.partitionBy($"q_id").orderBy($"adc".asc, $"vec_id")))
      .select($"q_id", $"vec_id", $"prk")
    // join the (tiny) truth frame back BEFORE collecting — only the true
    // pairs' ranks ever reach the driver, not the full n-per-query ranking
    val pqRanks = adcRank.join(truth, Seq("q_id", "vec_id"))
      .select($"prk").as[Int].collect()
    val pq = Seq(10, 50, 100, 500).map(s =>
      s -> pqRanks.count(_ <= s).toDouble / judged.length)

    // production-width PQ (K=256, 8-bit codes — Similarity.PQ_K_PROD):
    // sampled Lloyd fit + compiled encode, same rank-based recall
    val cent256 = graft.llm.Similarity.pqTrainSized(spark, dir)
    val codes256 = graft.llm.Similarity.pqEncodeAll(spark, dir, cent256)
      .select($"vec_id", posexplode($"codes").as(Seq("m", "c")))
      .select($"vec_id", $"m".cast("int").as("m"), $"c")
    val lut256 = qDims
      .join(broadcast(cent256.toDF("m", "c", "d", "cent")), Seq("m", "d"))
      .groupBy($"q_id", $"m", $"c")
      .agg(sum(($"qv" - $"cent") * ($"qv" - $"cent")).as("subdist"))
    val adcRank256 = codes256.join(broadcast(lut256), Seq("m", "c"))
      .groupBy($"q_id", $"vec_id")
      .agg(sum($"subdist").as("adc"))
      .filter($"q_id" =!= $"vec_id")
      .withColumn("prk", row_number().over(
        Window.partitionBy($"q_id").orderBy($"adc".asc, $"vec_id")))
      .select($"q_id", $"vec_id", $"prk")
    val pq256Ranks = adcRank256.join(truth, Seq("q_id", "vec_id"))
      .select($"prk").as[Int].collect()
    val pq256 = Seq(10, 50, 100, 500).map(s =>
      s -> pq256Ranks.count(_ <= s).toDouble / judged.length)

    def tbl(rows: Seq[(Int, Double)]): String =
      rows.map { case (b, r) => s"""{"k":$b,"recall":${f"$r%.4f"}}""" }
        .mkString("[", ",", "]")
    val json =
      s"""{"dir":"$dir","n":$n,"dim":$dim,"queries":${judged.map(_.getLong(0)).distinct.length},
         |"truth_pairs":${judged.length},"topk":$K,"sized_bits":$sizedBits,
         |"seeded_8bit":${tbl(r8)},"seeded_sized":${tbl(rs)},
         |"axis_8bit":${tbl(ax)},"ivf":${tbl(ivf)},"pq_adc":${tbl(pq)},
         |"pq256_adc":${tbl(pq256)}}""".stripMargin.replace("\n", "")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(s"ANN_RECALL=$out n=$n sizedBits=$sizedBits pairs=${judged.length}")
    spark.stop()
  }
}
