package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Similarity search over an embedding column (SURVEY.md §2.10 L3).
  *
  * Three tiers, mirroring how an ANN stack scales:
  *  - brute-force cosine top-k: the correctness baseline. One broadcast of
  *    the query vector, a codegen'd array fold per row, TakeOrderedAndProject
  *    for the top-k — scans 100 TB at IO speed, no shuffle.
  *  - sign-LSH buckets: random-hyperplane signatures restrict candidate
  *    pairs to same-bucket collisions — the pair volume is collision-bound,
  *    never n².
  *  - IVF: coarse clusters (the fixture's label column stands in for a
  *    k-means assignment) — probe the nearest centroid, search only that
  *    inverted list.
  *
  * All folds are sequential over the array (deterministic fp order), so
  * the DuckDB oracle replays them bit-exactly.
  */
object Similarity {

  /** Sequential-fold dot product in double: the native codegen'd
    * expression (graft.plans.DotF32) — bit-identical to the composed
    * `aggregate(zip_with(...))` form but a single fused loop per row. */
  private[llm] def dot(a: String, b: String): String = s"dot_f32($a, $b)"

  /** Same fold for non-float arrays (IVF centroids are double): composed
    * built-ins, same left-to-right order, bit-equal results. */
  private def dotD(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
      s"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"

  /** L3: brute-force cosine top-10 for query vec_id=0. */
  def l3BruteForceTopk(spark: SparkSession, sfDir: String): DataFrame = {
    graft.plans.Native.install(spark)
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    emb.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(queryRow(emb, 0L)))
      .withColumn("dot", expr(dot("embedding", "q_emb")))
      .withColumn("norm_a", sqrt(expr(dot("embedding", "embedding"))))
      .select($"vec_id", ($"dot" / ($"norm_a" * $"norm_q")).as("cosine"))
      .orderBy($"cosine".desc, $"vec_id")
      .limit(10)
  }

  /** Default sign-LSH width. 8 bits = 256 buckets fits the fixture (~600
    * vectors → ~2-3 per bucket). The within-bucket self-join is quadratic
    * *within a bucket*, so bits must grow with N: pick signBits ≈
    * log2(N / targetBucketSize) — at 1e9 vectors and ~500-vector buckets
    * that's 21 bits, at 1e11 ~28. Recall lost to narrower buckets comes
    * back by repeating the join over several independent bit-sets (bands),
    * exactly as in MinHash banding. */
  val DEFAULT_SIGN_BITS = 8

  /** L3b: sign-LSH near-dup pairs at the default width and 0.3 cosine cut
    * (the fixture embeddings are near-orthogonal, so a dedup-grade 0.9 cut
    * would select nothing; the cut is a parameter, the plan shape is what
    * scales). */
  def l3bLshNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    signLshPairs(Tables.embeddings(spark, sfDir), DEFAULT_SIGN_BITS, 0.3)
      .orderBy($"vec_a", $"vec_b")
  }

  /** Sign-LSH candidate pairs over any `(vec_id, embedding)` frame.
    * `signBits` hyperplane signs (axis-aligned: sign of the first
    * `signBits` dimensions — deterministic) bucket the vectors; pairs are
    * emitted per bucket above `simCut`. See [[DEFAULT_SIGN_BITS]] for how
    * to size signBits with N. */
  def signLshPairs(embFrame: DataFrame, signBits: Int, simCut: Double): DataFrame = {
    require(signBits >= 1 && signBits <= 62, s"signBits out of range: $signBits")
    val spark = embFrame.sparkSession
    graft.plans.Native.install(spark)
    import spark.implicits._
    val sig = (1 to signBits)
      .map(i => when(expr(s"embedding[${i - 1}]") > 0f, lit(1L << (i - 1))).otherwise(lit(0L)))
      .reduce(_ + _)
    val emb = embFrame.withColumn("bucket", sig)
    // merge hint as in Dedup's self-joins: one reused exchange, the
    // bucket-signature scan computes once
    val a = emb.as("a"); val b = emb.hint("merge").as("b")
    a.join(b, $"a.bucket" === $"b.bucket" && $"a.vec_id" < $"b.vec_id")
      .withColumn("dot", expr(dot("a.embedding", "b.embedding")))
      .withColumn("norm_a", sqrt(expr(dot("a.embedding", "a.embedding"))))
      .withColumn("norm_b", sqrt(expr(dot("b.embedding", "b.embedding"))))
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"), $"a.bucket".as("bucket"),
        ($"dot" / ($"norm_a" * $"norm_b")).as("cosine"))
      .filter($"cosine" >= simCut)
  }

  /** L34 [EXT]: contrastive pair mining — the training-pair emitter for
    * embedding-model fine-tuning (SimCSE/E5-style): POSITIVES are the
    * LSH-detected near-dup pairs (l3b's sign-bucket self-join at the
    * same width and cosine cut — the mined "hard positives"), and each
    * anchor that has a positive draws K=4 deterministic pseudo-random
    * NEGATIVES (md5p48 of "anchor:draw" mod the id space — the l28
    * Gumbel-key idiom), excluding itself and any LSH-detected near-dup
    * in either orientation (so a negative is never a known positive).
    * Output is (anchor, partner, label) — 1 for mined positives, 0 for
    * drawn negatives.
    *
    * Scale: positives are bucket-bound (signLshPairs — never n²; the
    * one exchange that carries vectors is its reused bucket self-join,
    * where the cosine dies in-join); everything downstream is id-only —
    * the negative stream is |anchors|·K rows of two 8-byte ids whose
    * exclusion check is ONE anti-join on the normalized pair key, and
    * the emitted pairs carry no vectors (training fetches them by id at
    * batch-assembly time, the l3j rerank idiom). */
  def l34ContrastivePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    contrastivePairsFrom(emb, signLshPairs(emb, DEFAULT_SIGN_BITS, 0.3))
  }

  /** [[l34ContrastivePairs]]'s body over ANY mined positive-pair frame
    * (`posRaw`: (vec_a, vec_b), vec_a < vec_b) — the heavy tier feeds it
    * the banded sized-width pairs (`l34_sized`, the l3e_sized generator),
    * the suite form the oracle-width sign buckets. */
  private[graft] def contrastivePairsFrom(emb: DataFrame, posRaw: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val K = 4
    // the mined pair set is consumed three times (positive output, anchor
    // set, anti-join exclusion) — materialize it once or each consumer
    // re-runs the bucket self-join (measured 7 scans vs 3, ExplainProbe;
    // PlanAuditSpec pins the fixed count). |pos| is LSH-collision-bound.
    val pos = posRaw
      .select($"vec_a", $"vec_b")
      .localCheckpoint()
    val negs = pos.select($"vec_a".as("anchor")).distinct()
      .crossJoin(broadcast(emb.agg(max($"vec_id").as("max_id"))))
      .select($"anchor", explode(expr(s"sequence(1, $K)")).as("r"), $"max_id")
      .withColumn("partner", expr(
        "cast(conv(substr(md5(concat(cast(anchor as string), ':', cast(r as string))), 1, 12), 16, 10) as bigint)"
      ) % ($"max_id" + 1))
      .filter($"partner" =!= $"anchor")
      .join(pos,
        least($"anchor", $"partner") === $"vec_a" &&
          greatest($"anchor", $"partner") === $"vec_b", "left_anti")
      .select($"anchor", $"partner", lit(0L).as("label"))
      .distinct() // two draws may land on the same partner
    pos.select($"vec_a".as("anchor"), $"vec_b".as("partner"), lit(1L).as("label"))
      .unionByName(negs)
      .orderBy($"anchor", $"partner", $"label")
  }

  /** L3h [EXT]: embedding near-dup pruning (the SemDeDup shape, Abbas et
    * al. 2023): LSH candidate pairs above the cosine cut -> connected
    * components -> keep one representative (the min vec_id) per component.
    * This is the end-to-end "drop semantic duplicates" operator a corpus
    * pipeline runs; l3b emits the pairs, this emits the KEEP LIST.
    *
    * Scale: pairs are bucket-bound (signLshPairs's reused-exchange
    * self-join, never n^2); the component loop is Dedup.connectedComponents
    * (min-label here — near-dup components are small and dense; the star
    * contraction handles pathological graphs); the output is one row per
    * vector. The DuckDB oracle replays the same pipeline with a recursive
    * CTE for reachability. */
  def l3hNearDupPrune(spark: SparkSession, sfDir: String): DataFrame =
    neardupKeepList(Tables.embeddings(spark, sfDir),
      signLshPairs(Tables.embeddings(spark, sfDir), DEFAULT_SIGN_BITS, 0.3))

  /** SemDeDup keep-list from any candidate-pair frame: connected
    * components over the pairs, one representative (min vec_id) per
    * component. Factored out of [[l3hNearDupPrune]] so the pair generator
    * is a parameter — the fixture form feeds the 8-bit single-projection
    * pairs; a production deployment feeds banded pairs at the sized width
    * (BenchHeavy's `l3h_sized`), where the candidate volume is
    * collision-bound instead of quadratic-bucket-bound. */
  def neardupKeepList(emb: DataFrame, pairs: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val vertices = emb.select($"vec_id".as("doc_id"))
    graft.llm.Dedup.connectedComponents(vertices,
        pairs.select($"vec_a".as("doc_a"), $"vec_b".as("doc_b")))
      .select($"doc_id".as("vec_id"), $"component",
        ($"doc_id" === $"component").as("keep"))
      .orderBy($"vec_id")
  }

  /** Banded sign-LSH: candidate pairs colliding in ANY of `bands`
    * independent bit-sets — the recall restoration MinHash banding gives
    * Jaccard dedup (Dedup.lshCandidatePairs), applied to cosine. A single
    * `signBits`-wide projection catches a true near-dup pair only with
    * probability p^signBits (p = 1 - θ/π per hyperplane), which at the
    * sizing rule signBits ≈ log2(N/bucket) collapses toward 0 as N grows;
    * b independent bands lift recall to 1-(1-p^signBits)^b while the pair
    * volume stays collision-bound (each band is as selective as before).
    *
    * Band b's signature is the sign pattern of dimensions
    * [b·signBits, (b+1)·signBits) — axis-aligned, deterministic, and
    * independent across bands for near-isotropic embeddings. Requires
    * bands·signBits ≤ dim (64-dim fixture: up to 8 bands of 8 bits); past
    * that, use the seeded overload below (Rademacher projections, same
    * banding/join/dedup plumbing, no width limit).
    *
    * Plan shape at 100 TB: the exploded frame carries only (vec_id, band,
    * bucket) — never the vector — so the bands× row inflation shuffles
    * 24-byte rows; pairs dedup by (vec_a, vec_b) BEFORE the embeddings
    * join back, so each surviving pair's cosine is computed once. */
  def signLshPairs(embFrame: DataFrame, signBits: Int, bands: Int,
      simCut: Double): DataFrame = {
    require(signBits >= 1 && signBits <= 62, s"signBits out of range: $signBits")
    require(bands >= 1, s"bands out of range: $bands")
    // fail fast if the bit-sets would index past the vector: out-of-range
    // element reads otherwise collapse those bands to one bucket, and a
    // one-bucket band is an O(N²) all-pairs self-join.
    val dim = probeDim(embFrame)
    require(bands * signBits <= dim,
      s"bands*signBits (${bands * signBits}) exceeds embedding dim ($dim): " +
        "use fewer/narrower bands, or the seeded-projection overload " +
        "(signLshPairs with a seed), which has no width limit")
    def bandSig(b: Int): Column = (1 to signBits)
      .map { i =>
        val d = b * signBits + i - 1
        when(expr(s"embedding[$d]") > 0f, lit(1L << (i - 1))).otherwise(lit(0L))
      }
      .reduce(_ + _)
    bandedPairs(embFrame, bands, bandSig, simCut)
  }

  /** Banded sign-LSH with SEEDED Rademacher projections instead of the
    * axis-aligned slice: band b, bit i takes the sign of ⟨x, h⟩ for a ±1
    * hyperplane h drawn deterministically from (seed, b·signBits+i, dim)
    * — so `bands·signBits` may exceed the embedding dimension (the
    * axis-aligned form's hard limit) and recall keeps rising with bands.
    * Rademacher entries (Achlioptas 2003's database-friendly random
    * projections) keep every product an exact ±x, so the fold is
    * bit-deterministic and the DuckDB oracle replays it exactly; the
    * matrix is a pure function of the seed — identical across drivers,
    * JVMs, partitionings, and engines. Banding/join/dedup plumbing is
    * shared with the axis-aligned form ([[bandedPairs]]). */
  def signLshPairs(embFrame: DataFrame, signBits: Int, bands: Int,
      simCut: Double, seed: Long): DataFrame = {
    require(signBits >= 1 && signBits <= 62, s"signBits out of range: $signBits")
    require(bands >= 1, s"bands out of range: $bands")
    // all band signatures in ONE native pass (plans.RademacherSigs,
    // bit-equal to the aggregate(zip_with(...)) SQL fold this replaces —
    // the fold paid two nested interpreted lambdas per bit); signs are
    // splitmix64-derived inline, so no matrix materializes or broadcasts
    graft.plans.Native.install(embFrame.sparkSession)
    val withSigs = embFrame.withColumn("rsigs",
      expr(s"rademacher_sigs(embedding, ${seed}L, $signBits, $bands)"))
    def bandSig(b: Int): Column = col("rsigs").getItem(b)
    bandedPairs(withSigs, bands, bandSig, simCut)
  }

  /** Deterministic ±1 (Rademacher) projection matrix: entry (k, d) is the
    * sign bit of splitmix64(seed·1000003 + k·8191 + d) — a pure function
    * of its inputs (Steele et al., "Fast splittable pseudorandom number
    * generators", OOPSLA 2014), so every engine that replays the formula
    * (or embeds the resulting literals, as the oracle SQL does) gets the
    * identical matrix. */
  private[graft] def rademacher(seed: Long, rows: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(rows, dim) { (k, d) =>
      if (graft.plans.RademacherSigs.splitmix64(
        seed * 1000003L + k.toLong * 8191L + d) < 0) -1.0 else 1.0
    }

  /** One-row dimension probe (first row of the first non-empty
    * partition) — a deliberate driver-side single-row read that prevents
    * an O(N²) misconfiguration before any cluster work starts. */
  private def probeDim(embFrame: DataFrame): Int =
    embFrame.select(size(col("embedding"))).take(1) match {
      case Array(r) => r.getInt(0)
      case _ => throw new IllegalArgumentException("empty embedding frame")
    }

  /** Shared banded-LSH plumbing (axis-aligned and seeded forms): explode
    * to (vec_id, band, bucket) — never the vector — self-join per band
    * bucket with one reused exchange, dedup pairs BEFORE the embeddings
    * join back so each surviving pair's cosine is computed once. */
  private def bandedPairs(embFrame: DataFrame, bands: Int,
      bandSig: Int => Column, simCut: Double): DataFrame = {
    val spark = embFrame.sparkSession
    graft.plans.Native.install(spark)
    import spark.implicits._
    val bandKeys = (0 until bands)
      .map(b => struct(lit(b).as("band"), bandSig(b).as("bucket")))
    val exploded = embFrame
      .select($"vec_id", explode(array(bandKeys: _*)).as("bk"))
      .select($"vec_id", $"bk.band".as("band"), $"bk.bucket".as("bucket"))
    // merge-hinted self-join on (band, bucket): one reused exchange, the
    // signature scan runs once (same shape as Dedup.lshCandidatePairs)
    val a = exploded.as("a"); val b2 = exploded.hint("merge").as("b")
    val cand = a.join(b2,
        $"a.band" === $"b.band" && $"a.bucket" === $"b.bucket" &&
          $"a.vec_id" < $"b.vec_id")
      .groupBy($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
    // embedding fetch for the pair stream: BROADCAST both sides — the
    // vector table is N×dim floats (130 MB at sf25) while the pair stream
    // is collision-bound ORDERS larger (163M rows there), so shuffling
    // the pairs twice to meet the vectors ships pair×payload bytes
    // (~42 GB at sf25 once emb_a rides the second exchange) where the
    // broadcast ships the vectors once per executor. At a corpus where
    // the vector table outgrows broadcast (1B × 3 KB), drop the hint and
    // these become the two hash joins — the pair stream still only
    // shuffles its 16-byte keys; the hint just makes the fits-in-memory
    // tier pay zero pair-stream exchanges
    val embA = embFrame.select($"vec_id".as("vec_a"), $"embedding".as("emb_a"))
    val embB = embFrame.select($"vec_id".as("vec_b"), $"embedding".as("emb_b"))
    cand.join(broadcast(embA), "vec_a").join(broadcast(embB), "vec_b")
      .withColumn("dot", expr(dot("emb_a", "emb_b")))
      .withColumn("norm_a", sqrt(expr(dot("emb_a", "emb_a"))))
      .withColumn("norm_b", sqrt(expr(dot("emb_b", "emb_b"))))
      .select($"vec_a", $"vec_b", $"n_shared_bands",
        ($"dot" / ($"norm_a" * $"norm_b")).as("cosine"))
      .filter($"cosine" >= simCut)
  }

  /** L3e [EXT]: the banded form as a query — 4 bands of 8 bits over the
    * 64-dim fixture, 0.2 cosine cut. */
  def l3eBandedLsh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    signLshPairs(Tables.embeddings(spark, sfDir), 8, 4, 0.2)
      .orderBy($"vec_a", $"vec_b")
  }

  /** l3g's fixed parameters: 12 bands of 8 bits = 96 projection rows over
    * the 64-dim fixture — deliberately PAST the axis-aligned form's
    * bands·signBits ≤ dim wall, so the query exercises what only the
    * seeded overload can express. Shared with the oracle SQL builder
    * (SparkEntry embeds the same rademacher matrix as literals). */
  val L3G_SEED = 7L
  val L3G_BANDS = 12
  val L3G_BITS = 8

  /** L3g [EXT]: seeded-projection banded sign-LSH as a query — 12 bands
    * of 8 seeded Rademacher bits, 0.2 cosine cut. */
  def l3gSeededLsh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    signLshPairs(Tables.embeddings(spark, sfDir), L3G_BITS, L3G_BANDS, 0.2, L3G_SEED)
      .orderBy($"vec_a", $"vec_b")
  }

  /** L3d [EXT]: batched similarity search — top-5 neighbors for EACH query
    * in a query set, one corpus scan regardless of |Q|. This is the
    * decontamination shape (score a training corpus against a benchmark /
    * seed set): the query set broadcasts with precomputed norms, every
    * scanned row computes |Q| fused dot folds, and the per-query ranking
    * is two-phase — rank within (query, input partition) in parallel,
    * then a final rank over the ≤ |Q|·partitions·k survivors — so no
    * single task ever sorts a full query's pair list. */
  def l3dBatchTopk(spark: SparkSession, sfDir: String): DataFrame = {
    graft.plans.Native.install(spark)
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
      .withColumn("norm_q", sqrt(expr(dot("q_emb", "q_emb"))))
    val pairs = emb.filter($"vec_id" >= 3)
      .crossJoin(broadcast(queries))
      .withColumn("dot", expr(dot("embedding", "q_emb")))
      .withColumn("norm_a", sqrt(expr(dot("embedding", "embedding"))))
      .select($"q_id", $"vec_id", ($"dot" / ($"norm_a" * $"norm_q")).as("cosine"))
    val wLocal = Window.partitionBy($"q_id", $"pid").orderBy($"cosine".desc, $"vec_id")
    val wGlobal = Window.partitionBy($"q_id").orderBy($"cosine".desc, $"vec_id")
    pairs
      .withColumn("pid", spark_partition_id())
      .withColumn("lrk", row_number().over(wLocal))
      .filter($"lrk" <= 5) // local top-k: global top-k is a subset of these
      .withColumn("rk", row_number().over(wGlobal).cast("long"))
      .filter($"rk" <= 5)
      .select($"q_id", $"rk", $"vec_id", $"cosine")
      .orderBy($"q_id", $"rk")
  }

  /** L8 [EXT]: symmetric int8 quantization of the embedding column — the
    * 4x storage/IO cut a 100 TB vector corpus takes before ANN. Per-vector
    * scale = 127 / max|x|; codes are TRUNC(x·scale) (truncation, not
    * round-half-even, so Spark and the DuckDB oracle agree bit-for-bit).
    * Emits the scale plus exact integer summaries of the code vector; the
    * codes themselves stay distributed. */
  def l8QuantizeInt8(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, sfDir)
      .withColumn("max_abs",
        expr("aggregate(embedding, CAST(0 AS DOUBLE), (m, x) -> greatest(m, abs(CAST(x AS DOUBLE))))"))
      .filter($"max_abs" > 0)
      .withColumn("scale", lit(127.0) / $"max_abs")
      .select(
        $"vec_id", $"scale",
        // Spark's double->bigint cast truncates toward zero = DuckDB TRUNC
        expr("aggregate(embedding, 0L, (acc, x) -> acc + abs(CAST(CAST(x AS DOUBLE) * scale AS BIGINT)))")
          .as("code_l1"),
        expr("aggregate(embedding, 0L, (acc, x) -> acc + CAST(CAST(x AS DOUBLE) * scale AS BIGINT))")
          .as("code_sum"))
      .orderBy($"vec_id")
  }

  /** L3i [EXT]: top-k similarity search OVER the quantized codes — the
    * operator that makes L8's 4x compression a search path, not just a
    * storage trick: score = Σ code_d·qcode_d is exact BIGINT arithmetic
    * (SIMD-friendly int8 dots in a columnar engine), dequantized once per
    * candidate as qdot / (scale·q_scale). Quantization follows L8's
    * convention exactly (per-vector scale = 127/max|x|, truncating cast).
    *
    * Plan shape: max|x| = greatest(array_max, -array_min) — native
    * collection functions, NO higher-order lambda (the measured
    * interpreted-lambda tax) and no pre-shuffle; codes materialize
    * post-explode in codegen; the 64-row query code vector broadcasts;
    * partial aggregation collapses the exploded frame to one row per
    * vector BEFORE the single exchange; TakeOrdered emits the top 10. At
    * 100 TB the codes would be precomputed once and this plan starts at
    * the (16x smaller) code scan — everything downstream is identical. */
  def l3iSq8Topk(spark: SparkSession, sfDir: String): DataFrame =
    sq8Ranked(spark, sfDir)
      .orderBy(col("approx_dot").desc, col("vec_id"))
      .limit(10)

  /** The quantized-dot scoring frame l3i/l3j rank: one row per corpus
    * vector with the exact BIGINT code dot and its dequantized estimate.
    * Unlimited — callers apply their own TakeOrdered. */
  private def sq8Ranked(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val codes = Tables.embeddings(spark, sfDir)
      .withColumn("max_abs", greatest(
        expr("CAST(array_max(embedding) AS DOUBLE)"),
        -expr("CAST(array_min(embedding) AS DOUBLE)")))
      .filter($"max_abs" > 0)
      .withColumn("scale", lit(127.0) / $"max_abs")
      .select($"vec_id", $"scale", posexplode($"embedding").as(Seq("pos", "x")))
      // truncating cast = DuckDB TRUNC (the L8 convention)
      .withColumn("code", expr("CAST(CAST(x AS DOUBLE) * scale AS BIGINT)"))
    val qcodes = codes.filter($"vec_id" === 0)
      .select($"pos".as("q_pos"), $"code".as("q_code"), $"scale".as("q_scale"))
    codes.filter($"vec_id" =!= 0)
      .join(broadcast(qcodes), $"pos" === $"q_pos")
      .groupBy($"vec_id", $"scale", $"q_scale")
      .agg(sum($"code" * $"q_code").as("qdot"))
      .select($"vec_id", $"qdot",
        ($"qdot" / ($"scale" * $"q_scale")).as("approx_dot"))
  }

  /** L3j [EXT]: two-stage retrieval — the production serving shape for
    * vector search at corpus scale: a CHEAP quantized scan shortlists
    * `SHORTLIST` candidates (l3i's scoring, 16x-smaller scan once codes
    * are precomputed), then EXACT cosine re-ranks only the shortlist
    * against the float vectors. Quantization error moves a true neighbor
    * a few places, never out of a 10x-deep shortlist (SemanticsSpec
    * asserts l3j ≡ the full brute-force l3 top-10 on the fixture), so
    * the re-rank repairs SQ8's ranking noise at 1/SHORTLIST-th of the
    * exact scan's cost. The shortlist broadcasts: the float-vector
    * re-read is a semi-join pruned scan, not a second pass. */
  def l3jRerankTopk(spark: SparkSession, sfDir: String): DataFrame = {
    graft.plans.Native.install(spark)
    import spark.implicits._
    val shortlist = sq8Ranked(spark, sfDir)
      .orderBy($"approx_dot".desc, $"vec_id")
      .limit(SHORTLIST)
      .select($"vec_id")
    val emb = Tables.embeddings(spark, sfDir)
    emb.join(broadcast(shortlist), "vec_id")
      .crossJoin(broadcast(queryRow(emb, 0L)))
      .withColumn("dot", expr(dot("embedding", "q_emb")))
      .withColumn("norm_a", sqrt(expr(dot("embedding", "embedding"))))
      .select($"vec_id", ($"dot" / ($"norm_a" * $"norm_q")).as("cosine"))
      .orderBy($"cosine".desc, $"vec_id")
      .limit(10)
  }

  /** l3j's shortlist depth: 10x the final k. */
  val SHORTLIST = 100

  /** L3c: IVF probe. Centroids are exact decimal sums per (label, dim)
    * divided in double (deterministic); the query probes its nearest
    * centroid and searches only that inverted list. */
  def l3cIvfTopk(spark: SparkSession, sfDir: String): DataFrame =
    ivfTopk(spark, sfDir, nProbe = 1)

  /** L3f [EXT]: multi-probe IVF — the IVF recall knob, as banding is the
    * LSH one. A query whose true neighbors straddle a cluster boundary
    * misses them under nProbe=1; probing the nProbe nearest centroids
    * searches their union of inverted lists (still one corpus-side join,
    * scanning nProbe/k-th of the corpus) and recovers them. */
  def l3fIvfMultiprobe(spark: SparkSession, sfDir: String): DataFrame =
    ivfTopk(spark, sfDir, nProbe = 2)

  /** IVF top-10 for query vec_id=0 probing the `nProbe` nearest
    * centroids. Centroid components are an exact decimal sum -> double
    * divide; the aggregate is corpus-wide but its RESULT is K·dim rows
    * that only change when the source does — so it is built once into the
    * stamped index dir (AnnIndex.ensureIvfCentroids) and every l3c/l3f
    * evaluation replays the persisted components bit-exactly (the double
    * parquet roundtrip is lossless). */
  def ivfTopk(spark: SparkSession, sfDir: String, nProbe: Int): DataFrame = {
    require(nProbe >= 1, s"nProbe out of range: $nProbe")
    graft.plans.Native.install(spark)
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val comps = Tables.readMemo(spark,
      s"${AnnIndex.ensureIvfCentroids(spark, sfDir)}/ivf_centroids")
    val nearest = probeLists(comps, queryRow(emb, 0L), nProbe)
    emb.join(broadcast(nearest), $"label" === $"probe_label")
      .filter($"vec_id" =!= 0)
      .withColumn("dot", expr(dot("embedding", "q_emb")))
      .withColumn("norm_a", sqrt(expr(dot("embedding", "embedding"))))
      .select($"vec_id", $"probe_label", ($"dot" / ($"norm_a" * $"norm_q")).as("cosine"))
      .orderBy($"cosine".desc, $"vec_id")
      .limit(10)
  }

  /** The one-row query frame (q_emb, norm_q) for vector `id` of `emb`:
    * the query norm is computed once here, not per scanned row. */
  private[llm] def queryRow(emb: DataFrame, id: Long): DataFrame =
    emb.filter(col("vec_id") === id)
      .select(col("embedding").as("q_emb"))
      .withColumn("norm_q", sqrt(expr(dot("q_emb", "q_emb"))))

  /** The IVF coarse-quantizer probe: the per-label centroids reassembled
    * from their components (`comps`: label, pos, c — the
    * AnnIndex.ensureIvfCentroids artifact) in pos order, ranked by cosine
    * to the one-row query frame `q` ([[queryRow]]; sequential double folds,
    * so every caller picks bit-equal lists), ties to the lowest label.
    * Returns the top `nProbe` as `probe_label`, q's columns riding along. */
  private[llm] def probeLists(comps: DataFrame, q: DataFrame, nProbe: Int): DataFrame = {
    val centroids = comps
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)").as("centroid"))
    centroids.crossJoin(broadcast(q))
      .withColumn("csim", expr(dotD("centroid", "q_emb")) /
        (sqrt(expr(dotD("centroid", "centroid"))) * col("norm_q")))
      .orderBy(col("csim").desc, col("label"))
      .limit(nProbe)
      .select((col("label").as("probe_label") +: q.columns.toSeq.map(col)): _*)
  }

  // ---------------------------------------------------------------------
  // L3l/L3m: product quantization (Jégou et al. 2011, "Product
  // quantization for nearest neighbor search") — the third compression
  // lever after SQ8 (l3i) and IVF (l3c/l3f): split the vector into
  // PQ_SUB-dim subspaces, k-means each subspace to PQ_K centroids, store
  // each vector as M tiny codes, and answer queries by asymmetric
  // distance (query subvector vs the centroid its code names).
  // ---------------------------------------------------------------------

  /** Dims per PQ subspace (64-dim fixture → 4 subspaces). */
  val PQ_SUB = 16
  /** Centroids per subspace (codes are 4 bits here; 256 in production). */
  val PQ_K = 16
  /** Lloyd iterations. Production trains until movement < ε; two rounds
    * keep the unrolled DuckDB oracle tractable while exercising the full
    * assign→update→re-assign machinery (the l21 unroll budget argument). */
  val PQ_ITERS = 2
  /** Fixed-point scale: values quantize to BIGINT micros via the
    * truncating double→long cast (≡ DuckDB TRUNC — the l8 convention), so
    * every distance, sum, and centroid below is EXACT integer arithmetic
    * and the learned codebook is bit-identical on any engine/cluster. */
  val PQ_SCALE = 1000000L
  /** Query vector for [[l3mPqTopk]]. */
  val PQ_QUERY_ID = 0L

  /** Micro-fixed-point quantized vector: one BIGINT per dimension, the
    * PQ_SCALE truncating cast. */
  private[graft] def qvec = expr(
    s"transform(embedding, x -> CAST(CAST(x AS DOUBLE) * $PQ_SCALE AS BIGINT))")

  /** The demonstration PQ codebook: [[Clustering.lloyd]] per PQ_SUB-dim
    * subspace over the whole corpus, K = PQ_K — the training l3l emits
    * and the oracle replays as unrolled CTEs. */
  private[graft] def pqTrain(spark: SparkSession, sfDir: String): Seq[(Int, Int, Int, Long)] = {
    import spark.implicits._
    Clustering.lloyd(Tables.embeddings(spark, sfDir).select($"vec_id", qvec.as("qv")),
      PQ_SUB, PQ_K, PQ_ITERS)
  }

  /** [[pqTrain]] through the fitted-codebook memo ([[Clustering.ensureCodebook]]):
    * the declared l3m/l3n and the IVF-PQ index replay the stamped fit
    * instead of re-running Lloyd per evaluation — production trains once
    * and encodes forever. */
  private[graft] def pqCodebook(spark: SparkSession, sfDir: String): Seq[(Int, Int, Int, Long)] =
    Clustering.ensureCodebook(spark, sfDir, "pq")(pqTrain(spark, sfDir))

  /** L3l [EXT]: train the PQ codebook — emits (m, c, d, cent), the full
    * learned table, so the oracle (the same Lloyd iterations unrolled as
    * CTEs, the l21 idiom) checks the TRAINING hash-exactly, not just a
    * downstream search. The fit runs inline on every evaluation — checking
    * the learn is this row's point. Scale: the corpus-size-dependent work
    * is one compiled-argmin pass plus a partial-agg rollup per iteration;
    * the codebook is O(M·K·SUB) rows regardless of corpus, so 100 TB
    * changes the scan cost, never the loop state. */
  def l3lPqTrain(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // already (m, c, d)-ordered: a Sort over the local rows would cost a
    // range-partitioning round of jobs for nothing
    pqTrain(spark, sfDir).toDF("m", "c", "d", "cent")
  }

  /** 1-row codebook frame: cb[m][c][d], from the driver-side table. */
  private[llm] def codebookDf(spark: SparkSession, cent: Seq[(Int, Int, Int, Long)]) = {
    import spark.implicits._
    val m = cent.map(_._1).max + 1
    val k = cent.map(_._2).max + 1
    val sub = cent.map(_._3).max + 1
    val byKey = cent.map { case (mi, c, d, v) => (mi, c, d) -> v }.toMap
    val nested: Seq[Seq[Seq[Long]]] = (0 until m).map(mi =>
      (0 until k).map(c => (0 until sub).map(d => byKey((mi, c, d)))))
    Seq(Tuple1(nested)).toDF("cb")
  }

  /** Encode every vector in ONE compiled pass: (vec_id, label, codes) —
    * the native `pq_encode` argmin per subspace against the 1-row
    * codebook broadcast, the FAISS encode shape (no per-candidate rows). */
  private[graft] def pqEncodeAll(spark: SparkSession, sfDir: String,
      cent: Seq[(Int, Int, Int, Long)]): DataFrame = {
    graft.plans.Native.install(spark)
    import spark.implicits._
    Tables.embeddings(spark, sfDir)
      .crossJoin(broadcast(codebookDf(spark, cent)))
      .select($"vec_id", $"label", qvec.as("qv"), $"cb")
      .select($"vec_id", $"label", expr("pq_encode(qv, cb)").as("codes"))
  }

  /** Driver-side ADC lookup table for one query: lut[m][c] = exact BIGINT
    * squared distance from the query's m-th subvector to centroid c. */
  private def adcLut(q: Seq[Long], cent: Seq[(Int, Int, Int, Long)]): Seq[Seq[Long]] = {
    val m = cent.map(_._1).max + 1
    val k = cent.map(_._2).max + 1
    val sub = cent.map(_._3).max + 1
    val byKey = cent.map { case (mi, c, d, v) => (mi, c, d) -> v }.toMap
    (0 until m).map(mi => (0 until k).map { c =>
      (0 until sub).map { d =>
        val diff = q(mi * sub + d) - byKey((mi, c, d)); diff * diff
      }.sum
    })
  }

  /** ADC score as a codegen'd projection: Σ_m lut[m][codes[m]] — M array
    * probes per row, no join, no lambda. */
  private def adcScore(m: Int) = (0 until m)
    .map(i => expr(s"element_at(element_at(lut, ${i + 1}), element_at(codes, ${i + 1}) + 1)"))
    .reduce(_ + _)

  /** Every vector ADC-scored against the query [[PQ_QUERY_ID]] under
    * `cent`: (vec_id, label, adc_dist). The query is quantized on the
    * driver once, its LUT rides the plan as a literal, and the corpus side
    * is one [[pqEncodeAll]] pass — zero per-vector joins. Integer addition
    * is order-independent, so the LUT regrouping (d-sums inside the
    * table, m-sums per row) is bit-equal to the oracle's flat sum. */
  private def adcScored(spark: SparkSession, sfDir: String,
      cent: Seq[(Int, Int, Int, Long)]): DataFrame = {
    import spark.implicits._
    val q = Tables.embeddings(spark, sfDir).filter($"vec_id" === PQ_QUERY_ID)
      .select(qvec.as("qv")).collect()(0).getSeq[Long](0)
    pqEncodeAll(spark, sfDir, cent)
      .withColumn("lut", typedLit(adcLut(q, cent)))
      .select($"vec_id", $"label", adcScore(cent.map(_._1).max + 1).as("adc_dist"))
  }

  /** L3m [EXT]: asymmetric-distance top-k over PQ codes — every vector
    * collapses to M 4-bit codes; the query stays full-precision and its
    * distance to a vector is the sum over subspaces of the exact squared
    * distance to the CENTROID the vector's code names. At 100 TB the scan
    * reads M bytes per vector instead of the raw embedding — the 16-64x
    * read shrink that makes billion-scale ANN memory-resident. Exactness
    * of the arithmetic (not of the ANN answer — ADC is an approximation
    * by design) makes the whole path oracle-able. Reads the memoized
    * codebook ([[pqCodebook]]). */
  def l3mPqTopk(spark: SparkSession, sfDir: String): DataFrame =
    adcTopk(spark, sfDir, pqCodebook(spark, sfDir))

  private def adcTopk(spark: SparkSession, sfDir: String,
      cent: Seq[(Int, Int, Int, Long)]): DataFrame = {
    import spark.implicits._
    adcScored(spark, sfDir, cent)
      .select($"vec_id", $"adc_dist")
      .orderBy($"adc_dist".asc, $"vec_id".asc)
      .limit(10)
  }

  /** IVF lists probed by the composite index (FAISS IVFPQ default is
    * nprobe=1; 2 matches l3f so the IVF-only and IVF-PQ answers are
    * comparable over the same probed subset). */
  val IVFPQ_PROBE = 2

  /** L3n [EXT]: IVF-PQ composite — the production billion-scale ANN stack
    * (FAISS `IVFPQ`; Jégou et al. 2011 §V "IVFADC"): a coarse quantizer
    * routes the query to `IVFPQ_PROBE` inverted lists, and ONLY those
    * lists' PQ codes are scored by asymmetric distance. The two knobs
    * compose multiplicatively at 100 TB: IVF scans nProbe/k of the corpus
    * (the l3c/l3f partition prune) and PQ reads M code bytes per vector
    * instead of the raw embedding (the l3m shrink), so a 1000-executor
    * scan touches ~nProbe/k · M/(4·dim) of the raw bytes. Plan shape: the
    * probe step is query planning — [[probeLists]] collapses to
    * `IVFPQ_PROBE` label ids on the driver (the FAISS coarse-quantizer
    * lookup; same sanctioned scalar collect as l21's argmax) and the
    * scored codes, which carry the list label exactly so a real index can
    * store codes list-partitioned, are pruned by an `isin` filter — no
    * join, no shuffle. Training and ADC arithmetic are l3l/l3m's, so the
    * whole composite is oracle-able. The query vector is excluded from
    * its own result (the l3c convention). */
  def l3nIvfPqTopk(spark: SparkSession, sfDir: String): DataFrame =
    ivfAdcTopk(spark, sfDir, pqCodebook(spark, sfDir))

  private def ivfAdcTopk(spark: SparkSession, sfDir: String,
      cent: Seq[(Int, Int, Int, Long)]): DataFrame = {
    graft.plans.Native.install(spark)
    import spark.implicits._
    val comps = Tables.readMemo(spark,
      s"${AnnIndex.ensureIvfCentroids(spark, sfDir)}/ivf_centroids")
    val probes = probeLists(comps,
      queryRow(Tables.embeddings(spark, sfDir), PQ_QUERY_ID), IVFPQ_PROBE)
      .collect().map(_.getInt(0)).toSeq
    adcScored(spark, sfDir, cent)
      .filter($"label".isin(probes: _*) && $"vec_id" =!= PQ_QUERY_ID)
      .select($"vec_id", $"label".as("probe_label"), $"adc_dist")
      .orderBy($"adc_dist".asc, $"vec_id".asc)
      .limit(10)
  }

  // ---------------------------------------------------------------------
  // Production-width PQ (8-bit codes): K=256 per subspace, the width the
  // l3l notes call out ("production raises K to 256"). The demonstration
  // rows above keep K=16 so the unrolled DuckDB oracle stays tractable;
  // at production width the same fit ([[Clustering.lloyd]]) runs on a
  // deterministic hash-sample of the corpus ([[Clustering.hashSample]]),
  // so training cost is bounded by the sample while the encode touches
  // every vector once. Assignment is the one `pq_encode` kernel at every
  // width — a compiled argmin per vector, never a row per (subvector,
  // candidate). Same integer arithmetic end to end: benched as
  // l3m_sized/l3n_sized, recall-measured in AnnRecall's pq256_adc table.
  // ---------------------------------------------------------------------

  /** Production centroids per subspace — 8-bit codes. */
  val PQ_K_PROD = 256
  /** Target Lloyd training-sample size (vectors). */
  val PQ_TRAIN_VECS = 8192L

  /** [[pqTrain]] at width `k` on the corpus's hash-sample of about
    * `sampleVecs` vectors. */
  private[graft] def pqTrainSized(spark: SparkSession, sfDir: String,
      k: Int = PQ_K_PROD, sampleVecs: Long = PQ_TRAIN_VECS): Seq[(Int, Int, Int, Long)] = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    Clustering.lloyd(Clustering.hashSample(emb, emb.count(), sampleVecs)
      .select($"vec_id", qvec.as("qv")), PQ_SUB, k, PQ_ITERS)
  }

  /** L3m at production width (8-bit codes): l3m's body over a sampled fit
    * at K=256. Parameterization of l3m's oracle-checked semantics (the
    * l3e_sized precedent): no oracle, the recall deltas live in
    * AnnRecall's pq256 table. */
  def l3mSizedTopk(spark: SparkSession, sfDir: String): DataFrame =
    adcTopk(spark, sfDir, pqTrainSized(spark, sfDir))

  /** L3n at production width: l3n's body over the K=256 sampled fit. */
  def l3nSizedTopk(spark: SparkSession, sfDir: String): DataFrame =
    ivfAdcTopk(spark, sfDir, pqTrainSized(spark, sfDir))
}
