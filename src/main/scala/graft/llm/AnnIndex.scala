package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** ANN index build/serve split (SURVEY.md §2.10 L3 at deployment shape).
  *
  * The suite's l3i/l3c/l3f recompute their index artifacts — SQ8 codes,
  * IVF centroids — from the raw embeddings on EVERY query; at 100 TB a
  * deployment amortizes that: build once, serve many. This module makes
  * the split real (reference behavior: the engine's pipelines persist
  * derived artifacts between runs, src/main.rs:178-204 writes each stage's
  * output before the next consumes it):
  *
  *  - BUILD (once): [[buildSq8]] persists int8 codes + per-vector scale
  *    PACKED (vec_id, scale, codes ARRAY<BIGINT>) — one row per vector,
  *    scored at serve time by one fused native loop (plans.DotI64); see
  *    the buildSq8 doc for the measured exploded-layout negative result.
  *    [[buildIvf]] persists exploded centroid components (label, pos, c)
  *    AND a corpus copy partitioned by list SEGMENT (label % LIST_SHARDS)
  *    — inverted lists packed into a BOUNDED directory count, so a probe
  *    reads only the probed segments (dynamic partition pruning) and the
  *    planner never lists more than LIST_SHARDS directories, at any label
  *    cardinality (2500 one-per-label dirs measured ~4s of listing per
  *    serve at sf25 — the motivating negative result).
  *
  *  - SERVE (per query): [[l3iServe]]/[[l3jServe]]/[[l3fServe]] read ONLY
  *    index artifacts — even the query-vector point lookup and l3j's
  *    shortlist-pruned float re-read come from the by-id clustered copy
  *    ([[buildVecById]]); not one byte of the original embeddings table
  *    is touched (PlanAuditSpec machine-checks the scan sets). Results
  *    are BIT-EQUAL to the on-the-fly forms, so each serve query is
  *    oracle-checked against its base query's DuckDB SQL — hash equality
  *    is the per-run proof that the persisted index reproduces the
  *    recomputed one.
  *
  * Index location: `spark.graft.ann.indexDir` (default `target/ann_index`)
  * / v1 / <sanitized sfDir>. Built lazily on first serve; rebuild by
  * deleting the directory (or calling a build directly — BenchHeavy's
  * ann_build_* entries do exactly that to price the build step).
  *
  * Staleness: every build stamps a `_GRAFT_SOURCE` fingerprint (name, size,
  * mtime of each embeddings source file) next to `_SUCCESS`, and the
  * ensure* gates rebuild when the live source no longer matches — a
  * regenerated fixture under an unchanged path forces a rebuild instead of
  * silently serving vectors that no longer exist (AnnIndexStaleSpec proves
  * the rebuild fires). `_SUCCESS` alone only proves A build finished, not
  * that it was built from THIS data.
  */
object AnnIndex {

  import Similarity.{dot, dotD}

  def indexRoot(spark: SparkSession): String =
    spark.conf.get("spark.graft.ann.indexDir", "target/ann_index")

  /** Per-dataset index directory: version-tagged so a change to the code
    * layout invalidates old indexes by construction (v3 = packed SQ8 +
    * segmented inverted lists + by-id vector copy). */
  def indexDir(spark: SparkSession, sfDir: String): String =
    s"${indexRoot(spark)}/v3/${sfDir.replaceAll("[^A-Za-z0-9._-]", "_")}"

  /** Fingerprint of the embeddings source this index derives from: per-file
    * (name, length, mtime), covering both the single-file fixture layout and
    * directory-of-parts layouts (the heavy tiers). Cheap — metadata only —
    * so every ensure* call can afford it. */
  def sourceFingerprint(sfDir: String): String =
    fileFingerprint(s"$sfDir/embeddings.parquet")

  /** [[sourceFingerprint]] for any source table file/dir — artifacts that
    * derive from a table OTHER than embeddings (the BPE merge memo reads
    * documents) must stamp against THEIR source, or a regenerated fixture
    * that touched only that table would stale-serve. */
  private[llm] def fileFingerprint(path: String): String = {
    val src = new java.io.File(path)
    if (src.isFile) s"${src.getName}=${src.length}:${src.lastModified}"
    else
      Option(src.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isFile && !f.getName.startsWith("."))
        .sortBy(_.getName)
        .map(f => s"${f.getName}=${f.length}:${f.lastModified}")
        .mkString(";")
  }

  private def fpFile(path: String) = java.nio.file.Paths.get(s"$path/_GRAFT_SOURCE")

  /** An artifact is servable iff its write committed (`_SUCCESS`) AND it was
    * built from the embeddings bytes currently on disk (fingerprint match). */
  private[llm] def fresh(path: String, fp: String): Boolean =
    new java.io.File(s"$path/_SUCCESS").exists() &&
      java.nio.file.Files.isRegularFile(fpFile(path)) &&
      new String(java.nio.file.Files.readAllBytes(fpFile(path)),
        java.nio.charset.StandardCharsets.UTF_8) == fp

  /** Stamp AFTER the artifact write commits: a crashed build leaves either
    * no `_SUCCESS` or no stamp, and both read as not-fresh. */
  private[llm] def stamp(path: String, fp: String): Unit =
    java.nio.file.Files.write(fpFile(path),
      fp.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  // ---------------------------------------------------------------- SQ8

  /** One-time SQ8 build: quantize every embedding to int8 codes (L8's
    * convention exactly: per-vector scale = 127/max|x|, truncating cast)
    * and persist PACKED — one row per vector, codes as ARRAY<BIGINT>.
    *
    * Layout lesson, measured: the first cut persisted the codes EXPLODED
    * (vec_id, scale, pos, code — the shape l3i's recompute plan produces
    * in-flight), betting parquet RLE would make byte savings carry the
    * serve scan. Bytes did shrink (sf25: 40 MB vs 127 MB floats) but the
    * serve scan decoded 32M ROWS and re-joined them on pos — 2.09s at
    * sf25, SLOWER than the 1.11s recompute. Packed, the scan is one row
    * per vector and the scorer is one fused native loop
    * ([[graft.plans.DotI64]]) — no explode, no position join, no exchange.
    * The transform lambda below evaluates interpreted, which is exactly
    * why the BUILD step exists: it pays that cost once so the serve path
    * never does. Returns the written path. */
  def buildSq8(spark: SparkSession, sfDir: String): String = {
    import spark.implicits._
    val path = s"${indexDir(spark, sfDir)}/sq8_codes"
    val fp = sourceFingerprint(sfDir)
    Tables.sink(path) {
      Tables.embeddings(spark, sfDir)
        .withColumn("max_abs", greatest(
          expr("CAST(array_max(embedding) AS DOUBLE)"),
          -expr("CAST(array_min(embedding) AS DOUBLE)")))
        .filter($"max_abs" > 0)
        .withColumn("scale", lit(127.0) / $"max_abs")
        .select($"vec_id", $"scale",
          expr("transform(embedding, x -> CAST(CAST(x AS DOUBLE) * scale AS BIGINT))")
            .as("codes"))
        .write.mode("overwrite").parquet(path)
    }
    stamp(path, fp)
    path
  }

  def ensureSq8(spark: SparkSession, sfDir: String): String = {
    val path = s"${indexDir(spark, sfDir)}/sq8_codes"
    if (!fresh(path, sourceFingerprint(sfDir))) buildSq8(spark, sfDir) else path
  }

  /** The float vectors re-laid-out for SERVING reads: range-partitioned
    * and sorted by vec_id, one ~row-group-sized file per range, so a
    * point lookup (the query vector; l3j's shortlist re-read) prunes to
    * one file's row group via min/max stats — the S9 clustered-layout
    * idiom applied to the index. Measured need: the raw fixture is
    * hash-partitioned, so `vec_id = 0` decoded ALL 127 MB of floats at
    * sf25 — that one lookup dominated the first serve measurements. */
  def buildVecById(spark: SparkSession, sfDir: String): String = {
    import spark.implicits._
    val path = s"${indexDir(spark, sfDir)}/vectors_by_id"
    val fp = sourceFingerprint(sfDir)
    Tables.sink(path) {
      Tables.embeddings(spark, sfDir)
        .repartitionByRange(32, $"vec_id")
        .sortWithinPartitions($"vec_id")
        .write.mode("overwrite").parquet(path)
    }
    stamp(path, fp)
    path
  }

  def ensureVecById(spark: SparkSession, sfDir: String): String = {
    val path = s"${indexDir(spark, sfDir)}/vectors_by_id"
    if (!fresh(path, sourceFingerprint(sfDir))) buildVecById(spark, sfDir) else path
  }

  /** The l3i scoring frame served from the persisted codes: one scan of
    * the packed code rows, query row broadcast, exact BIGINT dot per
    * vector in one native loop. Integer addition is order-independent, so
    * qdot is bit-equal to the exploded SUM the base oracle replays. */
  private def sq8RankedServe(spark: SparkSession, sfDir: String): DataFrame = {
    graft.plans.Native.install(spark)
    import spark.implicits._
    val codes = Tables.readMemo(spark, ensureSq8(spark, sfDir))
    val q = codes.filter($"vec_id" === 0)
      .select($"codes".as("q_codes"), $"scale".as("q_scale"))
    codes.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("qdot", expr("dot_i64(codes, q_codes)"))
      .select($"vec_id", $"qdot",
        ($"qdot" / ($"scale" * $"q_scale")).as("approx_dot"))
  }

  /** l3i served from the index: the scan touches codes only — 16x fewer
    * float bytes at 100 TB — and the plan is l3i's from the explode down. */
  def l3iServe(spark: SparkSession, sfDir: String): DataFrame =
    sq8RankedServe(spark, sfDir)
      .orderBy(col("approx_dot").desc, col("vec_id"))
      .limit(10)

  /** l3j served from the index: quantized shortlist off the codes, exact
    * re-rank over the shortlist-pruned float re-read (the only embeddings
    * bytes the serve path touches). */
  def l3jServe(spark: SparkSession, sfDir: String): DataFrame = {
    graft.plans.Native.install(spark)
    import spark.implicits._
    val shortlist = sq8RankedServe(spark, sfDir)
      .orderBy($"approx_dot".desc, $"vec_id")
      .limit(Similarity.SHORTLIST)
      .select($"vec_id")
    // all float bytes come from the by-id index copy: the q lookup prunes
    // to one row group, the re-read is shortlist-pruned
    val emb = Tables.readMemo(spark, ensureVecById(spark, sfDir))
    val q = emb.filter($"vec_id" === 0)
      .select($"embedding".as("q_emb"))
      .withColumn("norm_q", sqrt(expr(dot("q_emb", "q_emb"))))
    emb.join(broadcast(shortlist), "vec_id")
      .crossJoin(broadcast(q))
      .withColumn("dot", expr(dot("embedding", "q_emb")))
      .withColumn("norm_a", sqrt(expr(dot("embedding", "embedding"))))
      .select($"vec_id", ($"dot" / ($"norm_a" * $"norm_q")).as("cosine"))
      .orderBy($"cosine".desc, $"vec_id")
      .limit(10)
  }

  // ---------------------------------------------------------------- IVF

  /** Inverted lists are packed into SEGMENT directories (label % shards),
    * not one directory per label: partition-DIRECTORY count is what the
    * scan pays at planning time (listing 2500 label dirs at sf25 cost
    * ~4s per serve — measured; it would grow with k), so the segment
    * count is bounded regardless of label cardinality, exactly how a real
    * IVF store packs many lists per segment file. A probe reads
    * nProbe/shards-th of the corpus — slightly more bytes than the exact
    * lists, traded for O(shards) planning. */
  val LIST_SHARDS = 64

  /** One-time IVF build: exploded centroid components (exact decimal sums
    * -> double, deterministic) plus the corpus re-laid-out as inverted
    * lists — partitioned by list SEGMENT ([[LIST_SHARDS]]), one file per
    * segment directory. Returns the index directory. */
  def buildIvf(spark: SparkSession, sfDir: String): String = {
    import spark.implicits._
    val dir = indexDir(spark, sfDir)
    val fp = sourceFingerprint(sfDir)
    buildIvfCentroids(spark, sfDir)
    Tables.sink(s"$dir/ivf_corpus") {
      Tables.embeddings(spark, sfDir)
        .withColumn("pshard", pmod($"label", lit(LIST_SHARDS)))
        .repartition($"pshard")
        .write.mode("overwrite").partitionBy("pshard").parquet(s"$dir/ivf_corpus")
    }
    stamp(s"$dir/ivf_corpus", fp)
    dir
  }

  /** The centroid half of [[buildIvf]] on its own: the K·dim component
    * table is what the BUILD-FREE ivf forms (l3c/l3f) also need — they
    * keep their raw-embeddings corpus scan but have no reason to re-run
    * the corpus-wide centroid aggregate per query (the r12 verdict priced
    * that re-derivation at 8.3x DuckDB for l3f at sf25 — the same waste
    * the clustering codebook memo closed for l29–l31). */
  def buildIvfCentroids(spark: SparkSession, sfDir: String): String = {
    import spark.implicits._
    val dir = indexDir(spark, sfDir)
    val fp = sourceFingerprint(sfDir)
    Tables.sink(s"$dir/ivf_centroids") {
      Tables.embeddings(spark, sfDir)
        .select($"label", posexplode($"embedding").as(Seq("pos", "v")))
        .groupBy($"label", $"pos")
        .agg((sum($"v".cast("decimal(20,10)")).cast("double") / count(lit(1))).as("c"))
        .write.mode("overwrite").parquet(s"$dir/ivf_centroids")
    }
    stamp(s"$dir/ivf_centroids", fp)
    dir
  }

  def ensureIvfCentroids(spark: SparkSession, sfDir: String): String = {
    val dir = indexDir(spark, sfDir)
    if (!fresh(s"$dir/ivf_centroids", sourceFingerprint(sfDir)))
      buildIvfCentroids(spark, sfDir)
    else dir
  }

  def ensureIvf(spark: SparkSession, sfDir: String): String = {
    val dir = indexDir(spark, sfDir)
    val fp = sourceFingerprint(sfDir)
    if (!fresh(s"$dir/ivf_centroids", fp) || !fresh(s"$dir/ivf_corpus", fp))
      buildIvf(spark, sfDir)
    else dir
  }

  /** l3f (multi-probe IVF, nProbe=2) served from the index: centroid
    * ranking reads the persisted components (reassembled to arrays so the
    * cosine is the same deterministic sequential fold as the build-free
    * form — bit-equal probe choice), and the corpus side reads ONLY the
    * probed inverted-list directories: the broadcast probe join's dynamic
    * partition pruning skips every other list on disk. */
  def l3fServe(spark: SparkSession, sfDir: String): DataFrame =
    ivfServe(spark, sfDir, nProbe = 2)

  // ------------------------------------------------------------- IVF-PQ

  /** One-time IVF-PQ build: the PQ codebook ([[Similarity.pqTrain]]'s
    * deterministic integer Lloyd — M·K·SUB rows, corpus-size-independent)
    * plus every vector's M subspace codes laid out as list-sharded
    * inverted lists exactly like `ivf_corpus` — so a probe reads nProbe
    * shards of CODE rows (M small ints per vector) and never a float.
    * This is the at-rest form of the l3n composite: FAISS's IVFADC index
    * as parquet directories. Returns the index directory. */
  /** The trained PQ codebook on its own — [[ensureIvfCentroids]]'s idiom
    * applied to [[Similarity.pqTrain]]'s driver state: the M·K·SUB-row
    * codebook is a deterministic function of the corpus (integer Lloyd,
    * bit-identical on any engine), so the declared l3m/l3n queries replay
    * the fingerprint-stamped artifact instead of re-running the training
    * fixpoint per evaluation (the r13 l3f precedent: train once into the
    * index dir, serve hash-exactly; l3l remains the inline training —
    * checking the TRAINING is its whole point). Returns the codebook
    * rows, building + persisting them if the stamp is stale. */
  def ensurePqCodebook(spark: SparkSession, sfDir: String): Seq[(Int, Int, Int, Long)] = {
    import spark.implicits._
    val dir = indexDir(spark, sfDir)
    val fp = sourceFingerprint(sfDir)
    if (!fresh(s"$dir/pq_codebook", fp)) {
      val cent = Similarity.pqTrain(spark, sfDir)
      Tables.sink(s"$dir/pq_codebook") {
        cent.toDF("m", "c", "d", "cent").coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/pq_codebook")
      }
      stamp(s"$dir/pq_codebook", fp)
      cent
    } else
      // ints and longs round-trip parquet exactly; order is immaterial
      // (every consumer broadcasts the set), sorted anyway for
      // deterministic driver state
      Tables.readMemo(spark, s"$dir/pq_codebook")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
        .toSeq.sorted
  }

  def buildIvfPq(spark: SparkSession, sfDir: String): String = {
    import spark.implicits._
    val dir = indexDir(spark, sfDir)
    val fp = sourceFingerprint(sfDir)
    val cent = ensurePqCodebook(spark, sfDir)
    Tables.sink(s"$dir/pq_codes") {
      Similarity.pqAssign(Similarity.pqDims(spark, sfDir), cent)
        .join(Tables.embeddings(spark, sfDir).select($"vec_id", $"label"), Seq("vec_id"))
        .withColumn("pshard", pmod($"label", lit(LIST_SHARDS)))
        .repartition($"pshard")
        .write.mode("overwrite").partitionBy("pshard").parquet(s"$dir/pq_codes")
    }
    stamp(s"$dir/pq_codes", fp)
    dir
  }

  def ensureIvfPq(spark: SparkSession, sfDir: String): String = {
    val dir = indexDir(spark, sfDir)
    val fp = sourceFingerprint(sfDir)
    if (!fresh(s"$dir/pq_codebook", fp) || !fresh(s"$dir/pq_codes", fp))
      buildIvfPq(spark, sfDir)
    else dir
  }

  /** l3n (IVF-PQ composite) served from index artifacts only: the probe
    * ranks the persisted centroid components (bit-equal probe choice, the
    * l3fServe argument), the query vector is a row-group-pruned point
    * lookup against the by-id copy, and the corpus side reads ONLY the
    * probed shards of `pq_codes` via dynamic partition pruning. The
    * query's side of the asymmetric distance collapses to the classic ADC
    * LOOKUP TABLE — per (m, c), the exact BIGINT distance of the query
    * subvector to that centroid (M·K = 64 rows, broadcast) — so scoring a
    * vector is M table hits + a sum, the FAISS serve kernel as a
    * broadcast join + partial agg. Integer addition is order-independent,
    * so regrouping (d-sums inside the table, m-sums in the rollup) is
    * bit-equal to the base l3n's flat sum and the serve row is
    * oracle-checked against l3n's own SQL. */
  def l3nServe(spark: SparkSession, sfDir: String): DataFrame = {
    graft.plans.Native.install(spark)
    import spark.implicits._
    val dir = ensureIvfPq(spark, sfDir)
    val comps = Tables.readMemo(spark, s"${ensureIvf(spark, sfDir)}/ivf_centroids")
    val centroids = comps
      .groupBy($"label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)").as("centroid"))
    val q = Tables.readMemo(spark, ensureVecById(spark, sfDir))
      .filter($"vec_id" === Similarity.PQ_QUERY_ID)
      .select($"embedding".as("q_emb"))
      .withColumn("norm_q", sqrt(expr(dot("q_emb", "q_emb"))))
    val nearest = centroids.crossJoin(broadcast(q))
      .withColumn("cdot", expr(dotD("centroid", "q_emb")))
      .withColumn("cnorm", sqrt(expr(dotD("centroid", "centroid"))))
      .withColumn("csim", $"cdot" / ($"cnorm" * $"norm_q"))
      .orderBy($"csim".desc, $"label")
      .limit(Similarity.IVFPQ_PROBE)
      .select($"label".as("probe_label"), $"q_emb")
      .withColumn("probe_shard", pmod($"probe_label", lit(LIST_SHARDS)))
    // the ADC lookup table: quantize the query's dims with the exact
    // pqDims arithmetic, then per-(m, c) exact BIGINT partial distances
    val qd = Tables.readMemo(spark, ensureVecById(spark, sfDir))
      .filter($"vec_id" === Similarity.PQ_QUERY_ID)
      .select(posexplode($"embedding").as(Seq("pos", "x")))
      .select(
        expr(s"CAST(pos div ${Similarity.PQ_SUB} AS INT)").as("m"),
        expr(s"CAST(pos % ${Similarity.PQ_SUB} AS INT)").as("d"),
        expr(s"CAST(CAST(x AS DOUBLE) * ${Similarity.PQ_SCALE} AS BIGINT)").as("q_qv"))
    val adc = Tables.readMemo(spark, s"$dir/pq_codebook")
      .join(qd, Seq("m", "d"))
      .groupBy($"m", $"c")
      .agg(sum(($"q_qv" - $"cent") * ($"q_qv" - $"cent")).as("pdist"))
    val codes = Tables.readMemo(spark, s"$dir/pq_codes")
    codes.join(broadcast(nearest),
        codes("pshard") === col("probe_shard") && codes("label") === col("probe_label"))
      .filter($"vec_id" =!= Similarity.PQ_QUERY_ID)
      .join(broadcast(adc), Seq("m", "c"))
      .groupBy($"vec_id", $"probe_label")
      .agg(sum($"pdist").as("adc_dist"))
      .select($"vec_id", $"probe_label", $"adc_dist")
      .orderBy($"adc_dist".asc, $"vec_id".asc)
      .limit(10)
  }

  def ivfServe(spark: SparkSession, sfDir: String, nProbe: Int): DataFrame = {
    require(nProbe >= 1, s"nProbe out of range: $nProbe")
    graft.plans.Native.install(spark)
    import spark.implicits._
    val dir = ensureIvf(spark, sfDir)
    val comps = Tables.readMemo(spark, s"$dir/ivf_centroids")
    val centroids = comps
      .groupBy($"label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)").as("centroid"))
    // the query vector arrives with the request in a real serving system;
    // here a point lookup against the by-id copy (row-group pruned)
    val q = Tables.readMemo(spark, ensureVecById(spark, sfDir))
      .filter($"vec_id" === 0)
      .select($"embedding".as("q_emb"))
      .withColumn("norm_q", sqrt(expr(dot("q_emb", "q_emb"))))
    val nearest = centroids.crossJoin(broadcast(q))
      .withColumn("cdot", expr(dotD("centroid", "q_emb")))
      .withColumn("cnorm", sqrt(expr(dotD("centroid", "centroid"))))
      .withColumn("csim", $"cdot" / ($"cnorm" * $"norm_q"))
      .orderBy($"csim".desc, $"label")
      .limit(nProbe)
      .select($"label".as("probe_label"), $"q_emb", $"norm_q")
      // the probed SEGMENT drives dynamic partition pruning; the exact
      // list filter rides on the data column inside the pruned segments
      .withColumn("probe_shard", pmod($"probe_label", lit(LIST_SHARDS)))
    val corpus = Tables.readMemo(spark, s"$dir/ivf_corpus")
    corpus.join(broadcast(nearest),
        corpus("pshard") === col("probe_shard") && corpus("label") === col("probe_label"))
      .filter($"vec_id" =!= 0)
      .withColumn("dot", expr(dot("embedding", "q_emb")))
      .withColumn("norm_a", sqrt(expr(dot("embedding", "embedding"))))
      .select($"vec_id", $"probe_label", ($"dot" / ($"norm_a" * $"norm_q")).as("cosine"))
      .orderBy($"cosine".desc, $"vec_id")
      .limit(10)
  }
}
