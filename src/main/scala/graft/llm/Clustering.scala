package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Stamp, Tables}

/** Embedding-space corpus clustering and cluster-driven curation — the
  * semantic-organization layer of a training-data pipeline (SemDeDup,
  * Abbas et al. 2023; D4, Tirumala et al. 2023; SSL prototypes,
  * Sorscher et al. 2022 "Beyond neural scaling laws"): k-means the
  * document embeddings, profile each cluster against the document
  * metadata, and prune the most-prototypical fraction per cluster (the
  * semantically redundant core that scaling-law work shows contributes
  * least per token).
  *
  * No counterpart in the reference (its `src/` stops at relational ETL);
  * mandated-extension family. All arithmetic follows the l3l integer
  * fixed-point discipline — micro-quantized BIGINT vectors, exact
  * squared distances, truncating centroid means, ties to the lowest
  * cluster id — so training, assignment, distances, and the pruning cut
  * are all bit-identical on any engine/cluster and the DuckDB oracle
  * replays the whole pipeline (Lloyd unrolled as CTEs, the l21 idiom).
  *
  * Plan shape at 100 TB: training is [[KM_ITERS]] passes of (compiled
  * argmin → posexplode → partial-agg rollup) with the codebook as
  * O(K·dim) driver state (the sanctioned fixpoint pattern); final
  * assignment + distance is ONE corpus pass of pure projections — the
  * native `pq_encode` argmin plus the ||q−c||² = q·q − 2·q·c + c·c
  * expansion over the native `dot_i64`, zero exchanges, no per-vector
  * join, no interpreted lambda on the corpus path. Production K is
  * 10k–100k (√N-ish); that scales the broadcast codebook, never the
  * pass count.
  */
object Clustering {

  /** Clusters. Oracle-tractable here (the l3l unrolled-CTE budget);
    * production raises K to 10k–100k, changing only codebook size. */
  val KM_K = 8

  /** Lloyd iterations (the PQ_ITERS unroll-budget argument: enough to
    * exercise assign→update→re-assign, small enough to replay as CTEs;
    * production trains to movement < ε on a sample). */
  val KM_ITERS = 2

  /** Embedding width of the corpus: the k-means subspace width (M = 1)
    * of [[kmeans]] and of the oracle's unrolled Lloyd. */
  val KM_DIM = 64

  /** Fraction of each cluster pruned as most-prototypical by [[l30ClusterPrune]]
    * (D4 drops the cluster cores; 0.25 = 2^-2 is exact in binary, so the
    * `ceil(frac · n)` cut point is engine-stable). */
  val KM_PRUNE_FRAC = 0.25

  import Similarity.{qvec, codebookDf}

  /** The engine's one k-means: integer Lloyd over a `(vec_id, qv:
    * array<bigint>)` frame of micro-quantized vectors ([[Similarity.qvec]]),
    * run per `sub`-wide subspace — product quantization at sub < width,
    * k-means proper at sub = width (M = 1). Deterministic on any engine or
    * cluster, so the DuckDB oracle replays it as unrolled CTEs:
    *  - init: centroid c is the c-th of the first `k` vectors by vec_id;
    *  - assignment: the compiled `pq_encode` argmin (exact BIGINT squared
    *    distance, ties to the lowest centroid id);
    *  - update: trunc(double(sum)/count) per (m, c, d) — sums stay far
    *    under 2^53, so the double division is bit-identical in DuckDB;
    *  - an empty cluster keeps its previous centroid.
    * The codebook (M·K·sub longs, corpus-size-independent) is the
    * loop-carried driver state, re-broadcast as a 1-row literal per
    * iteration, so plan depth stays constant. Per iteration: one
    * projection pass (argmin + posexplode) and one (m, c, d) partial-agg
    * rollup — the only exchange, M·K·sub-bounded after map-side combine.
    * Returns the (m, c, d, cent) rows, sorted. */
  private[graft] def lloyd(vecs: DataFrame, sub: Int, k: Int,
      iters: Int): Seq[(Int, Int, Int, Long)] = {
    val spark = vecs.sparkSession
    graft.plans.Native.install(spark)
    import spark.implicits._
    val qv = vecs.select($"vec_id", $"qv").persist()
    try {
      val init = qv.orderBy($"vec_id").limit(k).collect().map(_.getSeq[Long](1))
      require(init.forall(_.length % sub == 0), s"vector width is not a multiple of sub=$sub")
      var cent = for ((v, c) <- init.toSeq.zipWithIndex; (x, pos) <- v.zipWithIndex)
        yield (pos / sub, c, pos % sub, x)
      for (_ <- 1 to iters) {
        // the encode is the generator's input, so it runs once per vector
        // (as a projection over the exploded rows the optimizer would
        // re-evaluate it per element); each (m, c) row then explodes its
        // own subvector slice — no join back to the dims
        val updated = qv.crossJoin(broadcast(codebookDf(spark, cent)))
          .select(posexplode(expr("pq_encode(qv, cb)")).as(Seq("m", "c")), $"qv")
          .select($"m", $"c", posexplode(expr(s"slice(qv, m * $sub + 1, $sub)")).as(Seq("d", "q")))
          .groupBy($"m", $"c", $"d")
          .agg(expr("CAST(CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) / count(*) AS BIGINT)")
            .as("cent"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(3)).toMap
        cent = cent.map { case (m, c, d, old) =>
          (m, c, d, updated.getOrElse((m, c, d), old))
        }
      }
      cent.sorted
    } finally { qv.unpersist(false); () }
  }

  /** The deterministic training sample of the sized fits: the vectors of
    * an `n`-vector frame whose xxhash64(vec_id) is 0 mod
    * max(1, n / sampleVecs) — about `sampleVecs` of them, the same ids on
    * any engine or partitioning (FAISS trains on ~O(100·K) points, so the
    * fit costs the sample while the encode touches every vector once). */
  private[graft] def hashSample(emb: DataFrame, n: Long, sampleVecs: Long): DataFrame =
    emb.filter(pmod(xxhash64(col("vec_id")), lit(math.max(1L, n / sampleVecs))) === 0)

  /** [[lloyd]] at the clustering defaults over any `(vec_id, embedding)`
    * frame: full width, [[KM_K]] clusters, [[KM_ITERS]] rounds. */
  private[graft] def kmeans(emb: DataFrame, k: Int = KM_K): Seq[(Int, Int, Int, Long)] =
    lloyd(emb.select(col("vec_id"), qvec.as("qv")), KM_DIM, k, KM_ITERS)

  /** Fitted-codebook memo — the AnnIndex.ensure idiom at driver-state
    * scale. A Lloyd fit is DERIVED, deterministic state (integer
    * arithmetic on a fingerprinted source), so it is built once per
    * (source, variant) and reused: an in-JVM memo for the session plus a
    * text artifact in a per-variant directory under the index dir,
    * stamped with the source fingerprint ([[graft.Stamp]]), so a later
    * session skips the fit entirely. Every consumer — the l29–l31 family,
    * r14's frozen codebook, and the PQ codebook l3m/l3n and the IVF-PQ
    * index encode with — replays the one fit instead of re-deriving it
    * per query (BENCHNOTES r11 priced that re-derivation at 2.8–2.9×
    * DuckDB on the profile/prune family). A regenerated fixture
    * invalidates by stamp; a crashed write cannot surface (temp-file +
    * ATOMIC_MOVE publish, and a torn file that lands anyway fails the
    * record-count trailer check and is refit); the stored codebook is the
    * bit-exact fit (longs in text), so no consumer can drift. */
  private val kmMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, Int, Int, Long)]]()

  /** The codebook file of `variant` (its directory carries the stamp). */
  private[graft] def codebookFile(spark: SparkSession, sfDir: String, variant: String) =
    java.nio.file.Paths.get(s"${AnnIndex.indexDir(spark, sfDir)}/codebook_$variant/codebook.tsv")

  private[graft] def ensureCodebook(spark: SparkSession, sfDir: String,
      variant: String)(fit: => Seq[(Int, Int, Int, Long)]): Seq[(Int, Int, Int, Long)] = {
    import java.nio.file.{Files, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val fp = AnnIndex.sourceFingerprint(sfDir)
    kmMemo.computeIfAbsent(s"$sfDir|$variant|$fp", _ => {
      val path = codebookFile(spark, sfDir, variant)
      val dir = path.getParent.toString
      // replayable = stamped from THIS source AND complete: the `# n=`
      // trailer is written LAST and must agree with the row count, so a
      // torn body (fewer centroids, or a final long cut mid-digits that
      // still parses) falls back to a refit instead of replaying into
      // every consumer
      val onDisk =
        if (Stamp.holds(dir, fp) && Files.isRegularFile(path)) {
          val lines = Files.readAllLines(path).asScala.toSeq
          if (lines.lastOption.contains(s"# n=${lines.length - 1}"))
            scala.util.Try(lines.init.map { l =>
              val Array(m, c, d, v) = l.split("\t")
              (m.toInt, c.toInt, d.toInt, v.toLong)
            }).toOption
          else None
        } else None
      onDisk.getOrElse {
        val cent = fit
        Files.createDirectories(path.getParent)
        // stage to a temp sibling and ATOMIC_MOVE into place: a crash
        // mid-write leaves only the temp file, never a half codebook at
        // the validated path (the table log's manifest publish guarantee)
        val tmp = Files.createTempFile(path.getParent, "codebook", ".tmp")
        Files.write(tmp, (cent.map { case (m, c, d, v) => s"$m\t$c\t$d\t$v" } :+
          s"# n=${cent.length}").asJava)
        Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
        Stamp.write(dir, fp)
        cent
      }
    })
  }

  /** Test hook: drop the in-JVM memo (disk artifacts stay and re-validate
    * by stamp). */
  private[graft] def clearCodebookMemo(): Unit = kmMemo.clear()

  /** The l29–l31 family's shared fit: [[kmeans]] over the corpus,
    * memoized via [[ensureCodebook]]. Emitted as (m=0, c, d, cent), so the
    * PQ codebook plumbing ([[Similarity.codebookDf]]) applies as-is. */
  private[graft] def kmTrain(spark: SparkSession, sfDir: String): Seq[(Int, Int, Int, Long)] =
    ensureCodebook(spark, sfDir, "base")(kmeans(Tables.embeddings(spark, sfDir)))

  /** (vec_id, cluster, dist): assignment under a trained codebook plus
    * the EXACT BIGINT squared distance to the assigned centroid, as one
    * pass of pure projections — `pq_encode` picks the cluster, and the
    * distance expands as q·q − 2·q·c + c·c over the native `dot_i64`
    * (integer arithmetic, so the expansion is bit-equal to Σ(q_d−c_d)²
    * under any evaluation order): zero exchanges, no join, nothing
    * interpreted. c·c rides as a K-element plan literal. */
  private[graft] def assignWithDist(emb: DataFrame,
      cent: Seq[(Int, Int, Int, Long)]): DataFrame = {
    import emb.sparkSession.implicits._
    assignFull(emb, cent).select($"vec_id", $"cluster", $"dist")
  }

  /** The assignment pass keeping the quantized vector and its exact
    * self-dot — the frame [[l31SemDedup]]'s pair confirm runs on. */
  private[graft] def assignFull(emb: DataFrame,
      cent: Seq[(Int, Int, Int, Long)]): DataFrame = {
    val spark = emb.sparkSession
    graft.plans.Native.install(spark)
    import spark.implicits._
    val k = cent.map(_._2).max + 1
    val ccs: Seq[Long] = (0 until k).map { c =>
      cent.filter(_._2 == c).map { t => t._4 * t._4 }.sum
    }
    emb.crossJoin(broadcast(codebookDf(spark, cent)))
      .select($"vec_id", qvec.as("qv"), $"cb")
      .withColumn("cluster", expr("element_at(pq_encode(qv, cb), 1)"))
      .withColumn("centv", expr("element_at(element_at(cb, 1), cluster + 1)"))
      .select($"vec_id", $"qv", expr("dot_i64(qv, qv)").as("qq"), $"cluster",
        (expr("dot_i64(qv, qv) - CAST(2 AS BIGINT) * dot_i64(qv, centv)")
          + element_at(typedLit(ccs), $"cluster" + 1)).as("dist"))
  }

  /** L29 [EXT]: k-means document clustering — the full trained
    * assignment (vec_id, cluster, dist) so the ORACLE checks the
    * training itself (Lloyd unrolled as CTEs) plus the exact distance of
    * every vector to its centroid, not just a downstream consumer. */
  def l29KmeansCluster(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    assignWithDist(Tables.embeddings(spark, sfDir), kmTrain(spark, sfDir))
      .orderBy($"vec_id")
  }

  /** L29b [EXT]: cluster profile — the curation dashboard row per
    * cluster: size, language spread, char mass, and total quantization
    * distortion (the k-means objective, exact integer). One co-keyed
    * 8-byte join (vec_id = doc_id; bucketing applies at 100 TB) with the
    * document side pruned to three columns, then a K-bounded rollup. */
  def l29bClusterProfile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val assign = assignWithDist(Tables.embeddings(spark, sfDir), kmTrain(spark, sfDir))
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"lang", $"n_chars")
    assign.join(docs, assign("vec_id") === docs("doc_id"))
      .groupBy($"cluster")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"lang").as("n_langs"),
        sum($"n_chars").cast("long").as("sum_chars"),
        sum($"dist").cast("long").as("sum_dist"))
      .orderBy($"cluster")
  }

  /** L30 [EXT]: prototype-based cluster pruning (D4 / SSL-prototypes):
    * within each cluster rank by distance-to-centroid ascending (most
    * prototypical first, ties to the lowest vec_id) and drop the first
    * ceil([[KM_PRUNE_FRAC]] · n) — the semantically redundant core —
    * keeping the informative remainder with its rank as provenance.
    * One exchange keyed by cluster for the two same-partition window
    * functions. At the demonstration K=8 the window partitions are
    * coarse; production K (10k–100k) makes them ~N/K-sized and balanced
    * — same plan, and the cut is then also computable as a broadcast
    * per-cluster distance threshold if a cluster ever outgrows a
    * partition. */
  def l30ClusterPrune(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val byCluster = Window.partitionBy($"cluster")
    assignWithDist(Tables.embeddings(spark, sfDir), kmTrain(spark, sfDir))
      .withColumn("rk", row_number().over(byCluster.orderBy($"dist".asc, $"vec_id".asc)))
      .withColumn("cnt", count(lit(1)).over(byCluster))
      .filter($"rk".cast("long") > ceil(lit(KM_PRUNE_FRAC) * $"cnt").cast("long"))
      .select($"vec_id", $"cluster", $"dist", $"rk")
      .orderBy($"vec_id")
  }

  /** Docs kept per cluster by [[l30bBalancedSample]]. */
  val KM_SAMPLE_PER_CLUSTER = 32

  /** L30b [EXT]: cluster-balanced sampling — up to
    * [[KM_SAMPLE_PER_CLUSTER]] docs per cluster, chosen by a
    * deterministic md5-derived key (the l28 Gumbel idiom without the
    * weight term = a uniform draw), so the sample covers every semantic
    * region instead of mirroring the corpus' cluster-size skew — the
    * diversity-balanced eval/seed-set draw of cluster-curation pipelines
    * (D4 §3 samples per-cluster, not globally). Engine-portable and
    * replayable: the key is a 20-bit md5 hex fold of the doc id, ranks
    * break ties on vec_id, and the per-cluster cut is a plain rank
    * threshold — one cluster-keyed window exchange, same scale posture
    * as [[l30ClusterPrune]]. */
  def l30bBalancedSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val key = expr(
      "CAST(conv(substr(md5(concat('s#', CAST(vec_id AS STRING))), 1, 5), 16, 10) AS BIGINT)")
    assignWithDist(Tables.embeddings(spark, sfDir), kmTrain(spark, sfDir))
      .withColumn("smp_key", key)
      .withColumn("smp_rk", row_number().over(
        Window.partitionBy($"cluster").orderBy($"smp_key".asc, $"vec_id".asc)))
      .filter($"smp_rk" <= KM_SAMPLE_PER_CLUSTER)
      .select($"vec_id", $"cluster", $"smp_rk")
      .orderBy($"vec_id")
  }

  /** Cosine threshold for [[l31SemDedup]] (matches l3h's regime on the
    * near-isotropic fixture so the screen is non-vacuous). */
  val SEMDEDUP_TAU = 0.3

  /** L31 [EXT]: SemDeDup proper (Abbas et al. 2023 §3) — semantic
    * near-dup pruning with the paper's OWN candidate structure: pairwise
    * exact cosine WITHIN each k-means cluster (l3h is the LSH-bucketed
    * sibling; here the cluster is the bucket, which is what makes the
    * all-pairs screen tractable — O(Σ n_c²) ≈ N²/K, bounded by
    * production K = 10k–100k). A doc is dropped when a LESS prototypical
    * keep-candidate is semantically equal: ∃ y in the same cluster with
    * cos(x,y) ≥ τ and y FARTHER from the centroid (the paper keeps the
    * LOWEST-centroid-similarity member of each duplicate group; ties to
    * the lowest vec_id).
    *
    * Exactness: the dot products are the native `dot_i64` over the
    * micro-quantized BIGINT vectors — exact integers < 2^53, so their
    * DOUBLE images are identical on any engine under any order — and the
    * threshold compare is the single canonical expression
    * `dot ≥ τ·sqrt(qq_x)·sqrt(qq_y)` (same literal, same association)
    * on both sides, so the decision replays bit-identically in DuckDB.
    * Plan: one cluster-keyed self-join (pair volume cluster-bounded,
    * never corpus-quadratic) feeding a LEFT SEMI existence probe, then
    * one vec_id-keyed flag join — the vectors ride only the pair join,
    * never a corpus-wide exchange beyond their cluster. */
  def l31SemDedup(spark: SparkSession, sfDir: String): DataFrame =
    semDedupFrom(assignFull(Tables.embeddings(spark, sfDir), kmTrain(spark, sfDir)))

  /** The SemDeDup drop rule over any [[assignFull]]-shaped frame —
    * the pair generator (which clustering fed it) is the parameter,
    * mirroring [[Similarity.neardupKeepList]]'s factoring. */
  private[graft] def semDedupFrom(a: DataFrame): DataFrame = {
    import a.sparkSession.implicits._
    val x = a.select($"vec_id", $"cluster", $"dist", $"qv", $"qq")
    val y = a.select($"vec_id".as("y_id"), $"cluster".as("y_cluster"),
      $"dist".as("y_dist"), $"qv".as("y_qv"), $"qq".as("y_qq"))
    val dropped = x.join(y,
        $"cluster" === $"y_cluster" &&
          ($"y_dist" > $"dist" || ($"y_dist" === $"dist" && $"y_id" < $"vec_id")) &&
          expr("CAST(dot_i64(qv, y_qv) AS DOUBLE)") >=
            lit(SEMDEDUP_TAU) * sqrt($"qq".cast("double")) * sqrt($"y_qq".cast("double")),
        "left_semi")
      .select($"vec_id", lit(true).as("isdrop"))
    a.select($"vec_id", $"cluster", $"dist")
      .join(dropped, Seq("vec_id"), "left_outer")
      .select($"vec_id", $"cluster", $"dist", $"isdrop".isNull.as("keep"))
      .orderBy($"vec_id")
  }

  /** Target cluster population for [[l31Sized]]: K = N/this — the
    * SemDeDup paper's tractability knob (50k clusters for LAION): pair
    * volume per cluster stays ~this², independent of corpus size. */
  val KM_TARGET_CLUSTER = 512L

  /** [[kmeans]] at width `k` on the [[hashSample]] of the `n`-vector
    * corpus, memoized per (k, sample size). The codebook is O(K·dim)
    * driver state (~0.5 MB at K=1024); each iteration touches the SAMPLE
    * only. */
  private[graft] def kmTrainSized(spark: SparkSession, sfDir: String, n: Long, k: Int,
      sampleVecs: Long = Similarity.PQ_TRAIN_VECS): Seq[(Int, Int, Int, Long)] =
    ensureCodebook(spark, sfDir, s"sized_k${k}_s$sampleVecs")(
      kmeans(hashSample(Tables.embeddings(spark, sfDir), n, sampleVecs), k))

  /** L31 at the production cluster count (BenchHeavy's `l31_sized`):
    * K = max(8, N/[[KM_TARGET_CLUSTER]]) clusters from a sampled Lloyd
    * fit, then the same drop rule. The knob is THE SemDeDup scale lever:
    * within-cluster pair volume is Σ n_c² ≈ N·[[KM_TARGET_CLUSTER]],
    * LINEAR in the corpus at fixed target population — vs the
    * demonstration K=8's corpus-quadratic N²/8. Parameterization of
    * l31's oracle-checked semantics (the l3e_sized precedent). */
  def l31Sized(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val k = math.max(KM_K, (n / KM_TARGET_CLUSTER).toInt)
    semDedupFrom(assignFull(emb, kmTrainSized(spark, sfDir, n, k)))
  }
}
