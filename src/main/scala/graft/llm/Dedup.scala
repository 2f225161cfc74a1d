package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Deduplication family for LLM training-data pipelines (SURVEY.md §2.10):
  * exact, MinHash, MinHash+LSH banding, SimHash, n-gram Jaccard.
  *
  * Scale design: everything is hash -> shuffle-by-signature -> window/join;
  * no all-pairs stage ever materializes. Candidate pairs come only from
  * shared LSH buckets / shared shingles, so cost is bounded by collision
  * volume, not n². Hashes are md5-based (codegen'd built-in) so signatures
  * are engine-independent and the DuckDB oracle can replay them exactly.
  *
  * Algorithms follow the standard literature: MinHash resemblance
  * (Broder, "On the resemblance and containment of documents", 1997) with
  * the banding scheme of Leskovec/Rajaraman/Ullman (Mining of Massive
  * Datasets ch. 3); SimHash (Charikar, "Similarity estimation techniques
  * from rounding algorithms", STOC 2002) as deployed for web-scale dedup
  * (Manku et al., WWW 2007).
  */
object Dedup {

  /** Words of the normalized document. Fixture text is already
    * lower-cased word soup; normalization kept explicit for real corpora. */
  private def wordsCol: Column = split(col("text"), " ")

  /** Distinct word 5-gram shingles (k=5 per SURVEY §7.4). */
  private[graft] val SHINGLE_K = 5
  private def shinglesExpr: Column = expr(
    s"array_distinct(transform(sequence(1, size(words) - ${SHINGLE_K - 1}), " +
      s"i -> array_join(slice(words, i, $SHINGLE_K), ' ')))")

  /** MinHash constants — delegating to [[graft.plans.MinHashSigs]], the
    * native expression that computes the signatures (one md5p48 per
    * shingle, then H cheap LCG variants). Kept here because the oracle
    * SQL builder ([[graft.SparkEntry]]) mirrors them by these names. */
  val P: Long = graft.plans.MinHashSigs.P
  def lcgA(h: Int): Long = graft.plans.MinHashSigs.lcgA(h)
  def lcgB(h: Int): Long = graft.plans.MinHashSigs.lcgB(h)

  /** (doc_id, sigs[numHashes]) — every MinHash signature in ONE native
    * pass over the text bytes (plans.MinHashSigs): no shingle array, no
    * per-signature interpreted `transform` lambda. Bit-equal to
    * array_min(transform(hs, h -> LCG)) over the md5p48 hash array the
    * previous form materialized. Empty sigs == fewer than SHINGLE_K
    * words — the size filter the array form needed. */
  private def withMinhashSigs(docs: DataFrame, numHashes: Int): DataFrame = {
    graft.plans.Native.install(docs.sparkSession)
    // The short-doc gate tests the CHEAP equivalent predicate (word count
    // >= k ⟺ non-empty sigs), not size(sigs) > 0: a filter on the computed
    // column sits below the projection after pushdown and would re-run the
    // whole digest+LCG pass a second time per row just to test emptiness.
    docs
      .filter(size(split(col("text"), " ")) >= SHINGLE_K)
      .withColumn("sigs", expr(s"minhash_sigs(text, $SHINGLE_K, $numHashes)"))
  }

  /** Shingle STRINGS exploded per doc — the independent re-derivation
    * path specs use to cross-check the hashed production forms (a hash
    * bug upstream cannot hide behind the same hash downstream). */
  private[graft] def shingleStrings(docs: DataFrame): DataFrame =
    docs
      .withColumn("words", wordsCol)
      .filter(size(col("words")) >= SHINGLE_K)
      .withColumn("shingles", shinglesExpr)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))

  /** L1: exact dedup — content-hash the text, keep the smallest doc_id as
    * representative. One shuffle on the 32-byte hash, never on the text. */
  def l1ExactDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .withColumn("text_hash", md5($"text"))
      .groupBy($"text_hash")
      .agg(min($"doc_id").as("rep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy($"rep_doc_id")
  }

  /** L1 production variant: the shuffle key is `xxhash64` of the text —
    * 8 bytes and ~20x the digest throughput of md5 — and the hash never
    * appears in the output, so the oracle groups by the TEXT itself
    * (plain SQL) and equality doubles as the per-run collision check
    * (the l2d_xxh argument applied to exact dedup). md5-keyed [[
    * l1ExactDedup]] stays as the hash-visible anchor. */
  def l1ExactDedupXx(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .withColumn("th", xxhash64($"text"))
      .groupBy($"th")
      .agg(min($"doc_id").as("rep_doc_id"), count(lit(1)).as("n_copies"))
      .select($"rep_doc_id", $"n_copies")
      .orderBy($"rep_doc_id")
  }

  /** L2: MinHash near-dup clustering. H=8 signatures as one band: docs
    * agreeing on the full signature cluster together (rep = min doc_id). */
  def l2MinhashDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val H = 8
    val sigs = (0 until H).map(h => col("sigs").getItem(h).as(s"sig$h"))
    val signed = withMinhashSigs(Tables.documents(spark, sfDir), H)
      .select($"doc_id" +: sigs: _*)
    val w = Window.partitionBy((0 until H).map(h => col(s"sig$h")): _*)
    signed
      .withColumn("cluster_id", min($"doc_id").over(w))
      .select($"doc_id", $"cluster_id", ($"doc_id" =!= $"cluster_id").as("is_dup"))
      .orderBy($"doc_id")
  }

  /** Default LSH width: 16 hashes in 4 bands of 4 rows. The band collision
    * probability at Jaccard s is 1-(1-s^r)^b (r = hashes/bands), so 16/4
    * puts the S-curve knee near the fixture's ~0.5 similarity. At 100 TB
    * with dedup-grade 0.8+ thresholds use numHashes=128, bands=16 (r=8):
    * signature cost stays linear in numHashes and the sharper curve keeps
    * the candidate volume collision-bound, not n². */
  val DEFAULT_MINHASHES = 16
  val DEFAULT_BANDS = 4

  /** L2b: MinHash + LSH banding; candidate pairs share >= 1 band key. The
    * self-join keys on (band, band_key): shuffle is by bucket, pair volume
    * is collision-bound. */
  def l2bLshCandidates(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    lshCandidatePairs(spark, sfDir).orderBy($"doc_a", $"doc_b")
  }

  /** Unsorted candidate pairs — the internal form (no presentation sort)
    * that downstream consumers like connected components build on. */
  private[llm] def lshCandidatePairs(spark: SparkSession, sfDir: String): DataFrame =
    lshCandidatePairs(Tables.documents(spark, sfDir), DEFAULT_MINHASHES, DEFAULT_BANDS)

  /** LSH banding over any `(doc_id, text)` frame with configurable width
    * (see [[DEFAULT_MINHASHES]] for how to choose numHashes/bands). */
  def lshCandidatePairs(docs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = numHashes / bands
    val signed = withMinhashSigs(docs, numHashes)
      .select(col("doc_id") +:
        (0 until numHashes).map(h => col("sigs").getItem(h).as(s"sig$h")): _*)
    val bandKeys = (0 until bands).map { b =>
      val parts = (0 until rows).map(r => col(s"sig${b * rows + r}"))
      struct(lit(b).as("band"), md5(concat_ws("|", parts: _*)).as("band_key"))
    }
    val exploded = signed
      .select($"doc_id", explode(array(bandKeys: _*)).as("bk"))
      .select($"doc_id", $"bk.band".as("band"), $"bk.band_key".as("band_key"))
    // Self-join as sort-merge: the two sides shuffle on the same key, so
    // Catalyst reuses one exchange — the signature pipeline (md5 + LCG
    // folds) runs ONCE. A broadcast join here would recompute it per side.
    val a = exploded.as("a"); val b = exploded.hint("merge").as("b")
    a.join(b,
        $"a.band" === $"b.band" && $"a.band_key" === $"b.band_key" &&
          $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** L2e: connected components over the LSH candidate graph — the
    * transitive-closure step real fuzzy dedup needs (A~B and B~C cluster
    * A,B,C even when A,C share no band). Iterative min-label propagation:
    * each round every vertex takes the min label among itself and its
    * neighbors; fixpoint in O(component diameter) rounds. The driver only
    * coordinates rounds (Pregel-style) — all data movement is joins.
    * Near-dup components are small and dense, so min-label is the right
    * default here; for high-diameter graphs [[connectedComponents]] takes
    * `algorithm = "star"` (O(log n) alternating star contraction).
    * Deterministic: the fixpoint (min doc_id per component) is unique. */
  def l2eConnectedComponents(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = lshCandidatePairs(spark, sfDir).select($"doc_a", $"doc_b")
    // the vertex set is "docs with >= SHINGLE_K words" — filter on the
    // word count directly so Catalyst prunes every hash column; going via
    // withMinhashSigs(_, 1) would force a full digest pass just to test
    // size(sigs) > 0
    val vertices = Tables.documents(spark, sfDir)
      .filter(size(wordsCol) >= SHINGLE_K).select($"doc_id")
    // honor a configured reliable checkpoint dir (cluster deployments);
    // default to executor-local checkpoints (fast, fine on local[n])
    val ckptDir = Option(spark.conf.get("spark.graft.checkpointDir", null))
    connectedComponents(vertices, pairs, ckptDir).orderBy($"doc_id")
  }

  /** The reusable propagation loop: `vertices(doc_id)`, undirected
    * `pairs(doc_a, doc_b)` -> `(doc_id, component)` with component =
    * min doc_id of the connected component. */
  def connectedComponents(vertices: DataFrame, pairs: DataFrame): DataFrame =
    connectedComponents(vertices, pairs, checkpointDir = None)

  /** `checkpointDir` selects the lineage-truncation strategy. None →
    * `localCheckpoint`: blocks live on executors — fastest, but on a real
    * cluster LOSING ONE EXECUTOR KILLS THE JOB mid-iteration, because the
    * truncated lineage cannot be recomputed. Some(dir) → reliable
    * `checkpoint()` into dir (HDFS/object store on a cluster): each round's
    * state survives executor loss and the loop resumes from the last
    * completed round. At 100 TB always pass a reliable dir (or set
    * `spark.graft.checkpointDir`, which [[l2eConnectedComponents]] honors).
    * Round N-1's checkpoint data is deleted as soon as round N
    * materializes, so the dir holds at most the edge list plus two rounds
    * of state (the final round's files stay — the returned frame reads
    * them lazily). NOTE:
    * the reliable path calls `SparkContext.setCheckpointDir` (global,
    * session-wide state) — concurrent jobs relying on a different
    * checkpoint dir should not run while this loop is active.
    *
    * `algorithm`: `"min-label"` (default) — each round every vertex takes
    * the min label among itself and its neighbors; O(diameter) rounds,
    * each a join against the FULL edge list. Right choice for near-dup
    * graphs, whose components are small and dense (diameter ~2-3).
    * `"star"` — alternating large-star/small-star contraction (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC 2014):
    * O(log n) rounds regardless of diameter, and the edge list itself
    * contracts toward one star per component as rounds proceed. Right
    * choice for high-diameter or high-degree graphs (template spam,
    * boilerplate chains). */
  def connectedComponents(vertices: DataFrame, pairs: DataFrame,
                          checkpointDir: Option[String],
                          algorithm: String = "min-label"): DataFrame =
    algorithm match {
      case "min-label" => minLabelCC(vertices, pairs, checkpointDir)._1
      case "star" => starCC(vertices, pairs, checkpointDir)._1
      case other => throw new IllegalArgumentException(
        s"unknown algorithm '$other' (expected 'min-label' or 'star')")
    }

  /** Per-round lineage truncation with bounded checkpoint storage: each
    * round checkpoints into `<dir>/<tag>-<round>` and the caller drops
    * round N-1 once round N is on disk. */
  private final class Truncator(spark: SparkSession, dir: Option[String]) {
    def apply(df: DataFrame, tag: String): DataFrame = dir match {
      case Some(d) =>
        spark.sparkContext.setCheckpointDir(s"$d/$tag")
        df.checkpoint() // eager: materialized before we drop older rounds
      case None => df.localCheckpoint()
    }
    def drop(tag: String): Unit = dir.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(s"$d/$tag")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true); ()
    }
  }

  /** Min-label propagation; returns (labels, rounds). */
  private[graft] def minLabelCC(vertices: DataFrame, pairs: DataFrame,
      checkpointDir: Option[String]): (DataFrame, Int) = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val truncate = new Truncator(spark, checkpointDir)
    // materialize the edge list once — every propagation round joins it,
    // and without this the upstream candidate pipeline would re-execute
    // per round
    val edges = truncate(
      pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
        .union(pairs.select($"doc_b".as("src"), $"doc_a".as("dst"))), "edges")
    var labels = truncate(vertices.withColumn("label", $"doc_id"), "labels-0")
    var changed = 1L
    var round = 0
    while (changed > 0) {
      round += 1
      val nbrMin = edges.join(labels, $"src" === $"doc_id")
        .groupBy($"dst").agg(min($"label").as("nbr_min"))
      // the convergence test rides the round's own truncation job as an
      // observed metric (the cdfApply r18 probe fold) instead of a
      // separate per-round count job. Only ever tested against ZERO, so
      // it stays correct even where a truncation strategy materializes
      // the plan more than once (reliable RDD checkpoints recompute).
      val observed = labels
        .join(nbrMin, $"doc_id" === $"dst", "left_outer")
        .select($"doc_id",
          least($"label", coalesce($"nbr_min", $"label")).as("new_label"),
          ($"label" > coalesce($"nbr_min", $"label")).as("was_lowered"))
        .observe("__cc_round", count(when($"was_lowered", 1)).as("__lowered"))
      val updated = truncate(observed, s"labels-$round")
      truncate.drop(s"labels-${round - 1}")
      changed = observed.queryExecution.observedMetrics("__cc_round")
        .getAs[Long]("__lowered")
      labels = updated.select($"doc_id", $"new_label".as("label"))
    }
    // edges are no longer referenced (the final labels frame reads only
    // its own checkpoint); the last labels round must NOT be dropped —
    // the returned frame is lazily backed by those files
    truncate.drop("edges")
    (labels.select($"doc_id", $"label".as("component")), round)
  }

  /** Alternating large-star/small-star contraction; returns (labels,
    * rounds). Each round: large-star hangs every vertex's larger
    * neighbors off its local minimum, small-star re-hangs the smaller
    * neighbors — components contract to stars rooted at their global min
    * in O(log n) rounds, independent of diameter. All data movement is
    * (groupBy + join) on the current edge set, which only shrinks. */
  private[graft] def starCC(vertices: DataFrame, pairs: DataFrame,
      checkpointDir: Option[String]): (DataFrame, Int) = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val truncate = new Truncator(spark, checkpointDir)
    // canonical undirected edges a < b
    var edges = truncate(pairs
      .select(least($"doc_a", $"doc_b").as("a"), greatest($"doc_a", $"doc_b").as("b"))
      .filter($"a" =!= $"b").distinct(), "star-0")
    var edgeCount = edges.count()
    var changed = 1L
    var round = 0
    while (changed > 0) {
      round += 1
      // large-star: for every u, hang neighbors v > u off m = min(Γ(u) ∪ u)
      val nbrs = edges.select($"a".as("u"), $"b".as("v"))
        .union(edges.select($"b".as("u"), $"a".as("v")))
      val mins = nbrs.groupBy($"u")
        .agg(least(min($"v"), first($"u")).as("m"))
      val ls = nbrs.join(mins, "u").filter($"v" > $"u")
        .select($"m".as("a"), $"v".as("b")) // m <= u < v: already canonical
        .distinct()
      // small-star: group by the larger endpoint b, re-hang its smaller
      // neighbors (and b itself) off their minimum
      val sMins = ls.groupBy($"b").agg(min($"a").as("m"))
      val withM = ls.join(sMins, "b")
      val ss = withM.filter($"a" =!= $"m").select($"m".as("a"), $"a".as("b"))
        .union(withM.select($"m".as("a"), $"b"))
        .distinct()
      val newEdges = truncate(ss, s"star-$round")
      // fixpoint when the canonical edge set is unchanged (both are
      // distinct sets: equal counts + empty one-way difference). The
      // comparison READS the previous round's checkpoint, so the drop
      // must come after it — and the old count is carried forward rather
      // than recomputed with a per-round full-scan job.
      val newCount = newEdges.count()
      changed =
        if (newCount != edgeCount) 1L
        else newEdges.except(edges).count()
      truncate.drop(s"star-${round - 1}")
      edges = newEdges
      edgeCount = newCount
    }
    // at the fixpoint every component is a star rooted at its minimum
    val labels = vertices
      .join(edges.select($"b".as("doc_id"), $"a".as("component")),
        Seq("doc_id"), "left_outer")
      .select($"doc_id", coalesce($"component", $"doc_id").as("component"))
    (labels, round)
  }

  /** L2f [EXT]: n-gram decontamination — the benchmark-overlap scan every
    * training corpus runs before release: flag corpus documents sharing
    * ANY 5-gram shingle with a benchmark/seed set (stand-in here: docs
    * with doc_id < 50). The benchmark's shingle-hash set broadcasts (it is
    * small by construction); the corpus side joins on the hash with no
    * shuffle before the per-doc count — one corpus scan regardless of
    * benchmark count, the l3d decontamination shape applied to text.
    *
    * Shingles come from the native one-pass expression
    * ([[graft.plans.ShingleHashes]]): no shingle string, no word array
    * re-slice, no lambda anywhere; each hash is computed off the parent
    * string's bytes inside whole-stage codegen and arrives pre-deduped per
    * doc, so the aggregate is a plain count (hash-distinct semantics: a
    * 64-bit collision would merge two shingles, checked per run by the
    * md5 oracle). This is the endpoint of the shingle-cost ladder
    * BENCHNOTES_HEAVY records: building shingle strings in an interpreted
    * `transform` lambda cost ~11s at sf5 and hashing inside the lambda
    * ~25s, against ~0.7s for positions exploded and hashed post-explode
    * and ~0.6s here. */
  def l2fDecontamGen(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.plans.Native.install(spark)
    val docs = Tables.documents(spark, sfDir)
    def exploded(d: DataFrame): DataFrame = d.select($"doc_id",
      explode(expr(s"shingle_hashes(text, $SHINGLE_K, 'xxh64')")).as("sh"))
    val bench = exploded(docs.filter($"doc_id" < 50)).select($"sh").distinct()
    val corpus = exploded(docs.filter($"doc_id" >= 50))
    corpus.join(broadcast(bench), "sh")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy($"doc_id")
  }

  /** Bloom sizing for [[l27BloomDecontam]]: ~8 bits per expected benchmark
    * span (fpp ≈ 2%). In production these are sized from the train-side
    * distinct count (items = |train spans|, bits ≈ 10×items for 1%); the
    * sketch stays bits/8 bytes — 8 KB here, a few GB for a trillion-span
    * benchmark suite — regardless of corpus size, which is the whole
    * point: the exact train-span SET may be too large to broadcast, the
    * Bloom never is. */
  private[graft] val BLOOM_ITEMS = 8192L
  private[graft] val BLOOM_BITS = 65536L

  /** L27 [EXT]: Bloom-prefiltered decontamination — the two-phase
    * membership screen for when the benchmark span set is too large to
    * broadcast exactly: build Spark's own Bloom sketch over the benchmark
    * spans ([[graft.plans.BloomFunctions]] exposes
    * `aggregate.BloomFilterAggregate` / `BloomFilterMightContain`, the
    * InjectRuntimeFilter machinery, as explicit functions), broadcast the
    * fixed-size sketch, and drop every corpus span the probe rejects
    * BEFORE the exact-confirm join's exchange. False positives survive the
    * prefilter but die in the exact join, so the result is exactly
    * [[l2fDecontamGen]]'s (same oracle) at any fpp — the Bloom buys plan
    * shape, not different semantics. At 100 TB the corpus-side exchange
    * shrinks from every span to (matches + fpp·non-matches): with ~1% fpp
    * and sparse contamination that is a ~50-100x shuffle cut, and the
    * exact side joins shuffle-to-shuffle (merge hint — the regime where
    * the train set does NOT fit in a broadcast; BloomDecontamSpec measures
    * the pruned exchange on the fixture). */
  def l27BloomDecontam(spark: SparkSession, sfDir: String): DataFrame = {
    graft.plans.Native.install(spark)
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    def exploded(d: DataFrame): DataFrame = d.select($"doc_id",
      explode(expr(s"shingle_hashes(text, $SHINGLE_K, 'xxh64')")).as("sh"))
    val bench = exploded(docs.filter($"doc_id" < 50)).select($"sh").distinct()
    // the sketch is bits/8 bytes whatever the corpus size — collected once
    // and embedded as a plan constant (BloomFilterMightContain requires a
    // constant/scalar-subquery sketch; the PQ-codebook idiom: fixed-size
    // learned state rides the plan, corpus-sized state never does)
    val sketch: Array[Byte] = bench
      .agg(expr(s"graft_bloom_agg(sh, ${BLOOM_ITEMS}L, ${BLOOM_BITS}L)").as("bf"))
      .head.getAs[Array[Byte]]("bf")
    val corpus = exploded(docs.filter($"doc_id" >= 50))
    corpus
      .filter(call_function("graft_might_contain", lit(sketch), $"sh"))
      .select($"doc_id", $"sh")
      .join(bench.hint("merge"), "sh")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy($"doc_id")
  }

  /** L2f on the native one-pass expression with md5p48 keys — the suite's
    * oracle ANCHOR: it hashes the identical md5 prefixes the DuckDB oracle
    * computes, and both sides deduplicate on that same 48-bit key, so
    * equality holds with NO collision caveat at all (a colliding pair
    * merges identically in both engines). Same plan shape and speed tier
    * as [[l2fDecontamGen]]; only the digest differs (md5 vs xxh64, ~2x
    * digest cost, both inside whole-stage codegen). */
  def l2fDecontamMd5(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.plans.Native.install(spark)
    val docs = Tables.documents(spark, sfDir)
    def exploded(d: DataFrame): DataFrame = d.select($"doc_id",
      explode(expr(s"shingle_hashes(text, $SHINGLE_K, 'md5p48')")).as("sh"))
    val bench = exploded(docs.filter($"doc_id" < 50)).select($"sh").distinct()
    val corpus = exploded(docs.filter($"doc_id" >= 50))
    corpus.join(broadcast(bench), "sh")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy($"doc_id")
  }

  /** L2c: SimHash — 16-bit signature; per bit, every word votes ±1 by a
    * bit of its md5 digest, weighted by term frequency. Pure per-row
    * projection, no shuffle until the final cluster window. */
  /** (doc_id, simhash) for every doc — the shared signature frame l2c
    * clusters on, l2g screens against, and R9 streams through (the
    * projection is stateless, so it runs unchanged on a streaming frame).
    *
    * One native codegen'd expression ([[graft.plans.SimHashSig]]): ONE
    * md5 per word, all 16 bit-votes from that digest's nibbles. The form
    * it replaced — 16 per-bit `aggregate(words, ...)` higher-order folds,
    * each digesting `md5(w || '#bit')` — evaluated the lambda interpreted
    * (the repo's measured lambda tax) and cost SIXTEEN digests per word;
    * measured symptom: r9 streamed at 6k rows/s vs r8's 419k on the same
    * tier (BENCHNOTES_HEAVY round 6). */
  private[graft] val SIMHASH_BITS = 16

  private[graft] def simhashed(docs: DataFrame): DataFrame = {
    graft.plans.Native.install(docs.sparkSession)
    docs.select(col("doc_id"),
      expr(s"simhash_sig(text, $SIMHASH_BITS)").as("simhash"))
  }

  def l2cSimhash(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"simhash")
    simhashed(Tables.documents(spark, sfDir))
      .withColumn("cluster_id", min($"doc_id").over(w))
      .select($"doc_id", $"simhash", $"cluster_id")
      .orderBy($"doc_id")
  }

  /** L2g [EXT]: incremental near-dup screening — the nightly-ingest form
    * of fuzzy dedup: flag NEW documents (the newest ~20% by doc_id; the
    * cutoff is computed from the data so the split exists at every SF)
    * whose 16-bit SimHash signature collides with the established corpus
    * or with an earlier batch document.
    *
    * Scale: the corpus reduces to its DISTINCT signature set, bounded by
    * 2^16 REGARDLESS of corpus size — it broadcasts at any scale, so
    * screening costs one batch-side scan plus a map-side join; a real
    * deployment maintains that signature index incrementally and never
    * rescans the corpus (here the one-time reduction is part of the
    * query). Batch-internal firsts are a window over the signature
    * (state: one min per signature; ≤ 2^16 groups). */
  def l2gIncrementalSimhash(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sh = simhashed(Tables.documents(spark, sfDir))
    // integer floor division (DIV / DuckDB //) on BOTH sides: `/` yields
    // DOUBLE and Spark's cast truncates while DuckDB's rounds, so the
    // engines would disagree whenever max(doc_id) mod 5 is 1 or 2
    val cut = broadcast(sh.agg(expr("max(doc_id) * 4 DIV 5").as("cutoff")))
    val withCut = sh.crossJoin(cut)
    val corpus = withCut.filter($"doc_id" < $"cutoff")
      .select($"simhash").distinct().withColumn("in_corpus", lit(true))
    val batch = withCut.filter($"doc_id" >= $"cutoff").select($"doc_id", $"simhash")
    val w = Window.partitionBy($"simhash")
    batch
      .withColumn("first_id", min($"doc_id").over(w))
      .join(broadcast(corpus), Seq("simhash"), "left_outer")
      .select($"doc_id", $"simhash",
        coalesce($"in_corpus", lit(false)).as("corpus_dup"),
        ($"doc_id" =!= $"first_id").as("batch_dup"),
        ($"in_corpus".isNull && $"doc_id" === $"first_id").as("keep"))
      .orderBy($"doc_id")
  }

  /** L2d: n-gram Jaccard over candidate pairs that share >= 1 shingle.
    * Joins on the 48-bit shingle hash, not the string — an 8-byte shuffle
    * key instead of ~25-byte text. Exact set arithmetic (longs) so the
    * similarity is deterministic. */
  def l2dNgramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    ngramJaccardBy(spark, sfDir, "md5p48")

  /** L2d on `xxhash64` shingle keys instead of md5: the 64-bit key is
    * just as collision-sparse, so the pair set — and therefore every
    * output row — is identical (the hash never leaves the plan). Measured at the sf5 heavy tier the
    * end-to-end time matches l2d's (BENCHNOTES_HEAVY) — the native
    * [[graft.plans.Md5Prefix48]] already removed the digest from the
    * critical path and the self-join pair volume dominates. The variant
    * earns its place anyway: it proves the hash seam is swappable, and
    * its oracle check runs against l2d's md5-keyed SQL, so result
    * equality is a per-run machine check that xxhash64 introduced no
    * colliding shingle. */
  def l2dNgramJaccardXx(spark: SparkSession, sfDir: String): DataFrame =
    ngramJaccardBy(spark, sfDir, "xxh64")

  /** Native exploded (doc_id, n_sh, sh) form: one-pass distinct shingle
    * hashes off the text bytes (plans.ShingleHashes), no lambda, no
    * shingle string. n_sh counts distinct HASHES (vs the transform form's
    * distinct strings) — identical modulo within-doc collisions, which the
    * md5-anchored oracles check per run. */
  private def explodedShingleHashesNative(docs: DataFrame, algo: String): DataFrame = {
    graft.plans.Native.install(docs.sparkSession)
    // No size(hs) > 0 pre-filter: explode already drops empty arrays, and
    // an explicit filter is NOT free — Catalyst pushes it into the scan's
    // DataFilters and keeps the FilterExec, so the (expensive) shingle
    // expression would run up to three times per row (scan filter, Filter,
    // Project) with no cross-operator CSE to merge them.
    docs
      .withColumn("hs", expr(s"shingle_hashes(text, $SHINGLE_K, '$algo')"))
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_sh"),
        explode(col("hs")).as("sh"))
  }

  /** L14 [EXT]: frequent-span screen — the n-gram form of exact-substring
    * deduplication (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): find word 5-grams that recur ACROSS
    * documents and score each document by the fraction of its spans that
    * are corpus-duplicated (boilerplate, licenses, templated text). The
    * suffix-array construction of the paper is replaced by the shingle
    * hash the dedup family already computes natively — the screen is the
    * same linear explode/count the L2 pipeline runs, not a new machine.
    *
    * Output: (doc_id, n_spans, n_dup_spans, dup_ratio) for every doc with
    * >= 5 words; a pipeline drops docs above a dup_ratio threshold or
    * feeds the flagged spans to a span-removal pass.
    *
    * Scale: spans are the per-doc DISTINCT md5p48 hashes off one native
    * byte-pass ([[graft.plans.ShingleHashes]]) — the corpus-wide exchange
    * ships (doc_id, n_sh, 8-byte hash), never text. Document frequency
    * comes from a count-only window over that ONE exchange, so the text is
    * hashed exactly once; the per-doc rollup then shuffles only (doc_id,
    * counts). Under pathological hot spans (one license duplicated 10^9
    * times) the window partition for that hash concentrates — the swap is
    * the two-scan form (partial-agg groupBy(sh) + re-join against a
    * persisted spans frame), which trades a second spans materialization
    * for map-side combining; at fixture-to-sf25 scale the one-pass window
    * wins (no second scan, no join). */
  def l14SpanScreen(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val spans = explodedShingleHashesNative(Tables.documents(spark, sfDir), "md5p48")
    val byHash = Window.partitionBy($"sh")
    spans
      .withColumn("df", count(lit(1)).over(byHash))
      .groupBy($"doc_id", $"n_sh")
      .agg(sum(when($"df" >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      .select($"doc_id", $"n_sh".as("n_spans"), $"n_dup_spans",
        ($"n_dup_spans".cast("double") / $"n_sh").as("dup_ratio"))
      .orderBy($"doc_id")
  }

  /** L19 [EXT]: cross-split contamination screen — the audit a training
    * launch runs after splitting: which eval (valid/test) documents have
    * a TRAIN near-duplicate under the same LSH screen the dedup pipeline
    * uses (l2b's banding)? The group-keyed split (l18, whose exact
    * bucket/label expressions this reuses) keeps same-provenance
    * near-dups together, but cross-domain mirrors and syndication are
    * precisely how eval text still leaks into training — this emits the
    * per-doc drop-list (eval doc, split, train-partner count) the gate
    * consumes before the run starts.
    *
    * Scale: candidate volume is LSH-bucket-bound (never all-pairs), the
    * split map is a 2-column projection of the corpus joined on the
    * 8-byte doc key, and the rollup ships one row per contaminated doc. */
  def l19SplitScreen(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val splits = Tables.documents(spark, sfDir)
      .select($"doc_id", Assembly.splitLabel(Assembly.splitBucket).as("split"))
    val sides = lshCandidatePairs(spark, sfDir)
      .select(explode(array(
        struct($"doc_a".as("d"), $"doc_b".as("o")),
        struct($"doc_b".as("d"), $"doc_a".as("o")))).as("x"))
      .select($"x.d".as("doc_id"), $"x.o".as("other"))
    sides
      .join(splits, "doc_id")
      .join(splits.select($"doc_id".as("other"), $"split".as("other_split")), "other")
      .filter($"split".isin("valid", "test") && $"other_split" === "train")
      .groupBy($"doc_id", $"split")
      .agg(count(lit(1)).as("n_train_dups"))
      .orderBy($"doc_id")
  }

  /** L23 [EXT]: graded containment decontamination — for every eval
    * (valid/test) document, the FRACTION of its 5-gram spans that occur
    * anywhere in the train split. l2f/l19 are binary screens (hit / LSH
    * near-dup); benchmark-decontamination practice also wants the graded
    * score so the gate can threshold partial overlap (boilerplate vs
    * verbatim leak) instead of dropping on any single shared span.
    *
    * Scale: spans come off the text bytes in the same native one-pass
    * expression as l14 and ride 8-byte keys everywhere — the split map
    * joins on doc_id, the train span SET is a distinct-agg on the hash,
    * and the eval-vs-train membership is a left join on the hash (never
    * strings, never all-pairs); output is one row per eval doc. */
  def l23ContainmentScore(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val splits = Tables.documents(spark, sfDir)
      .select($"doc_id", Assembly.splitLabel(Assembly.splitBucket).as("split"))
    val spans = explodedShingleHashesNative(Tables.documents(spark, sfDir), "md5p48")
      .select($"doc_id", $"sh")
    val withSplit = spans.join(splits, "doc_id")
    val trainSpans = withSplit.filter($"split" === "train")
      .select($"sh").distinct().withColumn("hit", lit(1L))
    withSplit.filter($"split".isin("valid", "test"))
      .join(trainSpans, Seq("sh"), "left_outer")
      .groupBy($"doc_id", $"split")
      .agg(count(lit(1)).as("n_spans"), sum(coalesce($"hit", lit(0L))).as("n_contained"))
      .withColumn("containment", $"n_contained".cast("double") / $"n_spans")
      .orderBy($"doc_id")
  }

  /** Segment width (words) for [[l24SegmentDedup]] — matches the span
    * family's 5-gram unit; at this width the fixture corpus actually
    * contains cross-document duplicates, so the drop path is exercised
    * by the oracle, not just declared. */
  val SEGMENT_WORDS = 5

  /** L24 [EXT]: segment-level dedup with document reassembly — the C4
    * "discard any line that appears more than once in the dataset" step,
    * at sub-document granularity the doc-level l1 and the span COUNTER
    * l14 don't cover: documents split into aligned SEGMENT_WORDS-word
    * blocks; a segment text duplicated anywhere in the corpus keeps only
    * its first occurrence (min (doc_id, position) — total order, so the
    * survivor is identical on any cluster and in the oracle); each doc
    * re-emerges as its kept segments in order plus kept/total counts.
    *
    * Scale — the shuffle diet is the operator (l1_xxh posture, one level
    * down): segment text is hashed to an 8-byte xxhash64 key in the SCAN
    * projection and dropped before any exchange, so
    *
    *  1. the corpus-wide first-occurrence decision is `min(struct(doc_id,
    *     i))` grouped by the key — map-side partial min collapses each
    *     task to its distinct segments before the only corpus-keyed
    *     exchange, which carries 24-byte (key, doc_id, i) rows;
    *  2. kept positions regroup by doc_id (16-byte rows);
    *  3. survivor text is RESOLVED, not shipped: one join back to the
    *     documents scan re-slices the kept segments from each doc's own
    *     word array (the survivor of a duplicate segment is byte-equal
    *     text, so every keeper resolves locally from its own document) —
    *     the only exchange that ever carries text, and only because the
    *     operator's OUTPUT is the cleaned corpus.
    *
    * Versus the window form this replaces (row_number over md5-hex with
    * full segment text riding two exchanges): at 100 TB that ships the
    * corpus twice; this ships 24-byte rows plus the output once.
    * PlanAuditSpec pins the shape. Collisions: 64-bit key, same stance as
    * l1_xxh — the oracle partitions by the segment TEXT, so the hash-exact
    * driver compare doubles as the collision check. */
  def l24SegmentDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val W = SEGMENT_WORDS
    // digest AFTER the explode (the l4f idiom): the interpreted transform
    // lambda only builds the cheap segment string; xxhash64 evaluates in
    // the codegen'd projection, and the string dies before any exchange
    val keys = Tables.documents(spark, sfDir)
      .select($"doc_id", split($"text", " ").as("ws"))
      .select($"doc_id", posexplode(expr(
        s"transform(sequence(0, cast(ceil(size(ws) / $W.0) as int) - 1)," +
          s" i -> array_join(slice(ws, i * $W + 1, $W), ' '))")))
      .toDF("doc_id", "i", "seg")
      .select($"doc_id", $"i", xxhash64($"seg").as("k"))
    val keptPos = keys
      .groupBy($"k").agg(min(struct($"doc_id", $"i")).as("f"))
      .groupBy($"f.doc_id".as("doc_id"))
      .agg(sort_array(collect_list($"f.i")).as("kept_is"),
        count(lit(1)).as("n_kept"))
    Tables.documents(spark, sfDir)
      .select($"doc_id", split($"text", " ").as("ws"))
      .join(keptPos, Seq("doc_id"), "left_outer")
      .select($"doc_id",
        expr(s"cast(ceil(size(ws) / $W.0) as bigint)").as("n_segs"),
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        coalesce(expr(
          s"array_join(transform(kept_is, i -> array_join(slice(ws, i * $W + 1, $W), ' ')), ' ')"),
          lit("")).as("cleaned_text"))
      .orderBy($"doc_id")
  }

  /** Winnowing window width: fingerprint density ~2/(w+1), guarantee
    * threshold t = w + SHINGLE_K - 1 words (a shared run of >= t words
    * always yields a shared fingerprint — Schleimer et al. '03, Thm. 2). */
  private[graft] val WINNOW_W = 8
  /** Fingerprints in more than this many docs are boilerplate (license
    * headers, templates) and are dropped before pairing — the df cap that
    * bounds every fingerprint's bucket at any corpus size. */
  private[graft] val WINNOW_MAXDF = 16
  /** Minimum shared fingerprints for a pair to surface. */
  private[graft] val WINNOW_MIN_SHARED = 2

  /** L26 [EXT]: winnowing fingerprint screen (Schleimer, Wilkerson &
    * Aiken, SIGMOD'03 — the MOSS scheme): each document keeps only the
    * MINIMUM span hash of every w-wide window of consecutive word-k-gram
    * hashes (native one-pass [[graft.plans.WinnowHashes]]), and documents
    * sharing >= WINNOW_MIN_SHARED surviving fingerprints are reported as
    * overlap candidates. Versus the l14 span screen this is the
    * DETECTION-oriented sibling: l14 ships every span hash to score
    * per-doc duplication ratios; winnowing ships ~2/(w+1) of them with a
    * positional guarantee (any shared run of >= w+k-1 words still
    * collides), so the corpus exchange shrinks ~4.5x at the same k while
    * cross-doc plagiarism/mirror detection stays sound.
    *
    * Scale: the exchange carries (doc_id, 8-byte fingerprint) at winnowed
    * density; the df cap (HAVING count <= WINNOW_MAXDF) bounds every
    * pairing bucket the way l2b's banding does, so pair volume is capped
    * at df²/2 per fingerprint and never all-pairs. One exchange keyed on
    * the fingerprint feeds both the cap and the self-join. */
  def l26WinnowScreen(spark: SparkSession, sfDir: String): DataFrame =
    winnowScreenBy(Tables.documents(spark, sfDir), WINNOW_MAXDF, WINNOW_MIN_SHARED)

  /** The screen body with the df cap exposed — the knob a deployment
    * tunes to its corpus's duplication level (MakeHeavy's replicas are
    * text-DISTINCT — word-suffixed per replica — so the heavy tiers run
    * the suite cap unchanged; a corpus of verbatim mirrors would raise
    * it). */
  private[graft] def winnowScreenBy(docs: DataFrame, maxDf: Long,
      minShared: Long): DataFrame = {
    val spark = docs.sparkSession
    graft.plans.Native.install(spark)
    import spark.implicits._
    val fps = docs
      .select($"doc_id",
        explode(expr(s"winnow_hashes(text, $SHINGLE_K, $WINNOW_W)")).as("fp"))
    val capped = fps
      .withColumn("df", count(lit(1)).over(Window.partitionBy($"fp")))
      .filter($"df" <= maxDf)
      .select($"doc_id", $"fp")
    val a = capped.as("a"); val b = capped.hint("merge").as("b")
    a.join(b, $"a.fp" === $"b.fp" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= minShared)
      .orderBy($"doc_a", $"doc_b")
  }

  /** A duplicated run at least this many words long is trimmed (the
    * variable-length analog of Lee et al. 2022's 50-BPE-token cut, scaled
    * to the fixture's word vocabulary); shorter runs are counted but kept
    * (idiom-length repeats are not boilerplate). */
  private[graft] val DUP_RUN_TRIM_MIN = 15

  /** L32 [EXT]: duplicated-run detection and trim accounting — the
    * VARIABLE-LENGTH exact-substring dedup posture of Lee et al. 2022
    * (suffix-array "exact substring" dedup): where l14 counts fixed-width
    * duplicated spans and l24 dedups ALIGNED 5-word blocks, this finds the
    * maximal contiguous word regions covered by corpus-duplicated 5-grams
    * — an unaligned 40-word boilerplate paragraph surfaces as ONE run of
    * ~40 words, not 36 independent span hits — and makes the per-doc trim
    * decision: runs >= [[DUP_RUN_TRIM_MIN]] words are cut, shorter ones
    * kept. The suffix array is replaced by the dedup family's positional
    * 5-gram anchors: a shared run of L >= 5 words yields L-4 consecutive
    * duplicated anchor positions, which gaps-and-islands reassembly turns
    * back into the [start, end] word interval (anchors overlapping or
    * word-adjacent merge into one region).
    *
    * Output: one row per document — (doc_id, n_words, n_runs,
    * max_run_len, dup_words, kept_words) with kept_words = n_words minus
    * the words inside trimmed runs; a pipeline re-slices the kept text
    * the way l24's reassembly join does.
    *
    * Scale — three exchanges, none carrying text:
    *  1. anchor duplication is ONE corpus-wide window keyed by the 48-bit
    *     span hash (l14's posture) over (doc_id, n_words, i, sh) rows —
    *     the 5-gram string is built and hashed in the codegen'd
    *     post-explode projection (positions exploded, no lambda) and dies before the
    *     exchange;
    *  2. only FLAGGED positions (df >= 2) regroup by doc_id for the
    *     islands pass — sparse duplication ships a sparse stream; the
    *     run grouping and both per-doc rollups reuse that partitioning
    *     (doc_id is a subset of every later grouping key — no exchange);
    *  3. zero-run docs are restored by one join against the 2-column
    *     (doc_id, n_words) corpus projection.
    * Islands are windows with single-integer state (running max anchor
    * position), so per-partition memory is O(1) per doc regardless of
    * run length. Hashing is the md5p48 hex fold, so the DuckDB oracle
    * replays anchors, islands, and the trim arithmetic exactly. */
  /** The shared run pipeline of [[l32DupRunTrim]] / [[l32bDupRunExcise]]:
    * maximal duplicated-word intervals per doc — (doc_id, n_words, run_id,
    * s, e, run_len) with s/e the covered WORD interval. */
  private def dupRunFrame(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val K = SHINGLE_K
    val pos = Tables.documents(spark, sfDir)
      .select($"doc_id", wordsCol.as("words"))
      .select($"doc_id", size($"words").cast("long").as("n_words"), $"words")
      .filter(size($"words") >= K)
      .select($"doc_id", $"n_words",
        explode(expr(s"sequence(1, size(words) - ${K - 1})")).as("i"), $"words")
      .select($"doc_id", $"n_words", $"i".cast("long").as("i"),
        expr(s"cast(conv(substr(md5(array_join(slice(words, i, $K), ' ')), 1, 12), 16, 10) as bigint)")
          .as("sh"))
    val byDoc = Window.partitionBy($"doc_id").orderBy($"i")
    pos
      .withColumn("df", count(lit(1)).over(Window.partitionBy($"sh")))
      .filter($"df" >= 2)
      .select($"doc_id", $"n_words", $"i")
      // islands: a new run starts when this anchor's interval [i, i+K-1]
      // neither overlaps nor touches the running interval end (pm + K - 1)
      .withColumn("pm",
        max($"i").over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("nr", when($"pm".isNull || $"i" > $"pm" + K, 1L).otherwise(0L))
      .withColumn("run_id", sum($"nr").over(byDoc))
      .groupBy($"doc_id", $"n_words", $"run_id")
      .agg(min($"i").as("s"), (max($"i") + (K - 1)).as("e"),
        (max($"i") - min($"i") + K).as("run_len"))
  }

  def l32DupRunTrim(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", size(wordsCol).cast("long").as("n_words"))
    val perDoc = dupRunFrame(spark, sfDir)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_runs"),
        max($"run_len").as("max_run_len"),
        sum($"run_len").as("dup_words"),
        sum(when($"run_len" >= DUP_RUN_TRIM_MIN, $"run_len").otherwise(0L))
          .as("trimmed"))
    docs.select($"doc_id", $"n_words")
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select($"doc_id", $"n_words",
        coalesce($"n_runs", lit(0L)).as("n_runs"),
        coalesce($"max_run_len", lit(0L)).as("max_run_len"),
        coalesce($"dup_words", lit(0L)).as("dup_words"),
        ($"n_words" - coalesce($"trimmed", lit(0L))).as("kept_words"))
      .orderBy($"doc_id")
  }

  /** L32b [EXT]: duplicated-run EXCISION — the output-producing side of
    * [[l32DupRunTrim]]: emit each document's cleaned text with every
    * trimmed run (>= [[DUP_RUN_TRIM_MIN]] words) cut out, words outside
    * trimmed runs kept in order. l32 makes the decision; this ships the
    * cleaned corpus (the l24-reassembly contract applied to variable-
    * length runs).
    *
    * Scale: the run pipeline is l32's (text-free exchanges); the ONLY
    * text movement is the output join — trimmed intervals collect to a
    * per-doc array (runs never overlap after the interval merge, so the
    * array is small and sorted), and each document re-slices its own word
    * array locally (the l24 resolve idiom: survivors are byte-equal, so
    * no text rides the decision plane). Docs with nothing to trim pass
    * through byte-identical. */
  def l32bDupRunExcise(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val trimmed = dupRunFrame(spark, sfDir)
      .filter($"run_len" >= DUP_RUN_TRIM_MIN)
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"s", $"e"))).as("ivs"),
        sum($"run_len").as("trimmed"))
    Tables.documents(spark, sfDir)
      .select($"doc_id", wordsCol.as("words"))
      .join(trimmed, Seq("doc_id"), "left_outer")
      .select($"doc_id",
        size($"words").cast("long").as("n_words"),
        (size($"words").cast("long") - coalesce($"trimmed", lit(0L)))
          .as("kept_words"),
        when($"ivs".isNull, concat_ws(" ", $"words"))
          .otherwise(expr(
            "array_join(filter(transform(sequence(1, size(words)), i -> " +
              "IF(exists(ivs, iv -> i >= iv.s AND i <= iv.e), NULL, element_at(words, CAST(i AS INT)))), " +
              "x -> x IS NOT NULL), ' ')"))
          .as("cleaned_text"))
      .orderBy($"doc_id")
  }

  private def ngramJaccardBy(spark: SparkSession, sfDir: String, algo: String): DataFrame = {
    import spark.implicits._
    val sh = explodedShingleHashesNative(Tables.documents(spark, sfDir), algo)
    // merge hint -> shared shuffle exchange: shingle hashing runs once
    // (see l2bLshCandidates; measured faster than shuffle_hash here).
    val a = sh.as("a"); val b = sh.hint("merge").as("b")
    a.join(b, $"a.sh" === $"b.sh" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        $"a.n_sh".as("n_a"), $"b.n_sh".as("n_b"))
      .agg(count(lit(1)).as("shared"))
      .select($"doc_a", $"doc_b", $"shared", $"n_a", $"n_b",
        ($"shared" / ($"n_a" + $"n_b" - $"shared")).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }
}
