package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Heavy bench tier: the sf0.1 fixture replicated `copies`x with key
  * shifting (≈ sf5 at the default 50), so the 2x-of-baseline comparison
  * measures COMPUTE, not the ~0.15s fixed per-job submission floor that
  * dominates 80+ tiny queries (BENCHNOTES.md). 50x (not 10x) because with
  * the parallel 32-file layout BOTH engines chew sf1 in sub-second bites,
  * which puts the comparison right back on the task-granularity floor.
  *
  * `MakeHeavy` materializes the scaled tables, all of them or the subset
  * named after the copy count — `orders customer lineitem region nation`
  * is a star tier, the input BenchStar sweeps. `BenchHeavy` times the most
  * expensive queries on them and prints the same one-line JSON contract as
  * graft.Bench; its bucketed rows lay the tier out through
  * [[graft.operators.Bucketed]]. tools/bench_compare.py --out turns that +
  * the DuckDB oracle into BENCHNOTES_HEAVY.md.
  */
object MakeHeavy {

  /** Key shifts per replica: large strides keep replica key ranges
    * disjoint, so the join structure (orders⋈customer, lineitem⋈orders)
    * replicates exactly — each replica is an independent copy of the
    * economy, which is how real data grows (new entities, not denser
    * relations among old ones). */
  private val SHIFT_ORDER = 10000000L
  private val SHIFT_CUST = 1000000L
  private val SHIFT_DOC = 1000000L
  private val SHIFT_EVENT = 100000000L
  private val SHIFT_USER = 1000000L
  // package-visible: AnnRecall samples "first 2 vec_ids per replica" via
  // this stride — referencing it here keeps the two in lockstep
  private[tools] val SHIFT_VEC = 1000000L

  /** The heavy tier's default directory: `target/bench_heavy/sf5` under
    * the JVM's working directory, so every checkout reads and writes its
    * own build tree (the [[graft.operators.Etl.defaultScratch]] rule). */
  val defaultTier: String = new java.io.File("target/bench_heavy/sf5").getAbsolutePath

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else defaultTier
    val copies = if (args.length > 2) args(2).toInt else 50
    // optional trailing args: regenerate only these tables (iteration aid —
    // e.g. adding one table to an existing tier without the docs crossJoin)
    val onlyTables = args.drop(3).toSet
    def want(t: String): Boolean = onlyTables.isEmpty || onlyTables(t)
    val spark = graft.GraftSession.local(cpus)
    import spark.implicits._
    val reps = broadcast(spark.range(copies).toDF("k"))

    def scaledFrom(df: DataFrame, shifts: Map[String, Long]): DataFrame = {
      val cols = df.columns.map { c =>
        shifts.get(c) match {
          case Some(s) => (col(c) + $"k" * s).as(c)
          case None => col(c)
        }
      }
      df.crossJoin(reps).select(cols.toSeq: _*)
    }
    def scaled(table: String, shifts: Map[String, Long]): DataFrame =
      scaledFrom(spark.read.parquet(s"$src/$table.parquet"), shifts)

    // FILES output files per big table: the crossJoin inherits the source
    // file's 1-2 splits, and a single ~60 MB parquet file is ONE row group
    // = ONE scan task — which serializes every CPU-heavy per-row pipeline
    // (shingle+digest, bigram hashing) on top of it. A real table at this
    // scale is thousands of files; 32 keeps scan parallelism = cores.
    val FILES = 32
    if (want("orders")) scaled("orders", Map("o_orderkey" -> SHIFT_ORDER, "o_custkey" -> SHIFT_CUST))
      .repartition(FILES)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    if (want("customer")) scaled("customer", Map("c_custkey" -> SHIFT_CUST))
      .repartition(FILES)
      .write.mode("overwrite").parquet(s"$out/customer.parquet")
    if (want("lineitem")) scaled("lineitem", Map("l_orderkey" -> SHIFT_ORDER))
      .repartition(FILES)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    // events: load via Tables.events so EVERY fixture layout the contract
    // admits (nanos-as-long, micros-naive, micros-UTC — see FixtureSpec)
    // is normalized to micros TimestampType before scaling; the heavy tier
    // then stores native micros both engines read directly
    if (want("events")) scaledFrom(graft.Tables.events(spark, src),
        Map("event_id" -> SHIFT_EVENT, "user_id" -> SHIFT_USER))
      .repartition(FILES)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    // documents: shift ids AND make the text replica-distinct by suffixing
    // every word with the replica tag — shingles/terms never collide across
    // replicas, so near-dup pair volume scales linearly (as a real corpus
    // does), not quadratically from 10 verbatim copies of every doc.
    if (want("documents")) spark.read.parquet(s"$src/documents.parquet")
      .crossJoin(reps)
      .select(
        ($"doc_id" + $"k" * SHIFT_DOC).as("doc_id"),
        expr("array_join(transform(split(text, ' '), w -> concat(w, '_', k)), ' ')").as("text"),
        $"lang", $"source", ($"n_chars" + 0L).as("n_chars"))
      .repartition(FILES)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    // embeddings: shift ids AND apply a per-replica ORTHOGONAL transform —
    // circular rotation by k % 64 composed with a k-seeded diagonal ±1
    // sign flip (xxhash64(k, d) parity). Orthogonal ⇒ every replica
    // preserves the base fixture's INTERNAL geometry exactly (all
    // intra-replica dot products and norms), while cross-replica vectors
    // decorrelate — the corpus grows the way a real one does (new regions
    // of the space), instead of verbatim copies of every vector, which
    // would make every LSH bucket quadratically dense with exact
    // duplicates and turn near-dup pruning into a degenerate all-replicas
    // cluster per base vector. The sign flip keeps replicas distinct at
    // ANY copy count (rotation alone repeats past k = 64 = dim).
    if (want("embeddings")) spark.read.parquet(s"$src/embeddings.parquet")
      .crossJoin(reps)
      .select(
        ($"vec_id" + $"k" * SHIFT_VEC).as("vec_id"),
        expr("""transform(
               |  concat(slice(embedding, CAST(k % 64 AS INT) + 1, 64 - CAST(k % 64 AS INT)),
               |         slice(embedding, 1, CAST(k % 64 AS INT))),
               |  (x, d) -> IF((xxhash64(k, d) & 1) = 1, -x, x))""".stripMargin)
          .as("embedding"),
        // labels shift too: replica 7's rotated cluster 3 is a DIFFERENT
        // region of the space than replica 0's cluster 3 — sharing the id
        // would give IVF mushy cross-replica centroids
        ($"label" + ($"k" * 100).cast("int")).as("label"))
      .repartition(FILES)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    for (t <- Seq("region", "nation", "supplier", "part") if want(t))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    println(s"HEAVY_DATA_AT=$out copies=$copies")
    spark.stop()
  }

  /** Local cores for the tools' sessions: `SPARK_GRAFT_CPUS`, default 32
    * (the heavy tiers' host). */
  private[tools] def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
}

object BenchHeavy {

  /** The queries whose sf0.1 cost is dominated by compute, not the job
    * floor (BENCHNOTES.md top of table) — plus one representative per
    * remaining operator family (window w1, session r4, percentile a9,
    * point-lookup s4) so the sf1 table covers every family. */
  val HEAVY_QUERIES: Seq[String] = Seq(
    "l2d_ngram_jaccard", "l2d_xxh", "l2e_connected_components", "l2b_lsh_candidates",
    "l7_tfidf_topterms", "q1_pricing_summary", "q2_shipping_priority",
    "q3_revenue_by_nation", "s5_s6_partitioned_sink", "l1_exact_dedup",
    "w1_topk_per_group", "r4_session_window", "a9_percentiles",
    "s4_point_lookup", "l2f_decontam", "l2f_gen",
    "l4f_repetition_stats", "l9_sequence_pack", "l11_source_mix",
    "l4g_quality_filter", "l1_xxh",
    // ANN family at scale (needs the round-6 MakeHeavy embeddings). The
    // fixture-width l3e/l3g queries (8-bit bands) are deliberately NOT
    // here: at 100k vectors 8 bits = 256 buckets = ~390 vectors/bucket,
    // ~20M candidate pairs PER BAND (the quadratic bucket tax the
    // Similarity.DEFAULT_SIGN_BITS doc warns about) — l3g's 12 bands blew
    // past 10 min/run when tried. The *_sized thunks below are the same
    // operators at the module's own sizing rule — the form a deployment
    // actually runs at this N; the mis-sized cost is measured once in
    // BENCHNOTES_HEAVY's notes, not rented per-sweep.
    "l3f_ivf_multiprobe", "l3h_neardup_prune", "l3i_sq8_topk",
    "l3j_rerank_topk",
    // the simhash family: oracle-able at sf5 since the one-digest
    // plans.SimHashSig form (the 16-md5-per-word original was ~16x too
    // slow on the DuckDB side to compare at this tier)
    "l2c_simhash", "l2g_incremental_simhash", "r9_signature_screen",
    // index build/serve split: serve paths read the persisted ANN index
    // (llm.AnnIndex); the ann_build_* rows below price the build step
    "l3i_serve", "l3j_serve", "l3f_serve", "l3n_serve",
    // round 7: the two-phase exact percentile vector priced against a9's
    // buffering built-in at the same tier (its sf1-sf50 inversion sweep is
    // CROSSOVER.md), and the five-stage corpus-export flagship
    "a13_exact_percentiles", "l13_corpus_export",
    // round 9: the corpus-prep additions — the span screen is a second
    // corpus-exchange heavyweight (every token rides the shuffle as an
    // 8-byte span key), chunking prices the scan-speed fan-out claim, and
    // the domain cap prices the partial WindowGroupLimit path
    "l14_span_screen", "l15_chunk", "l16_domain_cap",
    // round 9 (cont.): the model-scored filter and the split assigner —
    // l17 prices the build/apply two-pass shape (vocab-sized exchange +
    // shuffle-free broadcast scoring pass) against DuckDB's unnest+join
    // formulation, which must materialize the per-token frame
    "l17_unigram_logprob", "l17b_bigram_logprob", "l18_leakage_split",
    // the contamination screen prices l2b's LSH pass + two thin joins;
    // BPE pair counting prices the char-level fan-out/collapse claim
    "l19_split_screen", "l20_bpe_pair_count",
    // the merge LOOP prices K vocab-frame iterations + argmax driver
    // rounds; tokenize prices the broadcast-dictionary apply scan
    "l21_bpe_learn", "l22_bpe_tokenize",
    // the graded containment screen prices the span fan-out plus the
    // distinct-train set agg and the hash-keyed membership join
    "l23_containment_score",
    // round 10: segment dedup prices the 8-byte-key shuffle diet (keys
    // through the dedup exchange, text only in the output join); SCD2
    // prices the change-detection window + interval assembly; the v2
    // export flagship prices all eight decision planes fused in one plan
    "l24_segment_dedup", "u2_scd2", "l13b_corpus_export_v2",
    // the two-pass Misra-Gries heavy hitters price the sketch-then-
    // recount trade (two scans + candidate-bounded exchange) against
    // DuckDB's one-shot full-vocabulary aggregate
    "l25_heavy_hitters",
    // PQ search prices the whole path: integer Lloyd training (2 iters),
    // encode, and the ADC rollup — all three corpus-sized passes; the
    // IVF-PQ composite adds the coarse-quantizer probe and prices the
    // probed-list prune (the ADC rollup shrinks to nProbe/k of the corpus)
    "l3m_pq_topk", "l3n_ivfpq_topk",
    // MERGE apply prices the CDC triple's third leg: two compaction
    // windows feeding one full-outer sort-merge join on the entity key;
    // the audit log prices R12's window-free key-membership join form
    "u3_merge_upsert", "r12_merge_log",
    // Bloom-prefiltered decontam vs l2f_gen (both here): the sketch's
    // prune vs the broadcast-exact form, priced at the same tier; the
    // winnowing screen prices the fingerprint diet vs l14's every-span
    // exchange (the bigram scorer l17b is priced above, next to l17)
    "l27_bloom_decontam", "l26_winnow_screen",
    // round 11: DSIR prices the three-pass fit/fit/score shape (two
    // one-row vocabulary collapses + the broadcast scoring kernel)
    // against DuckDB's per-token unnest+join formulation; k-means prices
    // the Lloyd fixpoint (compiled argmin + posexplode rollup per
    // iteration) against the same math pipelined as one CTE chain; the
    // balanced sample adds the cluster-keyed window draw on top
    "l28_dsir_sample", "l29_kmeans_cluster", "l30b_balanced_sample",
    // round 11 (cont.): the duplicated-run trimmer prices a SECOND
    // corpus-keyed span exchange (positional anchors, no distinct) plus
    // the flagged-only islands regroup against DuckDB's double window;
    // the excision sibling adds the text-output join (the one text
    // movement) and DuckDB's position anti-join; the budget mixer prices
    // the tiny-rates broadcast + bounded epoch fan-out (its corpus
    // stream never shuffles)
    "l32_dup_run_trim", "l32b_dup_run_excise", "l33_budget_mix",
    // round 11 (cont.): the skew-salted join prices the histogram
    // pre-pass + the (key, salt) composite exchange against DuckDB's
    // plain hash join — the structural overhead a skew-free engine
    // never pays, measured so the salt's insurance premium is known
    "j7_skew_join",
    // the corpus snapshot diff prices the (id, xxhash64) exchange diet
    // through a full-outer join against DuckDB comparing text directly
    "u4_snapshot_diff",
    // round 12: the clustering consumers under the codebook memo — each
    // prices its own delta over the shared fit (profile join + rollup;
    // cluster-keyed prune window; frozen-codebook stream assignment)
    // where r11 priced the per-query training re-derivation instead
    "l29b_cluster_profile", "l30_cluster_prune", "r14_stream_cluster_assign",
    // round 12: the JSON-parse per-byte term priced at a tier where it is
    // compute, not job floor — the p5/f2 watch item from the r11 verdict
    "p5_validity_filter", "f2_json_parse",
    // round 12: the rank family (ntile/percent_rank/cume_dist over one
    // window) — the last sf0.1 row at >=2x with a real denominator and
    // no tier point; prices the single user-keyed window exchange
    "w5_rank_family",
    // round 13: the table log's PRODUCTION paths — one as-of read and
    // one O(batch) MV refresh against a pre-built (ensure-stamped) log,
    // vs DuckDB's only option, the full-table recompute; the cold
    // s11/mv1 rows price the ten-file-set fixture build instead
    "s11_warm_read", "mv1_warm_refresh")

  /** The sf25 scale-sweep subset (BENCHNOTES_SF25.md): the text/dedup
    * production paths — the compute-bound queries whose sf5→sf25 ratio
    * trend is the "would this survive 100x" evidence. The mis-sized 8-bit
    * ANN forms are excluded (their cost is documented once at sf5).
    * Invoke as `BenchHeavy <sf25Dir> --sf25`.
    *
    * The ANN family is deliberately NOT here: at sf25 l3g_sized runs ~100s
    * per pass, and keeping it in the interleaved sweep poisons every other
    * query's samples through sustained JVM heap pressure (measured: l2d
    * 46s interleaved with it vs 5.3s isolated — the pass-major median
    * rejects one contended sample, not a contender present in ALL sweeps).
    * Bench each SF25_ANN query in its OWN JVM — one BenchHeavy invocation
    * per query name — and merge the JSONs for the notes regen. */
  // l13_corpus_export (the five-stage corpus-export flagship) is here for
  // its sf5->sf25 ratio trend — the pipeline's would-it-survive-100x
  // evidence. A query joins this registry ONLY together with its measured
  // row in BENCHNOTES_SF25.md (DocCountsSpec enforces the set equality;
  // three rounds shipped the registry ahead of the artifact).
  val SF25_QUERIES: Seq[String] = Seq(
    "l2d_ngram_jaccard", "l7_tfidf_topterms", "l2e_connected_components",
    "l2b_lsh_candidates", "l4f_repetition_stats", "l4g_quality_filter",
    "l2f_gen", "l2f_decontam", "l1_exact_dedup", "l11_source_mix",
    "q1_pricing_summary", "l1_xxh", "l9_sequence_pack", "l13_corpus_export",
    // round 9: the model-scored filter's sf5->sf25 trend — the build pass
    // is the vocab-sized exchange, the scoring pass is shuffle-free, so
    // the ratio should track the scan, not the corpus pair volume
    "l17_unigram_logprob",
    // round 10: the cross-split contamination screen — its pair volume is
    // LSH-bucket-bound (l2b banding), so the sf5->sf25 ratio tests the
    // bucket-diet claim where collision volume grows fastest
    "l19_split_screen",
    // the v2 export flagship and the 8-byte-key segment dedup: the two
    // round-10 shuffle-diet reworks, tracked at the top tier so their
    // "text never rides the exchange" claims have a 250x scale point
    "l13b_corpus_export_v2", "l24_segment_dedup",
    // round 10 (cont.): the graded containment screen at 250x (span
    // fan-out + distinct-train agg + hash membership join), and the
    // winnowing screen — the fingerprint diet's top-tier point next to
    // l14's every-span trend
    "l23_containment_score", "l26_winnow_screen",
    // round 11: the bigram scorer and the MERGE third leg — the two
    // remaining heavyweights with no top-tier scale point (CROSSOVER's
    // beyond-the-star-joins sweep); l24 is already above
    "l17b_bigram_logprob", "u3_merge_upsert",
    // round 11 (cont.): the duplicated-run trimmer — its positional
    // anchor exchange is the biggest span shuffle in the family (no
    // per-doc distinct), so the sf5->sf25 trend prices the worst-case
    // span diet where DuckDB pays the same double window
    "l32_dup_run_trim",
    // round 11 (cont.): top-tier points for the newest curation ops —
    // DSIR's two fit passes + broadcast scoring (cost should track the
    // scan), the budget mixer's unshuffled epoch fan-out (output-bound),
    // the cluster-balanced draw's window exchange, and the skew-salted
    // join (the histogram + salt premium vs DuckDB's plain hash join,
    // trended where the join itself finally dominates the fixed stages)
    "l28_dsir_sample", "l33_budget_mix", "l30b_balanced_sample",
    "j7_skew_join",
    // the snapshot diff at 250x: its (id, hash) exchange diet makes the
    // wall tier-invariant — the fixed stage floor IS the cost
    "u4_snapshot_diff",
    // round 13: the warm table-log paths at 250x — the as-of read and
    // the O(batch) refresh should be tier-INVARIANT (manifest replay +
    // window-bounded scans) while the DuckDB recompute doubles per tier
    "s11_warm_read", "mv1_warm_refresh")

  /** The sf50 scale-sweep subset (BENCHNOTES_SF50.md, round 16): the
    * dedup/decontamination flagships — the family whose "advantage widens
    * with corpus size" claim had only two tier points (sf5, sf25; r15
    * verdict item 4). The third point is a 2.5M-doc / ~740M-shingle
    * corpus (500 replica copies, documents-only tier —
    * `MakeHeavy <src> <out> 500 documents`), re-measured at sf5/sf25/sf50
    * in ONE session with fresh DuckDB columns per tier (the host-variance
    * protocol: never quote tier walls across sessions). Every query here
    * reads ONLY the documents table, so the tier build skips the
    * star/event/embedding tables entirely. */
  val SF50_QUERIES: Seq[String] = Seq(
    "l1_exact_dedup", "l1_xxh", "l2b_lsh_candidates", "l2c_simhash",
    "l2d_ngram_jaccard", "l2e_connected_components", "l2f_decontam",
    "l14_span_screen", "l19_split_screen", "l23_containment_score",
    "l24_segment_dedup", "l26_winnow_screen", "l32_dup_run_trim",
    "l32b_dup_run_excise")

  /** ANN queries for the sf25 tier: run each in an isolated JVM (see
    * SF25_QUERIES note on cross-query heap contamination). */
  val SF25_ANN: Seq[String] =
    Seq("l3e_sized", "l3g_sized", "l3h_sized", "l3f_ivf_multiprobe",
      "l3i_sq8_topk", "l3j_rerank_topk",
      "l3i_serve", "l3j_serve", "l3f_serve", "l3n_serve",
      "l34_sized",
      "ann_build_sq8", "ann_build_ivf", "ann_build_vecs")

  val SWEEPS = 3

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(MakeHeavy.defaultTier)
    // optional trailing args: run only these queries (scale-sweep aid);
    // `--sf25` expands to the canonical SF25_QUERIES subset
    val only = args.drop(1).toSet match {
      case s if s == Set("--sf25") => SF25_QUERIES.toSet
      case s => s
    }
    val spark = graft.GraftSession.local(MakeHeavy.cpus)
    import spark.implicits._
    // trust the one-file-per-bucket sort order at the scan (off by default
    // because it lists files at planning time — cheap here, and it is what
    // lets the bucketed SMJ run with neither exchange NOR per-task sort)
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")

    // q2/q3 and w1 on the tier's bucketed layout (orders/lineitem on the
    // order key, events on the window key): Sweep's untimed warmup pays
    // the one-time stamped build, every timed run reads the layout
    val bucketed: Seq[(String, () => DataFrame)] = Seq(
      "q2_bucketed" -> (() => graft.operators.Bucketed.q2Bucketed(spark, dir)),
      "q3_bucketed" -> (() => graft.operators.Bucketed.q3Bucketed(spark, dir)),
      "w1_bucketed" -> (() => graft.operators.Windows.w1From(
        spark.table(graft.operators.Bucketed.ensure(spark, dir, "events", "user_id")))))

    // ANN scale path: the same banded-LSH operators with signBits sized by
    // the module's own rule (signBits ≈ log2(N / targetBucket), target ~32
    // — Similarity.DEFAULT_SIGN_BITS doc) instead of the fixture's 8 bits.
    // This is what a 100 TB deployment tunes; benching both widths makes
    // the under-sized fixture form's quadratic bucket tax measurable.
    val annSized: Seq[(String, () => DataFrame)] = {
      val embPath = new java.io.File(s"$dir/embeddings.parquet")
      if (!embPath.exists()) Seq.empty
      else {
        lazy val emb = graft.Tables.embeddings(spark, dir)
        lazy val n = emb.count()
        lazy val sized =
          math.max(8, math.ceil(math.log(n / 32.0) / math.log(2.0)).toInt)
        Seq(
          "l3e_sized" -> (() =>
            graft.llm.Similarity.signLshPairs(emb, sized, 4, 0.2)),
          "l3g_sized" -> (() =>
            graft.llm.Similarity.signLshPairs(emb, sized, 12, 0.2, 7L)),
          // SemDeDup's production form: the same keep-list pipeline as the
          // suite's l3h, but fed banded pairs at the sized width — prices
          // what the sizing rule saves vs l3h's 8-bit quadratic buckets
          "l3h_sized" -> (() =>
            graft.llm.Similarity.neardupKeepList(emb,
              graft.llm.Similarity.signLshPairs(emb, sized, 4, 0.3))),
          // PQ at production width (K=256, 8-bit codes): sampled Lloyd fit
          // + the compiled pq_encode argmin (the ×256 assignment join the
          // demo path would pay is the reason these are separate thunks);
          // recall deltas vs the K=16 cells live in AnnRecall's pq256 row
          "l3m_sized" -> (() => graft.llm.Similarity.l3mSizedTopk(spark, dir)),
          "l3n_sized" -> (() => graft.llm.Similarity.l3nSizedTopk(spark, dir)),
          // SemDeDup at the production cluster count (K = N/512 from a
          // sampled Lloyd fit): within-cluster pair volume becomes
          // N·target — LINEAR in the corpus — vs the oracle-width K=8's
          // corpus-quadratic N²/8, which is intractable at this N
          "l31_sized" -> (() => graft.llm.Clustering.l31Sized(spark, dir)),
          // contrastive pair mining at production width: the l3e_sized
          // banded positives feed the same anchor/negative machinery —
          // prices the checkpointed pair set + the id-only negative
          // stream where the 8-bit suite form's buckets would go
          // quadratic at this N
          "l34_sized" -> (() =>
            graft.llm.Similarity.contrastivePairsFrom(emb,
              graft.llm.Similarity.signLshPairs(emb, sized, 4, 0.2))))
      }
    }

    // (A round-10 `l26_sized` variant briefly scaled the winnow df cap by
    // corpus-rows/distinct-texts on the theory that MakeHeavy replication
    // inflates fingerprint document frequency — it does NOT: replicas are
    // text-distinct (word-suffixed, documents block above), the measured
    // ratio is ~1, and the variant was the plain query. l26_winnow_screen
    // itself is in HEAVY_QUERIES/SF25_QUERIES, with its oracle column.)

    // ANN index BUILD cost, timed (overwrite rebuild): what a deployment
    // pays ONCE per corpus refresh — the serve rows price the recurring
    // per-query side of the split
    val annBuild: Seq[(String, () => DataFrame)] = {
      val embPath = new java.io.File(s"$dir/embeddings.parquet")
      if (!embPath.exists()) Seq.empty
      else Seq(
        "ann_build_sq8" -> (() => {
          val p = graft.llm.AnnIndex.buildSq8(spark, dir)
          spark.read.parquet(p).select(lit(1)).limit(1)
        }),
        "ann_build_ivf" -> (() => {
          val d = graft.llm.AnnIndex.buildIvf(spark, dir)
          spark.read.parquet(s"$d/ivf_centroids").select(lit(1)).limit(1)
        }),
        "ann_build_vecs" -> (() => {
          val p = graft.llm.AnnIndex.buildVecById(spark, dir)
          spark.read.parquet(p).select(lit(1)).limit(1)
        }))
    }

    val queries = graft.SparkEntry.queries // bind once: a def
    val runnable: Seq[(String, () => DataFrame)] =
      (HEAVY_QUERIES.map(n => n -> (() => queries(n)(spark, dir))) ++
        bucketed ++ annSized ++ annBuild)
        .filter { case (n, _) => only.isEmpty || only(n) }

    // stage_compute beside the wall: deep plans (q2/q3's broadcast-dim
    // chains) pay a fixed ~2-3s driver/AQE stage-scheduling floor per run
    // that is invariant to data size; reporting both keeps the
    // 2x-of-baseline gate honest at any local scale factor
    val results = Sweep(spark, runnable, SWEEPS).map { case (n, runs) => n -> Sweep.median(runs) }
    // machine check of the bucketed claim: the fact join and its
    // aggregation must run with zero shuffle exchanges
    val noExchange = results.exists { case (n, r) => n == "q2_bucketed" && r.isDefined } &&
      !graft.operators.Bucketed.q2Bucketed(spark, dir)
        .queryExecution.executedPlan.toString.contains("Exchange hashpartitioning")
    val qs = Sweep.perQuery(results)(_.wall)
    val cs = Sweep.perQuery(results)(_.stageSeconds)
    val failed = results.collect { case (n, None) => "\"" + n + "\"" }
      .mkString("[", ",", "]")
    val total = results.flatMap(_._2).map(_.wall).sum
    val line = s"""{"metric":"heavy_total","value":$total,"unit":"sec","queries":$qs,"stage_compute":$cs,"sf":"$dir","bucketed_no_exchange":$noExchange,"failed":$failed}"""
    println(line)
    // subset runs land in a side file so they can't clobber the full-tier
    // artifact (BenchStar's convention) — merge with tools/merge_bench.py
    val out = if (only.isEmpty) "target/bench_heavy.json"
              else "target/bench_heavy.subset.json"
    graft.BenchUtil.writeArtifact(out, line)
    // every run ALSO appends here: the subset file is last-run-wins, which
    // made the sf25 protocol unrecoverable once its isolated-JVM runs were
    // overwritten — regenerating BENCHNOTES_SF25 meant re-running l3g_sized
    // at ~190s/pass. The log keeps each JSON line; feed the relevant lines
    // to tools/merge_bench.py to rebuild a tier without re-measuring.
    java.nio.file.Files.write(
      java.nio.file.Paths.get("target/bench_heavy_runs.jsonl"),
      (line + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    spark.stop()
  }
}
