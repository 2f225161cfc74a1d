package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Stamp, Tables}

/** Text-analysis operators for training-data pipelines (SURVEY.md §2.10):
  * language-ID heuristic, quality scoring, token counting, document
  * fingerprinting. All built-in expressions — per-row array folds, no
  * shuffle except the final presentation ORDER BY, so they stream at
  * scan speed over 100 TB.
  */
object TextAnalysis {

  private val STOPWORDS = Seq("the", "a", "and", "of", "to", "in", "is", "it")

  /** L4: text stats — chars, words, distinct words, avg word length.
    * The word-length sum needs no per-token fold at all: under
    * split-on-single-space, Σ len(w) = len(text) − (n_words − 1) EXACTLY
    * (each separator is one char; consecutive/leading/trailing separators
    * contribute empty words, preserving the identity) — so the round-11
    * form is pure codegen'd arithmetic where the old
    * `aggregate(words, ...)` lambda evaluated interpreted per token. */
  def l4TextStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .withColumn("words", split($"text", " "))
      .select(
        $"doc_id",
        length($"text").cast("long").as("n_chars"),
        size($"words").cast("long").as("n_words"),
        size(array_distinct($"words")).cast("long").as("n_distinct_words"),
        ((length($"text") - size($"words") + 1).cast("double")
          / size($"words")).as("avg_word_len"))
      .orderBy($"doc_id")
  }

  /** L4b: language-ID — n-gram/stopword heuristic: score = stopword hits /
    * words; predict 'en' above threshold else fall back to a length
    * heuristic. (A real model slots in behind the same column contract.)
    * Stopword counting IS model scoring with a {stopword → 1, OOV → 0}
    * table, so since round 11 it runs through the native
    * [[graft.plans.ModelScore]] kernel — one compiled pass per doc that
    * also yields the token count — instead of the interpreted
    * `filter(words, w -> array_contains(...))` lambda (8 contains probes
    * per token, each an eval-tree walk). Counts are exact integers:
    * bit-identical to the filter form and to the oracle's list
    * comprehension. */
  def l4bLangId(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.plans.Native.install(spark)
    val stopMap = STOPWORDS.flatMap(s => Seq(s"'$s'", "1L")).mkString("map(", ", ", ")")
    Tables.documents(spark, sfDir)
      .withColumn("sc", expr(s"model_score(text, $stopMap, 0L)"))
      .select(
        $"doc_id", $"lang".as("labeled_lang"),
        $"sc.sum_micronats".as("stop_hits"),
        ($"sc.sum_micronats".cast("double") / $"sc.n_tokens").as("stop_ratio"),
        when($"sc.sum_micronats".cast("double") / $"sc.n_tokens" >= 0.05, lit("en"))
          .otherwise(lit("unknown")).as("predicted_lang"))
      .orderBy($"doc_id")
  }

  /** L4c: quality scoring — length/punctuation/stopword/repetition ratios
    * combined into one exact-arithmetic score in [0, ~1]. */
  def l4cQualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .withColumn("words", split($"text", " "))
      .withColumn("n_words", size($"words").cast("long"))
      .withColumn("n_distinct", size(array_distinct($"words")).cast("long"))
      .withColumn("n_punct",
        (length($"text") - length(regexp_replace($"text", "[^a-z0-9 ]", ""))).cast("long"))
      .select(
        $"doc_id", $"n_words", $"n_distinct", $"n_punct",
        ($"n_distinct".cast("double") / $"n_words").as("diversity"),
        ($"n_punct".cast("double") / length($"text")).as("punct_ratio"),
        (($"n_distinct".cast("double") / $"n_words") * lit(0.7)
          + when($"n_words" >= 20 && $"n_words" <= 1000, lit(0.3)).otherwise(lit(0.0)))
          .as("quality_score"))
      .orderBy($"doc_id")
  }

  /** L4g [EXT]: per-language relative quality gate — drop the bottom
    * quartile of l4c's quality score within each language (the C4/CCNet
    * posture: thresholds are per-stratum, not global, so a low-resource
    * language is not judged by a high-resource language's distribution).
    * "Bottom quartile" is the EXACT k-th order statistic (k = n/4, ties
    * broken by doc_id), not an interpolated percentile — interpolation
    * arithmetic differs across engines, an actual data value does not.
    *
    * Scale: a naive per-language rank is an unpartitioned window over the
    * stratum's full rows. Instead the threshold comes from a TWO-PHASE
    * selection (the W2 bucket-rank construction generalized to order
    * statistics): phase A aggregates a (lang, score-bucket) histogram
    * (tiny: |langs| x 64 rows) and locates the bucket containing rank k;
    * phase B ranks ONLY inside that one bucket (~1/64 of the stratum).
    * The thresholds then broadcast onto one full scan for the keep flag.
    * The DuckDB oracle replays the naive single-window form — equality
    * proves the two-phase selection exact. */
  def l4gQualityFilter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val B = 64
    val scored = Tables.documents(spark, sfDir)
      .withColumn("words", split($"text", " "))
      .select($"doc_id", $"lang",
        ((size(array_distinct($"words")).cast("double") / size($"words")) * lit(0.7)
          + when(size($"words").between(20, 1000), lit(0.3)).otherwise(lit(0.0)))
          .as("quality_score"))
    val bucketed = scored.withColumn("bucket",
      least(floor($"quality_score" * B), lit(B - 1)).cast("long"))
    // phase A: per-(lang, bucket) counts -> locate the k-th value's bucket
    val hist = bucketed.groupBy($"lang", $"bucket").agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy($"lang").orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy($"lang")
    val cum = hist
      .withColumn("cum", sum($"cnt").over(wCum))
      .withColumn("n", sum($"cnt").over(wAll))
      .withColumn("k", ($"n" / 4).cast("long"))
    val target = cum
      .filter($"k" >= 1 && $"cum" >= $"k" && ($"cum" - $"cnt") < $"k")
      .select($"lang", $"bucket".as("tb"), $"k", ($"cum" - $"cnt").as("prev_cum"))
    // phase B: rank only within the located bucket; global rank = prev_cum + rb
    val wB = Window.partitionBy($"lang").orderBy($"quality_score", $"doc_id")
    val thr = bucketed.as("bk")
      .join(broadcast(target.as("tg")),
        $"bk.lang" === $"tg.lang" && $"bk.bucket" === $"tg.tb")
      .select($"bk.lang".as("lang"), $"bk.quality_score".as("quality_score"),
        $"bk.doc_id".as("doc_id"), $"tg.k".as("k"), $"tg.prev_cum".as("prev_cum"))
      .withColumn("rb", row_number().over(wB))
      .filter($"rb" === $"k" - $"prev_cum")
      .select($"lang".as("t_lang"), $"quality_score".as("thr_score"),
        $"doc_id".as("thr_doc"))
    // keep = rank > k, i.e. (score, doc_id) lexicographically above the
    // k-th pair; strata with n < 4 have no threshold row and keep all
    scored
      .join(broadcast(thr), $"lang" === $"t_lang", "left_outer")
      .select($"doc_id", $"lang", $"quality_score",
        ($"thr_score".isNull || $"quality_score" > $"thr_score"
          || ($"quality_score" === $"thr_score" && $"doc_id" > $"thr_doc")).as("keep"))
      .orderBy($"doc_id")
  }

  /** L4d: token counting — whitespace tokens and a BPE-ish regex
    * tokenizer (letter runs / digit runs / single punctuation). */
  def l4dTokenCount(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(
        $"doc_id",
        size(split($"text", " ")).cast("long").as("ws_tokens"),
        size(regexp_extract_all($"text", lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .cast("long").as("bpe_ish_tokens"))
      .orderBy($"doc_id")
  }

  /** Vocabulary cap for [[l17UnigramLogprob]]. 24 of the fixture's 31
    * distinct words — small enough that the OOV floor path is exercised
    * by the correctness oracle, not just declared. A production run
    * raises this to ~1e6; the broadcast stays tens of MB either way. */
  val VOCAB_TOP_K = 24

  /** L17 [EXT]: unigram log-probability scoring — the perplexity-proxy
    * quality filter of CCNet-style pipelines (score docs by how likely
    * their tokens are under a language model; here the corpus's own
    * unigram model, the degenerate-but-real base case — a trained KenLM
    * slots in behind the same broadcast-table contract).
    *
    * Two phases, both 100 TB-shaped:
    *  1. MODEL BUILD: one corpus scan → explode → hash-agg word counts.
    *     Map-side partial aggregation collapses the exchange to
    *     vocab-sized rows; the top-K cut (count desc, word asc — total
    *     order, so ties are deterministic) compiles to TakeOrdered, and
    *     the corpus total is a second tiny agg over the SAME counts
    *     exchange (AQE reuse), not a second corpus scan.
    *  2. SCORING: one corpus scan with the (vocab-map, total) singleton
    *     broadcast-joined in — the per-doc score is a per-row fold over
    *     the words array, so the corpus itself crosses ZERO exchanges.
    *     No explode + groupBy(doc_id) round trip: at trillions of tokens
    *     that shuffle (12+ bytes/token) is the difference between a
    *     map-only stage and the biggest exchange in the pipeline.
    *
    * Determinism across engines: per-token log-probs are quantized to
    * integer MICRONATS (round(ln(p)*1e6) as a long) before summing.
    * Integer sums are associative — any partitioning, any partial-agg
    * order, and DuckDB's unnest+SUM all produce the identical bits —
    * whereas a double sum is order-dependent and a hash-compare breaks.
    * The residual risk is `ln` itself differing in the last ulp between
    * libm and the JVM (the hazard l7 avoids by never calling ln): a
    * 1-ulp slip moves ln(p)*1e6 by ~1e-9, so it only matters if some
    * vocab value lands that close to a .5 rounding boundary —
    * CorpusOpsSpec asserts every distinct (cnt, total) value keeps a
    * >1e-6 margin, making the quantization provably engine-stable for
    * the fixture and loudly checkable for any future corpus.
    *
    * OOV tokens (outside top-K) get the floor probability 0.5/total —
    * an add-half smoothing consistent with the model being a cut vocab. */
  /** The fitted model as a ONE-ROW frame (vocab→micronats map, OOV floor).
    * Quantization happens HERE, once per vocab entry: the broadcast map
    * carries word -> micronats directly, so the per-token fold is a map
    * probe + integer add — no ln/round/divide per token (measured 2.4x
    * DuckDB compute at sf5 with the transcendental inside the fold).
    * Reused as the static side of the r11 streaming scorer. */
  def unigramModel(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    graft.plans.Native.install(spark)
    vocabulary(docs).select(vmnExpr.as("vmn"), oovExpr.as("oov_mn"))
  }

  /** The corpus vocabulary as ONE map row `m: MAP<word,count>` — the fit
    * input every model derivation shares. One corpus pass through the
    * native [[graft.plans.WordCountAgg]] kernel (tokenize bytes in place,
    * per-partition open hash map, vocabulary-sized partials): the
    * explode+groupBy form it replaces materialized one ROW per token,
    * and — worse — every DataFrame branch that referenced the counts
    * (top-K, total, OOV floor) was its own scan+agg subtree, so the
    * round-11 probe measured THREE corpus scans per model build with no
    * exchange reuse. With the whole vocabulary in one row, the
    * derivations below are per-ROW expressions on that row — interpreted
    * lambdas are fine at vocab size — and the corpus is scanned once. */
  private def vocabulary(docs: DataFrame): DataFrame =
    docs.agg(expr("word_count_agg(text)").as("m"))

  /** Top-[[VOCAB_TOP_K]] vocab → integer-micronat map, from the `m` row.
    * Arithmetic is bit-identical to the previous frame-level build: each
    * entry quantizes once via round(ln(cnt/total)·1e6), ties in the cut
    * break by (cnt desc, word asc) — a total order, so any engine and any
    * entry order produce the same vocab. */
  private def vmnExpr: org.apache.spark.sql.Column = expr(
    s"""map_from_entries(transform(
       |  slice(array_sort(map_entries(m), (a, b) -> CASE
       |          WHEN a.value > b.value THEN -1 WHEN a.value < b.value THEN 1
       |          WHEN a.key  < b.key  THEN -1 WHEN a.key  > b.key  THEN 1
       |          ELSE 0 END),
       |        1, $VOCAB_TOP_K),
       |  e -> struct(e.key,
       |    CAST(round(ln(CAST(e.value AS DOUBLE) / CAST($totalSql AS DOUBLE)) * 1000000D) AS BIGINT))))
       |""".stripMargin)

  private def oovExpr: org.apache.spark.sql.Column = expr(
    s"CAST(round(ln(0.5D / CAST($totalSql AS DOUBLE)) * 1000000D) AS BIGINT)")

  /** Corpus token total from the vocabulary row (Σ counts). */
  private val totalSql = "aggregate(map_values(m), 0L, (acc, v) -> acc + v)"

  /** Score any `(doc_id, text, ...)` frame against a fitted model — one
    * shuffle-free pass (broadcast singleton + per-row integer fold), so
    * the same body scores a batch corpus and an unbounded stream.
    * Tokenize + count + fold all happen in the native
    * [[graft.plans.ModelScore]] kernel (one compiled pass over the text
    * bytes per row); the `split` + interpreted `aggregate()` lambda it
    * replaces was the last higher-order fold on a corpus-scaling path —
    * measured at 7.3×/3.8× DuckDB compute at sf5/sf25, the per-token
    * interpretation tax the l2f ladder quantified plus the per-row words
    * array the fold immediately threw away. */
  def scoreWithModel(docs: DataFrame, model: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.plans.Native.install(spark)
    docs
      .crossJoin(broadcast(model))
      .select($"doc_id", expr("model_score(text, vmn, oov_mn)").as("sc"))
      .select(
        $"doc_id",
        $"sc.n_tokens".as("n_tokens"),
        $"sc.sum_micronats".as("sum_micronats"))
      .withColumn("avg_micronats",
        $"sum_micronats".cast("double") / $"n_tokens".cast("double"))
  }

  def l17UnigramLogprob(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    scoreWithModel(docs, unigramModel(docs)).orderBy($"doc_id")
  }

  /** Bigrams kept in the backoff model (the vocab-cap idiom one order up:
    * a production run sizes this to the broadcast budget — the model is
    * O(top-K) whatever the corpus). */
  val BIGRAM_TOP_K = 64

  /** Stupid-backoff penalty (Brants et al. 2007, "Large language models
    * in machine translation": score = α · unigram when the bigram is
    * unseen, α = 0.4) in integer micronats — computed ONCE here and
    * spliced into both engines' arithmetic so no second rounding exists. */
  val BACKOFF_MN: Long = math.round(math.log(0.4) * 1e6)

  /** Separator inside a bigram map key; never occurs in the corpus (the
    * BPE_SEP argument), so a key can't be faked by word content. */
  private val BIGRAM_SEP = "\u0001"

  /** Fitted bigram-backoff model as a 1-row broadcastable frame:
    * the l17 unigram columns (vmn, oov_mn) plus `bmn`, the top-K bigram
    * conditionals P(w|prev) = cnt(prev,w)/cnt(prev) in integer micronats.
    * Two corpus scans total: the shared [[vocabulary]] map row and the
    * adjacent-pair counts (the pair fan-out collapses map-side to the
    * observed bigram vocabulary before its only exchange). The pair
    * top-K cut — ordered by (cnt2 desc, prev, w), which never needs the
    * denominator — happens BEFORE the vocabulary row joins in, so the
    * unigram counts are consumed exactly once: the conditional's
    * denominator is a map probe `m[prev]` over the top-K rows collapsed
    * to one array, every per-entry expression running on a single row. */
  def bigramModel(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.plans.Native.install(spark)
    val top2 = docs
      .withColumn("words", split($"text", " "))
      .filter(size($"words") >= 2)
      .select(explode(expr(
        "transform(sequence(2, size(words)), " +
          "i -> struct(element_at(words, i - 1) AS prev, element_at(words, i) AS w))")).as("p"))
      .groupBy($"p.prev".as("prev"), $"p.w".as("w"))
      .agg(count(lit(1)).as("cnt2"))
      .orderBy($"cnt2".desc, $"prev".asc, $"w".asc).limit(BIGRAM_TOP_K)
      .agg(collect_list(struct($"prev", $"w", $"cnt2")).as("top2"))
    vocabulary(docs)
      .crossJoin(broadcast(top2))
      .select(vmnExpr.as("vmn"), oovExpr.as("oov_mn"), expr(
        // char(1) IS BIGRAM_SEP — the same spelling the l17b scorer probes with
        s"""map_from_entries(transform(top2, e ->
           |  struct(concat(e.prev, char(1), e.w),
           |    CAST(round(ln(CAST(e.cnt2 AS DOUBLE) / CAST(element_at(m, e.prev) AS DOUBLE))
           |         * 1000000D) AS BIGINT))))""".stripMargin).as("bmn"))
  }

  /** L17b [EXT]: bigram-backoff log-probability scoring — the l17 quality
    * scorer one Markov order up, the shape of every n-gram-LM corpus
    * filter (CCNet/KenLM-style perplexity gates): token 1 scores by the
    * unigram table; token i>1 by the bigram conditional if (w[i-1], w[i])
    * is in the model, else by unigram + the fixed stupid-backoff penalty.
    * Everything stays exact integer micronats (each table entry rounds
    * once at fit time; scoring is lookups + integer sums), so the whole
    * chain — fit, backoff, fold — is hash-exact against the SQL replay.
    * Scale: both model passes collapse map-side to vocabulary-sized
    * exchanges; scoring is the l17 shuffle-free broadcast fold (the same
    * body would score an unbounded stream, the r11 argument). */
  def l17bBigramLogprob(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    // zero-lambda positional scoring (positions exploded, no lambda): posexplode the
    // token positions and compute each token's micronats in the flat
    // post-Generate projection — element_at/concat/try_element_at all run
    // inside whole-stage codegen and Generate pipelines `words` by
    // reference, where the aggregate()-lambda form evaluates interpreted
    // with a per-token string concat inside the fold (measured 3.0s vs
    // 1.0s at sf0.1 for identical semantics). Costs one (doc_id) exchange
    // that the fold avoids, collapsed map-side to one row per doc.
    docs.crossJoin(broadcast(bigramModel(docs)))
      .withColumn("words", split($"text", " "))
      .select($"doc_id", $"words", $"vmn", $"oov_mn", $"bmn",
        posexplode($"words").as(Seq("i", "w")))
      .select($"doc_id",
        when($"i" === 0, expr("coalesce(try_element_at(vmn, w), oov_mn)"))
          .otherwise(expr(
            // posexplode's i is 0-based, element_at 1-based: words[i] IS
            // the previous token
            s"""coalesce(
               |  try_element_at(bmn, concat(element_at(words, i), char(1), w)),
               |  coalesce(try_element_at(vmn, w), oov_mn) + ${BACKOFF_MN}L)""".stripMargin))
          .as("mn"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum($"mn").as("sum_micronats"))
      .withColumn("avg_micronats",
        $"sum_micronats".cast("double") / $"n_tokens".cast("double"))
      .orderBy($"doc_id")
  }

  /** Merge candidates kept by [[l20BpePairCount]]. */
  val BPE_TOP_PAIRS = 50

  /** L20 [EXT]: BPE pair counting — the inner loop of byte-pair-encoding
    * tokenizer training: count adjacent symbol pairs inside every word
    * across the corpus; the top pair is the next merge. One training
    * iteration as a first-class operator (the full loop re-runs it on the
    * re-segmented corpus; the counting pass is where all the data motion
    * lives, so it is the part that must be distributed right).
    *
    * Plan shape at 100 TB: Generate(words) → Generate(pair positions) →
    * partial hash-agg, all inside ONE codegen'd map stage — the per-char
    * row fan-out never crosses a wire because map-side combine collapses
    * it to the pair alphabet (~|chars|², hundreds) before the only
    * exchange; the top-K cut is a TakeOrdered over that tiny frame with a
    * total order (count desc, pair asc), so ties break identically on any
    * cluster and in the DuckDB oracle. */
  def l20BpePairCount(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(explode(split($"text", " ")).as("w"))
      // 1-char words have no pairs; the guard also keeps sequence() from
      // its descending-range behavior when length-1 < 1
      .filter(length($"w") >= 2)
      .select($"w", explode(expr("sequence(1, length(w) - 1)")).as("i"))
      .select(expr("substr(w, i, 2)").as("pair"))
      .groupBy($"pair").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"pair".asc)
      .limit(BPE_TOP_PAIRS)
  }

  /** Merge iterations learned by [[l21BpeLearn]]. */
  val BPE_MERGES = 8

  /** Checkpoint cadence for [[bpeLearn]]'s re-segmented vocab: each rank
    * stacks one `replace` projection on the cached frame, so without
    * truncation rank k re-optimizes a k-deep plan — harmless at K=8,
    * quadratic planning cost at a production 32k-merge vocabulary. Every
    * N ranks the vocab is localCheckpoint'ed (eager), cutting the lineage
    * back to a constant-depth RDD scan; the checkpoint is vocab-sized
    * (the collapsed word-frequency frame, NOT the corpus), and superseded
    * checkpoints are unreferenced after the next rotation, so the
    * ContextCleaner reclaims them. CorpusOpsSpec proves the ladder binds
    * (plan depth stays flat across 64 ranks) and that it is pure
    * mechanism (K=8 merges are byte-identical at any cadence). */
  val BPE_CHECKPOINT_EVERY = 100

  /** Symbol separator inside a segmented word; filtered out of the corpus
    * so a symbol boundary can never be faked by document content. */
  private val BPE_SEP = "\u001f"

  /** L21 [EXT]: the full BPE merge loop — learn a ranked merge table over
    * the corpus, the training step [[l20BpePairCount]] is one iteration
    * of. Returns (merge_rank, pair_a, pair_b, cnt): at each rank the
    * most frequent adjacent symbol pair (ties broken by pair text, so
    * the table is identical on any cluster and in the oracle), which is
    * then merged into one symbol everywhere before the next rank counts.
    *
    * The 100 TB shape is the word-frequency collapse: the corpus is
    * scanned ONCE into a (word, freq) vocabulary — the only full-data
    * pass — and all K iterations run on that vocab-sized cached frame
    * (pair counting weights by freq, exactly how single-node BPE
    * trainers avoid re-reading the corpus). Each iteration is one tiny
    * job: per-word pair fan-out, partial agg to the pair alphabet before
    * the only exchange, a 1-row argmax to the driver (the merge decision
    * is the loop-carried state, like l2e's fixpoint labels), and a
    * codegen'd `replace` re-segmenting the cached vocab. Words are
    * carried as separator-joined symbol strings so re-segmentation is
    * string replace, not list surgery; merge application is standard
    * non-overlapping left-to-right replace in BOTH engines (on a run of
    * the same symbol this defers re-pairing across a replacement
    * boundary to the next rank — a deliberate, documented deviation from
    * canonical BPE that makes the semantics engine-exact).
    *
    * The pair fan-out uses an interpreted transform lambda — fine here
    * because it runs on the VOCAB frame (distinct words), not the
    * corpus; the shingle ladder's 40x lambda tax (BENCHNOTES_HEAVY) is
    * about per-corpus-row lambdas.
    *
    * Exhaustion: a corpus can run out of adjacent pairs before `merges`
    * ranks (tiny vocab, or every word fully merged into one symbol) —
    * the loop then stops early and returns the ranks learned so far.
    * The unrolled-CTE oracle degenerates compatibly only because the
    * fixture never exhausts (CorpusOpsSpec pins the early stop on a
    * synthetic frame); a production caller sizing K against a small
    * corpus gets a short table, not an exception.
    */
  def bpeLearn(docs: DataFrame, merges: Int,
               checkpointEvery: Int = BPE_CHECKPOINT_EVERY): DataFrame =
    bpeLearnProbed(docs, merges, checkpointEvery, _ => ())

  /** [[bpeLearn]] with a per-rank probe observing the loop-carried vocab
    * frame — the seam CorpusOpsSpec uses to assert the checkpoint ladder
    * keeps plan depth bounded. Test-only; semantics identical. */
  private[graft] def bpeLearnProbed(docs: DataFrame, merges: Int,
                                    checkpointEvery: Int,
                                    probe: DataFrame => Unit): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // r18: when the PLANNED corpus input is small (a plan-stats property —
    // no job runs; spark.graft.bpe.vocabOnePartitionMaxBytes, default 1g),
    // the collapsed vocab caches as ONE partition. A single-partition
    // child reports SinglePartition, which satisfies every clustered
    // distribution, so each rank's pair-count + argmax compiles to an
    // EXCHANGE-FREE single job (complete-mode aggregate + TakeOrdered)
    // instead of a partial-agg shuffle stage plus a collect job per rank —
    // the per-rank job floor was ~60% of l21's wall. Past the threshold
    // (a real corpus whose vocab may not fit one task) the distributed
    // two-phase plan is unchanged; the merges are byte-identical either
    // way (CorpusOpsSpec pins both sides of the gate).
    val onePart = docs.queryExecution.optimizedPlan.stats.sizeInBytes <=
      BigInt(graft.operators.TableLog.confLong(spark,
        "spark.graft.bpe.vocabOnePartitionMaxBytes", (1L << 30).toString))
    val vocab0 = docs
      .select(explode(split($"text", " ")).as("w"))
      .filter(length($"w") >= 2 && !$"w".contains(BPE_SEP))
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      // SEP + a + SEP + b + SEP ...: one separator between every symbol plus
      // sentinels at both ends, so a merge pattern always matches whole
      // symbols; (?s) so a stray newline inside a word is still one char
      .select(
        concat(lit(BPE_SEP), regexp_replace($"w", "(?s)(.)", "$1" + BPE_SEP)).as("s"),
        $"freq")
    val vocab = (if (onePart) vocab0.coalesce(1) else vocab0).persist()
    try {
      var words: DataFrame = vocab
      val learned = collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      var rank = 1
      var exhausted = false
      while (rank <= merges && !exhausted) {
        val top = words
          .select(split(expr("substr(s, 2, length(s) - 2)"), BPE_SEP).as("syms"), $"freq")
          .filter(size($"syms") >= 2)
          .select(
            explode(expr(
              "transform(sequence(1, size(syms) - 1), i -> struct(syms[i-1] AS a, syms[i] AS b))"))
              .as("p"),
            $"freq")
          .groupBy($"p.a".as("a"), $"p.b".as("b"))
          .agg(sum($"freq").as("cnt"))
          .orderBy($"cnt".desc, $"a".asc, $"b".asc)
          .limit(1)
          .collect()
          .headOption
        top match {
          case None => exhausted = true // no adjacent pair left: stop early
          case Some(row) =>
            val (a, b, cnt) = (row.getString(0), row.getString(1), row.getLong(2))
            learned += ((rank, a, b, cnt))
            words = words.select(
              call_function("replace", $"s",
                lit(BPE_SEP + a + BPE_SEP + b + BPE_SEP),
                lit(BPE_SEP + a + b + BPE_SEP)).as("s"),
              $"freq")
            // lineage ladder: cut the stacked replace chain back to a
            // constant-depth scan every N ranks (see BPE_CHECKPOINT_EVERY)
            if (checkpointEvery > 0 && rank % checkpointEvery == 0)
              words = words.localCheckpoint()
            probe(words)
            rank += 1
        }
      }
      learned.toSeq.toDF("merge_rank", "pair_a", "pair_b", "cnt").orderBy($"merge_rank")
    } finally { vocab.unpersist(false); () }
  }

  def l21BpeLearn(spark: SparkSession, sfDir: String): DataFrame =
    bpeLearn(Tables.documents(spark, sfDir), BPE_MERGES)

  /** The learned merge table as a fingerprint-stamped artifact — the
    * fitted-codebook memo idiom (Clustering.ensureCodebook) for BPE:
    * [[bpeLearn]] is a deterministic function of the documents table
    * (exact counts, total tie order), and
    * its per-rank driver fixpoint costs BPE_MERGES jobs, so the APPLY
    * side ([[l22BpeTokenize]]) replays the persisted table instead of
    * re-learning per evaluation — a production tokenizer trains once and
    * tokenizes forever. Stamped against the DOCUMENTS source
    * ([[graft.Stamp.of]] — not the embeddings fingerprint the ANN
    * memos use), so a fixture regen that touches only documents rebuilds.
    * l21 keeps the inline training: checking the LEARN is its point. */
  private[graft] def ensureBpeMerges(spark: SparkSession, sfDir: String): Seq[(String, String)] = {
    import spark.implicits._
    val path = s"${AnnIndex.indexDir(spark, sfDir)}/bpe_merges"
    Stamp.ensure(path, Stamp.of(s"$sfDir/documents.parquet"), Stamp.committed(path)) {
      Tables.sink(path) {
        bpeLearn(Tables.documents(spark, sfDir), BPE_MERGES).coalesce(1)
          .write.mode("overwrite").parquet(path)
      }
    }
    // merges MUST apply in rank order — parquet row order is not a
    // contract, the sort is
    Tables.readMemo(spark, path).orderBy($"merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
  }

  /** L22 [EXT]: tokenize the corpus under the LEARNED tokenizer — the
    * apply side of [[bpeLearn]], producing per-doc token counts (the
    * compression-ratio stat real pipelines track per tokenizer change).
    *
    * The 100 TB shape is learn-once/apply-by-dictionary: segmentation is
    * a pure per-word function, so the K merges are applied ONCE to the
    * distinct-word vocabulary and the resulting (word → token count)
    * dictionary BROADCASTS onto one corpus scan — tokenization is a
    * broadcast hash join at scan speed, never a re-run of the merge loop
    * per occurrence, and the only exchange is the per-doc partial agg.
    * Words outside the vocabulary (length 1 or carrying the separator)
    * count as one token via the left join's coalesce.
    */
  def l22BpeTokenize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    // replay the stamped merge table (see ensureBpeMerges) — the apply
    // side never re-learns
    val table = ensureBpeMerges(spark, sfDir)
    val seg0 = docs.select(explode(split($"text", " ")).as("w"))
      .filter(length($"w") >= 2 && !$"w".contains(BPE_SEP))
      .distinct()
      .select($"w", concat(lit(BPE_SEP), regexp_replace($"w", "(?s)(.)", "$1" + BPE_SEP)).as("s"))
    val seg = table.foldLeft(seg0) { case (df, (a, b)) =>
      df.withColumn("s", call_function("replace", $"s",
        lit(BPE_SEP + a + BPE_SEP + b + BPE_SEP), lit(BPE_SEP + a + b + BPE_SEP)))
    }
    // symbols per word = separators - 1 (sentinels at both ends)
    val dict = seg.select($"w",
      (length($"s") - length(call_function("replace", $"s", lit(BPE_SEP), lit(""))) - 1)
        .cast("long").as("n"))
    docs.select($"doc_id", explode(split($"text", " ")).as("w"))
      .join(broadcast(dict), Seq("w"), "left_outer")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("ws_tokens"),
        sum(coalesce($"n", lit(1L))).as("bpe_tokens"))
      .orderBy($"doc_id")
  }

  /** L6 [EXT]: deterministic hash-based sampling — the reproducible way to
    * subsample a training corpus (rand() differs per engine/partitioning;
    * a content-keyed hash does not). Stratified: per-language rates, e.g.
    * keep 50% of English, 20% of everything else. The sampling decision
    * is a pure function of doc_id, so re-runs, retries, and engine swaps
    * select the identical subset. */
  def l6HashSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // 2-digit hex prefix of md5(doc_id) -> uniform bucket in [0, 256)
    val bucket = expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 2), 16, 10) AS BIGINT)")
    Tables.documents(spark, sfDir)
      .withColumn("bucket", bucket)
      .withColumn("keep",
        when($"lang" === "en", $"bucket" < 128).otherwise($"bucket" < 51))
      .filter($"keep")
      .select($"doc_id", $"lang", $"bucket")
      .orderBy($"doc_id")
  }

  /** L7 [EXT]: TF-IDF top terms per document. tf and df are exact integer
    * counts (term-doc pairs distinct-counted); the score uses a linear
    * idf (tf * N / df as double division of exact longs) so it is
    * bit-deterministic — `ln` is deliberately avoided because libm and
    * JVM log implementations may differ in the last ulp. Top-3 terms per
    * doc, ties broken by the term key.
    *
    * Shuffle diet: the term STRING never rides a full-corpus shuffle.
    * Terms are hashed to a 48-bit long (`conv(substr(md5(s),1,12),16,10)`
    * — the same trick l2d uses for shingles, Dedup.scala:54) before the
    * tf groupBy, so the tf/df/join/window exchanges all move 8-byte keys;
    * the string is recovered at the end by joining a vocab-sized
    * dictionary against the ≤3 surviving rows per doc. Hash collisions
    * merge tf rows and the dictionary resolves them to the min term —
    * deterministic, and mirrored bit-for-bit by the oracle SQL. */
  def l7TfidfTopTerms(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.plans.Native.install(spark)
    val tkey = expr("md5_prefix48(term)")
    val docs = Tables.documents(spark, sfDir)
    val terms = docs
      .select($"doc_id", explode(split($"text", " ")).as("term"))
    val tf = terms.select($"doc_id", tkey.as("tkey"))
      .groupBy($"doc_id", $"tkey").agg(count(lit(1)).as("tf"))
    // df from tf, not from a second explode+distinct over the raw terms:
    // tf already holds one row per (doc, tkey), so df is a count per key —
    // one less full-corpus shuffle, and the tf exchange feeds both join
    // sides (AQE reuses the shuffle stage instead of re-running the
    // explode+hash scan). The tf >= 1 filter is vacuously true but keeps
    // the aggregate subtree identical to the join side: without it the
    // optimizer prunes the count off this branch, the exchanges diverge,
    // and the corpus is scanned twice.
    val df = tf.filter($"tf" >= 1).groupBy($"tkey").agg(count(lit(1)).as("df"))
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id")
      .orderBy($"score".desc, $"tkey")
    val survivors = tf.join(df, "tkey")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", $"tf".cast("double") * $"n_docs" / $"df")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 3)
    // dictionary: map-side dedup collapses the corpus to ~vocab rows
    // before this shuffle — the only exchange that carries strings
    val dict = terms.select(tkey.as("tkey"), $"term")
      .groupBy($"tkey").agg(min($"term").as("term"))
    survivors.join(dict, "tkey")
      .select($"doc_id", $"rk", $"term", $"tf", $"df", $"score")
      .orderBy($"doc_id", $"rk")
  }

  /** L4f [EXT]: repetition-based quality signals (the C4/Gopher filter
    * family): duplicate-word fraction and top-bigram fraction, with the
    * standard flag thresholds. Bigrams are counted under the 48-bit md5
    * key (the l7 trick): the grouping shuffles 8-byte keys, never bigram
    * strings — and the strings never surface, so no dictionary join-back
    * is needed at all. */
  def l4fRepetitionStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.plans.Native.install(spark)
    // the bigram fan-out (split + transform + explode + digest) dominates;
    // spread the unsplittable scan so it runs on every core
    val withW = Tables.spread(Tables.documents(spark, sfDir))
      .withColumn("words", split($"text", " "))
      .select($"doc_id",
        size($"words").cast("long").as("n_words"),
        size(array_distinct($"words")).cast("long").as("n_distinct"),
        $"words")
      .filter($"n_words" >= 2)
    // digest AFTER the explode: the higher-order transform lambda runs
    // interpreted per element, so it only builds the (cheap) bigram
    // string; md5_prefix48 then evaluates in the codegen'd projection
    val bigrams = withW.select($"doc_id", $"n_words", $"n_distinct",
      explode(expr(
        "transform(sequence(1, size(words) - 1), " +
          "i -> concat(words[i-1], ' ', words[i]))")).as("bgs"))
      .select($"doc_id", $"n_words", $"n_distinct",
        expr("md5_prefix48(bgs)").as("bg"))
    bigrams
      .groupBy($"doc_id", $"n_words", $"n_distinct", $"bg")
      .agg(count(lit(1)).as("c"))
      .groupBy($"doc_id", $"n_words", $"n_distinct")
      .agg(max($"c").as("top_bigram_n"))
      .select($"doc_id",
        (lit(1.0) - $"n_distinct".cast("double") / $"n_words").as("dup_word_frac"),
        ($"top_bigram_n".cast("double") / ($"n_words" - 1)).as("top_bigram_frac"),
        ((lit(1.0) - $"n_distinct".cast("double") / $"n_words") > 0.3
          || ($"top_bigram_n".cast("double") / ($"n_words" - 1)) > 0.1).as("flagged"))
      .orderBy($"doc_id")
  }

  /** L4e: document fingerprint — polynomial rolling hash over the code
    * points (mod 1e9+7), plus a strong md5. The rolling form is the
    * building block for winnowing-style fingerprints. Computed by the
    * native one-pass [[graft.plans.RollingFp]]: the composed
    * `aggregate(transform(sequence(...), i -> ascii(substr(text,i,1))))`
    * form is O(n²) per document (each `substr` seeks from byte 0) and was
    * the slowest query of the round-10 bench at 3.35s; the native fold is
    * O(n) inside whole-stage codegen and matches the DuckDB
    * `unicode(text[i])` oracle on all input, not just ASCII. */
  def l4eFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.plans.Native.install(spark)
    Tables.documents(spark, sfDir)
      .select(
        $"doc_id",
        expr("rolling_fp(text)").as("rolling_fp"),
        md5($"text").as("md5_fp"))
      .orderBy($"doc_id")
  }

  /** L10 [EXT]: PII redaction — the scrub pass every training corpus runs
    * before tokenization: emails and long digit runs (phone/account
    * numbers) replaced by type tags. Pure per-row `regexp_replace`
    * (codegen'd, no shuffle; 100 TB costs one scan), patterns restricted
    * to syntax Java regex and RE2 agree on. The fixture text contains no
    * PII, so a deterministic contact string is derived from `doc_id`
    * inside the query (mirrored exactly in the oracle) — the match +
    * replace semantics are then verified on every row rather than
    * vacuously. Output carries md5(redacted) instead of the text so the
    * oracle hashes replacement equivalence without dumping the corpus. */
  def l10PiiRedact(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val digits = "[0-9]{9,}"
    // two regex passes per row dominate; spread the unsplittable scan
    Tables.spread(Tables.documents(spark, sfDir))
      .withColumn("raw", concat(
        $"text", lit(" contact user"), $"doc_id",
        lit("@mail.example.com ph "),
        lpad(($"doc_id" * 7919L % 1000000000L + 1000000000L).cast("string"), 10, "0")))
      .withColumn("clean",
        regexp_replace(regexp_replace($"raw", email, "<EMAIL>"), digits, "<NUM>"))
      .select(
        $"doc_id",
        md5($"clean").as("clean_md5"),
        // Column form, not expr(): the SQL parser unescapes string
        // literals, so an embedded '\.' would silently become a bare '.'
        // wildcard and the count regex would diverge from the redaction
        // regex above (and from the DuckDB oracle, which never unescapes).
        regexp_count($"raw", lit(email)).cast("long").as("n_emails"),
        regexp_count($"raw", lit(digits)).cast("long").as("n_nums"))
      .orderBy($"doc_id")
  }

  /** Per-domain cap (docs kept per source). */
  val DOMAIN_CAP = 10

  /** L16 [EXT]: per-domain quota cap — keep at most [[DOMAIN_CAP]]
    * documents per source, best-first by l4c's quality score with doc_id
    * as the deterministic tiebreak. The RefinedWeb/FineWeb posture: an
    * over-represented domain (one forum mirrored a million times) must not
    * dominate the mixture, and the cap keeps the domain's BEST documents,
    * not a random slice — the per-stratum complement to l11's rate-based
    * source rebalancing.
    *
    * Scale: a rank-then-filter window is the one shape Spark optimizes
    * into a partial top-K: `InferWindowGroupLimit` rewrites the
    * row_number <= N filter into a WindowGroupLimit that keeps N+1 rows
    * per (source) per MAP PARTITION before the exchange — so the shuffle
    * ships O(domains x N) rows, not the corpus, and a billion-document
    * hot domain costs each map task at most N buffered rows. PlanAudit
    * asserts the WindowGroupLimit(Partial) is in the plan — without it
    * this operator would be a corpus-wide skewed shuffle. */
  def l16DomainCap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val scored = Tables.documents(spark, sfDir)
      .withColumn("words", split($"text", " "))
      .withColumn("n_words", size($"words").cast("long"))
      .withColumn("n_distinct", size(array_distinct($"words")).cast("long"))
      .select($"doc_id", $"source",
        (($"n_distinct".cast("double") / $"n_words") * lit(0.7)
          + when($"n_words" >= 20 && $"n_words" <= 1000, lit(0.3)).otherwise(lit(0.0)))
          .as("quality_score"))
    val bySource = Window.partitionBy($"source")
      .orderBy($"quality_score".desc, $"doc_id".asc)
    scored
      // the filter sits directly on the raw row_number attribute — the
      // exact Filter-over-Window shape InferWindowGroupLimit rewrites; a
      // cast in between would hide the rank column from the rule
      .withColumn("rk", row_number().over(bySource))
      .filter($"rk" <= DOMAIN_CAP)
      .select($"doc_id", $"source", $"quality_score", $"rk".cast("long").as("rk"))
      .orderBy($"source", $"rk")
  }

  /** Misra–Gries sketch capacity (candidates kept per partition) for
    * [[l25HeavyHitters]]. Sized BELOW the fixture's bigram key space
    * (916 distinct) so the eviction path genuinely runs, while keeping
    * the admission bound N/capacity under the top-K counts so the
    * two-pass result is provably exact (CorpusOpsSpec asserts both). */
  val HH_CAPACITY = 768

  /** Top-K reported by [[l25HeavyHitters]]. */
  val HH_TOPK = 20

  /** One partition's Misra–Gries pass (Misra & Gries 1982, "Finding
    * repeated elements"): at most `capacity` counters; a full sketch
    * meeting an untracked key decrements every counter (amortized O(1)
    * per element — each decrement-all consumes capacity+1 count mass, so
    * there are at most N/(capacity+1) of them). Survivors are the
    * partition's candidates: any key with partition count > N_p/capacity
    * is guaranteed present. */
  private[graft] def mgCandidates(it: Iterator[String], capacity: Int): Iterator[String] = {
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    while (it.hasNext) {
      val w = it.next()
      m.get(w) match {
        case Some(c) => m.update(w, c + 1)
        case None if m.size < capacity => m.update(w, 1L)
        case None =>
          m.mapValuesInPlace((_, c) => c - 1)
          m.filterInPlace((_, c) => c > 0)
      }
    }
    m.keysIterator
  }

  /** L25 [EXT]: EXACT corpus-scale heavy hitters — the top-[[HH_TOPK]]
    * most frequent word bigrams (l4f's boilerplate unit) by the classic
    * two-pass sketch-then-recount, the shape frequency mining over an
    * OPEN key domain (n-grams, URLs, hosts) needs at 100 TB, where the
    * obvious full-vocabulary groupBy shuffles an unbounded distinct key
    * space:
    *
    *  - pass 1: each partition runs [[mgCandidates]] over its bigrams —
    *    bounded memory, zero shuffle of the key space; pigeonhole lifts
    *    the per-partition guarantee to the union (Σ_p N_p/cap = N/cap,
    *    so a key with global count > N/cap beats N_p/cap somewhere and
    *    survives that sketch). Candidate volume ≤ partitions × capacity.
    *  - pass 2: candidates broadcast onto a second scan; only candidate
    *    keys are counted, so after map-side partial agg the one exchange
    *    carries ≤ |candidates| keys, and TakeOrdered yields the top-K
    *    with no global sort.
    *
    * The result is exact — hence DuckDB-oracle-able against a plain
    * GROUP BY top-K — whenever the K-th count exceeds N/capacity;
    * CorpusOpsSpec asserts that margin on the fixture (top-20 ≈ 43
    * occurrences vs N/768 ≈ 36) and that the sketch actually evicts
    * (916 distinct bigrams > 768 counters). The margin ratio is
    * replication-invariant, so it holds unchanged at the heavy tiers. */
  def l25HeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    def bigrams = Tables.documents(spark, sfDir)
      .withColumn("words", split($"text", " "))
      .filter(size($"words") >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(words) - 1), i -> concat(words[i-1], ' ', words[i]))"))
        .as("bg"))
    val candidates = bigrams.as[String]
      .mapPartitions(it => mgCandidates(it, HH_CAPACITY))
      .distinct()
      .toDF("bg")
    bigrams
      .join(broadcast(candidates), "bg")
      .groupBy($"bg").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"bg".asc)
      .limit(HH_TOPK)
  }
}
