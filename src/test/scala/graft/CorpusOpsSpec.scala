package graft

import org.apache.spark.sql.functions._

/** Semantic invariants for the corpus-prep additions (l14/l15/l16) the
  * DuckDB hash-compare can't express as clearly: chunk reconstruction,
  * screen-count consistency, and the cap/ordering contract. */
class CorpusOpsSpec extends SparkSpecBase {

  test("l15: stride-prefixes of chunks reassemble every document exactly") {
    import spark.implicits._
    val s = graft.llm.Assembly.CHUNK_STRIDE
    // take the first CHUNK_STRIDE words of every chunk except the last,
    // then the whole last chunk: concatenated in chunk order this must be
    // the original text — the overlap is redundant BY CONSTRUCTION, so
    // dropping it loses nothing (the property a RAG splitter must hold)
    val chunks = graft.llm.Assembly.l15Chunk(spark, sfDir)
    val maxId = chunks.groupBy($"doc_id").agg(max($"chunk_id").as("last_id"))
    val rebuilt = chunks.join(maxId, "doc_id")
      .select($"doc_id", $"chunk_id",
        when($"chunk_id" < $"last_id",
          concat_ws(" ", slice(split($"chunk_text", " "), 1, s)))
          .otherwise($"chunk_text").as("piece"))
      .groupBy($"doc_id")
      .agg(concat_ws(" ", array_sort(collect_list(struct($"chunk_id", $"piece")))
        .getField("piece")).as("rebuilt"))
    val joined = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").join(rebuilt, "doc_id")
    assert(joined.filter($"text" =!= $"rebuilt").count() === 0)
    // and every non-final chunk is exactly CHUNK_WIDTH tokens
    val w = graft.llm.Assembly.CHUNK_WIDTH
    assert(chunks.join(maxId, "doc_id")
      .filter($"chunk_id" < $"last_id" && $"n_tokens" =!= w).count() === 0)
  }

  test("l14: span counts agree with a first-principles string recount") {
    import spark.implicits._
    val r = graft.llm.Dedup.l14SpanScreen(spark, sfDir).cache()
    // bounds: 0 <= n_dup_spans <= n_spans, ratio = quotient
    assert(r.filter($"n_dup_spans" < 0 || $"n_dup_spans" > $"n_spans").count() === 0)
    assert(r.filter(abs($"dup_ratio" * $"n_spans" - $"n_dup_spans") > 1e-9).count() === 0)
    // self-check against first principles: recompute one doc's dup count
    // from the raw corpus (distinct 5-gram strings shared with ANY other
    // doc) and compare — ties the hash pipeline back to strings
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", split($"text", " ").as("w"))
      .filter(size($"w") >= 5)
      .select($"doc_id", explode(expr(
        "array_distinct(transform(sequence(1, size(w) - 4), i -> concat_ws(' ', slice(w, i, 5))))"))
        .as("g"))
    val df = docs.groupBy($"g").agg(countDistinct($"doc_id").as("docs"),
      count(lit(1)).as("occurrences"))
    val expected = docs.join(df.filter($"occurrences" >= 2), "g")
      .groupBy($"doc_id").agg(count(lit(1)).as("exp_dup"))
    val cmp = r.join(expected, Seq("doc_id"), "left")
      .select($"doc_id", $"n_dup_spans", coalesce($"exp_dup", lit(0L)).as("exp_dup"))
    assert(cmp.filter($"n_dup_spans" =!= $"exp_dup").count() === 0)
    r.unpersist()
  }

  test("l16: at most DOMAIN_CAP per source, dense ranks, scores non-increasing") {
    import spark.implicits._
    val n = graft.llm.TextAnalysis.DOMAIN_CAP
    val r = graft.llm.TextAnalysis.l16DomainCap(spark, sfDir).cache()
    val per = r.groupBy($"source").agg(count(lit(1)).as("kept"),
      max($"rk").as("max_rk"), min($"rk").as("min_rk"))
    assert(per.filter($"kept" > n).count() === 0)
    // ranks are exactly 1..kept (dense, no gaps)
    assert(per.filter($"min_rk" =!= 1 || $"max_rk" =!= $"kept").count() === 0)
    // kept scores never increase as rank grows
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"rk")
    assert(r.withColumn("prev", lag($"quality_score", 1).over(w))
      .filter($"prev".isNotNull && $"quality_score" > $"prev").count() === 0)
    // and nothing kept scores worse than anything dropped in its source
    val scoredAll = Tables.documents(spark, sfDir)
      .withColumn("ws", split($"text", " "))
      .select($"doc_id", $"source",
        ((size(array_distinct($"ws")).cast("double") / size($"ws")) * 0.7
          + when(size($"ws") >= 20 && size($"ws") <= 1000, 0.3).otherwise(0.0))
          .as("score"))
    val dropped = scoredAll.join(r.select($"doc_id"), Seq("doc_id"), "left_anti")
      .groupBy($"source").agg(max($"score").as("best_dropped"))
    val worstKept = r.groupBy($"source").agg(min($"quality_score").as("worst_kept"))
    assert(worstKept.join(dropped, "source")
      .filter($"best_dropped" > $"worst_kept").count() === 0)
    r.unpersist()
  }

  test("l17: quantization margins are engine-safe, OOV live, score recomputes from first principles") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val counts = docs.select(explode(split($"text", " ")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum.toDouble
    val K = graft.llm.TextAnalysis.VOCAB_TOP_K
    // the vocab cap must actually cut — otherwise the OOV floor is dead
    // code the oracle never checks
    assert(counts.size > K, s"fixture vocab ${counts.size} <= cap $K: OOV path untested")
    val vocab = counts.toSeq.sortBy { case (w, c) => (-c, w) }.take(K)
    // determinism claim made checkable: a 1-ulp ln() difference between
    // the JVM and libm moves ln(p)*1e6 by ~1e-9, so cross-engine
    // bit-equality needs every distinct quantized value to sit far from a
    // .5 rounding boundary — enforce a 1e-6 margin (1000x the slip) for
    // each vocab count and the OOV floor
    (vocab.map(_._2.toDouble) :+ 0.5).foreach { c =>
      val x = math.log(c / total) * 1e6
      val frac = x - math.floor(x)
      assert(math.abs(frac - 0.5) > 1e-6, s"cnt=$c quantizes within 1e-6 of a .5 boundary")
    }
    // first principles: one doc's score recomputed in plain Scala
    val row = graft.llm.TextAnalysis.l17UnigramLogprob(spark, sfDir)
      .filter($"doc_id" === 0).collect()(0)
    val words = docs.filter($"doc_id" === 0)
      .select($"text").collect()(0).getString(0).split(" ")
    val vmap = vocab.toMap
    val expected = words.map { w =>
      math.round(math.log(vmap.get(w).map(_.toDouble).getOrElse(0.5) / total) * 1e6)
    }.sum
    assert(row.getAs[Long]("sum_micronats") === expected)
    assert(row.getAs[Long]("n_tokens") === words.length)
  }

  test("l17b: bigram backoff recomputes from first principles; both paths fire") {
    import spark.implicits._
    val T = graft.llm.TextAnalysis
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    // plain-Scala model fit with the operator's exact rules
    val uni = docs.values.flatten.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val total = uni.values.sum.toDouble
    val vocab = uni.toSeq.sortBy { case (w, c) => (-c, w) }.take(T.VOCAB_TOP_K).toMap
    def mnUni(w: String): Long =
      math.round(math.log(vocab.get(w).map(_.toDouble).getOrElse(0.5) / total) * 1e6)
    val bcnt = docs.values.flatMap(ws => ws.sliding(2).filter(_.size == 2)
      .map(p => (p(0), p(1)))).groupBy(identity).map { case (p, g) => p -> g.size.toLong }
    val bmn = bcnt.toSeq
      .sortBy { case ((prev, w), c) => (-c, prev, w) }.take(T.BIGRAM_TOP_K)
      .map { case ((prev, w), c) =>
        (prev, w) -> math.round(math.log(c.toDouble / uni(prev)) * 1e6) }
      .toMap
    def score(ws: Seq[String]): Long =
      mnUni(ws.head) + ws.sliding(2).filter(_.size == 2).map { p =>
        bmn.getOrElse((p(0), p(1)), mnUni(p(1)) + T.BACKOFF_MN)
      }.sum
    val got = T.l17bBigramLogprob(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    docs.foreach { case (id, ws) =>
      assert(got(id) === ((ws.size.toLong, score(ws))), s"doc $id mismatch")
    }
    // both scoring paths fire on the fixture: some adjacent pair is in the
    // model, some pair falls back — otherwise half the operator is dead
    val pairsInCorpus = docs.values.flatMap(_.sliding(2).filter(_.size == 2)
      .map(p => (p(0), p(1)))).toSet
    assert(pairsInCorpus.exists(bmn.contains), "no bigram hit on the fixture")
    assert(pairsInCorpus.exists(p => !bmn.contains(p)), "no backoff on the fixture")
  }

  test("l18: no source straddles splits; buckets are md5-derived and boundaries hold") {
    import spark.implicits._
    val r = graft.llm.Assembly.l18LeakageSplit(spark, sfDir).cache()
    // the leakage guard itself: every provenance group in exactly one split
    assert(r.groupBy($"source").agg(countDistinct($"split").as("k"))
      .filter($"k" =!= 1).count() === 0)
    // bucket really is the md5 prefix of the GROUP key (recomputed in
    // plain Scala), so the assignment is content-determined — identical
    // across re-runs, partitionings, and engines
    val (src, b) = r.select($"source", $"bucket").as[(String, Long)].head()
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(src.getBytes("UTF-8")).take(1).map("%02x".format(_)).mkString
    assert(java.lang.Long.parseLong(hex, 16) === b)
    // split boundaries honored exactly
    assert(r.filter($"split" === "train" && $"bucket" >= 205).count() === 0)
    assert(r.filter($"split" === "valid"
      && ($"bucket" < 205 || $"bucket" >= 230)).count() === 0)
    assert(r.filter($"split" === "test" && $"bucket" < 230).count() === 0)
    // n_tokens consistent with the raw text
    val bad = r.join(Tables.documents(spark, sfDir).select($"doc_id", $"text"), "doc_id")
      .filter(size(split($"text", " ")).cast("long") =!= $"n_tokens")
    assert(bad.count() === 0)
    r.unpersist()
  }

  test("l20: pair counts recount from plain Scala; top cut is total-ordered") {
    import spark.implicits._
    val r = graft.llm.TextAnalysis.l20BpePairCount(spark, sfDir)
      .orderBy($"cnt".desc, $"pair".asc).collect()
      .map(row => row.getString(0) -> row.getLong(1))
    // first principles: recount every adjacent char pair in plain Scala
    val words = Tables.documents(spark, sfDir)
      .select($"text").collect().flatMap(_.getString(0).split(" "))
    val all = scala.collection.mutable.Map.empty[String, Long]
    for (w <- words if w.length >= 2; i <- 0 until w.length - 1) {
      val p = w.substring(i, i + 2)
      all(p) = all.getOrElse(p, 0L) + 1L
    }
    val expected = all.toSeq
      .sortBy { case (p, c) => (-c, p) }
      .take(graft.llm.TextAnalysis.BPE_TOP_PAIRS)
    assert(r.toSeq === expected)
    // and every returned pair is exactly 2 chars with a positive count
    assert(r.forall { case (p, c) => p.length == 2 && c > 0 })
  }

  /** Sequential single-node BPE with the operator's exact semantics:
    * vocab collapse, freq-weighted pair counts, (cnt desc, pair asc)
    * argmax, and single-pass left-to-right `String.replace` merge
    * application (Java and both engines' `replace` share it). */
  private def refBpe(docs: Seq[String], k: Int): Seq[(Int, String, String, Long)] = {
    val S = "\u001f"
    var vocab: Seq[(String, Long)] = docs.flatMap(_.split(" "))
      .filter(w => w.length >= 2 && !w.contains(S))
      .groupBy(identity).toSeq
      .map { case (w, g) => (S + w.map(c => s"$c$S").mkString) -> g.size.toLong }
    val out = collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (rank <- 1 to k) {
      val pairs = collection.mutable.Map.empty[(String, String), Long]
      for ((s, f) <- vocab) {
        val syms = s.substring(1, s.length - 1).split(S)
        if (syms.length >= 2)
          for (i <- 0 until syms.length - 1) {
            val key = (syms(i), syms(i + 1))
            pairs(key) = pairs.getOrElse(key, 0L) + f
          }
      }
      val ((a, b), c) = pairs.toSeq.sortBy { case ((x, y), n) => (-n, x, y) }.head
      out += ((rank, a, b, c))
      vocab = vocab.map { case (s, f) => s.replace(S + a + S + b + S, S + a + b + S) -> f }
    }
    out.toSeq
  }

  test("l21: merge table equals the sequential reference; rank 1 is l20's top pair") {
    import spark.implicits._
    // corpus chosen so a learned merge feeds a later one (th -> the) AND a
    // repeated-symbol run ('aaaa') wins a rank, pinning the documented
    // single-pass replace semantics on runs
    val corpus = Seq(
      "the theme thesis brother ethos aaaa",
      "aaaa aaaa banana bananas weather",
      "theme the feather aaaa loom bloom banana")
    val k = 6
    val got = graft.llm.TextAnalysis.bpeLearn(corpus.map(Tuple1(_)).toDF("text"), k)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val want = refBpe(corpus, k)
    assert(got === want)
    // the run-word must actually have been merged at some rank, and at
    // least one merge must consume an earlier merge's output symbol
    assert(want.exists { case (_, a, b, _) => a == "a" && b == "a" })
    assert(want.exists { case (_, a, b, _) => a.length > 1 || b.length > 1 })
    // on the fixture corpus, rank 1 of the loop IS l20's top pair (l20 is
    // one iteration of this loop, counted per word instance)
    val r1 = graft.llm.TextAnalysis.l21BpeLearn(spark, sfDir)
      .orderBy($"merge_rank").limit(1).collect()(0)
    val top20 = graft.llm.TextAnalysis.l20BpePairCount(spark, sfDir).limit(1).collect()(0)
    assert(r1.getString(1) + r1.getString(2) === top20.getString(0))
    assert(r1.getLong(3) === top20.getLong(1))
  }

  test("l21: pair exhaustion stops early with the ranks learned so far") {
    import spark.implicits._
    // vocab {ab, cd}: rank 1 merges a+b (freq 4), rank 2 merges c+d, then
    // no adjacent pair remains anywhere — the loop must return 2 ranks,
    // not throw on the empty argmax (bpeLearn takes arbitrary frames)
    val tiny = Seq("ab ab ab", "ab cd").map(Tuple1(_)).toDF("text")
    val got = graft.llm.TextAnalysis.bpeLearn(tiny, merges = 10).collect()
    assert(got.map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      === Seq((1, "a", "b", 4L), (2, "c", "d", 1L)))
  }

  test("l21: the single-partition-vocab gate is pure mechanism — merges byte-identical with the gate forced off") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val onePart = rows(graft.llm.TextAnalysis.bpeLearn(docs, 8))
    spark.conf.set("spark.graft.bpe.vocabOnePartitionMaxBytes", "0")
    try assert(rows(graft.llm.TextAnalysis.bpeLearn(docs, 8)) === onePart)
    finally spark.conf.unset("spark.graft.bpe.vocabOnePartitionMaxBytes")
  }

  test("l21: a malformed vocabOnePartitionMaxBytes is refused loudly, naming the key") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"text")
    spark.conf.set("spark.graft.bpe.vocabOnePartitionMaxBytes", "1g")
    val e = try intercept[IllegalArgumentException](graft.llm.TextAnalysis.bpeLearn(docs, 8))
      finally spark.conf.unset("spark.graft.bpe.vocabOnePartitionMaxBytes")
    assert(!e.isInstanceOf[NumberFormatException] &&
      e.getMessage.contains("spark.graft.bpe.vocabOnePartitionMaxBytes"), e.getMessage)
  }

  test("l21: checkpoint ladder bounds plan depth without changing the merges") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"text")
    // pure mechanism: the K=8 oracle-checked table is byte-identical under
    // an aggressive cadence
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(rows(graft.llm.TextAnalysis.bpeLearn(docs, 8, checkpointEvery = 2))
      === rows(graft.llm.TextAnalysis.bpeLearn(docs, 8)))
    // the ladder binds: each rank stacks one replace projection, so the
    // logical plan of the loop-carried vocab grows by one node per rank —
    // with cadence 8 over 64 ranks, node count must never exceed the
    // first (pre-checkpoint) window's maximum; unladdered it would reach
    // first-window max + ~56 by rank 64 (the silent quadratic this pins)
    val depths = collection.mutable.ArrayBuffer.empty[Int]
    graft.llm.TextAnalysis.bpeLearnProbed(docs, 64, checkpointEvery = 8,
      w => depths += w.queryExecution.logical.collect { case n => n }.size)
    assert(depths.size === 64, s"fixture exhausted at rank ${depths.size}")
    assert(depths.max <= depths.take(8).max,
      s"plan depth grew past the checkpoint window: ${depths.mkString(",")}")
  }

  test("l22: per-doc token counts recompute from the reference tokenizer") {
    import spark.implicits._
    val S = "\u001f"
    val k = graft.llm.TextAnalysis.BPE_MERGES
    val corpusRows = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // learn with the sequential reference, then apply: segment each
    // distinct word, run the K merges with String.replace (the operator's
    // documented semantics), count symbols
    val merges = refBpe(corpusRows.map(_._2).toSeq, k)
    val dict = corpusRows.flatMap(_._2.split(" ")).distinct
      .filter(w => w.length >= 2 && !w.contains(S))
      .map { w =>
        val seg0 = S + w.map(c => s"$c$S").mkString
        val segK = merges.foldLeft(seg0) { case (s, (_, a, b, _)) =>
          s.replace(S + a + S + b + S, S + a + b + S)
        }
        w -> (segK.count(_ == S.head).toLong - 1)
      }.toMap
    val expected = corpusRows.map { case (id, text) =>
      val ws = text.split(" ", -1)
      (id, ws.length.toLong, ws.map(w => dict.getOrElse(w, 1L)).sum)
    }.sortBy(_._1).toSeq
    val got = graft.llm.TextAnalysis.l22BpeTokenize(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expected)
    // the learned merges must actually compress: strictly fewer bpe tokens
    // than characters for the corpus as a whole
    val chars = corpusRows.map(_._2.split(" ").map(_.length.toLong).sum).sum
    assert(got.map(_._3).sum < chars)
  }

  test("l23: containment recounts from raw 5-gram strings x splits") {
    import spark.implicits._
    val r = graft.llm.Dedup.l23ContainmentScore(spark, sfDir).cache()
    // bounds and quotient consistency
    assert(r.filter($"n_contained" < 0 || $"n_contained" > $"n_spans").count() === 0)
    assert(r.filter(abs($"containment" * $"n_spans" - $"n_contained") > 1e-9).count() === 0)
    // first principles: rebuild the split map and the train 5-gram STRING
    // set in plain Scala, recount every eval doc's contained spans
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", $"text").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getString(2)))
    def bucket(src: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(src.getBytes("UTF-8")).take(1).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16)
    }
    def split(src: String): String = {
      val b = bucket(src)
      if (b < 205) "train" else if (b < 230) "valid" else "test"
    }
    def grams(text: String): Seq[String] = {
      val w = text.split(" ")
      if (w.length < 5) Seq.empty
      else (0 to w.length - 5).map(i => w.slice(i, i + 5).mkString(" ")).distinct
    }
    val train = docs.filter(d => split(d._2) == "train").flatMap(d => grams(d._3)).toSet
    val expected = docs.filter(d => split(d._2) != "train").flatMap { d =>
      val g = grams(d._3)
      if (g.isEmpty) None
      else Some((d._1, split(d._2), g.size.toLong, g.count(train.contains).toLong))
    }.sortBy(_._1).toSeq
    val got = r.collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3))).toSeq
    assert(got === expected)
    r.unpersist()
  }

  test("l24: segment dedup recomputes from plain Scala; the drop path fires") {
    import spark.implicits._
    val W = graft.llm.Dedup.SEGMENT_WORDS
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    // global first-occurrence rule replayed sequentially in (doc_id, i)
    // order — exactly the operator's total order
    val seen = collection.mutable.Set.empty[String]
    val expected = docs.map { case (id, text) =>
      val ws = text.split(" ", -1)
      val segs = ws.grouped(W).map(_.mkString(" ")).toSeq
      val kept = segs.filter(s => seen.add(s))
      (id, segs.size.toLong, kept.size.toLong, kept.mkString(" "))
    }.toSeq
    val got = graft.llm.Dedup.l24SegmentDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(got === expected)
    // the dedup must actually drop segments on the fixture, and a doc with
    // no duplicates must round-trip its text unchanged
    assert(expected.map(_._3).sum < expected.map(_._2).sum)
    val untouched = expected.filter { case (_, n, k, _) => n == k }
    assert(untouched.nonEmpty)
    val byId = docs.toMap
    untouched.foreach { case (id, _, _, cleaned) => assert(cleaned === byId(id)) }
  }

  test("l32: duplicated-run trim recomputes from plain Scala; both branches fire") {
    import spark.implicits._
    val K = graft.llm.Dedup.SHINGLE_K
    val TRIM = graft.llm.Dedup.DUP_RUN_TRIM_MIN
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    // corpus 5-gram occurrence counts over ALL positions (in-doc repeats
    // count toward duplication — "appears more than once in the dataset")
    val counts = collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val anchored = docs.map { case (id, text) =>
      val ws = text.split(" ", -1)
      val spans = (0 to ws.length - K).map(i => ws.slice(i, i + K).mkString(" "))
      spans.foreach(s => counts(s) += 1)
      (id, ws.length.toLong, spans)
    }
    val expected = anchored.map { case (id, n, spans) =>
      val flagged = spans.zipWithIndex.collect { case (s, i) if counts(s) >= 2 => i + 1 }
      // interval merge, overlap-or-adjacent: anchor i joins the open run
      // when its interval [i, i+K-1] touches the run's (last anchor + K - 1)
      val runs = collection.mutable.ArrayBuffer.empty[(Int, Int)]
      flagged.foreach { i =>
        if (runs.nonEmpty && i <= runs.last._2 + K)
          runs(runs.length - 1) = (runs.last._1, i)
        else runs += ((i, i))
      }
      val lens = runs.map { case (s, e) => (e - s + K).toLong }.toSeq
      (id, n, lens.size.toLong, if (lens.isEmpty) 0L else lens.max,
        lens.sum, n - lens.filter(_ >= TRIM).sum)
    }.toSeq
    val got = graft.llm.Dedup.l32DupRunTrim(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected)
    // the decision actually branches on the fixture: a long run trims, a
    // short run is counted but kept, and some run merged multiple anchors
    assert(expected.exists { case (_, n, _, _, _, kept) => kept < n })
    assert(expected.exists { case (_, _, r, m, _, _) => r > 0 && m < TRIM })
    assert(expected.exists(_._4 > K))
    // l32b excision: the same runs replayed as text surgery — words inside
    // trimmed runs cut, everything else byte-identical and in order
    val expectedClean = anchored.map { case (id, n, spans) =>
      val flagged = spans.zipWithIndex.collect { case (s, i) if counts(s) >= 2 => i + 1 }
      val runs = collection.mutable.ArrayBuffer.empty[(Int, Int)]
      flagged.foreach { i =>
        if (runs.nonEmpty && i <= runs.last._2 + K)
          runs(runs.length - 1) = (runs.last._1, i)
        else runs += ((i, i))
      }
      val cut = runs.map { case (s, e) => (s, e + K - 1) }
        .filter { case (s, e) => e - s + 1 >= TRIM }
      val ws = docs.find(_._1 == id).get._2.split(" ", -1)
      val keptWs = ws.zipWithIndex.collect {
        case (w, i0) if !cut.exists { case (s, e) => i0 + 1 >= s && i0 + 1 <= e } => w
      }
      (id, n, n - cut.map { case (s, e) => (e - s + 1).toLong }.sum,
        keptWs.mkString(" "))
    }.toSeq
    val gotClean = graft.llm.Dedup.l32bDupRunExcise(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(gotClean === expectedClean)
    // an untouched doc round-trips byte-identically; a trimmed one shrinks
    val textById = docs.toMap
    assert(expectedClean.exists { case (id, n, kept, c) =>
      kept == n && c == textById(id) })
    assert(expectedClean.exists { case (_, n, kept, _) => kept < n })
  }

  test("l13b: manifest recomputes from plain Scala; every graded screen fires") {
    import spark.implicits._
    val A = graft.llm.Assembly
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"source", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(_._1)
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(2), 16)
    // 1: quality gate (raw strings throughout — proves the engine's
    // hash-keyed planes are faithful to the text-level rules)
    case class M(id: Long, lang: String, source: String, tokens: Long,
                 score: Double, text: String, ws: Array[String])
    val gated = docs.flatMap { case (id, lang, src, text) =>
      val ws = text.split(" ", -1)
      val ratio = ws.distinct.length.toDouble / ws.length
      if (id >= 50 && ratio >= A.EXPORT_MIN_QUALITY
          && ws.length >= 5 && ws.length <= 2000)
        Some(M(id, lang, src, ws.length.toLong,
          ratio * 0.7 + (if (ws.length >= 20 && ws.length <= 1000) 0.3 else 0.0),
          text, ws))
      else None
    }.toSeq
    // 2: exact winners — min doc_id per text
    val winners = gated.groupBy(_.text).map(_._2.minBy(_.id).id).toSet
    // 3: l24 keep-fraction over winners in (doc_id, position) order
    val W = graft.llm.Dedup.SEGMENT_WORDS
    val seen = collection.mutable.Set.empty[String]
    val segFrac = gated.filter(m => winners(m.id)).sortBy(_.id).map { m =>
      val segs = m.ws.grouped(W).map(_.mkString(" ")).toSeq
      m.id -> segs.count(s => seen.add(s)).toDouble / segs.size
    }.toMap
    // 4: l23 containment vs the raw-string bench span set
    def grams(ws: Array[String]): Seq[String] =
      if (ws.length < 5) Seq.empty
      else (0 to ws.length - 5).map(i => ws.slice(i, i + 5).mkString(" ")).distinct
    val bench = docs.filter(_._1 < 50).flatMap(d => grams(d._4.split(" ", -1))).toSet
    val contam = gated.map(m =>
      m.id -> { val g = grams(m.ws); g.count(bench.contains).toDouble / g.size }).toMap
    val kept = gated.filter(m => winners(m.id)
      && segFrac(m.id) >= A.EXPORT_SEG_KEEP_MIN
      && contam(m.id) <= A.EXPORT_CONTAM_MAX)
    // 5-8: cap, split, mix, pack
    val capped = kept.groupBy(_.source).values.flatMap(
      _.sortBy(m => (-m.score, m.id)).take(graft.llm.TextAnalysis.DOMAIN_CAP)).toSeq
    def splitOf(src: String): String = {
      val b = bucket(src)
      if (b < 205) "train" else if (b < 230) "valid" else "test"
    }
    val nLang = capped.groupBy(_.lang).map { case (l, ms) => l -> ms.size }
    val nMin = nLang.values.min
    val rate = nLang.map { case (l, n) => l -> math.sqrt(nMin.toDouble / n) }
    val mixed = capped.filter(m => bucket(m.id.toString).toDouble < rate(m.lang) * 256)
    val expected = mixed
      .groupBy(m => (m.source, bucket(m.id.toString) % A.PACK_SHARDS))
      .values.flatMap { ms =>
        var cum = 0L
        ms.sortBy(_.id).map { m =>
          val pid = cum / A.PACK_BUDGET
          cum += m.tokens
          (m.id, m.lang, m.source, splitOf(m.source), m.tokens,
            bucket(m.id.toString) % A.PACK_SHARDS, pid)
        }
      }.toSeq.sortBy(_._1)
    val got = A.l13bCorpusExportV2(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got === expected)
    // every graded screen must actually fire on the fixture (the exact-dup
    // winners screen is structural: the fixture plants no duplicate TEXTS,
    // only duplicate segments — l24/l1 cover that rule's drop path)
    assert(segFrac.values.exists(_ < A.EXPORT_SEG_KEEP_MIN), "segment screen idle")
    assert(contam.values.exists(_ > A.EXPORT_CONTAM_MAX), "decontam screen idle")
    assert(capped.size < kept.size, "domain cap idle")
    assert(mixed.size < capped.size, "language mix idle")
    assert(got.map(_._4).distinct.size === 3, "a split went missing")
  }

  test("l13c: the sink tree is the loader layout and carries exactly the manifest") {
    import spark.implicits._
    val back = graft.llm.Assembly.l13cExportSink(spark, sfDir).cache()
    val manifest = graft.llm.Assembly.l13bCorpusExportV2(spark, sfDir)
    // the round-trip ships exactly the manifest (no row gained or lost in
    // the sink) and each row's text md5 matches the source doc
    val joined = back.join(Tables.documents(spark, sfDir)
        .select($"doc_id", md5($"text").as("src_md5")), "doc_id")
    assert(back.count() === manifest.count())
    assert(joined.filter($"text_md5" =!= $"src_md5").count() === 0)
    // the physical tree is split=/shard= — the dirs a loader globs
    val root = new java.io.File(
      graft.operators.Etl.scratch(spark) + "/export_sink")
    val splits = root.listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(splits === Set("split=train", "split=valid", "split=test"), splits.toString)
    for (s <- splits) {
      val shards = new java.io.File(root, s).listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(shards.nonEmpty && shards.forall(_.startsWith("shard=")), shards.toString)
    }
    back.unpersist()
    ()
  }

  test("l25: heavy hitters recount exactly; the sketch evicts and the margin holds") {
    import spark.implicits._
    val T = graft.llm.TextAnalysis
    val texts = Tables.documents(spark, sfDir).select($"text").collect().map(_.getString(0))
    val bgs = texts.flatMap { t =>
      val ws = t.split(" ", -1)
      if (ws.length < 2) Nil else ws.sliding(2).map(_.mkString(" ")).toSeq
    }
    val counts = bgs.groupBy(identity).map { case (b, xs) => b -> xs.length.toLong }
    val expected = counts.toSeq.sortBy { case (b, c) => (-c, b) }.take(T.HH_TOPK)
    val got = T.l25HeavyHitters(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got === expected)
    // the exactness precondition: the K-th count clears the admission
    // bound N/capacity, so no true heavy hitter can have been pruned
    assert(expected.last._2 > bgs.length.toDouble / T.HH_CAPACITY,
      s"margin broke: ${expected.last._2} vs N/cap=${bgs.length.toDouble / T.HH_CAPACITY}")
    // and the sketch genuinely evicted (key space exceeds capacity) — a
    // capacity above the vocabulary would make pass 1 a no-op
    assert(counts.size > T.HH_CAPACITY,
      s"bigram vocabulary ${counts.size} no longer exceeds HH_CAPACITY")
  }

  test("l25: Misra-Gries admission guarantee on a skewed synthetic stream") {
    // any key with count > N/capacity is a candidate, whatever the order
    val rnd = new scala.util.Random(42)
    val stream = rnd.shuffle(
      Seq.fill(600)("hot1") ++ Seq.fill(300)("hot2") ++ (1 to 2000).map(i => s"cold$i"))
    val cap = 16
    val cands = graft.llm.TextAnalysis.mgCandidates(stream.iterator, cap).toSet
    // N = 2900, N/cap ~ 181: both hot keys are guaranteed survivors
    assert(cands.contains("hot1") && cands.contains("hot2"), cands.toString)
    assert(cands.size <= cap)
  }

  test("l28: DSIR weights recompute from first principles; quantization margins hold") {
    import spark.implicits._
    val A = graft.llm.Assembly
    val B = A.DSIR_BUCKETS
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    def bucket(w: String): Int = (java.lang.Long.parseLong(md5hex(w).take(2), 16) % B).toInt
    val rawTok = docs.flatMap(_._3.split(" ", -1))
    val tgtTok = docs.filter(_._2 == "en").flatMap(_._3.split(" ", -1))
    def cnt(toks: Seq[String]) = toks.groupBy(bucket).map { case (b, g) => b -> g.size.toLong }
    val (rc, tc) = (cnt(rawTok.toSeq), cnt(tgtTok.toSeq))
    def mn(c: Long, tot: Long): Long =
      math.round(math.log((c + 1).toDouble / (tot + B).toDouble) * 1e6)
    // margin check: every quantized value (both models, all B buckets,
    // incl. empty-bucket smoothing) and every doc's gumbel sit >1e-6 from
    // a .5 rounding boundary — the l17 engine-stability argument
    def margin(x: Double): Unit = {
      val frac = x - math.floor(x)
      assert(math.abs(frac - 0.5) > 1e-6, s"quantization within 1e-6 of .5: $x")
    }
    (0 until B).foreach { b =>
      margin(math.log((rc.getOrElse(b, 0L) + 1).toDouble / (rawTok.size + B)) * 1e6)
      margin(math.log((tc.getOrElse(b, 0L) + 1).toDouble / (tgtTok.size + B)) * 1e6)
    }
    val delta = (0 until B).map(b =>
      b -> (mn(tc.getOrElse(b, 0L), tgtTok.size) - mn(rc.getOrElse(b, 0L), rawTok.size))).toMap
    def gumbel(docId: Long): Long = {
      val h = java.lang.Long.parseLong(md5hex(s"g#$docId").take(5), 16)
      val u = (h + 0.5) / 1048576d
      val g = -math.log(-math.log(u))
      margin(g * 1e6)
      math.round(g * 1e6)
    }
    val expected = docs.map { case (id, lang, text) =>
      val w = text.split(" ", -1).map(t => delta(bucket(t))).sum
      (id, lang, w, gumbel(id), w + gumbel(id))
    }.sortBy { case (id, _, _, _, k) => (-k, id) }.take(A.DSIR_KEEP).toSeq
    val got = A.l28DsirSample(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got === expected)
    // the fixture's languages share ONE word distribution, so there is no
    // en signal to find there (weights ~ hash noise, measured); assert the
    // selection mechanism on a corpus with signal BY CONSTRUCTION: en docs
    // speak a disjoint sub-vocabulary, so DSIR must strongly enrich en
    val synth = (0L until 400L).map { i =>
      val en = i % 4 == 0 // 25% base rate
      val words = if (en) Seq("alpha", "beta", "gamma", "delta")
                  else Seq("uno", "dos", "tres", "quattro")
      (i, if (en) "en" else "xx",
        (0 until 20).map(j => words((i + j).toInt % 4)).mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val kept = graft.llm.Assembly.l28From(synth, 100).collect()
    val keptEn = kept.count(_.getString(1) == "en").toDouble / kept.length
    assert(keptEn > 0.8, s"DSIR failed to enrich the target stratum: $keptEn")
  }

  test("l33: budget mix recomputes from BigInt first principles; epochs vary") {
    import spark.implicits._
    val A = graft.llm.Assembly
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ", -1).length.toLong)).sortBy(_._1)
    val tS = docs.groupBy(_._2).map { case (l, g) => l -> g.map(_._3).sum }
    val sS = tS.map { case (l, t) =>
      l -> math.floor(math.sqrt(t.toDouble * 1048576d)).toLong }
    val (bT, w) = (BigInt(A.BUDGET_EPOCHS) * tS.values.sum, BigInt(sS.values.sum))
    // exact rational epoch/threshold plane in BigInt — the reference the
    // engine's BIGINT + DECIMAL split must reproduce
    val rates = tS.keys.map { l =>
      val (bss, tw) = (bT * sS(l), BigInt(tS(l)) * w)
      val e = bss / tw; val rem = bss - e * tw
      val thr = if (rem > 0) (rem * 1048576 - 1) / tw else BigInt(-1)
      l -> (e.toLong, thr.toLong)
    }.toMap
    val expected = docs.flatMap { case (id, lang, n) =>
      val bucket = java.lang.Long.parseLong(md5hex(s"m#$id").take(5), 16)
      val (e, thr) = rates(lang)
      val copies = e + (if (bucket <= thr) 1L else 0L)
      (0L until copies).map(ep => (id, lang, n, ep))
    }.toSeq
    val got = A.l33BudgetMix(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
    // the mixer genuinely reweights: strata end at different epoch counts,
    // and the fractional draw both keeps and drops docs somewhere
    assert(rates.values.map(_._1).toSet.size > 1, s"degenerate epochs: $rates")
    val copiesByDoc = expected.groupBy(_._1).view.mapValues(_.size).toMap
    docs.groupBy(_._2).foreach { case (l, g) =>
      val cs = g.map(d => copiesByDoc.getOrElse(d._1, 0)).toSet
      assert(cs.size === 2, s"fractional draw never branched for $l: $cs")
    }
    // the DECIMAL leg of the threshold division must hold where rem*2^20
    // overflows a BIGINT (heavy-tier token counts) — synthetic strata with
    // ~50M-token mass, checked against the same BigInt reference
    val synth = Seq(("big", 50000001L), ("mid", 9999991L), ("small", 777779L))
    val gotRates = A.budgetRates(synth.toDF("lang", "t_s"), A.BUDGET_EPOCHS)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    val sS2 = synth.map { case (l, t) =>
      l -> math.floor(math.sqrt(t.toDouble * 1048576d)).toLong }.toMap
    val (bT2, w2) = (BigInt(A.BUDGET_EPOCHS) * synth.map(_._2).sum, BigInt(sS2.values.sum))
    synth.foreach { case (l, t) =>
      val (bss, tw) = (bT2 * sS2(l), BigInt(t) * w2)
      val e = bss / tw; val rem = bss - e * tw
      val thr = if (rem > 0) (rem * 1048576 - 1) / tw else BigInt(-1)
      assert(rem * 1048576 > BigInt(Long.MaxValue) || l == "small",
        s"synthetic stratum $l does not exercise the wide path")
      assert(gotRates(l) === ((e.toLong, thr.toLong)), s"rates drift for $l")
    }
    // the multi-trillion-token tier the 100 TB narrative targets: here
    // bss = B*T*s_s and tw = T_s*W THEMSELVES overflow BIGINT (~1e24), so
    // the whole product chain must ride DECIMAL(38,0), not just the final
    // rescale — same BigInt reference model
    val huge = Seq(("web", 13000000000123L), ("code", 2100000000017L),
      ("books", 400000000031L))
    val gotHuge = A.budgetRates(huge.toDF("lang", "t_s"), A.BUDGET_EPOCHS)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    val sS3 = huge.map { case (l, t) =>
      l -> math.floor(math.sqrt(t.toDouble * 1048576d)).toLong }.toMap
    val (bT3, w3) = (BigInt(A.BUDGET_EPOCHS) * huge.map(_._2).sum, BigInt(sS3.values.sum))
    huge.foreach { case (l, t) =>
      val (bss, tw) = (bT3 * sS3(l), BigInt(t) * w3)
      assert(bss > BigInt(Long.MaxValue) && tw > BigInt(Long.MaxValue),
        s"stratum $l does not overflow the BIGINT product path")
      val e = bss / tw; val rem = bss - e * tw
      val thr = if (rem > 0) (rem * 1048576 - 1) / tw else BigInt(-1)
      assert(gotHuge(l) === ((e.toLong, thr.toLong)), s"trillion-tier rates drift for $l")
    }
  }

  test("l19: screen recounts from raw pairs x splits; only eval docs reported") {
    import spark.implicits._
    val r = graft.llm.Dedup.l19SplitScreen(spark, sfDir).cache()
    // only eval-side docs appear, each with at least one train partner
    assert(r.filter(!$"split".isin("valid", "test")).count() === 0)
    assert(r.filter($"n_train_dups" < 1).count() === 0)
    // first principles: rebuild (eval doc, train-partner count) from the
    // standalone pair query and the standalone split query — the screen
    // must agree exactly with composing its two building blocks
    val splits = graft.llm.Assembly.l18LeakageSplit(spark, sfDir)
      .select($"doc_id", $"split")
    val pairs = graft.llm.Dedup.l2bLshCandidates(spark, sfDir)
      .select($"doc_a", $"doc_b")
    val expected = pairs
      .join(splits.select($"doc_id".as("doc_a"), $"split".as("sa")), "doc_a")
      .join(splits.select($"doc_id".as("doc_b"), $"split".as("sb")), "doc_b")
      .select(
        when($"sa" === "train" && $"sb" =!= "train", struct($"doc_b".as("doc_id"), $"sb".as("split")))
          .when($"sb" === "train" && $"sa" =!= "train", struct($"doc_a".as("doc_id"), $"sa".as("split")))
          .as("hit"))
      .filter($"hit".isNotNull)
      .groupBy($"hit.doc_id".as("doc_id"), $"hit.split".as("split"))
      .agg(count(lit(1)).as("n_train_dups"))
    assert(r.join(expected, Seq("doc_id", "split"), "full_outer")
      .filter(r("n_train_dups").isNull || expected("n_train_dups").isNull
        || r("n_train_dups") =!= expected("n_train_dups")).count() === 0)
    r.unpersist()
  }
}
