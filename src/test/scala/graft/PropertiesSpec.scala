package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

// ratings.rs:4-20 shape (camelCase serde renames at ratings.rs:13-17);
// top-level so Spark can derive encoders
case class Rating(count: Int, percentage: Int, score: Int)
case class RatingsDistribution(totalCount: Int, createdAt: String,
                               updatedAt: String, ratings: Seq[Rating])

/** Property-based invariants (SURVEY.md §5.2 #4) — scalacheck generators
  * sampled deterministically (no scalatestplus bridge in the offline
  * dependency set). */
class PropertiesSpec extends SparkSpecBase {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val genRating = for {
    c <- Gen.chooseNum(0, 100000)
    p <- Gen.chooseNum(0, 100)
    s <- Gen.chooseNum(1, 5)
  } yield Rating(c, p, s)

  private val genDist = for {
    t <- Gen.chooseNum(0, 1000000)
    rs <- Gen.listOfN(5, genRating)
  } yield RatingsDistribution(t, "2024-01-01T00:00:00Z", "2024-02-01T00:00:00Z", rs)

  test("Exact.cents (double route) equals the decimal route across the money domain") {
    // the round(x*100) fast path must equal (money(x)*100)::long on
    // EVERY value the money contract admits — 2-decimal decimals
    // carried in doubles, |cents| < 2^51 — including the domain edge
    // where x*100's representation error is largest, negatives, and the
    // 0.005-style half-cent lookalikes that a naive truncation would
    // split on. (Above 2^51 cents the combined representation + product
    // rounding can cross the half-cent and the two routes DO split —
    // found by this property's first run at 2^52 — which bounds the
    // documented domain, ~$22.5T per value.)
    import spark.implicits._
    val gen: Gen[Double] = Gen.oneOf(
      Gen.chooseNum(-99999999L, 99999999L).map(_ / 100.0),
      // the domain EDGE: cents just below 2^51, where x·100's combined
      // representation + product rounding is largest but still < 0.5
      Gen.chooseNum((1L << 51) - 2000000L, (1L << 51) - 1).map(_ / 100.0),
      Gen.chooseNum(-(1L << 51) + 1, -(1L << 51) + 2000000L).map(_ / 100.0),
      Gen.chooseNum(0L, 999L).map(_ / 100.0))
    val vals = samples(gen, 2000) ++
      Seq(0.01, -0.01, 0.05, 1.15, 2.675, 45184.76, -45184.76,
        ((1L << 51) - 1) / 100.0, -((1L << 51) - 1) / 100.0)
    val diverged = vals.toDF("x")
      .select($"x", graft.Exact.cents($"x").as("fast"),
        (graft.Exact.money($"x") * 100).cast("long").as("ref"))
      .filter(!($"fast" <=> $"ref"))
      .collect()
    assert(diverged.isEmpty,
      diverged.take(5).map(_.toString).mkString("cents diverged on: ", " | ", ""))
  }

  test("Exact.cents outside the 2^51 domain fails loudly instead of silently splitting") {
    // the r13 verdict's nit: the domain contract lived in a comment +
    // property; now the guard is in the expression itself — a value
    // whose |cents| crosses 2^51 raises, NULL still passes through
    import spark.implicits._
    val bad = ((1L << 51) + 4096) / 100.0 // representable, over the line
    val e = intercept[Exception] { // SparkRuntimeException (USER_RAISED_EXCEPTION)
      Seq(bad).toDF("x").select(graft.Exact.cents($"x")).collect()
    }
    assert(e.getMessage.contains("Exact.cents") ||
      Option(e.getCause).exists(_.getMessage.contains("Exact.cents")), e.getMessage)
    val ok = Seq[java.lang.Double](1.15, null, -0.05).toDF("x")
      .select(graft.Exact.cents($"x")).collect().map(_.get(0))
    assert(ok.toSeq === Seq(115L, null, -5L))
  }

  test("to_json . from_json = id on ratings-shaped structs (F1/F2 round trip)") {
    import spark.implicits._
    val dists = samples(genDist, 40)
    val df = dists.toDF()
    val schema = df.schema
    val round = df
      .select(to_json(struct(df.columns.map(col): _*)).as("j"))
      .select(from_json($"j", schema).as("s"))
      .select($"s.*")
      .as[RatingsDistribution]
      .collect()
    assert(round.toSeq === dists)
  }

  test("partition-key derivation is total and consistent (F4/S6)") {
    import spark.implicits._
    val epochs = samples(Gen.chooseNum(0L, 2000000000L), 100)
    val rows = epochs.toDF("e")
      .select(timestamp_seconds($"e").as("ts"))
      .select(year($"ts").as("y"), month($"ts").as("m"), dayofmonth($"ts").as("d"))
      .collect()
    assert(rows.length === epochs.length)
    rows.foreach { r =>
      assert(!r.anyNull)
      assert(r.getInt(1) >= 1 && r.getInt(1) <= 12)
      assert(r.getInt(2) >= 1 && r.getInt(2) <= 31)
    }
  }

  test("top-K per group: |group output| = min(K, |group|), members from group (W1)") {
    import spark.implicits._
    val rows = samples(for {
      u <- Gen.chooseNum(1, 8); v <- Gen.chooseNum(0, 1000)
    } yield (u, v), 300).zipWithIndex.map { case ((u, v), i) => (i.toLong, u.toLong, v) }
    val df = rows.toDF("id", "user", "v")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user").orderBy($"v".desc, $"id")
    val topk = df.withColumn("rk", row_number().over(w)).filter($"rk" <= 5)
    val sizes = topk.groupBy($"user").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val groupSizes = df.groupBy($"user").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((u, n) <- groupSizes) assert(sizes(u) === math.min(5L, n))
    assert(topk.select($"id").except(df.select($"id")).count() === 0)
  }

  test("zorderKey is a bijection: de-interleaving recovers both inputs (F14)") {
    import spark.implicits._
    val gen = for {
      a <- Gen.chooseNum(0L, 1023L)
      b <- Gen.chooseNum(0L, 1023L)
    } yield (a, b)
    val pairs = samples(gen, 60).distinct
    val df = pairs.toDF("a", "b")
      .withColumn("z", graft.functions.Scalars.zorderKey($"a", $"b", 10))
    // de-interleave in plain Scala from the collected keys
    val got = df.collect().map { r =>
      val z = r.getAs[Long]("z")
      val a = (0 until 10).map(i => ((z >> (2 * i)) & 1L) << i).sum
      val b = (0 until 10).map(i => ((z >> (2 * i + 1)) & 1L) << i).sum
      (r.getAs[Long]("a"), r.getAs[Long]("b"), a, b)
    }
    got.foreach { case (a0, b0, a1, b1) =>
      assert((a1, b1) === ((a0, b0)), s"z-key not invertible for ($a0, $b0)")
    }
    // interleaved keys preserve 2-D locality at the top: the z-curve keeps
    // the high bit of both dims in the key's top two bits
    val z = df.filter($"a" >= 512 && $"b" >= 512).select(min($"z")).head.getLong(0)
    assert(z >= (3L << 18), s"high bits not interleaved at the top: $z")
  }

  test("jaccard is symmetric-bounded: every emitted similarity in (0, 1]") {
    val j = graft.llm.Dedup.l2dNgramJaccard(spark, sfDir).collect()
    j.foreach { r =>
      val v = r.getAs[Double]("jaccard")
      assert(v > 0.0 && v <= 1.0)
      assert(r.getAs[Long]("shared") <= math.min(r.getAs[Long]("n_a"), r.getAs[Long]("n_b")))
    }
  }

  test("minhash signatures are partitioning-invariant") {
    val a = graft.llm.Dedup.l2MinhashDedup(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // different shuffle layout must not change any signature/cluster
    val sparkConfTouch = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try {
      val b = graft.llm.Dedup.l2MinhashDedup(spark, sfDir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(a === b)
    } finally spark.conf.set("spark.sql.shuffle.partitions", sparkConfTouch)
  }

  test("bpe merge table is partitioning-invariant") {
    // the loop-carried argmax rides exact counts under a total order, so a
    // different shuffle layout must reproduce the identical merge table —
    // the property that lets the same fit run on 32 threads or 4000 cores
    def table(): Seq[(Int, String, String, Long)] =
      graft.llm.TextAnalysis.l21BpeLearn(spark, sfDir).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val a = table()
    val touched = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try assert(a === table())
    finally spark.conf.set("spark.sql.shuffle.partitions", touched)
  }

  test("heavy hitters are partitioning-invariant (sketch decomposition changes, result doesn't)") {
    // the Misra-Gries candidate set DOES depend on how the scan splits —
    // the pigeonhole guarantee is what makes the final top-K independent
    // of it; force a different scan decomposition AND shuffle layout and
    // the recounted result must be identical
    def topk(): Seq[(String, Long)] =
      graft.llm.TextAnalysis.l25HeavyHitters(spark, sfDir).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq
    val a = topk()
    val shuffleTouch = spark.conf.get("spark.sql.shuffle.partitions")
    val splitTouch = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    try assert(a === topk())
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", shuffleTouch)
      spark.conf.set("spark.sql.files.maxPartitionBytes", splitTouch)
    }
  }

  test("the v2 export manifest is partitioning-invariant") {
    // every screen keys on content hashes and total orders, so the full
    // eight-stage assignment (split/shard/pack) must survive a different
    // shuffle layout bit-for-bit — the rerun/retry/engine-swap contract
    def manifest(): Seq[String] =
      graft.llm.Assembly.l13bCorpusExportV2(spark, sfDir).collect()
        .map(_.toString).toSeq
    val a = manifest()
    val touched = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try assert(a === manifest())
    finally spark.conf.set("spark.sql.shuffle.partitions", touched)
  }

  test("property: native shingle hashing equals a reference implementation on random texts") {
    // pure-function property (no Spark plan): the byte-scan reimplements
    // split-on-' ' (limit -1) + sliding k-gram + join + first-occurrence
    // distinct; a reference built from exactly those Scala operations must
    // agree on arbitrary word soup — empty words, doubled/leading/trailing
    // spaces, multi-byte UTF-8, all-duplicate runs
    import org.apache.spark.unsafe.types.UTF8String
    val word = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(6)), Gen.const(""), Gen.const("héllo"),
      Gen.const("汉字"), Gen.const("x"), Gen.const("ß"))
    val text = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    def refHashes(t: String, k: Int): Seq[Long] = {
      val words = t.split(" ", -1)
      if (words.length < k) Seq.empty
      else {
        val shingles = words.sliding(k).map(_.mkString(" ")).toSeq.distinct
        shingles.map { sh =>
          val b = sh.getBytes("UTF-8")
          org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
        }
      }
    }
    for (t <- samples(text, 300); k <- Seq(1, 2, 5)) {
      val native = graft.plans.ShingleHashes
        .evalHashes(UTF8String.fromString(t), k, true).toLongArray().toSeq
      assert(native === refHashes(t, k), s"text='$t' k=$k")
    }
  }

  test("property: fused minhash equals LCG-min over the reference shingle hashes") {
    import org.apache.spark.unsafe.types.UTF8String
    val word = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(5)), Gen.const(""), Gen.const("é"), Gen.const("字"))
    val text = Gen.chooseNum(0, 10).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val P = graft.plans.MinHashSigs.P
    val H = 8
    val as = Array.tabulate(H)(graft.plans.MinHashSigs.lcgA)
    val bs = Array.tabulate(H)(graft.plans.MinHashSigs.lcgB)
    def md5p48(sh: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(sh.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) | ((d(2) & 0xffL) << 24) |
        ((d(3) & 0xffL) << 16) | ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
    }
    def ref(t: String, k: Int): Seq[Long] = {
      val words = t.split(" ", -1)
      if (words.length < k) Seq.empty
      else {
        val hs = words.sliding(k).map(_.mkString(" ")).toSeq.distinct.map(md5p48)
        (0 until H).map(j => hs.map(h => ((h % P) * as(j) + bs(j)) % P).min)
      }
    }
    for (t <- samples(text, 300); k <- Seq(1, 3, 5)) {
      val native = graft.plans.ShingleHashes
        .evalMinhash(UTF8String.fromString(t), k, P, as, bs).toLongArray().toSeq
      assert(native === ref(t, k), s"text='$t' k=$k")
    }
  }

  test("property: SQ8 dequantized dot is within the analytic error bound (L3i/L3j)") {
    // convention = L8/l3i exactly: scale = 127/max|x|, code = trunc(x·scale).
    // Then |code_d/scale − x_d| ≤ 1/scale = max|x|/127 per dimension, so
    // |approx_dot − dot| ≤ d·(εa·(max|b|+εb) + max|a|·εb), ε = max/127 —
    // the bound that justifies the 10x shortlist in l3j: error is O(d·|a||b|/127),
    // a fraction of any meaningful score gap.
    val genVec = Gen.listOfN(64, Gen.chooseNum(-4.0f, 4.0f)).map(_.toArray)
      .suchThat(v => v.exists(_ != 0f))
    def quant(v: Array[Float]): (Array[Long], Double) = {
      val maxAbs = math.max(v.max.toDouble, -v.min.toDouble)
      val scale = 127.0 / maxAbs
      (v.map(x => (x.toDouble * scale).toLong), scale)
    }
    val pairs = samples(Gen.zip(genVec, genVec), 200)
    for ((a, b) <- pairs) {
      val exact = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val (ca, sa) = quant(a); val (cb, sb) = quant(b)
      val approx = ca.zip(cb).map { case (x, y) => x * y }.sum / (sa * sb)
      val (ea, eb) = (1.0 / sa, 1.0 / sb)
      val maxA = math.max(a.max.toDouble, -a.min.toDouble)
      val maxB = math.max(b.max.toDouble, -b.min.toDouble)
      val bound = 64.0 * (ea * (maxB + eb) + maxA * eb)
      assert(math.abs(approx - exact) <= bound,
        s"err=${math.abs(approx - exact)} bound=$bound")
    }
  }

  test("json_long parity with get_json_object on randomized flat objects (P5)") {
    // generator covers the scanner's structural space: probe key present/
    // absent/duplicated/nested-only, sibling values of every JSON type
    // (strings with quotes-in-payload and escapes, nested objects/arrays,
    // literals, floats), random member order and whitespace. The oracle is
    // Spark's own Jackson path run over the SAME column — the contract
    // JsonGetLongSpec pins case-by-case, here sampled at breadth.
    import spark.implicits._
    graft.plans.Native.install(spark)
    val genKeyVal: Gen[String] = Gen.oneOf(
      Gen.chooseNum(Long.MinValue + 1, Long.MaxValue).map(_.toString),
      Gen.chooseNum(-999999L, 999999L).map(n => "\"" + n + "\""),
      Gen.chooseNum(-1000.0, 1000.0).map(_.toString),
      Gen.const("true"), Gen.const("null"),
      Gen.const("\"12abc\""), Gen.const("[1, 2]"), Gen.const("{\"k\": 9}"))
    val genSibling: Gen[String] = Gen.oneOf(
      Gen.const("\"plain\""),
      Gen.const("\"has \\\"k\\\": 7 inside\""),
      Gen.const("\"esc\\\\\\\"end\""),
      Gen.const("{\"k\": 123, \"z\": [1, {\"k\": 4}]}"),
      Gen.const("[\"k\", 1, null, {\"k\": 2}]"),
      Gen.const("false"), Gen.const("-17"), Gen.const("2.5e3"))
    val genDoc: Gen[String] = for {
      hasKey <- Gen.oneOf(true, true, true, false) // mostly present
      dup <- Gen.oneOf(false, false, true)
      kv <- genKeyVal
      kv2 <- genKeyVal
      nSib <- Gen.chooseNum(0, 3)
      sibs <- Gen.listOfN(nSib, genSibling)
      ws <- Gen.oneOf("", " ", "\n\t")
      shuffleSeed <- Gen.chooseNum(0, 1000)
    } yield {
      val members = scala.util.Random.javaRandomToRandom(
        new java.util.Random(shuffleSeed)).shuffle(
        sibs.zipWithIndex.map { case (s, i) => s""""s$i":$ws$s""" } ++
          (if (hasKey) Seq(s""""k":$ws$kv""") else Seq.empty))
      val withDup = if (dup) members :+ s""""k":$ws$kv2""" else members
      s"{$ws${withDup.mkString(s",$ws")}$ws}"
    }
    // corruption stage: the r12-advice shapes sampled at breadth — a
    // valid doc truncated mid-stream, a trailing comma smuggled before
    // the close, or a non-grammar value (leading-zero int, junk run,
    // misspelled literal) — every one a Jackson throw, so the oracle
    // column settles parity without a second expected-value derivation.
    // Cast-lenient QUOTED images ("+5", " 5 ", "007") ride genKeyVal.
    val genCorrupt: Gen[String] = for {
      doc <- genDoc
      mode <- Gen.chooseNum(0, 4)
      cut <- Gen.chooseNum(1, 10)
    } yield mode match {
      case 0 => doc.substring(0, math.max(1, doc.length - cut % doc.length))
      case 1 => doc.dropRight(1) + ",}"
      case 2 => doc.dropRight(1) + s""","bad":0$cut}"""
      case 3 => doc.dropRight(1) + s""","bad":${cut}abc}"""
      case _ => doc.dropRight(1) + ""","bad":nul}"""
    }
    val genQuotedLenient: Gen[String] = for {
      n <- Gen.chooseNum(-99999L, 99999L)
      pre <- Gen.oneOf("", " ", "  ", "\t")
      sign <- Gen.oneOf("", "+")
      pad <- Gen.oneOf("", "0", "00")
      post <- Gen.oneOf("", " ", "\n")
    } yield {
      val img = if (n < 0) s"-$pad${-n}" else s"$sign$pad$n"
      s"""{"k": "$pre$img$post"}"""
    }
    val docs = samples(genDoc, 400) ++ samples(genCorrupt, 200) ++
      samples(genQuotedLenient, 100) ++ Seq(
      "", "not json", "{", "[1]", "{\"k\"", "{\"k\": }")
    val diverged = docs.toDF("j")
      .select($"j",
        expr("json_long(j, 'k')").as("native"),
        expr("try_cast(get_json_object(j, '$.k') AS BIGINT)").as("jackson"))
      .filter(!($"native" <=> $"jackson"))
      .collect()
    assert(diverged.isEmpty,
      diverged.take(5).map(_.toString).mkString("diverged on: ", " | ", ""))
  }
}
