package graft

import graft.llm.Dedup

/** Transitivity of the dedup clustering: chains must collapse to one
  * component even when endpoints share nothing directly (the case the
  * fixture's sparse candidate graph may not exercise). */
class ConnectedComponentsSpec extends SparkSpecBase {

  test("a chain 1-2-3-4 collapses to one component; isolated vertex keeps its own") {
    import spark.implicits._
    val vertices = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(vertices, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L))
  }

  test("reliable checkpointing yields the same components and writes round state to the dir") {
    import spark.implicits._
    val dir = s"$scratchRoot/cc_checkpoints"
    val vertices = (1L to 7L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 7L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(vertices, pairs, Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 6L, 7L -> 6L))
    // the rounds really went through reliable checkpoints on disk
    val written = new java.io.File(dir).listFiles()
    assert(written != null && written.nonEmpty, s"no checkpoint state under $dir")
  }

  test("star contraction matches min-label on chains, bridges, and isolated vertices") {
    import spark.implicits._
    val vertices = (1L to 9L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 7L), (7L, 8L), (2L, 8L))
      .toDF("doc_a", "doc_b")
    val minLabel = Dedup.connectedComponents(vertices, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = Dedup.connectedComponents(vertices, pairs, None, "star")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star === minLabel)
    assert(star === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L,
      6L -> 1L, 7L -> 1L, 8L -> 1L, 9L -> 9L))
  }

  test("star contraction converges in far fewer rounds than min-label on a path graph") {
    import spark.implicits._
    // path 0-1-2-...-48: diameter 48. Min-label needs O(diameter) rounds;
    // star contraction is O(log n) regardless of diameter — the case
    // (template spam, boilerplate chains) the star option exists for.
    val n = 49L
    val vertices = (0L until n).toDF("doc_id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (starLabels, starRounds) = Dedup.starCC(vertices, pairs, None)
    val got = starLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0L until n).map(_ -> 0L).toMap)
    // don't run min-label's full O(n) loop just to count it; diameter is
    // its proven bound and 48 ≫ any log: assert the star count directly
    assert(starRounds <= 10, s"star contraction took $starRounds rounds on a 48-path")
  }

  test("star contraction under a reliable checkpoint dir survives round pruning") {
    import spark.implicits._
    // regression: the fixpoint comparison reads the PREVIOUS round's
    // checkpoint, so dropping round N-1 before the compare crashed with
    // FileNotFoundException on every multi-round reliable-checkpoint run
    val dir = s"$scratchRoot/cc_checkpoints_star"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(new java.io.File(dir))
    val n = 17L
    val vertices = (0L until n).toDF("doc_id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(vertices, pairs, Some(dir), "star")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0L until n).map(_ -> 0L).toMap)
    val remaining = Option(new java.io.File(dir).listFiles()).toSeq.flatten.map(_.getName)
    assert(remaining.count(_.startsWith("star-")) <= 2,
      s"star checkpoint rounds not pruned: $remaining")
  }

  test("unknown algorithm name is rejected") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(Seq(1L).toDF("doc_id"),
        Seq((1L, 1L)).toDF("doc_a", "doc_b"), None, "labelprop")
    }
  }

  test("reliable checkpoints are pruned to a bounded set of rounds") {
    import spark.implicits._
    val dir = s"$scratchRoot/cc_checkpoints_pruned"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(new java.io.File(dir))
    val vertices = (0L to 12L).toDF("doc_id")
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.minLabelCC(vertices, pairs, Some(dir))
    labels.collect() // consume while the final round's checkpoint exists
    assert(rounds >= 5, s"path-13 should need many min-label rounds, got $rounds")
    // round N-1 state is deleted as round N lands: only the final labels
    // round may remain (edges dir is dropped at loop end)
    val remaining = Option(new java.io.File(dir).listFiles()).toSeq.flatten.map(_.getName)
    assert(remaining.count(_.startsWith("labels-")) <= 1,
      s"checkpoint dir grew unboundedly: $remaining")
    assert(!remaining.contains("edges"), s"edges checkpoint not cleaned: $remaining")
  }

  test("two components + a bridge merge into one") {
    import spark.implicits._
    val vertices = (1L to 6L).toDF("doc_id")
    val base = Seq((1L, 2L), (4L, 5L), (5L, 6L))
    val gotBase = Dedup.connectedComponents(vertices, base.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotBase === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 4L, 6L -> 4L))
    val bridged = base :+ (2L, 6L)
    val gotBridged = Dedup.connectedComponents(vertices, bridged.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotBridged === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 1L, 5L -> 1L, 6L -> 1L))
  }
}
