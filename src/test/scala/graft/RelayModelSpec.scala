package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{Etl, Lakehouse, TableLog}

/** Model-based test of the relay (R17): seeded random source histories —
  * micro-batch appends, MOR merges and deletes, OPTIMIZE (explicit and
  * by policy), log checkpoints — interleaved with relay ticks at random
  * points, repeated ticks included, run against an in-memory key -> value
  * model of every source version. After every tick:
  *  - the destination snapshot equals the source snapshot at the
  *    destination's `lastCommitted` offset, as exact rows (and the model);
  *  - a tick with nothing new commits nothing, and re-delivering the
  *    window just applied no-ops at the txn gate;
  *  - the window slice over (from, to] equals the per-key net of
  *    `cdfRead(from, to)`: a key's first change type decides whether it
  *    existed at `from`, its last decides whether it exists at `to`, and
  *    the last image is kept (an update back to the `from` value nets to
  *    nothing) — and equals the model's diff of the two versions.
  *
  * Sequences come from scalacheck generators sampled at fixed seeds (no
  * scalatestplus bridge in the offline dependency set). Values come from
  * a small domain so merges often rewrite a key to a value it held
  * before, and deletes may hit keys that are already gone. Time budget:
  * 360 s for the 50 sequences (they take about 240 s on a 4-core host:
  * each op and tick is a handful of tiny Spark jobs). A failing seed is
  * pinned in `regressionSeeds`. */
class RelayModelSpec extends SparkSpecBase {

  private sealed trait Op
  private final case class Append(n: Int) extends Op
  private final case class Merge(n: Int) extends Op
  private final case class Delete(n: Int) extends Op
  private case object Compact extends Op
  private case object MaybeOptimize extends Op
  private case object Checkpoint extends Op
  /** A relay tick, run `times` times in a row (re-delivery of the tick). */
  private final case class Tick(times: Int) extends Op

  private val genOp: Gen[Op] = Gen.frequency(
    3 -> Gen.choose(1, 5).map(Append(_)),
    3 -> Gen.choose(1, 4).map(Merge(_)),
    2 -> Gen.choose(1, 3).map(Delete(_)),
    1 -> Gen.const(Compact),
    1 -> Gen.const(MaybeOptimize),
    1 -> Gen.const(Checkpoint),
    3 -> Gen.choose(1, 2).map(Tick(_)))

  /** The ops plus a salt for the key and value picks the ops make
    * against the model as they run. */
  private val genSequence: Gen[(List[Op], Long)] = for {
    n <- Gen.choose(4, 9)
    ops <- Gen.listOfN(n, genOp)
    salt <- Gen.long
  } yield (ops, salt)

  private val Sequences = 50
  private val regressionSeeds: Seq[Long] = Nil
  private val ValueDomain = 4

  /** Tick outcomes across the run, reported so a generator change that
    * stops producing multi-version windows or idle ticks shows. */
  private var idleTicks = 0
  private var windowTicks = 0
  private var multiVersionTicks = 0

  private val confs = Seq(
    "spark.graft.log.checkpointInterval" -> "3",
    "spark.graft.log.optimizeMaxDvs" -> "3",
    "spark.graft.log.optimizeMaxFiles" -> "10",
    "spark.graft.log.optimizeTargetFiles" -> "2")

  private def rowsOf(df: DataFrame, what: String): Map[Long, Long] = {
    val got = df.select("k", "v").collect().map(r => r.getLong(0) -> r.getLong(1))
    val m = got.toMap
    assert(got.length === m.size, s"$what: duplicate keys")
    m
  }

  /** (change type, key, image) of the net change between two states. */
  private def diff(pre: Map[Long, Long], post: Map[Long, Long]): Set[(String, Long, Long)] =
    (pre.keySet ++ post.keySet).flatMap { k =>
      (pre.get(k), post.get(k)) match {
        case (None, Some(b)) => Some(("insert", k, b))
        case (Some(a), None) => Some(("delete", k, a))
        case (Some(a), Some(b)) if a != b => Some(("update", k, b))
        case _ => None
      }
    }

  private def runSequence(seed: Long): Unit = {
    import spark.implicits._
    val (ops, salt) = genSequence.apply(Gen.Parameters.default, Seed(seed))
      .getOrElse(fail(s"seed $seed generated nothing"))
    val rnd = new scala.util.Random(salt)
    val root = s"${Etl.scratch(spark)}/relay_model/s$seed"
    val (src, dst) = (s"$root/src", s"$root/dst")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root), true)
    val ctx = s"seed $seed ops $ops"
    def frame(rows: Seq[(Long, Long)]): DataFrame = rows.toDF("k", "v")
    def value(): Long = rnd.nextInt(ValueDomain).toLong
    // model(v) = the source's rows as of version v (index 0 = empty)
    var model = Vector(Map.empty[Long, Long])
    var nextKey = 0L
    var batch = 0L
    def fresh(n: Int): Seq[(Long, Long)] = {
      val rows = (0 until n).map(i => (nextKey + i) -> value())
      nextKey += n
      rows
    }
    // keys ever written, live or deleted: merges re-insert deleted keys
    def pick(n: Int): Seq[Long] = rnd.shuffle((0L until nextKey).toVector).take(n)
    def head = TableLog.currentVersion(spark, src)
    def landed(rows: Map[Long, Long]): Unit = {
      while (model.size <= head) model :+= rows
    }

    val base = fresh(12)
    TableLog.commit(spark, src, TableLog.Action("schema", frame(base).schema.json) +:
      TableLog.stageWithStats(spark, src, frame(base), "data/v1", Seq("k"), 2))
    landed(base.toMap)

    def tick(): Unit = {
      val from = TableLog.lastCommitted(spark, dst, "cdf:model").map(_.toInt).getOrElse(0)
      val to = head
      val dstBefore = TableLog.currentVersion(spark, dst)
      val applied = Lakehouse.relay(spark, src, dst, "k", "model", files = 2)
      assert(applied === ((from + 1) to to), s"$ctx: relay applied $applied over ($from, $to]")
      if (applied.isEmpty) {
        assert(TableLog.currentVersion(spark, dst) === dstBefore, s"$ctx: an idle tick committed")
        idleTicks += 1
        return
      }
      windowTicks += 1
      if (applied.size > 1) multiVersionTicks += 1
      assert(TableLog.lastCommitted(spark, dst, "cdf:model") === Some(to.toLong), ctx)
      // re-delivering the window just applied no-ops at the gate
      val dstHead = TableLog.currentVersion(spark, dst)
      assert(Lakehouse.cdfApply(spark, src, dst, from, to, "k", "model", 2,
        evolveSchema = false) === -1, s"$ctx: re-delivery applied")
      assert(TableLog.currentVersion(spark, dst) === dstHead, ctx)
      val got = rowsOf(TableLog.readAsOf(spark, dst, dstHead), s"$ctx dst")
      assert(got === rowsOf(TableLog.readAsOf(spark, src, to), s"$ctx src"),
        s"$ctx: destination != source at v$to")
      assert(got === model(to), s"$ctx: destination != model at v$to")
      // the window slice is the per-key net of the per-version feed
      val slice = Lakehouse.cdfSlice(spark, src, from, to, "k")
        .select("_commit_version", "_change_type", "k", "v").collect()
      assert(slice.forall(_.getLong(0) == to), s"$ctx: slice version")
      val sliceSet = slice.map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(sliceSet.size === slice.length, s"$ctx: duplicate slice rows")
      val feed = Lakehouse.cdfRead(spark, src, from, to, "k")
        .select("_commit_version", "_change_type", "k", "v").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      val pre = model(from)
      val net = feed.groupBy(_._3).toSeq.flatMap { case (k, evs) =>
        val sorted = evs.sortBy(_._1)
        val existedFrom = sorted.head._2 != "insert"
        val existsTo = sorted.last._2 != "delete"
        assert(existedFrom === pre.contains(k) && existsTo === model(to).contains(k),
          s"$ctx: feed for key $k disagrees with the model: ${sorted.toList}")
        (existedFrom, existsTo) match {
          case (false, true) => Some(("insert", k, sorted.last._4))
          case (true, false) => Some(("delete", k, pre(k)))
          case (true, true) if sorted.last._4 != pre(k) => Some(("update", k, sorted.last._4))
          case _ => None
        }
      }.toSet
      assert(sliceSet === net, s"$ctx: window slice ($from, $to] != net of cdfRead")
      assert(sliceSet === diff(pre, model(to)), s"$ctx: window slice != model diff")
    }

    ops.foreach {
      case Append(n) =>
        val rows = fresh(n)
        TableLog.commitBatch(src, "ingest")(frame(rows), batch)
        batch += 1
        landed(model.last ++ rows)
      case Merge(n) =>
        val rows = (pick(n - 1) ++ fresh(1).map(_._1)).distinct.map(_ -> value())
        Lakehouse.morMerge(spark, src, frame(rows), "k")
        landed(model.last ++ rows)
      case Delete(n) =>
        val keys = pick(n)
        Lakehouse.morDelete(spark, src, keys.toDF("k"))
        landed(model.last -- keys)
      case Compact =>
        if (TableLog.liveState(spark, src, head).files.nonEmpty)
          Lakehouse.compactCommit(spark, src, 2, Seq("k"))
        landed(model.last)
      case MaybeOptimize =>
        Lakehouse.maybeOptimize(spark, src, Seq("k"))
        landed(model.last)
      case Checkpoint =>
        TableLog.checkpointLog(spark, src)
      case Tick(times) =>
        (1 to times).foreach(_ => tick())
    }
    // a final tick catches the destination up to the source head
    tick()
    assert(TableLog.lastCommitted(spark, dst, "cdf:model") === Some(head.toLong), ctx)
    fs.delete(new Path(root), true)
  }

  test("relay model: 50 seeded sequences of appends, merges, deletes, maintenance and ticks stay exact") {
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val t0 = System.nanoTime()
      (regressionSeeds ++ (1L to Sequences.toLong)).foreach(runSequence)
      info(f"${regressionSeeds.size + Sequences} sequences in " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s: $windowTicks applying ticks " +
        s"($multiVersionTicks over several versions), $idleTicks idle ticks")
      assert(multiVersionTicks > 0 && idleTicks > 0)
    } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }
}
