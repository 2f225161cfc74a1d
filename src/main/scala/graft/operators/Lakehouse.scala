package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.operators.TableLog.Action

/** S13–S15 [EXT]: the production table-format layer composed from
  * [[TableLog]]'s primitives — the three capabilities the r15 review named
  * as the gap between "transactional log + standalone compaction" and a
  * table format a 100 TB deployment runs:
  *
  *  - S13 log-committed compaction: OPTIMIZE as ONE manifest transaction
  *    (remove the fragmented inputs + add the bin-packed outputs in a
  *    single commit), so readers keep snapshot isolation while compaction
  *    runs — no reliance on directory-rename atomicity, which object
  *    stores (the reference's storage class, minio.rs:139-242) do not
  *    have. Conflict semantics are the production ones: blind appends
  *    racing the compaction cost it a clean retry; a concurrent commit
  *    that removed one of its input files is a REAL conflict and aborts.
  *  - S14 change-data-feed read: per-version row-level deltas derived
  *    from the log's add/remove file actions — insert / delete / update
  *    classified by a key join of each commit window's removed rows
  *    against its added rows, with rewritten-but-identical rows emitting
  *    NOTHING (so an S13 compaction produces an EMPTY feed, the property
  *    that lets non-abelian consumers subscribe without storms).
  *  - S15 manifest-stats file skipping: `add` actions carry per-file
  *    min/max of a cluster column ([[TableLog.stageWithStats]]) and a
  *    range read prunes the snapshot's file list from the MANIFEST before
  *    opening any parquet footer ([[TableLog.readAsOfRange]]).
  */
object Lakehouse {

  /** S13 [EXT]: OPTIMIZE as a log transaction. Reads the current
    * snapshot, stages it bin-packed into `targetFiles` files (with
    * manifest stats on `statsCol` when given, so compaction PRESERVES
    * S15's pruning instead of erasing it), then publishes
    * `remove(all inputs) + add(packed outputs)` as ONE commit.
    *
    * Concurrency is optimistic via the version CAS ([[TableLog.publish]]'s
    * one-winner contract, retried by [[TableLog.publishWithRetry]]) with
    * compaction's read-modify-write conflict rule checked at each
    * attempt's head:
    *  - whenever the head moved past the snapshot version (a lost publish
    *    race, or a commit that landed between snapshot and first publish),
    *    the input set is revalidated against the new head's live set;
    *  - inputs all still live (the interloper was a blind append) → retry
    *    at the new version with the SAME staged actions: the append's
    *    files are not in the remove set, so they stay live alongside the
    *    packed rewrite — nothing is lost, nothing re-staged;
    *  - any input no longer live (a concurrent compaction or delete won)
    *    → ConcurrentModificationException: committing would re-add rows
    *    whose files another writer already rewrote (double compaction).
    *    The aborted attempt's staged files are orphans, [[TableLog.vacuum]]'s
    *    job. This is why [[TableLog.commitWithRetry]] keeps blind retry
    *    opt-in: compaction does NOT commute with file removal.
    *
    * Readers pinned at any version ≤ the snapshot see identical rows
    * throughout: removed files stay on disk until vacuum, and the swap is
    * one manifest publish, never a directory mutation. */
  private[graft] def compactCommit(spark: SparkSession, table: String,
      targetFiles: Int, statsCols: Seq[String] = Nil, maxAttempts: Int = 5,
      beforePublish: Int => Unit = _ => ()): Int = {
    val v0 = TableLog.currentVersion(spark, table)
    compactFrom(spark, table, v0, TableLog.liveState(spark, table, v0), targetFiles,
      statsCols, maxAttempts, beforePublish)
  }

  /** [[compactCommit]] of the snapshot `st0`, the state already replayed
    * at version `v0`. */
  private def compactFrom(spark: SparkSession, table: String, v0: Int,
      st0: TableLog.LogState, targetFiles: Int, statsCols: Seq[String],
      maxAttempts: Int, beforePublish: Int => Unit): Int = {
    val inputs = st0.files.map(_.path)
    val dvInputs = st0.dvs.map(_._1)
    require(inputs.nonEmpty, s"nothing to compact in $table")
    val rel = s"data/compact/${java.util.UUID.randomUUID}"
    // the snapshot read is DV-aware, so the packed rewrite ABSORBS every
    // live deletion vector (S18): deleted rows are physically gone from
    // the output and the DVs retire in the same commit — the OPTIMIZE
    // step that bounds how many DVs a read ever has to probe (the
    // readAsOf scan, over the state already replayed)
    val snapshot = TableLog.scanState(spark, table, st0.files, st0.dvs, st0.schema)
    val adds =
      if (statsCols.nonEmpty)
        TableLog.stageWithStats(spark, table, snapshot, rel, statsCols, targetFiles)
      else TableLog.stage(spark, table, snapshot.repartition(targetFiles), rel)
    val actions = (inputs ++ dvInputs).map(Action("remove", _)) ++ adds
    TableLog.publishWithRetry(spark, table, "compaction", maxAttempts, beforePublish) { head =>
      if (head != v0) {
        val now = TableLog.liveState(spark, table, head)
        val nowLive = now.files.map(_.path).toSet ++ now.dvs.map(_._1).toSet
        val gone = (inputs ++ dvInputs).filterNot(nowLive)
        if (gone.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"compaction conflict: ${gone.size} input file(s) removed by a " +
              s"concurrent commit since v$v0 (e.g. ${gone.head}); " +
              "staged rewrite abandoned for vacuum")
        // a deletion vector that landed since the snapshot is ALSO a real
        // conflict: it scopes to files added before it, and the packed
        // rewrite (added at head+1) would escape it — committing would
        // resurrect the concurrently deleted rows
        val newDvs = now.dvs.map(_._1).filterNot(dvInputs.toSet)
        if (newDvs.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"compaction conflict: ${newDvs.size} deletion vector(s) " +
              s"committed since v$v0 (e.g. ${newDvs.head}) would not apply " +
              "to the packed rewrite; staged rewrite abandoned for vacuum")
      }
      Some(actions)
    }
  }

  /** Auto-maintenance policy (S13 as a POLICY, conf-gated): OPTIMIZE
    * when the snapshot's METADATA says the read tax passed the knobs —
    * `spark.graft.log.optimizeMaxDvs` live deletion vectors (each stacks
    * an in-scan key probe, and its file group a scan, on every read;
    * LakeMergeProbe prices the tax)
    * or `spark.graft.log.optimizeMaxFiles` live files (the per-file scan
    * floor), packing to `spark.graft.log.optimizeTargetFiles`. The check
    * is metadata-only — one log replay, no data I/O — and both knobs
    * default to 0 = off, so callers that schedule their own maintenance
    * see no change. This is what turns the S13×S18/S20 contract
    * ("compaction absorbs DVs, which bounds their accumulation") from a
    * manual promise into an invariant a long-lived writer actually
    * keeps. A concurrent-commit conflict surfaces loudly like any
    * compaction (S13's discipline) — schedulers just retry next tick.
    * Returns the OPTIMIZE's committed version, or None (below
    * thresholds, or policy off). */
  def maybeOptimize(spark: SparkSession, table: String,
      statsCols: Seq[String] = Nil): Option[Int] =
    optimizeIfDue(spark, table)(_ => statsCols)

  /** [[maybeOptimize]] with the stats columns chosen from the head state:
    * one replay serves the threshold check and the compaction's
    * snapshot, and none runs while the policy is off. */
  private def optimizeIfDue(spark: SparkSession, table: String)(
      statsCols: TableLog.LogState => Seq[String]): Option[Int] = {
    val maxDvs = TableLog.confInt(spark, "spark.graft.log.optimizeMaxDvs", "0")
    val maxFiles = TableLog.confInt(spark, "spark.graft.log.optimizeMaxFiles", "0")
    if (maxDvs <= 0 && maxFiles <= 0) return None
    val target = TableLog.confInt(spark, "spark.graft.log.optimizeTargetFiles", "4")
    val cur = TableLog.currentVersion(spark, table)
    if (cur == 0) return None
    val st = TableLog.liveState(spark, table, cur)
    if ((maxDvs > 0 && st.dvs.size >= maxDvs) ||
        (maxFiles > 0 && st.files.size >= maxFiles))
      Some(compactFrom(spark, table, cur, st, target, statsCols(st), 5, _ => ()))
    else None
  }

  // ------------------------------------------------------------- S14: CDF

  /** Row-level change feed for the window (from, to]: the NET delta
    * between the snapshot at `from` and the snapshot at `to`, derived from
    * the two replayed states alone — no per-commit walk. Pre-images (rows
    * visible at `from` that the window retired or hid) full-outer-join
    * post-images (rows of the files the window added, as visible at `to`)
    * on `keyCol`; a key only in the post-images is an `insert`, only in
    * the pre-images a `delete`, in both with ANY differing common column
    * an `update` (post-image emitted), and in both with identical values
    * NOTHING — a pure rewrite (compaction, clustering) produces an empty
    * feed, which is what makes the feed subscribable: a downstream
    * consumer never sees a layout change as a data storm. Every row
    * carries `_commit_version = to`. For one commit (`from = to - 1`) this
    * is that commit's slice; [[cdfRead]] unions those per version, and a
    * relay window applies the multi-version net in one rewrite.
    *
    * The sides, from the states:
    *  - post-images: post files not in pre, read through
    *    [[TableLog.scanState]] with the post DVs (each DV scoped to the
    *    files added before it), so a file added and then hidden or
    *    retired inside the window nets out;
    *  - retired: pre files not in post, read at `from` with the pre DVs;
    *  - window DVs: post DVs newer than `from` — every one of them scopes
    *    over every kept pre file — probed against the kept pre files
    *    inside their scan ([[TableLog.dvMatch]]).
    *
    * Scale shape: the join is bounded by the WINDOW's files, never the
    * table — a daily commit touching 0.01% of a 100 TB table feeds
    * consumers at 0.01% cost, the same argument as MV1's delta refresh.
    * Rows are read under the LOGGED schemas (post-images at `to`,
    * pre-images at `from` — the readAsOf discipline), compared on their
    * COMMON columns; `keyCol` must be unique per snapshot (the fixture's
    * event_id), the same contract every CDF-producing table format
    * states. */
  private def cdfSliceFrom(spark: SparkSession, table: String, from: Int,
      to: Int, keyCol: String, pre: TableLog.LogState,
      post: TableLog.LogState): DataFrame = {
    val postSchema = post.schema.getOrElse(
      throw new IllegalStateException(
        s"cdfRead needs a logged schema for $table@v$to — commit one at v1"))
    val preSchema = if (from == 0) postSchema else pre.schema.getOrElse(postSchema)
    val prePaths = pre.files.map(_.path).toSet
    val postPaths = post.files.map(_.path).toSet
    val added = post.files.filterNot(f => prePaths(f.path))
    val retired = pre.files.filterNot(f => postPaths(f.path))
    val kept = pre.files.filter(f => postPaths(f.path))
    val dvPaths = post.dvs.collect { case (p, v) if v > from => p }
    val valCols = postSchema.fieldNames.toSeq
      .intersect(preSchema.fieldNames.toSeq).filterNot(_ == keyCol)
    require(valCols.nonEmpty,
      s"cdfRead needs at least one non-key column shared by v$from/v$to schemas")
    // pre-images are the retired files' rows AS VISIBLE at `from` — with
    // the deletion vectors live at `from` applied (S18). A raw read would
    // feed a DV-absorbing compaction's physical purge as a SECOND delete
    // of rows every consumer already saw deleted.
    val preFromRetired = TableLog.scanState(spark, table, retired, pre.dvs, Some(preSchema))
    // S18/S20: a deletion-vector action hides rows without touching a
    // data file, so its pre-images are invisible to the retired-file scan
    // above — derive them by filtering the kept pre files (earlier DVs
    // already applied: a key deleted twice feeds once) to the rows a
    // window DV holds, and fold them into the SAME full-outer join below.
    // That is what nets a MOR MERGE commit (dv + adds in one version, S20)
    // to `update` rows carrying post-images — not an insert/delete pair a
    // strict consumer could order wrong — while a pure DV delete (S18)
    // still nets to `delete` rows with pre-images. The DV keys are probed
    // inside the scan task (one `dv_contains` per key column, OR-ed), so
    // a row matching several window DVs is still emitted once — keyCol is
    // unique per snapshot, so no dedup (and no shuffle) is needed.
    // Retired files are excluded from this scan: their visible rows
    // already feed through the retired-file side, and feeding them twice
    // would duplicate keys into the full-outer join.
    val preFromDvs =
      if (dvPaths.isEmpty || kept.isEmpty)
        TableLog.scanState(spark, table, Nil, Nil, Some(preSchema))
      else TableLog.scanState(spark, table, kept, pre.dvs, Some(preSchema))
        .filter(TableLog.dvMatch(spark, table, dvPaths))
    // columns only the POST schema has — the evolution commit itself,
    // where the pre schema lacks them so they cannot ride the compare
    // structs. Their VALUES still ride the feed (post-images carry the
    // full post schema; delete rows null-fill them), and a rewritten row
    // whose only change is a NON-NULL value in a new column classifies as
    // an update — the row genuinely gained data, a feed that dropped it
    // would silently diverge every downstream replica. Identical rewrites
    // that leave the new column null still feed NOTHING (a bare
    // evolution commit or a compaction after one is not a data storm).
    // One commit later the column is in both schemas and takes the
    // ordinary compare path.
    val postOnly = postSchema.fieldNames.toSeq
      .diff(preSchema.fieldNames.toSeq).filterNot(_ == keyCol)
    val preImgs = preFromRetired.unionByName(preFromDvs)
      .select(col(keyCol).as("__key"), struct(valCols.map(col): _*).as("__pre"))
    val postImgs = TableLog.scanState(spark, table, added, post.dvs, Some(postSchema))
      .select(Seq(col(keyCol).as("__key"),
        struct(valCols.map(col): _*).as("__post")) ++
        (if (postOnly.isEmpty) Nil
         else Seq(struct(postOnly.map(col): _*).as("__postx"))): _*)
    val postxChanged =
      if (postOnly.isEmpty) lit(false)
      else postOnly.map(c => col(s"__postx.$c").isNotNull).reduce(_ || _)
    preImgs.join(postImgs, Seq("__key"), "full_outer")
      .withColumn("_change_type",
        when(col("__pre").isNull, "insert")
          .when(col("__post").isNull, "delete")
          .when(!(col("__pre") <=> col("__post")) || postxChanged, "update"))
      .filter(col("_change_type").isNotNull)
      .withColumn("__img",
        when(col("__post").isNotNull, col("__post")).otherwise(col("__pre")))
      .select(Seq(lit(to.toLong).as("_commit_version"), col("_change_type"),
        col("__key").as(keyCol)) ++ valCols.map(c => col(s"__img.$c").as(c)) ++
        postOnly.map(c => col(s"__postx.$c").as(c)): _*)
  }

  /** The states of `table` as of `from` and `to`: one replay to `from`
    * (bounded by the newest checkpoint at or below it, S19) walked on to
    * `to`. */
  private def windowStates(spark: SparkSession, table: String, from: Int,
      to: Int): (TableLog.LogState, TableLog.LogState) = {
    val (pre, steps) = TableLog.window(spark, table, from, to)
    (pre, steps.lastOption.fold(pre)(_.after))
  }

  /** The net slice of the window (from, to] ([[cdfSliceFrom]]). The
    * single-commit feed is the window (v-1, v]. */
  private[graft] def cdfSlice(spark: SparkSession, table: String, from: Int,
      to: Int, keyCol: String): DataFrame = {
    val (pre, post) = windowStates(spark, table, from, to)
    cdfSliceFrom(spark, table, from, to, keyCol, pre, post)
  }

  /** S14 [EXT]: change-data-feed read over the window (from, to] — the
    * union of each commit's slice, the subscription surface MV1's
    * abelian delta cannot offer non-additive consumers (a downstream
    * MERGE, a cache invalidator, a search indexer). */
  def cdfRead(spark: SparkSession, table: String, from: Int, to: Int,
      keyCol: String): DataFrame = {
    require(from <= to, s"cdfRead window inverted: ($from, $to]")
    val cur = TableLog.currentVersion(spark, table)
    require(to <= cur, s"cdfRead past the head: to=$to but $table is at v$cur")
    if (from == to) {
      // the poller's steady state: no new commits → an EMPTY feed with
      // the feed's schema (derived from the logged table schema), never
      // an exception. Bounded to the head above, so schemaAsOf never
      // opens a manifest that does not exist; a table with NO commits
      // yet gets the loud schema message, not a FileNotFoundException.
      val schema = (if (cur >= 1)
        TableLog.schemaAsOf(spark, table, math.min(math.max(to, 1), cur))
      else None)
        .getOrElse(throw new IllegalStateException(
          s"cdfRead needs a logged schema for $table — commit one at v1"))
      val feed = StructType(
        Seq(StructField("_commit_version", LongType, nullable = false),
          StructField("_change_type", StringType, nullable = false),
          schema(keyCol)) ++
          schema.fields.filterNot(_.name == keyCol))
      return spark.createDataFrame(java.util.Collections.emptyList[Row](), feed)
    }
    // ONE replay walked across the window — O(window) manifest reads
    // past the base state (which itself starts from the newest log
    // checkpoint at or below `from`, S19): each slice consumes the states
    // just before and just after its own manifest applies.
    val (base, steps) = TableLog.window(spark, table, from, to)
    // allowMissingColumns: slices on either side of a schema-evolution
    // commit (S12) carry different value-column sets — the pre-evolution
    // slices null-fill the later columns, so a CDF window MAY cross an
    // evolution boundary instead of throwing AnalysisException on the
    // union (each slice still compares pre/post images on the columns
    // both sides of ITS commit share — evolution never fabricates an
    // update out of a null-fill)
    steps.zip(base +: steps.map(_.after)).map { case (step, pre) =>
      cdfSliceFrom(spark, table, step.version - 1, step.version, keyCol, pre, step.after)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  // ------------------------------------- MV2: CDF-driven partial refresh

  /** MV2 [EXT]: incremental maintenance of a NON-ABELIAN view from the
    * change feed — the consumer S14 exists for. MV1's delta refresh only
    * works for aggregates that merge by addition (counts, sums): a MIN /
    * MAX / exact-distinct view cannot subtract a delete. The production
    * answer is PARTIAL recompute: the feed names exactly the groups a
    * commit window touched, so the refresh recomputes THOSE groups from
    * the snapshot and carries every untouched group forward from the
    * stored state without scanning a row of it.
    *
    * Cost shape at 100 TB: |touched groups| is bounded by the window's
    * change volume (CDF is window-bounded, the MV1 argument), the
    * recompute scan is filtered to the touched groups' rows (predicate
    * pushdown prunes row groups; a partition/cluster layout on the group
    * key prunes files), and the untouched state never moves. A daily
    * commit touching 2 of 10^6 groups refreshes a MIN view at the cost
    * of 2 groups, not a corpus rescan — which is the whole point of
    * keeping row-level deltas next to the log.
    *
    * `state` must be keyed by `groupCol` with the same schema as the
    * recompute's output; `keyCol` is the table's row key the change feed
    * joins on (cdfRead's contract). Returns the refreshed view. */
  private[graft] def mv2Refresh(spark: SparkSession, table: String,
      state: DataFrame, from: Int, to: Int, groupCol: String,
      keyCol: String = "event_id")(
      recompute: DataFrame => DataFrame): DataFrame = {
    // the touched-group keys stay DISTRIBUTED: a wide window at 100 TB can
    // name 10^4–10^6 groups, and materializing them as `isin` plan
    // literals (the first-cut plan) is an analyzer/codegen blowup and a
    // driver OOM vector. Instead the key frame rides both sides as a
    // broadcast join — semi for the recompute filter (with dynamic
    // partition/file pruning doing the isin literal's job against a
    // group-clustered layout), anti for the state carry-forward. The
    // checkpoint is because both joins consume the frame: without it each
    // side would re-run cdfRead's per-commit full-outer joins.
    val touched = cdfRead(spark, table, from, to, keyCol)
      .select(col(groupCol).as("__touched")).distinct().localCheckpoint()
    // null-SAFE equality on both joins: a nullable group column can have
    // NULL as a touched group, and plain === would neither recompute it
    // (semi join: null never matches) nor retire its state row (anti
    // join keeps non-matches) — serving a silently STALE null-group
    // aggregate. <=> recomputes it and retires the old row like any key.
    val fresh = recompute(
      TableLog.readAsOf(spark, table, to)
        .join(broadcast(touched), col(groupCol) <=> col("__touched"), "left_semi"))
    state.join(broadcast(touched), col(groupCol) <=> col("__touched"), "left_anti")
      .unionByName(fresh)
  }

  // ------------------------------- S17: pruned copy-on-write MERGE (CDF sync)

  /** Apply ONE source version `v`: the window (v-1, v]. */
  private[graft] def cdfApply(spark: SparkSession, src: String, dst: String,
      v: Int, keyCol: String, consumer: String, files: Int,
      evolveSchema: Boolean = false): Int =
    cdfApply(spark, src, dst, v - 1, v, keyCol, consumer, files, evolveSchema)

  /** Apply the source window (from, to]'s NET change feed to a downstream
    * log table as ONE pruned copy-on-write MERGE — the composition the
    * whole r16 layer builds toward: S14 names the changed rows, S15's
    * manifest stats bound which destination files can hold their keys,
    * and the S11 txn markers make the apply EXACTLY-ONCE under
    * re-delivery.
    *
    * Shape: destination files are staged clustered on `keyCol` with
    * manifest stats, so the rewrite set is `prunedLiveFiles(dst)` over
    * the delta's [min, max] key range — every other file is untouched
    * (not read, not rewritten, byte-identical on disk). The rewritten
    * rows are the pruned files' rows anti-joined against delete/update
    * keys, unioned with insert/update post-images; the commit removes
    * exactly the pruned files and adds the re-clustered replacements,
    * under one `(cdf:<consumer>, version)` txn marker PER source version
    * of the window, all in the same manifest as the data — so the
    * markers land exactly when the data does. The gate no-ops (-1) when
    * ANY version of the window already committed: a re-delivered or
    * overlapping window never applies a delta twice. The delta is the
    * window's single net slice ([[cdfSliceFrom]]): a key changed by
    * several versions is rewritten once, at its state as of `to`.
    *
    * At 100 TB: |rewrite| is bounded by the delta's key locality, not the
    * table — a commit touching one key range rewrites the files covering
    * that range (the copy-on-write MERGE every production format runs for
    * its UPDATE/DELETE/MERGE), and the key-clustered layout is what keeps
    * that bound tight. This is the one apply path: the relay runs it per
    * catch-up window, and the declared s17 rows replicate the s14 history
    * as a cold window (0, 2] plus one netted rewrite window (2, 4]. Each
    * window replays the source once. Returns the dst version committed
    * (-1 = replayed no-op). */
  private[graft] def cdfApply(spark: SparkSession, src: String, dst: String,
      from: Int, to: Int, keyCol: String, consumer: String, files: Int,
      evolveSchema: Boolean): Int =
    applyWindow(spark, src, dst, from, to, keyCol, consumer, files, evolveSchema,
      windowStates(spark, src, from, to))

  /** [[cdfApply]]'s body, with the source states as of `from` and `to`
    * supplied by the caller — the relay hands over the ones its window
    * split already walked, `cdfApply` replays them itself. `srcStates` is
    * evaluated only past the txn gate, so a re-delivered window replays
    * nothing of the source. One job materializes the window's delta and
    * answers the probe (emptiness, gone keys, per-file hits) as observed
    * metrics on it. */
  private def applyWindow(spark: SparkSession, src: String, dst: String,
      from: Int, to: Int, keyCol: String, consumer: String, files: Int,
      evolveSchema: Boolean,
      srcStates: => (TableLog.LogState, TableLog.LogState)): Int = {
    import org.apache.spark.sql.functions.{col => c}
    require(from < to, s"cdfApply window is empty: ($from, $to]")
    val streamId = s"cdf:$consumer"
    val ids = ((from + 1) to to).map(_.toLong)
    // the destination's txn set, head schema and live files: ONE replay,
    // driver-side metadata read before any job, so the probe below can
    // ride the delta's own materialization
    val dstV = TableLog.currentVersion(spark, dst)
    val dstState = TableLog.liveState(spark, dst, dstV)
    if (dstState.committed(streamId, ids)) return -1
    def commitWindow(actions: Seq[Action]): Int =
      TableLog.commitIfAbsent(spark, dst, streamId, ids, actions, 5, _ => ())
    // schema evolution across the replica (S12 x S17): when the source's
    // schema grew past the destination's, either refuse loudly (the
    // default — a replica silently missing columns is a divergence) or,
    // with evolveSchema, ADOPT the new columns atomically with this
    // apply: the evolved schema rides the same commit as the rewrite,
    // old destination files null-fill under it (the S12 read rule), and
    // the slice's post-images carry the new columns' values
    // (cdfSliceFrom's post-only path), so the evolution commit's
    // backfill replicates instead of vanishing
    val (srcPre, srcPost) = srcStates
    val srcSchemaOpt = srcPost.schema
    // a destination WITHOUT a logged schema — cold start, or a prior
    // marker-only apply (the common first source commit is schema-only,
    // whose empty delta must still propagate the schema; r17 review) —
    // adopts the source's schema with this apply. A schema'd destination
    // takes the evolution path.
    val (dstSchema, schemaActs) = dstState.schema match {
      case None =>
        (srcSchemaOpt, srcSchemaOpt.map(s => Action("schema", s.json)).toSeq)
      case Some(d) =>
        val srcSchema = srcSchemaOpt.getOrElse(throw new IllegalStateException(
          s"cdfApply needs a logged schema for $src@v$to — commit one at v1"))
        val missing = srcSchema.fields.filterNot(f =>
          d.fieldNames.contains(f.name))
        if (missing.isEmpty) (Some(d), Seq.empty[Action])
        else {
          require(evolveSchema,
            s"cdfApply: source v$to carries columns the destination lacks " +
              s"(${missing.map(_.name).mkString(", ")}) — pass " +
              "evolveSchema=true to adopt them, or evolve the destination first")
          val evolved = StructType(d.fields ++ missing)
          (Some(evolved), Seq(Action("schema", evolved.json)))
        }
    }
    val (ranged, statless) = dstState.files.partition(
      _.stats.exists(_.col == keyCol))
    val isGone = c("_change_type").isin("delete", "update")
    // the rewrite set is computed per FILE, by interval overlap of each
    // destination file's manifest [min, max] against the DISTRIBUTED gone
    // keys — not against the keys' global [min, max] envelope (r16
    // review: a bimodal delta touching keys 10 and 10^9 must not rewrite
    // every file between them). A file without stats on keyCol can never
    // be excluded — stats skip work, never rows.
    //
    // ZERO extra jobs (r18): the probe's three answers — "is the whole
    // delta empty?", "any delete/update keys at all?", "which ranged
    // files do they overlap?" — ride the delta's OWN localCheckpoint job
    // as observed metrics (CollectMetrics aggregates), where r17's fused
    // left-outer probe still paid one job wall per applied version. The
    // overlap test reads every ranged file's manifest (min, max, path)
    // from ONE array literal, built from bounds the driver ALREADY holds
    // (liveState is a driver-side manifest replay — no data, no key,
    // crosses to the driver): each gone row yields the paths whose range
    // holds its key, and one collect_set of those path arrays is the hit
    // set — one aggregate at any destination width. Only an integral key
    // carries manifest stats (the stageWithStats contract), so a
    // destination without ranged files builds no overlap test and never
    // casts a non-integral key.
    //
    // checkpoint the window delta: the range agg, the anti-join side,
    // and the staged write would otherwise each re-run cdfSlice's
    // full-outer join over the window's files. The observe node rides
    // this one job and is truncated away with the rest of the lineage —
    // downstream consumers scan the checkpointed rows, so no metric fires
    // twice.
    val bounds = typedLit(ranged.map { f =>
      val s = f.stats.find(_.col == keyCol).get
      (s.min, s.max, f.path)
    })
    val key = c(keyCol).cast("long")
    val metricCols =
      Seq(count(lit(1)).as("__n"), count(when(isGone, 1)).as("__ng")) ++
        Option.when(ranged.nonEmpty)(collect_set(when(isGone, transform(
          filter(bounds, b => key >= b("_1") && key <= b("_2")), b => b("_3"))))
          .as("__hits"))
    val observed = cdfSliceFrom(spark, src, from, to, keyCol, srcPre, srcPost)
      .observe("__cdf_probe", metricCols.head, metricCols.tail: _*)
    val delta = observed.localCheckpoint()
    // metrics read synchronously off the EXECUTED plan's accumulators —
    // not via Observation.get, whose latch waits on the async listener bus
    // (measured 30-150 ms of pure lag per version)
    val probe = observed.queryExecution.observedMetrics("__cdf_probe")
    def metric(name: String): Long = probe.getAs[Long](name)
    val deltaEmpty = metric("__n") == 0L
    // an EMPTY feed (a source compaction / identical rewrite, or a bare
    // schema-evolution commit) records the window as applied — a
    // marker-only commit that still propagates the schema — BEFORE any
    // key-type contract fires: marker-only streams must not require an
    // integral key (r17 advice — a warm destination with a non-integral
    // key regained the marker path it had before the probe fusion).
    if (deltaEmpty) return commitWindow(schemaActs)
    // attempt-unique staging dir (commitBatch's discipline): a racing
    // re-delivery of the same window must never Overwrite-delete the
    // winner's committed files — the loser's staging stays orphaned for
    // vacuum, the txn gate stops its commit
    val rel = s"data/apply-v$to-${java.util.UUID.randomUUID}"
    // copy-on-write semantics: only DELETE/UPDATE keys force a rewrite of
    // the files covering them — inserts just add files, so a pure append
    // (or a delete at one key plus an insert far away) rewrites NOTHING
    // it does not have to. keyCol must be integral (the stageWithStats
    // wire contract): a string key would cast its stats compare to null
    // and silently skip the rewrite — deletes unapplied, update
    // post-images still appended, duplicate keys in the destination.
    val keyType = dstSchema.get(keyCol).dataType
    require(TableLog.isIntegral(keyType),
      s"cdfApply needs an integral key; '$keyCol' is ${keyType.simpleString}")
    val gone = delta.filter(isGone).select(key.as("__gone"))
    val touched: Seq[TableLog.LiveFile] =
      if (metric("__ng") == 0L) Seq.empty
      else {
        lazy val hits = probe.getAs[collection.Seq[collection.Seq[String]]]("__hits")
          .flatten.toSet
        statless ++ ranged.filter(f => hits(f.path))
      }
    // the touched files are read DV-AWARE (scanState scopes the dst's
    // live deletion vectors per file): a raw read would carry rows a dst
    // morDelete already hid into the re-staged files — which land at
    // dstV+1, ESCAPE the old DV's sequence-number scope, and resurrect
    // (the same invariant compactCommit's new-DV conflict guards)
    val base = TableLog.scanState(spark, dst, touched, dstState.dvs, dstSchema)
    val survivors = base.join(gone, c(keyCol) === c("__gone"), "left_anti")
    val arrivals = delta.filter(c("_change_type") =!= "delete")
      .drop("_commit_version", "_change_type")
    // allowMissingColumns carries the schema seams, null-filling either
    // side: survivors read under a just-evolved schema already have the
    // new columns (old files null-fill), arrivals may lack a column only
    // the DESTINATION has (a replicated update is a full-row replacement
    // — the source's image is authoritative, destination-local columns
    // reset to null for rewritten rows)
    val adds = TableLog.stageWithStats(spark, dst,
      survivors.unionByName(arrivals, allowMissingColumns = true),
      rel, Seq(keyCol), files)
    commitWindow(schemaActs ++ touched.map(f => Action("remove", f.path)) ++ adds)
  }

  // ------------------------------- S18: merge-on-read deletes (deletion vectors)

  /** S18 [EXT]: merge-on-read DELETE — the complement of S17's
    * copy-on-write and the posture every production format ships for
    * fine-grained deletes at 100 TB (Delta deletion vectors, Iceberg v2
    * equality-delete files): the commit writes ONE small parquet of
    * deleted keys plus a one-line `dv` manifest action, and rewrites NO
    * data file. Readers drop the DV keys inside the (pruned) scan task
    * (`NOT dv_contains`, [[TableLog.dvMatch]]);
    * [[compactCommit]] absorbs live DVs into its packed rewrite, which is
    * what bounds how many a read ever stacks.
    *
    * Scoping is the sequence-number rule: a DV applies only to files
    * added BEFORE its commit, so re-inserting a deleted key later
    * survives ([[TableLog.LiveFile]]'s version). The key file is
    * self-describing — its single column's NAME is the key column it
    * deletes on — so the manifest line stays two fields and pre-S18 logs
    * replay unchanged. The key must be integral or string, in the same
    * family as the table column (readers compare integral keys as long,
    * strings by bytes); any other key type is refused here, at write time.
    *
    * Cost shape: S17 rewrites O(files covering the keys) on every delete;
    * S18 writes O(deleted keys) at delete time and defers the rewrite to
    * the next OPTIMIZE — the right trade when deletes are frequent and
    * fine-grained (GDPR erasure, late-arriving retractions). Returns the
    * committed version. */
  def morDelete(spark: SparkSession, table: String, keys: DataFrame): Int = {
    require(keys.columns.length == 1,
      s"morDelete takes a single-column key frame; got ${keys.columns.mkString(", ")}")
    // the key file's column name is LOAD-BEARING (the self-describing
    // wire contract: readers probe it) — a DV committed under a name
    // the table schema lacks would poison EVERY subsequent read with an
    // unresolvable-column error; refuse at write time instead
    val cur = TableLog.currentVersion(spark, table)
    val keyCol = keys.columns.head
    val keyType = keys.schema.head.dataType
    val sch = if (cur > 0) TableLog.schemaAsOf(spark, table, cur) else None
    sch.foreach { sch =>
      require(sch.fieldNames.contains(keyCol),
        s"morDelete key column '$keyCol' is not in the table schema " +
          s"(${sch.fieldNames.mkString(", ")}) — a committed DV under it " +
          "would fail every read")
    }
    requireDvKeyType("morDelete", keyCol, keyType,
      sch.fold(keyType)(_(keyCol).dataType))
    // plain commit, not blind retry: delete-by-key does NOT commute with
    // a concurrent commit that re-inserts the key (the dv would scope
    // over the loser's files on retry) — a lost race surfaces loudly and
    // the caller decides, the compaction-conflict discipline
    TableLog.commit(spark, table, stageDv(spark, table, "morDelete", keys))
  }

  /** Stage `keys`' distinct values as ONE deletion-vector key file under
    * `data/dv/<uuid>` and return the commit's leading actions: the `dv`
    * reader feature, then the `dv` action. One file: a DV is
    * delete-volume-sized by contract (every reading JVM holds its key set
    * in memory) — a delete big enough to need many files should be a
    * copy-on-write rewrite (S17) instead. The file is self-describing: its
    * single column's NAME is the key column it deletes on. The feature
    * line (S21) states the requirement on the wire: a reader that skipped
    * the dv action would resurrect every deleted row. */
  private def stageDv(spark: SparkSession, table: String, op: String,
      keys: DataFrame): Seq[Action] = {
    val rel = s"data/dv/${java.util.UUID.randomUUID}"
    keys.distinct().coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$table/$rel")
    val staged = TableLog.listStaged(spark, table, rel)
      .map(a => Action("dv", a.path))
    require(staged.nonEmpty, s"$op staged no key file")
    Action("feature", "dv") +: staged
  }

  /** The DV key-type contract, refused at write time: readers probe DV
    * keys as `long` (integral types) or as string bytes, so a DV keyed on
    * any other type — or on the other family than the table column —
    * would commit fine and then fail (or never match) on every read. */
  private def requireDvKeyType(op: String, keyCol: String,
      dvType: org.apache.spark.sql.types.DataType,
      columnType: org.apache.spark.sql.types.DataType): Unit = {
    val fam = graft.plans.DvContains.family(dvType)
    require(fam.isDefined,
      s"$op key column '$keyCol' is ${dvType.simpleString}; deletion vectors " +
        "key on integral or string columns only")
    require(fam == graft.plans.DvContains.family(columnType),
      s"$op key column '$keyCol' is ${dvType.simpleString} but the table " +
        s"column is ${columnType.simpleString}: integral and string keys never match")
  }

  // ------------------------- S20: merge-on-read UPSERT (DV + post-images)

  /** S20 [EXT]: merge-on-read UPSERT — the third leg of the merge family
    * (S17 rewrites the covering files copy-on-write; S18 deletes by DV;
    * this MERGEs by DV): ONE commit carries a deletion vector over the
    * upsert keys — hiding any existing copy in files added before it,
    * the S18 sequence-number scoping — plus the staged post-image rows,
    * which land AT the commit's version and therefore escape its own DV.
    * No existing data file is read or rewritten.
    *
    * Cost shape at 100 TB: an upsert touching k keys costs O(k) at write
    * time — one key-file parquet and the post-image stage — where S17
    * pays O(files covering the keys) in read+rewrite; the read-side tax
    * is the same in-scan key probe every S18 DV already costs, and the
    * next OPTIMIZE ([[compactCommit]]) absorbs both. That is the
    * Delta-DV / Hudi-MOR upsert trade: frequent fine-grained upserts pay
    * at compaction time, not per commit.
    *
    * Contracts: `keyCol` must be integral or string (the DV key-type
    * contract [[morDelete]] states); `rows` must carry exactly the logged schema's columns
    * (an upsert is a full-row replacement — partial-column updates are a
    * read-modify-write, S17's job); `keyCol` must be key-unique in
    * `rows` AND in the table snapshot (the same uniqueness every CDF
    * consumer assumes — duplicate source keys would all land). Post-
    * images stage key-clustered with manifest stats when the key is
    * integral, so S15/S16 pruning and S17's covering-file bound survive
    * the merge. Plain commit, no blind retry: an upsert does not commute
    * with a concurrent commit touching the same keys (morDelete's
    * discipline — a lost race surfaces loudly and the caller decides).
    * Returns the committed version, or the current version unchanged for
    * an empty `rows` (a no-op MERGE commits nothing). */
  def morMerge(spark: SparkSession, table: String, rows: DataFrame,
      keyCol: String, files: Int = 1): Int = {
    val cur = TableLog.currentVersion(spark, table)
    require(cur > 0, "morMerge upserts into an existing table — commit a v1 first")
    val sch = TableLog.schemaAsOf(spark, table, cur).getOrElse(
      throw new IllegalArgumentException(
        s"morMerge needs a logged schema for $table — commit one at v1"))
    require(sch.fieldNames.contains(keyCol),
      s"morMerge key column '$keyCol' is not in the table schema " +
        s"(${sch.fieldNames.mkString(", ")})")
    requireDvKeyType("morMerge", keyCol, sch(keyCol).dataType, sch(keyCol).dataType)
    require(rows.columns.toSet == sch.fieldNames.toSet,
      s"morMerge post-images must carry exactly the logged schema " +
        s"(${sch.fieldNames.mkString(", ")}); got ${rows.columns.mkString(", ")} " +
        "— a partial-column update is a read-modify-write (S17), not a MOR merge")
    // names AND types: a type-mismatched post-image file would commit
    // fine and then fail EVERY subsequent read under the logged schema —
    // a corrupted-table crash long after the write (r17 review); refuse
    // at merge time like the other contracts here
    sch.fields.foreach { f =>
      val got = rows.schema(f.name).dataType
      require(got == f.dataType,
        s"morMerge post-image column '${f.name}' is ${got.simpleString}; " +
          s"the logged schema says ${f.dataType.simpleString}")
    }
    // pin the source ONCE (cdfApply's localCheckpoint discipline): the DV
    // keys and the staged post-images are both derived from `rows`, and a
    // nondeterministic frame (a LIMIT without ORDER, a sampled filter)
    // re-evaluated per pass would commit a DV that hides keys whose
    // post-images never landed — silent row loss inside one commit.
    // The empty-source test rides the checkpoint job as an observed
    // count (cdfApply's r18 probe fold) instead of a separate take(1);
    // read off the executed plan, not the async-listener Observation.
    val observed = rows.select(sch.fieldNames.toSeq.map(col): _*)
      .observe("__merge_probe", count(lit(1)).as("__n"))
    val post = observed.localCheckpoint()
    // an empty MERGE source must not commit a zero-key DV
    if (observed.queryExecution.observedMetrics("__merge_probe")
        .getAs[Long]("__n") == 0L) return cur
    // the DV key file ([[stageDv]]) and the post-image stage are
    // INDEPENDENT writes off the same checkpointed frame into disjoint
    // staging dirs — they run concurrently (inParallel, the
    // fixture-staging discipline) and stay invisible until the single
    // commit below publishes both
    val addRel = s"data/merge/${java.util.UUID.randomUUID}"
    val Seq(dvActs, adds) = TableLog.inParallel(Seq(
      () => stageDv(spark, table, "morMerge", post.select(col(keyCol))),
      // post-images: clustered with stats when the key can carry them
      // (stageWithStats' integral wire contract), plain otherwise — stats
      // skip work, never rows, so a statless merge file is just unprunable
      () =>
        if (TableLog.isIntegral(sch(keyCol).dataType))
          TableLog.stageWithStats(spark, table, post, addRel, Seq(keyCol), files)
        else TableLog.stage(spark, table, post, addRel)))
    TableLog.commit(spark, table, dvActs ++ adds)
  }

  // --------------------- R17: exactly-once log-tail relay (src log → dst log)

  /** R17 [EXT]: incremental table-to-table relay — the continuous
    * bronze→silver pipeline every lakehouse deployment runs, composed
    * from parts this log already has: the source's change feed (S14)
    * names what moved, [[cdfApply]] lands each catch-up window as one
    * pruned copy-on-write commit, and the destination log's OWN txn
    * markers are the resume offset. A restarted relay calls
    * [[TableLog.lastCommitted]] on the destination and continues from
    * the next source version — there is no external offset store
    * (checkpoint directory, consumer-group coordinator) to lose, lag
    * behind, or double-apply against, and a re-delivered window still
    * no-ops at cdfApply's txn gate (belt and braces: the offset probe
    * optimizes, the gate guarantees).
    *
    * Windows: a tick applies every source version past its offset as
    * ONE netted rewrite per window — one slice over (from, to], one
    * destination commit carrying a txn marker for EVERY source version
    * in the window, so exactly-once still holds per version while the
    * per-version slice/probe/stage/commit chain is paid once. A source
    * commit carrying a `schema` action starts a new window, so the
    * evolution refusal and adoption below see each schema change at its
    * own version. The declared s17 rows run the same window apply
    * ([[cdfApply]]). Contract: the destination gets one commit per window,
    * not one per source version; the returned source versions and the
    * destination snapshot at each window's end are what per-version
    * applies would have produced.
    *
    * At 100 TB: each tick costs O(changed data in the window), never
    * O(table) — the S14/S17 bound — and the offset probe is O(commits
    * since the destination's last checkpoint) (S19). The destination
    * auto-checkpoints every `spark.graft.log.checkpointInterval` commits
    * (the R15 sink's conf), since a long-lived relay is exactly the
    * writer whose manifest chain and offset probe grow without bound.
    * Drive it from any scheduler — a Structured Streaming foreachBatch
    * tick (StreamingSpec does), cron, or a loop. With `evolveSchema` the
    * relay also propagates source schema evolution: a column-adding
    * commit evolves the destination atomically with its apply and the
    * backfill's new-column values replicate (default: refuse loudly —
    * a replica silently missing columns is a divergence). Returns the
    * source versions applied this tick (empty = caught up). */
  def relay(spark: SparkSession, src: String, dst: String, keyCol: String,
      consumer: String, files: Int = 4, evolveSchema: Boolean = false): Seq[Int] = {
    val streamId = s"cdf:$consumer"
    val every = TableLog.confInt(spark, "spark.graft.log.checkpointInterval", "0")
    val from = TableLog.lastCommitted(spark, dst, streamId)
      .map(_.toInt).getOrElse(0)
    val to = TableLog.currentVersion(spark, src)
    val applied = (from + 1) to to
    // ONE walk of the source serves the window split and every window's
    // apply: the state as of each version of the tick, from `from` on
    val (base, steps) = TableLog.window(spark, src, from, to)
    val states = base +: steps.map(_.after)
    val starts = steps.collect {
      case s if s.version == from + 1 || s.actions.exists(_.op == "schema") => s.version
    }
    starts.zip(starts.drop(1).map(_ - 1) :+ to).foreach { case (first, last) =>
      val dstV = applyWindow(spark, src, dst, first - 1, last, keyCol, consumer,
        files, evolveSchema, (states(first - 1 - from), states(last - from)))
      if (every > 0 && dstV > 0 && dstV % every == 0)
        TableLog.checkpointLog(spark, dst)
    }
    // conf-gated auto-OPTIMIZE (the [[maybeOptimize]] policy): a
    // long-lived relay is exactly the writer whose destination
    // accumulates apply files without bound. Checked only on ticks that
    // moved data; the packed files re-carry key stats when the key can
    // hold them (the stageWithStats wire), so maintenance never erases
    // the pruning the applies rely on
    if (applied.nonEmpty)
      optimizeIfDue(spark, dst)(st =>
        if (st.schema.map(_(keyCol).dataType).exists(TableLog.isIntegral)) Seq(keyCol)
        else Nil)
    applied
  }

  // ------------------------------------------------- S16: Z-order clustering

  /** Morton (Z-curve) value of two non-negative long columns, each first
    * scaled linearly into `bits` bits against its [lo, hi] domain, then
    * interleaved by [[graft.functions.Scalars.zorderKey]]: the cluster key
    * that makes ONE sort order serve range predicates on BOTH dimensions.
    * 16 bits per dimension is plenty for file-level skipping — the curve
    * only has to separate files, not rows. */
  def zOrderValue(a: Column, aLo: Long, aHi: Long,
      b: Column, bLo: Long, bHi: Long, bits: Int = 16): Column = {
    val scale = (1L << bits) - 1
    // divide-FIRST scaling: the multiply-first form ((c-lo)*scale/(hi-lo))
    // wraps when the domain exceeds 2^(63-bits) (~2^47 at 16 bits) — a
    // snowflake-style 10^18 id domain would silently emit wrapped negative
    // Morton keys and collapse clustering quality (reads stay correct —
    // stats come from file contents — but the layout stops separating).
    // A wide domain divides by a power of two applied as an unsigned
    // shift: exact at any width (Column./ is DOUBLE division — lossy past
    // 2^53), monotone, in [0, scale] since 2^shift >= width/scale. A
    // NARROW domain (width <= scale) instead multiplies UP by an integer
    // factor so the dimension still occupies the full bit budget —
    // otherwise an asymmetric pair (ids in millions × a small enum) lets
    // the wide dimension's high bits own the curve's top and the narrow
    // one stops separating files. The upscale product is overflow-safe by
    // construction (d <= scale < 2^bits, f <= 2^bits). Width is computed
    // in BigInt so a [~Long.Min, ~Long.Max] domain fails loudly instead
    // of wrapping.
    def norm(c: Column, lo: Long, hi: Long): Column =
      if (hi <= lo) lit(0L)
      else {
        val width = BigInt(hi) - BigInt(lo)
        require(width <= BigInt(Long.MaxValue),
          s"z-order domain [$lo, $hi] wider than 2^63 — split the dimension")
        val d = (c - lit(lo)).cast("long")
        if (width <= scale) d * lit((scale + 1) / (width.toLong + 1))
        else shiftrightunsigned(d, 64 -
          java.lang.Long.numberOfLeadingZeros(width.toLong / (scale + 1)))
      }
    graft.functions.Scalars.zorderKey(norm(a, aLo, aHi), norm(b, bLo, bHi), bits)
  }
}
