package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Stamp, Tables}
import graft.operators.TableLog.Action

/** The declared lakehouse queries: every S11–S20, MV1/MV2 and R15–R17 body
  * the query registry ([[graft.SparkEntry]]) names, the fixtures those
  * bodies build and the constants their oracles and specs share. Each
  * body composes the engine API — [[TableLog]] (commits, replay, snapshot
  * reads, staging) and [[Lakehouse]] (compaction, change feed, merges,
  * relay) — over the events table; nothing here is part of that API.
  */
object LakeQueries {

  // ------------------------------------------------------ fixture preamble

  /** Delete each table dir: a declared query rebuilds its tables from
    * scratch on every evaluation. */
  private def wipe(spark: SparkSession, tables: String*): Unit =
    tables.foreach(t => new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(t), true))

  /** The events slice every lakehouse fixture stages, projected to
    * (event_id, user_id, event_type, value), after [[wipe]]-ing `tables`. */
  private[graft] def fixtureEvents(spark: SparkSession, sfDir: String,
      tables: String*): DataFrame = {
    wipe(spark, tables: _*)
    Tables.events(spark, sfDir).select("event_id", "user_id", "event_type", "value")
  }

  /** Each listed version's snapshot rolled to one row — `version`, then
    * `aggs(version, snapshot)` — ordered by version: the per-version
    * audit the declared rows end in. */
  private def perVersion(spark: SparkSession, table: String, versions: Seq[Int])(
      aggs: (Int, DataFrame) => Seq[Column]): DataFrame =
    versions.map { v =>
      val df = TableLog.readAsOf(spark, table, v)
      val a = aggs(v, df)
      df.agg(a.head, a.tail: _*).select(lit(v.toLong).as("version"), col("*"))
    }.reduce(_ unionByName _).orderBy(col("version"))

  /** (n_rows, id_sum): the row-set fingerprint most audits carry. */
  private def idRollup: Seq[Column] =
    Seq(count(lit(1)).as("n_rows"), sum(col("event_id")).as("id_sum"))

  /** Per event_type (n_rows, id_sum), ordered by type. */
  private def typeRollup(df: DataFrame): DataFrame =
    df.groupBy(col("event_type")).agg(idRollup.head, idRollup.tail: _*)
      .orderBy(col("event_type"))

  // --------------------------------------------- S11: the commit-rule history

  /** The s11 commit rules' file sets, staged and not yet committed. */
  private final case class S11Sets(v1: Seq[Action], v2: Seq[Action],
      v3: Seq[Action], extra: Seq[Seq[Action]])

  /** Stage the s11 commit rules' file sets — one set per event_type per
    * commit, so a rewrite can retire a partition's files wholesale:
    *  - v1: events with event_id % 4 != 3;
    *  - v2: the % 4 == 3 remainder;
    *  - v3: the `click` rows with value >= 100 (the rewrite's add set);
    * plus caller-supplied extra sets (relpath → df). ALL of them stage
    * CONCURRENTLY ([[TableLog.inParallel]]): staged dirs are disjoint and
    * unreachable until a commit publishes them, so the only sequential
    * steps left are the manifest renames — run end to end, the nine tiny
    * write jobs of per-job floor dominated every fixture-built row. */
  private def stageS11(spark: SparkSession, table: String, ev: DataFrame,
      extra: Seq[(String, DataFrame)]): S11Sets = {
    import spark.implicits._
    // bounded-domain driver collect (the s10Fragment convention): the
    // type enum names the per-commit file sets
    val types = ev.select($"event_type").distinct()
      .orderBy($"event_type").as[String].collect().toSeq
    def typed(df: DataFrame, v: Int): Seq[() => Seq[Action]] =
      types.map(t => () => TableLog.stage(spark, table,
        df.filter($"event_type" === t), s"data/v$v/$t"))
    val staged = TableLog.inParallel(
      typed(ev.filter($"event_id" % 4 =!= 3), 1) ++
        typed(ev.filter($"event_id" % 4 === 3), 2) ++
        Seq(() => TableLog.stage(spark, table,
          ev.filter($"event_type" === "click" && $"value" >= 100.0), "data/v3/click")) ++
        extra.map { case (rel, df) => () => TableLog.stage(spark, table, df, rel) })
    val n = types.size
    S11Sets(staged.take(n).flatten, staged.slice(n, 2 * n).flatten, staged(2 * n),
      staged.drop(2 * n + 1))
  }

  /** Commit a rewrite of one event_type partition: every file of it live
    * at the head removed and `adds` added, after `lead` (a schema action),
    * in one commit — the file-level MERGE every table format performs.
    * Returns the retired files (still on disk: older versions keep
    * reading them). */
  private def rewritePartition(spark: SparkSession, table: String, part: String,
      adds: Seq[Action], lead: Seq[Action] = Nil): Seq[String] = {
    val retired = TableLog.liveFiles(spark, table, TableLog.currentVersion(spark, table))
      .filter(_.contains(s"/$part/"))
    TableLog.commit(spark, table, lead ++ retired.map(Action("remove", _)) ++ adds)
    retired
  }

  /** The s11 fixture: the three commits of [[stageS11]]'s rules, v3 a
    * rewrite of the `click` partition — every live click file removed, one
    * rewritten set added holding only clicks with value >= 100 (a
    * MERGE-delete expressed as add+remove, the swap s10 performs with
    * renames made transactional). Returns the click files the rewrite
    * retired. */
  private[graft] def buildFixture(spark: SparkSession, sfDir: String,
      table: String): Seq[String] =
    buildFixtureWith(spark, sfDir, table, Nil)._1

  /** [[buildFixture]] plus caller-supplied extra file sets (relpath → df)
    * staged concurrently with the fixture's nine, so a follow-on commit's
    * write job overlaps the fixture pool instead of paying its own
    * job-floor round afterwards (the s14 v4 backfill). Returns (retired
    * click files, extra add-action lists in input order). */
  private[graft] def buildFixtureWith(spark: SparkSession, sfDir: String,
      table: String, extra: Seq[(String, DataFrame)]): (Seq[String], Seq[Seq[Action]]) = {
    val ev = fixtureEvents(spark, sfDir, table)
    val sets = stageS11(spark, table, ev, extra)
    // the initial commit records the schema: readers never trust footers
    TableLog.commit(spark, table, Action("schema", ev.schema.json) +: sets.v1)
    TableLog.commit(spark, table, sets.v2)
    (rewritePartition(spark, table, "click", sets.v3), sets.extra)
  }

  /** Every version's snapshot rolled to (version, n_rows, id_sum) — the
    * whole-history audit s11 and r15 end in. */
  private def versionsFrame(spark: SparkSession, table: String): DataFrame =
    perVersion(spark, table, 1 to TableLog.currentVersion(spark, table))((_, _) => idRollup)

  /** S11 [EXT]: time-travel read over the commit log — build the
    * three-commit fixture, then read the table AS OF every version in its
    * history and roll each snapshot up to (version, n_rows, id_sum). The
    * oracle recomputes each version's row set from the deterministic
    * commit rules on the source table, so a manifest replay bug (a missed
    * remove, a stray file, torn isolation between versions) shows up as a
    * row/hash mismatch. */
  def s11TimeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val table = s"${Etl.scratch(spark)}/s11_table"
    buildFixture(spark, sfDir, table)
    versionsFrame(spark, table)
  }

  // ------------------------------------------------- MV1: abelian delta view

  /** The MV's per-file-set aggregate: (event_type, n_rows, id_sum) with
    * every term SIGNED so removed files subtract. Empty file sets yield
    * an empty frame of the same schema. */
  private[graft] def mvSlice(spark: SparkSession, table: String,
      files: Seq[String], sign: Long): DataFrame = {
    import spark.implicits._
    if (files.isEmpty)
      spark.emptyDataset[(String, Long, Long)]
        .toDF("event_type", "n_rows", "id_sum")
    else
      spark.read.parquet(files.map(r => s"$table/$r"): _*)
        .groupBy($"event_type")
        .agg((count(lit(1)) * sign).as("n_rows"),
          (sum($"event_id") * sign).as("id_sum"))
  }

  /** MV1 [EXT]: incremental materialized-view maintenance over the log —
    * the delta-refresh a 100 TB dashboard needs: the view's aggregate is
    * ABELIAN (counts and sums merge by addition), so a refresh from
    * version v0 to v1 reads ONLY the files the window's commits touched:
    * +agg(added files) − agg(removed files), merged into the stored
    * state. A daily commit touching 0.01% of the table refreshes the
    * view at 0.01% of the full-scan cost — the log's add/remove actions
    * are exactly the delta an IVM engine otherwise reconstructs from
    * change capture. Removed files are still on disk until
    * [[TableLog.vacuum]] (whose retention must cover the oldest
    * unrefreshed view — the documented coupling). Returns the delta of
    * the window (from, to]. */
  private[graft] def mvDelta(spark: SparkSession, table: String,
      from: Int, to: Int): DataFrame = {
    // a deletion-vector commit (S18) deletes rows WITHOUT an add/remove
    // action, so it is invisible to this file-level delta — folding a
    // window that contains one would silently serve a STALE view (the
    // deleted rows never subtract). And DVs LIVE at `from` break the fold
    // too, even with no dv action inside the window: the stored state was
    // computed DV-aware, but this delta reads window files RAW — an
    // absorbing compaction's removes would subtract the DV-hidden rows a
    // SECOND time (the state never contained them). Non-abelian either
    // way → refuse loudly and point at the CDF-driven refresh, which sees
    // DV deletes as first-class rows and reads pre-images DV-aware.
    val (base, steps) = TableLog.window(spark, table, from, to)
    val dvCommits = steps.filter(_.actions.exists(_.op == "dv")).map(_.version)
    val dvLiveAtFrom = base.dvs.map(_._1)
    require(dvCommits.isEmpty && dvLiveAtFrom.isEmpty,
      s"mvDelta window ($from, $to] is not abelian-foldable: " +
        (if (dvCommits.nonEmpty)
          s"deletion-vector commit(s) v${dvCommits.mkString(", v")} inside " +
            "the window have no add/remove action"
        else
          s"deletion vector(s) live at v$from (e.g. ${dvLiveAtFrom.head}) " +
            "mean the stored state is DV-aware while this delta reads " +
            "window files raw") +
        " — refresh via the change feed (Lakehouse.mv2Refresh / cdfRead) " +
        "or recompute the view")
    val (adds, removes) = LogProtocol.fileDelta(base, steps)
    mvSlice(spark, table, adds, 1L)
      .unionByName(mvSlice(spark, table, removes, -1L))
  }

  /** One refresh step: fold the (from, to] delta into `state`, dropping
    * groups whose membership went to zero. Both inputs are
    * group-cardinality frames — the merge never touches the table. */
  private[graft] def mvMerge(state: DataFrame, delta: DataFrame): DataFrame = {
    import state.sparkSession.implicits._
    state.unionByName(delta)
      .groupBy($"event_type")
      .agg(sum($"n_rows").as("n_rows"), sum($"id_sum").as("id_sum"))
      .filter($"n_rows" > 0)
  }

  /** MV1 [EXT]: declared query — build the s11 history, then maintain the
    * per-type (n_rows, id_sum) view through THREE incremental refreshes
    * (v0→1, 1→2, 2→3: the cold start is just the first window), never
    * scanning the whole table after a commit. The final state must equal
    * the direct aggregate over the v3 snapshot — the oracle replays that;
    * TimeTravelSpec additionally pins that each delta's scan touches ONLY
    * the window's files. */
  def mv1IncrementalAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/mv1_table"
    buildFixture(spark, sfDir, table)
    (1 to TableLog.currentVersion(spark, table))
      .foldLeft(mvSlice(spark, table, Seq.empty, 1L)) { (state, v) =>
        mvMerge(state, mvDelta(spark, table, v - 1, v))
      }
      .orderBy($"event_type")
  }

  // ------------------------------------------------- S12: schema evolution

  /** The evolved (column-adding) backfill frame: the `error` rows tagged
    * with a `source_tag` column — shared by [[evolveFixture]] and the s12
    * staging hoist. */
  private[graft] def evolvedTagged(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    ev.filter($"event_type" === "error")
      .withColumn("source_tag",
        concat($"event_type", lit("-"), pmod($"user_id", lit(3L)).cast("string")))
  }

  /** S12 [EXT]: schema evolution on the log — the fourth commit the s11
    * fixture grows: a BACKFILL rewrite of the `error` partition that adds
    * a `source_tag` column. The new schema publishes as a `schema` action
    * in the same atomic commit as the file swap, so the column and the
    * data carrying it appear together: reads as of v1–v3 still present
    * the ORIGINAL schema (the added column is invisible retroactively),
    * and under the v4 schema every pre-v4 file null-fills the column —
    * no file is ever rewritten for schema's sake, the 100 TB point of
    * log-tracked schemas. `staged`: pre-staged add actions for the
    * backfill file set (the buildFixtureWith hoist) — None stages here,
    * the standalone form. */
  private[graft] def evolveFixture(spark: SparkSession, sfDir: String,
      table: String, staged: Option[Seq[Action]] = None): Unit = {
    val tagged = evolvedTagged(fixtureEvents(spark, sfDir))
    val adds = staged.getOrElse(TableLog.stage(spark, table, tagged, "data/v4/error"))
    rewritePartition(spark, table, "error", adds, Seq(Action("schema", tagged.schema.json)))
  }

  /** S12 [EXT]: declared query — build the s11 history, evolve it with
    * the column-adding backfill commit, then audit every version:
    * (version, n_rows, n_tagged). Versions 1–3 must report ZERO tagged
    * rows (the column does not exist yet under their logged schema) and
    * identical row counts to s11's pre-evolution reads; v4 keeps v3's row
    * set (the backfill is the identity on rows) with exactly the error
    * rows tagged. The oracle replays all four from the commit rules. */
  def s12SchemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val table = s"${Etl.scratch(spark)}/s12_table"
    // the evolution backfill's file set rides the fixture pool (the s14
    // v4 hoist); the v4 commit still derives its remove set and schema
    // action at commit time
    val (_, extraAdds) = buildFixtureWith(spark, sfDir, table,
      Seq("data/v4/error" -> evolvedTagged(fixtureEvents(spark, sfDir))))
    evolveFixture(spark, sfDir, table, staged = Some(extraAdds.head))
    perVersion(spark, table, 1 to TableLog.currentVersion(spark, table)) { (_, df) =>
      val tagged =
        if (df.columns.contains("source_tag")) count(col("source_tag"))
        else lit(0L)
      Seq(count(lit(1)).as("n_rows"), tagged.cast("long").as("n_tagged"))
    }
  }

  // ----------------------------------------- R15/R16: streaming into the log

  /** The four deterministic micro-batches (event_id mod 4 — the l2g/u3
    * synthetic-feed convention) landed through the exactly-once sink
    * [[TableLog.commitBatch]] under `streamId`, with batch 1 RE-DELIVERED
    * in the worst case: the restarted writer does NOT know (no
    * pre-check), fully re-stages the batch, and must be stopped at the
    * commit gate — its files stay orphaned (vacuum's job), the table
    * never sees them, and no version appears. */
  private def streamFourBatches(spark: SparkSession, sfDir: String, table: String,
      streamId: String): Unit = {
    import spark.implicits._
    val ev = fixtureEvents(spark, sfDir, table)
    (0 until 4).foreach { b =>
      TableLog.commitBatch(table, streamId)(ev.filter($"event_id" % 4 === b), b.toLong)
      if (b == 1) {
        val again = TableLog.stage(spark, table,
          ev.filter($"event_id" % 4 === 1), s"data/$streamId/b1-redelivery")
        require(TableLog.commitIfAbsent(spark, table, streamId, 1L, again) == -1,
          "re-delivered batch must not commit twice")
      }
    }
  }

  /** R15 [EXT]: streaming ingest INTO the table log — the lakehouse
    * landing pattern: each micro-batch publishes as ONE atomic commit
    * with a `(streamId, batchId)` txn marker, so readers always see
    * whole batches (no torn micro-batch) and a re-delivered batch after
    * a writer restart commits exactly once. Declared batch form replays
    * the event feed as [[streamFourBatches]] and returns every version's
    * (n_rows, id_sum) — the oracle's cumulative replay fails if the
    * duplicate lands or a batch tears. */
  def r15StreamTableCommit(spark: SparkSession, sfDir: String): DataFrame = {
    val table = s"${Etl.scratch(spark)}/r15_table"
    streamFourBatches(spark, sfDir, table, "r15")
    versionsFrame(spark, table)
  }

  /** R16 [EXT]: streaming view refresh — the composition the S11/R15/MV1
    * trio exists for: a micro-batch stream lands as atomic txn-marked
    * commits (R15) and a downstream aggregate view refreshes from each
    * commit's DELTA (MV1) instead of rescanning the table — the live
    * dashboard a 100 TB ingest feeds at per-batch cost. Declared batch
    * form replays r15's four micro-batches (including the re-delivery,
    * which the commit gate rejects — no version appears, so nothing
    * folds) and emits the view AS OF every version — per-type (n_rows,
    * id_sum) — so the oracle's cumulative replay fails if any refresh
    * missed a file, double-counted the re-delivery, or tore a batch. Each
    * version's view folds every window delta so far onto the empty state
    * lazily — LINEAR, each branch built from the empty state, never from
    * the previous lazy state (reusing state_{v-1} twice per version is
    * the exponential-inline trap) — so the four versions cost no
    * materialization job. */
  def r16StreamViewRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/r16_table"
    streamFourBatches(spark, sfDir, table, "r16")
    val empty = mvSlice(spark, table, Seq.empty, 1L)
    val deltas = (1 to TableLog.currentVersion(spark, table))
      .map(v => mvDelta(spark, table, v - 1, v))
    deltas.indices.map { i =>
      deltas.take(i + 1).foldLeft(empty)(mvMerge)
        .select(lit(i + 1L).as("version"), $"event_type", $"n_rows", $"id_sum")
    }.reduce(_ unionByName _).orderBy($"version", $"event_type")
  }

  // ------------------------------------------------------ S13: compaction

  private[graft] val S13_BATCHES = 8
  private[graft] val S13_FILES_PER_BATCH = 4
  private[graft] val S13_TARGET_FILES = 2

  /** `n` micro-batch commits of `ev` (batch b = event_id mod n == b, each
    * fragmented into `filesPerBatch` files when given), the schema logged
    * at v1. The n file sets stage concurrently (disjoint dirs, invisible
    * until committed); only the n manifest publishes stay ordered, so
    * the commit sequence readers observe is the serial one at about two
    * pool rounds of per-job floor. `afterCommit(b)` runs right after
    * batch b's commit. */
  private def microBatches(spark: SparkSession, table: String, ev: DataFrame,
      n: Int, filesPerBatch: Option[Int] = None,
      afterCommit: Int => Unit = _ => ()): Unit = {
    val staged = TableLog.inParallel((0 until n).map(b => () => {
      val batch = ev.filter(col("event_id") % n === b)
      TableLog.stage(spark, table, filesPerBatch.fold(batch)(k => batch.repartition(k)),
        s"data/b$b")
    }))
    staged.zipWithIndex.foreach { case (adds, b) =>
      TableLog.commit(spark, table,
        if (b == 0) Action("schema", ev.schema.json) +: adds else adds)
      afterCommit(b)
    }
  }

  /** s13's fixture: eight micro-batch commits (event_id mod 8 — the
    * r15/l2g synthetic-feed convention), each fragmented into exactly 4
    * files the way a files-per-trigger streaming sink appends — 32 small
    * live files by v8, the layout OPTIMIZE exists for. */
  private[graft] def s13Fixture(spark: SparkSession, sfDir: String,
      table: String): Unit =
    microBatches(spark, table, fixtureEvents(spark, sfDir, table), S13_BATCHES,
      Some(S13_FILES_PER_BATCH))

  /** The pre/post-OPTIMIZE audit: (version, n_rows, id_sum, n_files) of
    * both snapshots. */
  private def compactionAudit(spark: SparkSession, table: String, vPre: Int,
      vPost: Int): DataFrame =
    perVersion(spark, table, Seq(vPre, vPost)) { (v, _) =>
      idRollup :+ lit(TableLog.liveFiles(spark, table, v).size.toLong).as("n_files")
    }

  /** S13 [EXT]: declared query — build the fragmented eight-commit table,
    * OPTIMIZE it as one manifest transaction ([[Lakehouse.compactCommit]]),
    * and audit the pre- and post-compaction snapshots as (version, n_rows,
    * id_sum, n_files). Data identity across the compaction commit is the
    * oracle's row/hash check (v8 ≡ v9 ≡ the full source table); the
    * manifest file-count collapse (32 → 2) rides IN the row — both counts
    * are deterministic (round-robin repartition leaves no partition empty
    * at any declared sf), so the oracle states them as literals.
    * LakehouseSpec drives what SQL can't see: the pinned-reader race, the
    * append retry, and the real-conflict abort. */
  def s13LogCompaction(spark: SparkSession, sfDir: String): DataFrame = {
    val table = s"${Etl.scratch(spark)}/s13_table"
    s13Fixture(spark, sfDir, table)
    val vPre = TableLog.currentVersion(spark, table)
    val vPost = Lakehouse.compactCommit(spark, table, S13_TARGET_FILES)
    compactionAudit(spark, table, vPre, vPost)
  }

  // ------------------------------------------------------------- S14: CDF

  /** The s14 v4 backfill: the `error` rows with `value + 1` — rows that
    * all genuinely CHANGE, so a feed must classify them as updates. */
  private def bumpedErrors(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "error").withColumn("value", col("value") + 1.0)

  /** s14's fixture: the s11 three-commit history plus a fourth commit
    * that rewrites the `error` partition with [[bumpedErrors]] (the v3
    * rewrite, by contrast, re-adds identical click rows, which must
    * classify as nothing). The v4 file set stages concurrently with the
    * fixture's nine; the v4 commit still computes its remove set from
    * the ACTUAL v3 manifest. */
  private[graft] def s14Fixture(spark: SparkSession, sfDir: String,
      table: String): Unit = {
    val (_, extraAdds) = buildFixtureWith(spark, sfDir, table,
      Seq("data/v4/error" -> bumpedErrors(fixtureEvents(spark, sfDir))))
    rewritePartition(spark, table, "error", extraAdds.head)
  }

  /** The full change feed of the four-commit history rolled to (version,
    * change_type, n_rows, id_sum). */
  private def feedRollup(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    Lakehouse.cdfRead(spark, table, 0, 4, "event_id")
      .groupBy($"_commit_version".as("version"), $"_change_type".as("change_type"))
      .agg(idRollup.head, idRollup.tail: _*)
      .orderBy($"version", $"change_type")
  }

  /** S14 [EXT]: declared query — the full feed of the four-commit fixture
    * ([[Lakehouse.cdfRead]]) rolled to (version, change_type, n_rows,
    * id_sum). The oracle replays the commit rules: v1/v2 are pure inserts
    * (the mod-4 split), v3 must emit ONLY the deletes (clicks under 100 —
    * its re-added ≥100 rows are identical and must vanish from the feed),
    * v4 must emit every error row exactly once as an update. A feed that
    * leaks rewrites, misses a remove, or double-counts diverges on rows or
    * hash. */
  def s14CdfRead(spark: SparkSession, sfDir: String): DataFrame = {
    val table = s"${Etl.scratch(spark)}/s14_table"
    s14Fixture(spark, sfDir, table)
    feedRollup(spark, table)
  }

  // ---------------------------------------------- MV2: CDF-driven refresh

  /** mv2's view: per-type (n_rows, min_value). MIN is non-abelian — a
    * delete can RAISE it, which MV1's signed merge cannot express. */
  private def mv2View(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), min(col("value")).as("min_value"))

  /** MV2 [EXT]: declared query — [[mv2View]] maintained across the s14
    * fixture's v3 delete commit (clicks under 100 removed — min(click)
    * must jump to the ≥100 floor) and v4 update commit (error values +1 —
    * min(error) must move) by CDF-targeted partial recompute
    * ([[Lakehouse.mv2Refresh]]) from the stored v2 state. The oracle
    * recomputes the v4 view directly from the commit rules; LakehouseSpec
    * pins what SQL can't see — untouched groups ride from the STATE (a
    * sentinel planted in an untouched group's state row survives the
    * refresh verbatim). */
  def mv2CdfRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    val table = s"${Etl.scratch(spark)}/mv2_table"
    s14Fixture(spark, sfDir, table)
    val state = mv2View(TableLog.readAsOf(spark, table, 2))
    Lakehouse.mv2Refresh(spark, table, state, 2, 4, "event_type")(mv2View)
      .orderBy(col("event_type"))
  }

  // --------------------------------------------- S15: manifest file skipping

  private[graft] val S15_LO = 100L
  private[graft] val S15_HI = 299L
  private[graft] val S15_V1_FILES = 8
  private[graft] val S15_V2_FILES = 4

  /** s15's fixture: two commits staged through [[TableLog.stageWithStats]]
    * — v1 clusters the mod-4≠3 slice on event_id into 8 range files, v2
    * appends the remainder as 4 more — so the manifest carries tight
    * per-file [min, max] and a range predicate keeps ~2 of 12 files. */
  private[graft] def s15Fixture(spark: SparkSession, sfDir: String,
      table: String): Unit = {
    import spark.implicits._
    val ev = fixtureEvents(spark, sfDir, table)
    // both commits' clustered stage passes run concurrently (disjoint
    // dirs, invisible until the ordered commits) — each stageWithStats is
    // three tiny jobs (range sample, write, stats read-back) of mostly
    // per-job floor at this scale
    val Seq(v1Adds, v2Adds) = TableLog.inParallel(Seq(
      () => TableLog.stageWithStats(spark, table,
        ev.filter($"event_id" % 4 =!= 3), "data/v1", Seq("event_id"), S15_V1_FILES),
      () => TableLog.stageWithStats(spark, table,
        ev.filter($"event_id" % 4 === 3), "data/v2", Seq("event_id"), S15_V2_FILES)))
    TableLog.commit(spark, table, Action("schema", ev.schema.json) +: v1Adds)
    TableLog.commit(spark, table, v2Adds)
  }

  /** S15 [EXT]: declared query — a range read over the stats-carrying log
    * ([[TableLog.readAsOfRange]]: the file list pruned from the MANIFEST
    * before any footer opens), rolled up per event_type. The oracle runs
    * the same range predicate over the full source — pruning that drops a
    * file it shouldn't loses rows and fails the hash; LakehouseSpec pins
    * the part SQL can't see (the scan's file set actually shrank, and
    * matches exactly the stats-overlapping files). */
  def s15StatsSkipping(spark: SparkSession, sfDir: String): DataFrame = {
    val table = s"${Etl.scratch(spark)}/s15_table"
    s15Fixture(spark, sfDir, table)
    typeRollup(TableLog.readAsOfRange(spark, table, 2, "event_id", S15_LO, S15_HI))
  }

  // ------------------------------------------------- S16: Z-order clustering

  private[graft] val S16_FILES = 16
  private[graft] val S16_LO = 100L
  private[graft] val S16_HI = 299L

  /** s16's fixture: events staged in ONE commit, clustered on the
    * Z-value ([[Lakehouse.zOrderValue]]) of (event_id, user_id) with
    * manifest stats recorded for BOTH columns — the multi-dimensional
    * data-skipping layout. Domain bounds for the bit scaling come from one
    * bounded min/max pass (the same write-time cost class as the stats
    * pass itself). */
  private[graft] def s16Fixture(spark: SparkSession, sfDir: String,
      table: String): Unit = {
    import spark.implicits._
    val ev = fixtureEvents(spark, sfDir, table)
    val Row(eLo: Long, eHi: Long, uLo: Long, uHi: Long) = ev
      .agg(min($"event_id"), max($"event_id"), min($"user_id"), max($"user_id"))
      .head()
    val z = Lakehouse.zOrderValue($"event_id", eLo, eHi, $"user_id", uLo, uHi)
    TableLog.commit(spark, table, Action("schema", ev.schema.json) +:
      TableLog.stageWithStats(spark, table, ev, "data/z1",
        Seq("event_id", "user_id"), S16_FILES, orderBy = Some(z)))
  }

  /** S16 [EXT]: declared query — a range read on the SECOND Z-order
    * dimension (user_id) over the Z-clustered table: the manifest prunes
    * the file list by user_id's per-file stats even though no file is
    * sorted by user_id alone — the property a single-column cluster
    * (S9/S15) cannot offer, and the reason production formats Z-ORDER
    * their OPTIMIZE output. The oracle runs the same predicate over the
    * source; LakehouseSpec pins the skipping itself on BOTH dimensions
    * (each predicate's kept set is a strict subset, and equals the
    * stats-overlap computation). */
  def s16ZorderScan(spark: SparkSession, sfDir: String): DataFrame = {
    val table = s"${Etl.scratch(spark)}/s16_table"
    s16Fixture(spark, sfDir, table)
    typeRollup(TableLog.readAsOfRange(spark, table, 1, "user_id", S16_LO, S16_HI))
  }

  // ------------------------------- S17: pruned copy-on-write MERGE (CDF sync)

  /** Replicate versions 1..4 of `src` (the s14 history) into `dst` under
    * `consumer` through [[Lakehouse.cdfApply]]'s window apply, the one the
    * relay runs: (0, 2] is the cold catch-up of the two appends, and
    * (2, 4] nets v3's click delete rewrite and v4's error update backfill
    * into one pruned copy-on-write rewrite carrying txn markers 3 and 4. */
  private def replicate(spark: SparkSession, src: String, dst: String,
      consumer: String): Unit =
    Seq(0 -> 2, 2 -> 4).foreach { case (from, to) =>
      Lakehouse.cdfApply(spark, src, dst, from, to, "event_id", consumer, files = 4,
        evolveSchema = false)
    }

  /** The replica's head snapshot per type: (n_rows, id_sum, min_value). */
  private def replicaRollup(spark: SparkSession, dst: String): DataFrame = {
    import spark.implicits._
    TableLog.readAsOf(spark, dst, TableLog.currentVersion(spark, dst))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_rows"), sum($"event_id").as("id_sum"),
        min($"value").as("min_value"))
      .orderBy($"event_type")
  }

  /** S17 [EXT]: declared query — replicate the s14 source history into a
    * key-clustered downstream table as a cold window plus one netted
    * rewrite window ([[replicate]]), re-deliver version 3 (the worst
    * case: it sits inside the netted window, so it must no-op at the txn
    * gate), then audit the destination's final snapshot per type. The
    * oracle recomputes the v4 commit rules directly — a replication that
    * dropped a delete, double-applied the re-delivery, or lost an
    * untouched file diverges on rows or hash; LakehouseSpec pins the
    * pruning (files outside the delta's key range survive byte-identical)
    * and the exactly-once gate. */
  def s17CowMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val src = s"${Etl.scratch(spark)}/s17_src_table"
    val dst = s"${Etl.scratch(spark)}/s17_dst_table"
    s14Fixture(spark, sfDir, src)
    wipe(spark, dst)
    replicate(spark, src, dst, "s17")
    require(Lakehouse.cdfApply(spark, src, dst, 3, "event_id", "s17", 4) == -1,
      "re-delivered version must no-op at the txn gate")
    replicaRollup(spark, dst)
  }

  // ------------------------------- S18: merge-on-read deletes (deletion vectors)

  /** S18 [EXT]: declared query — v1 stages the events table key-clustered
    * into 8 files; v2 MOR-deletes the sub-100 click keys
    * ([[Lakehouse.morDelete]]: ONE key-file write, zero data files touched
    * — LakehouseSpec pins the files byte-identical); v3 re-inserts a
    * deterministic third of the deleted keys with a +100000 value bump,
    * which must SURVIVE the earlier DV (sequence-number scoping). The
    * audit reads every version: n_bumped counts re-inserted rows (v1/v2
    * must be 0), and id_sum catches a resurrected delete or a lost
    * survivor. The oracle replays the three commit rules directly. */
  def s18MorDelete(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s18_table"
    val ev = fixtureEvents(spark, sfDir, table)
    val doomed = ev.filter($"event_type" === "click" && $"value" < 100.0)
    val reinserted = doomed.filter($"event_id" % 3 === 0)
      .withColumn("value", $"value" + 100000.0)
    // both data file sets are pure functions of `ev`, so they stage in one
    // concurrent round (invisible until their commits); the commit order —
    // v1, the v2 DV delete, v3 — is unchanged, which is what the DV's
    // sequence-number scoping is measured against
    val Seq(v1Adds, v3Adds) = TableLog.inParallel(Seq(
      () => TableLog.stageWithStats(spark, table, ev, "data/v1", Seq("event_id"), 8),
      () => TableLog.stage(spark, table, reinserted, "data/v3")))
    TableLog.commit(spark, table, Action("schema", ev.schema.json) +: v1Adds)
    Lakehouse.morDelete(spark, table, doomed.select($"event_id"))
    TableLog.commit(spark, table, v3Adds)
    perVersion(spark, table, 1 to 3)((_, _) =>
      idRollup :+ count(when($"value" >= 100000.0, 1)).as("n_bumped"))
  }

  // --------------------------------------------------- S19: log checkpoints

  private[graft] val S19_COMMITS = 12
  private[graft] val S19_CKPT_AT = 8

  /** S19 [EXT]: declared query — twelve micro-batch commits with a log
    * CHECKPOINT after the eighth ([[TableLog.checkpointLog]]), then audit
    * the checkpointed version and the head. Reads at or past v8 replay
    * the checkpoint plus ≤4 manifests instead of the whole chain — the
    * `_last_checkpoint` posture every production log format ships,
    * because at 100 TB the manifest chain is 10^5–10^6 commits and
    * O(lifetime) replay per read (and per exactly-once txn probe) is the
    * metadata bottleneck. The oracle replays the mod-12 commit rules; a
    * checkpoint that dropped a file, collapsed add versions (widening DV
    * scope), or lost a txn marker diverges here or in LakehouseSpec's
    * pins (head reads survive pre-checkpoint manifest loss; DV scoping
    * and the re-delivery gate hold across the checkpoint). */
  def s19LogCheckpoint(spark: SparkSession, sfDir: String): DataFrame = {
    val table = s"${Etl.scratch(spark)}/s19_table"
    microBatches(spark, table, fixtureEvents(spark, sfDir, table), S19_COMMITS,
      afterCommit = b =>
        if (b == S19_CKPT_AT - 1)
          require(TableLog.checkpointLog(spark, table) == S19_CKPT_AT,
            "checkpoint must land at the current version"))
    perVersion(spark, table, Seq(S19_CKPT_AT, S19_COMMITS))((_, _) => idRollup)
  }

  // ------------------------- S20: merge-on-read UPSERT (DV + post-images)

  /** S20 [EXT]: declared query — v1 stages the events table key-clustered
    * into 8 files with stats; v2 MOR-merges ([[Lakehouse.morMerge]]) an
    * update of every cheap 'view' row (+500000 value bump, full-row
    * post-images) UNION a pure insert of new keys (cheap 'signup' rows
    * re-keyed +10^7) in ONE commit, zero data files touched; v3 re-merges
    * a deterministic third of the v2-updated keys (+500000 again — the
    * stacked-DV path: v3's DV must hide v2's post-image file for those
    * keys while v3's own post-images escape). The audit reads every
    * version with disjoint detectors: n_up1 counts once-updated rows,
    * n_up2 twice-updated, n_ins inserted keys — a resurrected pre-image, a
    * lost survivor, a double-applied merge, or a DV scoped over its own
    * commit's adds each flips a detector. The oracle replays the three
    * commit rules directly. */
  def s20MorMerge(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val table = s"${Etl.scratch(spark)}/s20_table"
    val ev = fixtureEvents(spark, sfDir, table)
    TableLog.commit(spark, table, Action("schema", ev.schema.json) +:
      TableLog.stageWithStats(spark, table, ev, "data/v1", Seq("event_id"), 8))
    val upd1 = ev.filter($"event_type" === "view" && $"value" < 100.0)
      .withColumn("value", $"value" + 500000.0)
    val ins1 = ev.filter($"event_type" === "signup" && $"value" < 50.0)
      .withColumn("event_id", $"event_id" + 10000000L)
    Lakehouse.morMerge(spark, table, upd1.unionByName(ins1), "event_id", files = 2)
    val upd2 = upd1.filter($"event_id" % 3 === 0)
      .withColumn("value", $"value" + 500000.0)
    Lakehouse.morMerge(spark, table, upd2, "event_id", files = 1)
    perVersion(spark, table, 1 to 3)((_, _) => idRollup ++ Seq(
      count(when($"value" >= 500000.0 && $"value" < 1000000.0, 1)).as("n_up1"),
      count(when($"value" >= 1000000.0, 1)).as("n_up2"),
      count(when($"event_id" >= 10000000L, 1)).as("n_ins")))
  }

  // --------------------- R17: exactly-once log-tail relay (src log → dst log)

  /** R17 [EXT]: declared query — the relay ([[Lakehouse.relay]]) driven
    * through four ticks of a GROWING source: tick 1 catches up from cold
    * over the first two commits (the mod-4 split), tick 2 finds nothing
    * new and must apply ZERO (the resume offset read back from the
    * destination's own log), tick 3 relays the click rewrite (deletes only
    * — identical re-adds must not move), tick 4 the error backfill
    * (updates). Each tick's audit row carries how many versions the relay
    * applied plus the destination rollup; the oracle replays the source
    * commit rules at each prefix — a relay that re-applied on tick 2,
    * missed a delete, or fed the backfill twice diverges on n_applied,
    * rows, or hash. */
  def r17LogRelay(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val src = s"${Etl.scratch(spark)}/r17_src_table"
    val dst = s"${Etl.scratch(spark)}/r17_dst_table"
    val ev = fixtureEvents(spark, sfDir, src, dst)
    // the s14 commit rules, landed tick-by-tick so the source genuinely
    // grows between relay calls. ALL FOUR commits' file sets stage in ONE
    // concurrent round up front: every staged slice is a pure function of
    // `ev` (never of a commit) and invisible until its manifest lands, so
    // the relay observes the identical commit sequence, minus three
    // staging rounds of per-job floor between ticks. Remove sets stay
    // commit-time metadata (computed from the actual manifests).
    val sets = stageS11(spark, src, ev, Seq("data/v4/error" -> bumpedErrors(ev)))
    def tick(t: Int): DataFrame = {
      val applied = Lakehouse.relay(spark, src, dst, "event_id", "r17").size
      TableLog.readAsOf(spark, dst, TableLog.currentVersion(spark, dst))
        .agg(count(lit(1)).as("n_rows"), sum($"event_id").as("id_sum"),
          count(when($"event_type" === "error" && $"value" >= 100.0, 1))
            .as("n_err_hi"))
        .select(lit(t.toLong).as("tick"),
          lit(applied.toLong).as("n_applied"), $"n_rows", $"id_sum", $"n_err_hi")
    }
    TableLog.commit(spark, src, Action("schema", ev.schema.json) +: sets.v1)
    TableLog.commit(spark, src, sets.v2)
    val a1 = tick(1)
    // caught up: the offset comes back from the DESTINATION's txn markers
    val a2 = tick(2)
    rewritePartition(spark, src, "click", sets.v3)
    val a3 = tick(3)
    rewritePartition(spark, src, "error", sets.extra.head)
    val a4 = tick(4)
    Seq(a1, a2, a3, a4).reduce(_ unionByName _).orderBy($"tick")
  }

  // ------------------------------------------------------ warm serving rows

  /** Serving-loop width: the warm rows price an N-read serving deployment
    * INSIDE one declared query — N distinct read legs in one plan, so the
    * per-query job floor amortizes over N and the ledger row prices the
    * steady state instead of a cold session. The oracle replays the same
    * recompute N times (UNION ALL of N literal-tagged SELECTs), so DuckDB
    * pays N real recomputes — the comparison a dashboard ticking N times
    * actually faces. */
  val WARM_READS = 8

  private val lakeWarmLock = new Object

  /** Warm-fixture ensure for the lakehouse family: the multi-commit
    * physical logs are built ONCE per source generation and stamped
    * ([[graft.Stamp]] over the events source), so the declared `*_warm`
    * rows price the warm READ/APPLY loop a deployment actually runs,
    * instead of re-paying dozens of small fixture parquet writes inside
    * every measurement. Contents:
    *  - `src`: the s14 four-commit history (shared, READ-ONLY — its v1–v3
    *    prefix is the s11 history the s11/mv1 warm rows read; the s14/s17/
    *    mv2 warm rows read all four; nothing mutates it),
    *  - `mv_state_v2`: the persisted MV1 view state as of v2 — what a
    *    deployment has on disk when commit v3 lands and the refresh runs,
    *  - `mv2_state_v2`: the persisted v2 view state mv2's refresh folds,
    *  - `packed`: the s13 eight-commit fragmented table WITH its OPTIMIZE
    *    commit already landed (v9), so both layouts are readable,
    *  - `s15t`/`s16t`: the stats-carrying and Z-clustered tables.
    * Returns the fixture root. */
  private[graft] def ensureLakeFixture(spark: SparkSession, sfDir: String): String =
    lakeWarmLock.synchronized {
      val root = s"${Etl.scratch(spark)}/lake_warm"
      def dirAt(rel: String) = java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(s"$root/$rel"))
      def complete = TableLog.currentVersion(spark, s"$root/src") == 4 &&
        TableLog.currentVersion(spark, s"$root/packed") == S13_BATCHES + 1 &&
        TableLog.currentVersion(spark, s"$root/s15t") == 2 &&
        TableLog.currentVersion(spark, s"$root/s16t") == 1 &&
        dirAt("mv_state_v2") && dirAt("mv2_state_v2")
      Stamp.ensure(root, Stamp.of(s"$sfDir/events.parquet"), complete) {
        wipe(spark, root)
        val src = s"$root/src"
        s14Fixture(spark, sfDir, src)
        Tables.sink(s"$root/mv_state_v2") {
          mvMerge(mvSlice(spark, src, Seq.empty, 1L), mvDelta(spark, src, 0, 2))
            .write.mode(SaveMode.Overwrite).parquet(s"$root/mv_state_v2")
        }
        mv2View(TableLog.readAsOf(spark, src, 2))
          .write.mode(SaveMode.Overwrite).parquet(s"$root/mv2_state_v2")
        s13Fixture(spark, sfDir, s"$root/packed")
        Lakehouse.compactCommit(spark, s"$root/packed", S13_TARGET_FILES)
        s15Fixture(spark, sfDir, s"$root/s15t")
        s16Fixture(spark, sfDir, s"$root/s16t")
      }
      root
    }

  /** S11 warm path [EXT]: the production-shape time-travel read — the log
    * already exists ([[ensureLakeFixture]]'s `src`, outside the recurring
    * cost after the first run), the query is [[WARM_READS]] `readAsOf`
    * snapshot rollups of its v3. The oracle has no log: DuckDB recomputes
    * the v3 snapshot from the commit rules with a full-table scan —
    * exactly the comparison the "as-of read costs manifest replay +
    * pruned scan, not history replay" claim needs a number for. */
  def s11WarmRead(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val table = s"${ensureLakeFixture(spark, sfDir)}/src"
    // the read_i literal sits BELOW each leg's aggregate on purpose: it
    // makes the N subtrees non-identical, so AQE exchange reuse cannot
    // collapse the N reads into one — every leg really scans the
    // snapshot, as N independent serving requests would
    (1 to WARM_READS).map { i =>
      TableLog.readAsOf(spark, table, 3)
        .withColumn("read_i", lit(i))
        .groupBy($"read_i")
        .agg(count(lit(1)).as("n_rows"), sum($"event_id").as("id_sum"))
    }.reduce(_.unionAll(_))
  }

  /** MV1 warm path [EXT]: one O(batch) refresh — the persisted v2 view
    * state merges the (2,3] window's delta (the rewrite commit: click
    * files out, filtered click files in; the delta scan touches ONLY
    * those files, pinned in TimeTravelSpec for the cold form). The
    * oracle recomputes the refreshed view with a full GROUP BY over the
    * v3 snapshot — the full-recompute a dashboard without IVM pays on
    * every tick. */
  def mv1WarmRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val root = ensureLakeFixture(spark, sfDir)
    val table = s"$root/src"
    // N refresh legs in one plan ([[WARM_READS]] doc): each leg reads the
    // stored state and the (2,3] window's add/remove files SEPARATELY
    // (refresh_i below the aggregate — 3 real scans per leg, nothing
    // exchange-reuse'd away), contributions normalized to SIGNED rows
    // (state rows carry their aggregates, added rows +1/+event_id,
    // removed rows −1/−event_id — the same abelian merge mvSlice+mvMerge
    // compute, associativity makes one global sum ≡ per-leg sums), then
    // ONE (refresh_i, event_type) aggregate merges all legs. Every leg's
    // merge work still happens — 8x the rows ride the hash table — but
    // the 8x2 per-leg slice exchanges collapse to one, which is how a
    // real scheduler batches N concurrent refresh ticks.
    val (base, steps) = TableLog.window(spark, table, 2, 3)
    val (adds, removes) = LogProtocol.fileDelta(base, steps)
    // window files read under the LOGGED snapshot schema (the readAsOf
    // discipline) — inferring from the first file's footer and projecting
    // the rest through it would silently drop columns an evolved file
    // carries. Footer inference is only the fallback for a log predating
    // schema tracking, and then once per call, not once per leg.
    val windowSchema = steps.last.after.schema
      .getOrElse(Tables.readMemo(spark, s"$table/${adds.head}").schema)
    def readFiles(files: Seq[String]): DataFrame =
      spark.read.schema(windowSchema).parquet(files.map(r => s"$table/$r"): _*)
    def contrib(i: Int, files: Seq[String], sign: Long): DataFrame =
      if (files.isEmpty)
        spark.emptyDataset[(Int, String, Long, Long)]
          .toDF("refresh_i", "event_type", "nc", "ic")
      else
        readFiles(files)
          .select(lit(i).as("refresh_i"), $"event_type",
            lit(sign).as("nc"), (lit(sign) * $"event_id").as("ic"))
    (1 to WARM_READS).map { i =>
      Tables.readMemo(spark, s"$root/mv_state_v2")
        .select(lit(i).as("refresh_i"), $"event_type",
          $"n_rows".as("nc"), $"id_sum".as("ic"))
        .unionByName(contrib(i, adds, 1L))
        .unionByName(contrib(i, removes, -1L))
    }.reduce(_.unionByName(_))
      .groupBy($"refresh_i", $"event_type")
      .agg(sum($"nc").as("n_rows"), sum($"ic").as("id_sum"))
      .filter($"n_rows" > 0)
  }

  /** S13 warm path [EXT]: the pre/post-OPTIMIZE audit over the PREBUILT
    * packed log — prices manifest replay plus the fragmented (32-file)
    * and packed (2-file) snapshot reads, not the fixture's 32 parquet
    * writes. Oracle identical to the cold row (both snapshots ≡ source,
    * file counts literal). */
  def s13WarmRead(spark: SparkSession, sfDir: String): DataFrame =
    compactionAudit(spark, s"${ensureLakeFixture(spark, sfDir)}/packed",
      S13_BATCHES, S13_BATCHES + 1)

  /** S14 warm path [EXT]: the full change feed of the prebuilt history —
    * prices the per-commit full-outer joins over the window's files (the
    * subscription read a consumer polls), zero fixture writes. */
  def s14WarmFeed(spark: SparkSession, sfDir: String): DataFrame =
    feedRollup(spark, s"${ensureLakeFixture(spark, sfDir)}/src")

  /** S15 warm path [EXT]: the manifest-pruned range read over the
    * prebuilt stats-carrying table — the steady-state serving read
    * (manifest replay + ~2 of 12 files opened), no stage pass. */
  def s15WarmSkip(spark: SparkSession, sfDir: String): DataFrame =
    typeRollup(TableLog.readAsOfRange(spark, s"${ensureLakeFixture(spark, sfDir)}/s15t",
      2, "event_id", S15_LO, S15_HI))

  /** S16 warm path [EXT]: the second-dimension range read over the
    * prebuilt Z-clustered table — prices the multi-dimensional manifest
    * pruning + pruned scan, not the Z-sort write. */
  def s16WarmScan(spark: SparkSession, sfDir: String): DataFrame =
    typeRollup(TableLog.readAsOfRange(spark, s"${ensureLakeFixture(spark, sfDir)}/s16t",
      1, "user_id", S16_LO, S16_HI))

  /** S17 warm path [EXT]: the two-window CDF apply ([[replicate]]) of the
    * PREBUILT source history — the replication work itself (feed join,
    * file pruning, survivor anti-join, clustered re-stage per window) into a
    * fresh per-run destination; the source's fixture build is amortized
    * away. The destination writes are the operator, not fixture tax. */
  def s17WarmApply(spark: SparkSession, sfDir: String): DataFrame = {
    val src = s"${ensureLakeFixture(spark, sfDir)}/src"
    val dst = s"${Etl.scratch(spark)}/s17_warm_dst"
    wipe(spark, dst)
    replicate(spark, src, dst, "s17w")
    replicaRollup(spark, dst)
  }

  /** MV2 warm path [EXT]: one CDF-targeted partial refresh from the
    * PERSISTED v2 state over the prebuilt (2, 4] window — the production
    * tick (feed → touched keys → semi/anti joins), not the state build. */
  def mv2WarmRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    val root = ensureLakeFixture(spark, sfDir)
    val state = Tables.readMemo(spark, s"$root/mv2_state_v2")
    Lakehouse.mv2Refresh(spark, s"$root/src", state, 2, 4, "event_type")(mv2View)
      .orderBy(col("event_type"))
  }
}
