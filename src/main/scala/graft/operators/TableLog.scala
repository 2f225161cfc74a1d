package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** S11 [EXT]: a minimal transactional table log — the manifest layer the
  * other sink operators point at. S10's selective compaction swaps dirs
  * with FS renames and its own Scaladoc concedes "production would swap
  * via a transactional table format's manifest"; U1–U4 compute CDC
  * snapshots but publish them as bare overwrites. This operator supplies
  * the missing contract: every table mutation is an APPEND-ONLY commit
  * (`_log/vN.log`, one add/remove file action per line) and a reader
  * resolves any historical snapshot purely from the log — never from a
  * directory listing.
  *
  * Why this is the 100 TB posture:
  *  - a commit is one manifest rename, so writers stage data files at any
  *    pace and readers NEVER see a torn write (a crashed writer's files
  *    are unreachable until its manifest lands — [[currentVersion]]
  *    ignores staging tmps);
  *  - removal is LOGICAL: old versions stay readable (time travel, audit,
  *    reproducible training-data lineage) until a GC pass drops files
  *    unreferenced by any retained version;
  *  - a snapshot read scans exactly the manifest's file list — no
  *    eventually-consistent listing, no stray-file pickup, and the
  *    listing cost is metadata-scale (log lines), not data-scale.
  * The one atomic step is storage-specific, so it lives behind the
  * [[LogStore]] seam: HDFS's no-clobber rename, POSIX's link(2) (the
  * closed-window primitive local tables get by default), an object
  * store's conditional PUT — the log replay and snapshot-read shape here
  * is the portable part.
  */
object TableLog {

  // the protocol's types and parser under the names writers, readers and
  // specs use — [[LogProtocol]] owns them (what a line does to state);
  // this object owns the I/O (listing, reading, publishing, caching)
  private[graft] type FileStats = LogProtocol.FileStats
  private[graft] val FileStats = LogProtocol.FileStats
  private[graft] type Action = LogProtocol.Action
  private[graft] val Action = LogProtocol.Action
  private[graft] type LiveFile = LogProtocol.LiveFile
  private[graft] val LiveFile = LogProtocol.LiveFile
  private[graft] type LogState = LogProtocol.LogState
  private[graft] val parseAction: String => Option[Action] = LogProtocol.parseAction

  private def fsOf(spark: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Integer conf knob, refused loudly on a malformed value BEFORE any
    * side effect — the one parse every conf-gated writer hook shares
    * (the r17 review found three hand-rolled copies drifting apart). */
  private[graft] def confInt(spark: SparkSession, key: String,
      default: String): Int = {
    val v = confLong(spark, key, default)
    if (v.isValidInt) v.toInt
    else throw new IllegalArgumentException(s"$key must be an integer, got '$v'")
  }

  /** [[confInt]] for knobs whose values pass 2^31 (byte sizes). */
  private[graft] def confLong(spark: SparkSession, key: String,
      default: String): Long = {
    val v = spark.conf.get(key, default)
    v.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"$key must be an integer, got '$v'"))
  }

  /** [[confLong]] for fractional knobs (rates, fractions). */
  private[graft] def confDouble(spark: SparkSession, key: String,
      default: String): Double = {
    val v = spark.conf.get(key, default)
    v.toDoubleOption.getOrElse(throw new IllegalArgumentException(
      s"$key must be a number, got '$v'"))
  }

  /** The manifest-stats / DV-pruning integral-key contract in one place:
    * long wire bounds are exact for these types and truncate for
    * everything else. */
  private[graft] def isIntegral(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    dt == LongType || dt == IntegerType || dt == ShortType || dt == ByteType
  }

  /** Newest committed version (0 = empty table). Staging tmps (dot-files)
    * and foreign names are ignored: a crashed writer leaves no trace a
    * reader can observe. Checkpoint files count too: after [[vacuumLog]]
    * retires a fully-checkpointed chain, the head may be represented by
    * `vN.ckpt` alone and the table must still report version N. */
  private[graft] def currentVersion(spark: SparkSession, table: String): Int = {
    val f = fsOf(spark, table)
    val dir = new Path(table, "_log")
    if (!f.exists(dir)) 0
    else f.listStatus(dir).toSeq
      .flatMap(s => "^v(\\d+)\\.(log|ckpt)$".r.findFirstMatchIn(s.getPath.getName)
        .map(_.group(1).toInt))
      .foldLeft(0)(math.max)
  }

  /** Append commit v(current+1). The write stages to a dot-tmp and
    * publishes with ONE rename — the table's single atomic step. Returns
    * the committed version. */
  private[graft] def commit(spark: SparkSession, table: String,
      actions: Seq[Action]): Int =
    publish(spark, table, currentVersion(spark, table) + 1, actions)

  /** A lost publish race: another writer already owns manifest `v$next`.
    * [[publishWithRetry]] catches this type; every other
    * IllegalStateException stays a real failure. */
  private[graft] final class CommitConflict(next: Int, cause: Throwable)
      extends IllegalStateException(s"commit v$next lost the publish race", cause)

  /** Stage-and-publish manifest `v$next.log`. Split from [[commit]] so the
    * lost-race case — two writers that both read the same current version
    * and race to publish the SAME next manifest — is directly drivable in
    * a spec; commit() is just publish(currentVersion + 1). A lost race
    * throws [[CommitConflict]]. */
  private[graft] def publish(spark: SparkSession, table: String,
      next: Int, actions: Seq[Action]): Int = {
    publishLines(spark, table, s"v$next.log", actions.map(LogProtocol.actionLine))
      .foreach(e => throw new CommitConflict(next, e))
    next
  }

  /** The log's one exclusive write: stage `lines` to an attempt-unique
    * dot-tmp (two writers racing to the same name never stomp each
    * other's tmp; the dot keeps it invisible to [[currentVersion]]),
    * hflush, and publish it as `_log/$name` through the [[LogStore]] seam
    * — the storage-specific one-winner primitive (HDFS no-clobber rename,
    * POSIX link(2), an object store's conditional PUT). A lost race
    * deletes the tmp and returns the loss; the caller decides what it
    * means. A crash leaves only an ignorable tmp ([[vacuum]] sweeps it). */
  private def publishLines(spark: SparkSession, table: String, name: String,
      lines: Seq[String]): Option[org.apache.hadoop.fs.FileAlreadyExistsException] = {
    val f = fsOf(spark, table)
    val tmp = f.makeQualified(new Path(table,
      s"_log/.$name.${java.util.UUID.randomUUID}.tmp"))
    val out = f.create(tmp, true)
    try {
      lines.foreach(l => out.write((l + "\n").getBytes("UTF-8")))
      out.hflush()
    } finally out.close()
    val dst = f.makeQualified(new Path(table, s"_log/$name"))
    try {
      LogStore.forTable(spark, dst)
        .publishExclusive(spark.sparkContext.hadoopConfiguration, tmp, dst)
      None
    } catch {
      case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
        f.delete(tmp, false)
        Some(e)
    }
  }

  /** The optimistic-commit loop every log writer shares — the
    * conflict-resolution loop of the production log stores. Each attempt
    * reads the head, runs the caller's `attempt(head)` — its check at
    * that head, returning the actions to publish, None for a no-op (-1),
    * or throwing on a real conflict — then `beforePublish(head + 1)` and
    * the publish. A lost race ([[CommitConflict]]) re-runs the whole
    * attempt at the new head, so a check never goes stale across a
    * retry. `beforePublish` marks the read-to-publish window, the exact
    * gap a concurrent writer can land in: TimeTravelSpec drives a
    * competitor through it deterministically; production callers leave
    * it a no-op. Gives up after `maxAttempts` (a pathological storm
    * should surface, not spin). */
  private[graft] def publishWithRetry(spark: SparkSession, table: String,
      what: String, maxAttempts: Int, beforePublish: Int => Unit)(
      attempt: Int => Option[Seq[Action]]): Int = {
    var tries = 1
    while (true) {
      val head = currentVersion(spark, table)
      val actions = attempt(head) match {
        case Some(a) => a
        case None => return -1
      }
      beforePublish(head + 1)
      try return publish(spark, table, head + 1, actions)
      catch {
        case e: CommitConflict =>
          if (tries >= maxAttempts)
            throw new IllegalStateException(
              s"$what still losing the publish race after $maxAttempts attempts", e)
          tries += 1
      }
    }
    -1 // unreachable
  }

  /** Optimistic-concurrency commit: [[commit]] retried across lost
    * publish races. A loser re-reads the log and re-targets the next
    * version; its ACTIONS need no rebase because they are file-level
    * adds/removes of files only this writer staged (blind appends commute
    * — the same argument that makes the MV delta abelian). Writers whose
    * semantics do NOT commute with a concurrent commit (read-modify-write
    * of the same files, e.g. two compactions of one partition) must
    * instead check at each attempt's head — [[commitIfAbsent]]'s txn gate,
    * [[Lakehouse.compactCommit]]'s revalidation — which is why [[commit]]
    * stays the primitive and the blind retry is opt-in. */
  private[graft] def commitWithRetry(spark: SparkSession, table: String,
      actions: Seq[Action], maxAttempts: Int = 5,
      beforePublish: Int => Unit = _ => ()): Int =
    publishWithRetry(spark, table, "commit", maxAttempts, beforePublish)(_ => Some(actions))

  private def readLogLines(f: FileSystem, path: Path): Seq[String] = {
    val in = f.open(path)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** The lines of manifest `v$v.log`, unparsed. Its one caller is [[walk]],
    * so every manifest a read, gate, feed or GC pass consumes goes through
    * [[LogProtocol.applyManifest]] and its S21 feature gate. */
  private def manifestLines(f: FileSystem, table: String, v: Int): Seq[String] =
    readLogLines(f, new Path(table, s"_log/v$v.log"))

  // ------------------------------------------------ S19: log checkpoints

  /** Parsed-checkpoint cache. Without it every txn probe and every
    * snapshot read re-downloads and re-parses the same multi-MB file —
    * at ~800k live files that is exactly the per-read cost class S19
    * exists to remove. Keyed by (qualified path, length, mtime), NOT by
    * version alone: test fixtures (and a production restore) can delete
    * and rebuild a table at the same path, and a stale entry would serve
    * the dead table's state. One getFileStatus per hit — metadata-scale.
    * Bounded: cleared wholesale past 256 entries (checkpoints are few;
    * this is a leak guard, not an eviction policy). */
  private val ckptCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), LogState]()

  /** Newest checkpoint version at or below `atMost` (None = replay from
    * v1, the pre-S19 path — old tables read unchanged). */
  private[graft] def newestCheckpoint(spark: SparkSession, table: String,
      atMost: Int): Option[Int] = {
    val f = fsOf(spark, table)
    val dir = new Path(table, "_log")
    if (!f.exists(dir)) None
    else f.listStatus(dir).toSeq
      .flatMap(s => "^v(\\d+)\\.ckpt$".r.findFirstMatchIn(s.getPath.getName)
        .map(_.group(1).toInt))
      .filter(_ <= atMost)
      .maxOption
  }

  /** The collapsed state checkpoint `v$version.ckpt` holds
    * ([[LogProtocol.parseCheckpoint]]), cached. */
  private[graft] def loadCheckpoint(spark: SparkSession, table: String,
      version: Int): LogState = {
    val f = fsOf(spark, table)
    val path = f.makeQualified(new Path(table, s"_log/v$version.ckpt"))
    val st = f.getFileStatus(path)
    val key = (path.toString, st.getLen, st.getModificationTime)
    val hit = ckptCache.get(key)
    if (hit != null) return hit
    val ck = LogProtocol.parseCheckpoint(table, version, readLogLines(f, path))
    if (ckptCache.size > 256) ckptCache.clear()
    ckptCache.put(key, ck)
    ck
  }

  /** Write the checkpoint for the CURRENT version: one collapsed-state
    * file `_log/vN.ckpt` ([[LogProtocol.checkpointLines]]: live files with
    * their ORIGINAL add versions, live DVs, schema, txn markers and reader
    * features — features MUST ride it, because after [[vacuumLog]]
    * retires the declaring manifest the checkpoint is the only place the
    * requirement survives), written by the same exclusive write as a
    * commit ([[publishLines]]). At 100 TB this is what keeps
    * every read metadata cost O(commits since the last
    * OPTIMIZE-and-checkpoint) instead of O(table lifetime): every replay
    * ([[liveState]]) starts from the newest checkpoint at or below its
    * version. Older manifests stay on disk, so time travel BELOW the
    * checkpoint still replays from v1. Idempotent and race-safe:
    * checkpoint content for a version is a pure function of the log, so a
    * lost publish race means an identical file already exists — return
    * the version quietly. Returns the checkpointed version. */
  def checkpointLog(spark: SparkSession, table: String): Int = {
    val cur = currentVersion(spark, table)
    require(cur >= 1, s"nothing to checkpoint in $table")
    // a lost race means a concurrent checkpointer already published
    // IDENTICAL content (the state is a pure function of the immutable log
    // prefix): our tmp is deleted and theirs stands
    publishLines(spark, table, s"v$cur.ckpt",
      LogProtocol.checkpointLines(liveState(spark, table, cur)))
    cur
  }

  /** Fold manifests (from, to] onto `base`, the state as of `from`: one
    * [[LogProtocol.Step]] per version, read lazily in order. The one
    * forward walk — a replay, a change feed, a vacuum, a log tail and the
    * relay's window split all consume it. */
  private[graft] def walk(spark: SparkSession, table: String, base: LogState,
      from: Int, to: Int): Iterator[LogProtocol.Step] = {
    val f = fsOf(spark, table)
    var st = base
    ((from + 1) to to).iterator.map { v =>
      val step = LogProtocol.applyManifest(st, table, v, manifestLines(f, table, v))
      st = step.after
      step
    }
  }

  /** The table state as of `version`: the newest checkpoint at or below
    * it, walked forward — O(commits since checkpoint) metadata work, one
    * short text line per action. Version 0 is the empty table. */
  private[graft] def liveState(spark: SparkSession, table: String,
      version: Int): LogState = {
    val floor = newestCheckpoint(spark, table, version)
    val base = floor.fold(LogProtocol.LogState.empty)(loadCheckpoint(spark, table, _))
    walk(spark, table, base, floor.getOrElse(0), version).foldLeft(base)((_, s) => s.after)
  }

  /** Live table-relative files as of `version`. */
  private[graft] def liveFiles(spark: SparkSession, table: String,
      version: Int): Seq[String] =
    liveState(spark, table, version).files.map(_.path)

  /** Has `(streamId, batchId)` already committed? The exactly-once test a
    * restarted micro-batch writer runs before (and [[commitIfAbsent]]
    * re-runs at publish time) — the `txn` action of the production log
    * formats. */
  private[graft] def alreadyCommitted(spark: SparkSession, table: String,
      streamId: String, batchId: Long): Boolean =
    alreadyCommitted(spark, table, streamId, Seq(batchId))

  /** Has ANY of `batchIds` already committed under `streamId`? The gate of
    * a multi-batch commit (a relay window carrying one marker per source
    * version). The txn set rides the checkpoint (S19): without it, every
    * micro-batch commit would scan the WHOLE manifest chain for its
    * marker — O(table lifetime) per batch on a long-lived ingest. */
  private[graft] def alreadyCommitted(spark: SparkSession, table: String,
      streamId: String, batchIds: Seq[Long]): Boolean =
    liveState(spark, table, currentVersion(spark, table)).committed(streamId, batchIds)

  /** Newest batchId committed under `streamId`, or None if the stream has
    * never committed here — the RESUME OFFSET of a relay or ingest whose
    * exactly-once markers live in THIS table's own log (R17): a restarted
    * consumer asks the destination where it left off, so there is no
    * external offset store to lose, lag, or double-apply against. */
  private[graft] def lastCommitted(spark: SparkSession, table: String,
      streamId: String): Option[Long] =
    liveState(spark, table, currentVersion(spark, table)).lastCommitted(streamId)

  /** Commit `actions` tagged with a `(streamId, batchId)` txn marker —
    * a NO-OP if that marker already committed (the re-delivered micro-
    * batch after a writer restart: its re-staged files stay orphaned and
    * unreferenced until [[vacuum]], the table never sees them twice).
    * Returns the committed version, or -1 for the skipped re-delivery.
    *
    * The txn gate RE-CHECKS on every publish attempt: without that, two
    * writers racing the SAME re-delivered batch could both pass one
    * up-front check, the loser retry past the winner, and the batch land
    * twice — the gate and the race loop must interleave per attempt
    * (TimeTravelSpec drives exactly that interleaving through the
    * `beforePublish` seam). Unrelated concurrent commits just cost the
    * loser a retry, as in [[commitWithRetry]]. */
  private[graft] def commitIfAbsent(spark: SparkSession, table: String,
      streamId: String, batchId: Long, actions: Seq[Action],
      maxAttempts: Int = 5, beforePublish: Int => Unit = _ => ()): Int =
    commitIfAbsent(spark, table, streamId, Seq(batchId), actions,
      maxAttempts, beforePublish)

  /** [[commitIfAbsent]] for several batch ids at once: ONE commit carrying
    * one `txn` line per id, a no-op (-1) if ANY of them already committed.
    * A relay applying a multi-version window publishes every version's
    * marker with the window's data, so exactly-once holds per version
    * while the destination pays one commit per window. */
  private[graft] def commitIfAbsent(spark: SparkSession, table: String,
      streamId: String, batchIds: Seq[Long], actions: Seq[Action],
      maxAttempts: Int, beforePublish: Int => Unit): Int = {
    require(batchIds.nonEmpty, "commitIfAbsent needs at least one batch id")
    val markers = batchIds.map(b => Action("txn", s"$streamId\t$b"))
    publishWithRetry(spark, table, "txn commit", maxAttempts, beforePublish) { head =>
      if (liveState(spark, table, head).committed(streamId, batchIds)) None
      else Some(actions ++ markers)
    }
  }

  /** Physical GC: delete every file under `data/` that no RETAINED
    * version (>= `retainFrom`) references — retired files past their
    * retention horizon AND orphans a crashed or re-delivered writer
    * staged but never committed. Reads as of versions < `retainFrom`
    * stop working, by contract; every retained read is untouched
    * (TimeTravelSpec proves both). Listing is metadata-scale; deletion
    * count is bounded by the files the retained manifests do NOT name.
    *
    * `minAgeMs` is the in-flight-writer guard (the production-vacuum
    * convention): a file younger than the threshold is skipped even when
    * unreferenced, because "unreferenced" cannot distinguish an orphan
    * from a file a SLOW writer has staged whose manifest has not landed
    * yet — a vacuum racing such a commit would GC the staged files and
    * leave the landed manifest pointing at nothing. Set the threshold
    * above the longest plausible stage-to-commit latency (the same knob
    * production table formats expose as `retentionDurationHours`); 0
    * keeps the delete-now behavior for tables with no concurrent
    * writers (the declared fixtures). */
  private[graft] def vacuum(spark: SparkSession, table: String,
      retainFrom: Int, minAgeMs: Long = 0L): Seq[String] = {
    val f = fsOf(spark, table)
    // referenced = every retained version's data files AND deletion
    // vectors — a GC'd live DV would silently resurrect its deleted rows.
    // One replay to `retainFrom` and one walk to the head: the union of
    // the retained versions' live sets is the live set at `retainFrom`
    // plus every file and DV a later commit adds
    val cur = currentVersion(spark, table)
    val referenced: Set[String] =
      if (retainFrom > cur) Set.empty
      else {
        val base = liveState(spark, table, retainFrom)
        base.liveFiles.keySet ++ base.liveDvs.keySet ++
          walk(spark, table, base, retainFrom, cur).flatMap(_.actions.collect {
            case a if a.op == "add" || a.op == "dv" => a.path
          })
      }
    val root = new Path(table, "data")
    if (!f.exists(root)) return Seq.empty
    def filesUnder(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      f.listStatus(p).toSeq.flatMap { s =>
        if (s.isDirectory) filesUnder(s.getPath)
        else Seq(s)
      }
    val cutoff = System.currentTimeMillis() - minAgeMs
    val rootUri = new Path(table).toUri.getPath
    val dead = filesUnder(root)
      .filter(_.getModificationTime <= cutoff)
      .map { s =>
        s.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
      }.filterNot(referenced)
    dead.foreach(r => f.delete(new Path(s"$table/$r"), false))
    // crashed publish attempts leave attempt-unique dot-tmps in _log —
    // invisible to readers (currentVersion ignores dot-files) but
    // accumulating forever without this sweep; the same age guard
    // protects an attempt between its create and its rename
    val logDir = new Path(table, "_log")
    if (f.exists(logDir))
      f.listStatus(logDir).toSeq
        .filter(s => s.isFile && s.getPath.getName.startsWith(".") &&
          s.getPath.getName.endsWith(".tmp") &&
          s.getModificationTime <= cutoff)
        .foreach(s => f.delete(s.getPath, false))
    dead
  }

  /** Manifest GC (S19's retention complement to [[vacuum]]'s data GC): a
    * manifest chain grows one file per commit forever unless retired —
    * 10^5–10^6 tiny objects on a mature 100 TB table, a LIST-cost and
    * object-count tax every production format bounds the same way. A
    * manifest `vM.log` is dead once (a) retention forbids reads below
    * `retainFrom` AND (b) a CHECKPOINT exists in [M, retainFrom] — every
    * allowed read (v >= retainFrom) then starts replay at a checkpoint at
    * or past M and never opens it (the property LakehouseSpec pins by
    * yanking manifests under live reads). Without such a checkpoint
    * NOTHING is deleted: manifest GC must never outrun checkpointing.
    * Superseded checkpoints below the newest one in the retained range
    * retire too. Returns the deleted _log entries.
    * `minAgeMs` is the in-flight-READER grace guard (vacuum's minAgeMs
    * analog, other direction): a reader that resolved its replay start
    * BEFORE the covering checkpoint landed is still walking the old
    * manifests — nothing retires unless the checkpoint is older than the
    * longest plausible read, so such a reader finishes first. 0 keeps
    * delete-now for single-reader tables (the spec fixtures). Only names
    * whose delete actually SUCCEEDED are reported — a failed delete must
    * not read as a retired chain. */
  private[graft] def vacuumLog(spark: SparkSession, table: String,
      retainFrom: Int, minAgeMs: Long = 0L): Seq[String] = {
    val f = fsOf(spark, table)
    val logDir = new Path(table, "_log")
    if (!f.exists(logDir)) return Seq.empty
    // ONE listing serves both the covering-checkpoint lookup and the
    // candidate sweep (this API exists for 10^5-10^6-entry _log dirs)
    val logRe = "^v(\\d+)\\.log$".r
    val ckptRe = "^v(\\d+)\\.ckpt$".r
    val entries = f.listStatus(logDir).toSeq
    val cover = entries.flatMap { s =>
      ckptRe.findFirstMatchIn(s.getPath.getName)
        .map(m => (m.group(1).toInt, s.getModificationTime))
    }.filter(_._1 <= retainFrom).sortBy(_._1).lastOption
    cover match {
      case None => Seq.empty // GC never outruns checkpointing
      case Some((_, ckptMtime))
          if ckptMtime > System.currentTimeMillis() - minAgeMs =>
        Seq.empty // checkpoint too fresh: in-flight readers may predate it
      case Some((c, _)) =>
        entries.filter { s =>
          val n = s.getPath.getName
          logRe.findFirstMatchIn(n).exists(_.group(1).toInt <= c) ||
            ckptRe.findFirstMatchIn(n).exists(_.group(1).toInt < c)
        }
          .filter(s => f.delete(s.getPath, false))
          .map(_.getPath.getName).sorted
    }
  }

  /** The table schema AS OF `version`: the newest `schema` action at or
    * before it (None for a log that predates schema tracking). Schema
    * lives in the LOG, not the files — the reader never trusts footer
    * inference, and an old file simply lacks the columns later commits
    * added (the parquet reader fills them with null). */
  private[graft] def schemaAsOf(spark: SparkSession, table: String,
      version: Int): Option[org.apache.spark.sql.types.StructType] =
    liveState(spark, table, version).schema

  /** Snapshot read AS OF `version`: scans exactly the manifest's live
    * files under the LOGGED schema as of that version — a column added by
    * a later commit is invisible to earlier versions, and files staged
    * before the column existed read as null under a later version's
    * schema (S12). A parquet file dropped next to a live one (a stray
    * writer, an uncommitted stage) is invisible — TimeTravelSpec proves
    * both. Files and schema come from ONE replay. */
  def readAsOf(spark: SparkSession, table: String, version: Int): DataFrame = {
    val st = liveState(spark, table, version)
    scanState(spark, table, st.files, st.dvs, st.schema)
  }

  /** The DV-aware snapshot scan both [[readAsOf]] and [[readAsOfRange]]
    * build on. Data files group by the SET of deletion vectors that apply
    * to them (dv.version > file's add version — the sequence-number
    * scoping); each group's scan filters out its DV keys inside the scan
    * task ([[dvMatch]]): no DV DataFrame, no broadcast, no join, and no
    * job beyond the scan's own — a snapshot read under DVs stays one scan
    * stage per group at any table size. Group count is bounded by the
    * commit count between compactions (compaction absorbs DVs — the
    * S13×S18 contract). A table with no live DVs forms one group with no
    * filter — the exact pre-S18 single scan, zero cost when the feature
    * is unused. No files
    * read as an empty LocalRelation under the logged schema, not as an
    * empty scan or RDD: the optimizer cannot prove those empty, so their
    * union branch would survive into the physical plan as a real scan
    * node, while PropagateEmptyRelation erases the LocalRelation (the r17
    * bench drift gate caught exactly this: s14's scan count grew 6 -> 8);
    * no files and no logged schema is refused, naming the table. */
  private[graft] def scanState(spark: SparkSession, table: String,
      files: Seq[LiveFile], dvs: Seq[(String, Int)],
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    def rd(paths: Seq[String]): DataFrame = {
      val full = paths.map(r => s"$table/$r")
      schema match {
        case Some(s) => spark.read.schema(s).parquet(full: _*)
        case None => spark.read.parquet(full: _*)
      }
    }
    if (files.isEmpty) {
      val s = schema.getOrElse(throw new IllegalStateException(
        s"no live files and no logged schema for $table"))
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), s)
    } else {
      // groups in manifest order of their first file, not hash order: the
      // union order is the scan's partition order, which a range-clustered
      // rewrite (compaction, an apply) samples its bounds from
      files.zipWithIndex.groupBy { case (f, _) => LogProtocol.dvsFor(dvs, f) }.toSeq
        .sortBy(_._2.head._2)
        .map { case (dvPaths, group) =>
          val df = rd(group.map(_._1.path))
          if (dvPaths.isEmpty) df else df.filter(!dvMatch(spark, table, dvPaths))
        }
        .reduce(_ unionByName _)
    }
  }

  /** True for a row one of the given deletion vectors deletes: one native
    * `dv_contains(keyCol, files)` per key column the DVs delete on, OR-ed.
    * Each DV parquet is self-describing — its single column's NAME is the
    * key column — and [[dvKey]] reads that name from the footer, so
    * building the predicate runs no job. */
  private[graft] def dvMatch(spark: SparkSession, table: String,
      dvPaths: Seq[String]): Column = {
    graft.plans.Native.install(spark)
    dvPaths.map(p => dvKey(spark, table, p)).groupBy(_._2.name).toSeq.sortBy(_._1)
      .map { case (kc, keys) =>
        call_function("dv_contains", col(kc), typedLit(keys.map(_._1)))
      }
      .reduce(_ || _)
  }

  /** Footer memo for [[dvKey]], keyed by qualified path: DV files are
    * write-once and UUID-named, so an entry cannot go stale. Bounded like
    * [[ckptCache]]. */
  private val dvKeyCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructField]()

  /** A deletion vector's qualified path and its single key column (name
    * and type), read from the parquet footer on the driver — no Spark job,
    * one footer read per DV per JVM. */
  private[graft] def dvKey(spark: SparkSession, table: String,
      rel: String): (String, org.apache.spark.sql.types.StructField) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = fsOf(spark, table).makeQualified(new Path(table, rel))
    val key = path.toString
    if (dvKeyCache.size > 256) dvKeyCache.clear()
    key -> dvKeyCache.computeIfAbsent(key,
      _ => graft.plans.DvContains.keyField(conf, path))
  }

  /** Stage `df` as a fresh file set under `table/rel/` and return the add
    * actions — no reader sees them until the enclosing [[commit]]. */
  private[graft] def stage(spark: SparkSession, table: String, df: DataFrame,
      rel: String): Seq[Action] = {
    df.write.mode(SaveMode.Overwrite).parquet(s"$table/$rel")
    listStaged(spark, table, rel)
  }

  /** Run independent staging tasks CONCURRENTLY on a bounded pool and
    * return their results in input order. Spark's scheduler happily runs
    * several jobs at once inside one application; a multi-commit fixture
    * build is N tiny independent write jobs whose wall is almost entirely
    * per-job floor (task launch + driver planning gaps between actions —
    * JobTrace measures 60-150 ms per staged file set at sf0.1), so
    * submitting them from a small pool overlaps the floors instead of
    * paying them end to end. Correctness is unchanged by construction:
    * staged dirs are DISJOINT and invisible to every reader until the
    * caller's sequential [[commit]]s land — concurrency here reorders no
    * observable event. Parallelism stays small (default 8): enough to
    * hide the scheduling gap, not enough for the tiny jobs to fight for
    * executor slots (the staged writes are one-task jobs over the
    * unsplittable fixture scans, so eight in flight still undercommit a
    * 32-core master; measured: 8 beats 4 on the 10-write relay source
    * build and the 12-commit s19 fixture). A task failure propagates its
    * own exception (the cause, not the pool wrapper), loudly as before,
    * and cancels the tasks still queued — running ones finish, and their
    * staged dirs are invisible orphans either way (vacuum's job). */
  private[graft] def inParallel[T](tasks: Seq[() => T], parallelism: Int = 8): Seq[T] =
    if (tasks.sizeIs <= 1) tasks.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, tasks.size))
      try {
        val futs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[T] {
          def call(): T = t()
        }))
        futs.map { f =>
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              futs.foreach(_.cancel(false)) // stop wasting staging work
              throw e.getCause
          }
        }
      } finally pool.shutdown()
    }

  /** The add actions for every parquet file already staged under
    * `table/rel/` (hidden `_`/`.` entries skipped), in file-name order —
    * the single listing discipline both [[stage]] and [[stageWithStats]]
    * derive their manifests from. Name order, not the listing's own
    * (file-system) order: Spark's `part-NNNNN` prefix makes it partition
    * order, so the same write always yields the same manifest, and with
    * it the same scan order and compaction ranges. */
  private[graft] def listStaged(spark: SparkSession, table: String,
      rel: String): Seq[Action] =
    fsOf(spark, table).listStatus(new Path(s"$table/$rel")).toSeq
      .filter { s =>
        val n = s.getPath.getName
        s.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
      .map(_.getPath.getName).sorted
      .map(n => Action("add", s"$rel/$n"))

  /** Stage `df` clustered by `orderBy` into `files` range-partitioned
    * files and return add actions carrying each file's (min, max) of
    * every column in `statsCols` — the manifest column stats
    * [[readAsOfRange]] prunes by. The range layout (S9's clusteredWrite
    * discipline) is what makes the stats TIGHT: each file covers a
    * disjoint slice of the cluster order, so a range predicate on a
    * clustered dimension keeps O(1) files instead of all of them.
    * `orderBy` defaults to the first stats column; a Z-VALUE expression
    * over several columns (S16, [[Lakehouse.zOrderValue]]) clusters ALL
    * of them at once — each dimension's per-file ranges then tighten
    * together (the multi-dimensional data-skipping layout). The stats
    * pass reads each staged file's parquet FOOTER — metadata-sized work
    * (one footer per file, no Spark job), where a scan+aggregate pass
    * would re-read every just-written row: at 100 TB that second full
    * read of the staged bytes is the difference between a stage costing
    * 1x and 2x its data volume. Footer min/max is exact for the integral
    * types the stage contract admits (parquet's stats-truncation caveats
    * apply only to binary columns). */
  private[graft] def stageWithStats(spark: SparkSession, table: String,
      df: DataFrame, rel: String, statsCols: Seq[String], files: Int,
      orderBy: Option[org.apache.spark.sql.Column] = None): Seq[Action] = {
    // the wire format stores LONG bounds, and a fractional column's
    // cast("long") truncates toward zero — recorded min RAISED, max
    // LOWERED, which lets pruning "prove" disjointness for a file that
    // holds matching rows (silent row loss — the inverted direction of
    // the "stats skip work, never rows" invariant). Integral columns are
    // exact under the cast, so the contract is enforced at stage time
    // instead of discovered as a missing row at read time.
    statsCols.foreach { sc =>
      val dt = df.schema(sc).dataType
      require(isIntegral(dt),
        s"manifest stats need an integral column; '$sc' is ${dt.simpleString} " +
          "— long wire bounds would truncate fractional min/max toward zero " +
          "and prune files that still hold matching rows")
    }
    val dir = s"$table/$rel"
    val ord = orderBy.getOrElse(col(statsCols.head))
    // the cluster key may be a derived expression (z-value): ride it as a
    // temp column so the range partitioner and the in-file sort agree,
    // then drop it before the write (a projection — order-preserving)
    df.withColumn("__cluster", ord)
      .repartitionByRange(files, col("__cluster"))
      .sortWithinPartitions(col("__cluster"))
      .drop("__cluster")
      .write.mode(SaveMode.Overwrite).parquet(dir)
    val listed = listStaged(spark, table, rel)
    // an empty stage (e.g. a copy-on-write purge whose survivors and
    // arrivals are both empty) writes no parquet at all — there is
    // nothing to read stats from, and nothing to add
    if (listed.isEmpty) return Nil
    // the add set comes from the LISTING (stage()'s discipline), never
    // from the stats read-back: a file whose footer yields no usable
    // stats still lands in the manifest — with no stats, so it is never
    // pruned (stats can skip work, never rows)
    val conf = spark.sparkContext.hadoopConfiguration
    listed.map(a => a.copy(stats =
      footerStats(conf, new Path(s"$table/${a.path}"), statsCols)))
  }

  /** Per-file (min, max) of each `statsCols` column, read from the
    * parquet FOOTER'S column-chunk statistics — the metadata every
    * parquet writer already records, aggregated across the file's row
    * groups. Exact for the integral physical types (INT32/INT64) the
    * [[stageWithStats]] contract admits. Degrades in the safe direction
    * only: a column chunk with missing/foreign-typed statistics, or a
    * column that is all-null in every row group, yields NO stats for
    * that column — the file is then never pruned. */
  private[graft] def footerStats(conf: org.apache.hadoop.conf.Configuration,
      file: Path, statsCols: Seq[String]): Seq[FileStats] = {
    import org.apache.parquet.column.statistics.{IntStatistics, LongStatistics}
    import scala.jdk.CollectionConverters._
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      statsCols.flatMap { sc =>
        var mn = Long.MaxValue
        var mx = Long.MinValue
        var trusted = true // every row group must carry usable stats
        var any = false    // at least one row group had a non-null value
        blocks.foreach { b =>
          // the exact name first; failing that, a case-INSENSITIVE match,
          // as the analyzer's default resolver would find a miscased
          // caller's column — but only when it is UNIQUE. Under
          // spark.sql.caseSensitive a file may hold case twins (`id` and
          // `ID`); a miscased name then matches both, and picking one
          // would log the other column's bounds, so the stats stay
          // untrusted (never pruned) instead
          val cols = b.getColumns.asScala.toSeq
          val exact = cols.filter(_.getPath.toDotString == sc)
          val matched =
            if (exact.nonEmpty) exact
            else cols.filter(_.getPath.toDotString.equalsIgnoreCase(sc))
          matched match {
            case Seq(cc) =>
              val st = cc.getStatistics
              if (st == null || st.isEmpty) trusted = false
              else if (st.hasNonNullValue) st match {
                case s: LongStatistics =>
                  mn = math.min(mn, s.getMin); mx = math.max(mx, s.getMax); any = true
                case s: IntStatistics =>
                  mn = math.min(mn, s.getMin.toLong); mx = math.max(mx, s.getMax.toLong); any = true
                case _ => trusted = false
              }
            // else: an all-null row group contributes nothing (numNulls
            // set, no min/max) — same as the former agg's null-skip
            case _ => trusted = false // absent, or ambiguous case twins
          }
        }
        if (trusted && any) Some(FileStats(sc, mn, mx)) else None
      }
    } finally reader.close()
  }

  /** The live files of `version` that can contain rows with `statsCol` in
    * [lo, hi] ([[LogProtocol.LiveFile.mayHold]]), plus the unpruned
    * live-file count. */
  private[graft] def prunedLiveFiles(spark: SparkSession, table: String,
      version: Int, statsCol: String, lo: Long, hi: Long): (Seq[String], Int) = {
    val all = liveState(spark, table, version).files
    (all.filter(_.mayHold(statsCol, lo, hi)).map(_.path), all.size)
  }

  /** Snapshot range read: [[readAsOf]] restricted to `statsCol` in
    * [lo, hi], with the file list pruned by manifest stats BEFORE any
    * parquet footer is opened (S15). The predicate is STILL applied to
    * the scan — pruning is a pure optimization, so a wrong logged stat
    * can only surface as a missing file, which the declared query's
    * oracle catches as a row diff, never as a silent extra row. */
  def readAsOfRange(spark: SparkSession, table: String, version: Int,
      statsCol: String, lo: Long, hi: Long): DataFrame = {
    val st = liveState(spark, table, version)
    val kept = st.files.filter(_.mayHold(statsCol, lo, hi))
    val pred = col(statsCol) >= lo && col(statsCol) <= hi
    scanState(spark, table, kept, st.dvs, st.schema).filter(pred)
  }

  /** The window (from, to]: the state as of `from` (one replay) and each
    * version's step past it (one walk) — O(commits since checkpoint +
    * window), never O(table lifetime). */
  private[graft] def window(spark: SparkSession, table: String, from: Int,
      to: Int): (LogState, Seq[LogProtocol.Step]) = {
    val base = liveState(spark, table, from)
    (base, walk(spark, table, base, from, to).toSeq)
  }

  /** DATA-file actions across manifests (from, to]: (added, removed),
    * each a list of table-relative paths ([[LogProtocol.fileDelta]]). */
  private[graft] def actionsIn(spark: SparkSession, table: String,
      from: Int, to: Int): (Seq[String], Seq[String]) = {
    val (base, steps) = window(spark, table, from, to)
    LogProtocol.fileDelta(base, steps)
  }

  /** S12b [EXT]: column DROP — the other direction of schema evolution.
    * One manifest commit carrying the current logged schema MINUS
    * `name`: purely logical and O(1) — no file is read or rewritten, the
    * logged-schema read rule projects the column away from this version
    * on, and time travel below the drop still presents it. The payload
    * BYTES stay in the data files until those files retire naturally
    * (compaction, copy-on-write) — GDPR-grade physical erasure is
    * [[graft.operators.Lakehouse.morDelete]]/cdfApply territory, not a
    * schema commit.
    *
    * Two guards: a column a LIVE deletion vector deletes on cannot drop
    * (every subsequent read's DV filter would fail to resolve the key —
    * run OPTIMIZE first to absorb the DV; the key column comes from the
    * DV's footer, so the guard runs no job), and the last column cannot
    * drop. DOCUMENTED HAZARD: re-adding a dropped NAME in a later schema
    * commit RESURFACES the old values wherever their files still live,
    * because this log maps columns BY NAME — the production fix is
    * column mapping (stable column IDs, Delta's columnMapping / Iceberg
    * field-ids), which is exactly the feature the S21 gate exists to
    * declare if a future writer adds it. TimeTravelSpec pins the drop,
    * the guards, and the resurface hazard itself. */
  def dropColumn(spark: SparkSession, table: String, name: String): Int = {
    val cur = currentVersion(spark, table)
    require(cur > 0, s"dropColumn on an empty table: $table")
    val sch = schemaAsOf(spark, table, cur).getOrElse(
      throw new IllegalArgumentException(
        s"dropColumn needs a logged schema for $table — commit one at v1"))
    require(sch.fieldNames.contains(name),
      s"dropColumn: '$name' is not in the schema (${sch.fieldNames.mkString(", ")})")
    require(sch.fields.length > 1, s"dropColumn: cannot drop the last column")
    liveState(spark, table, cur).dvs.foreach { case (p, _) =>
      require(dvKey(spark, table, p)._2.name != name,
        s"dropColumn: live deletion vector $p deletes on '$name' — every " +
          "read's DV filter would fail; OPTIMIZE first to absorb it")
    }
    commit(spark, table, Seq(Action("schema",
      org.apache.spark.sql.types.StructType(
        sch.fields.filterNot(_.name == name)).json)))
  }

  /** The exactly-once micro-batch sink: stage the batch under an
    * attempt-unique dir, then publish behind the `(streamId, batchId)`
    * txn marker. The pre-check skips a KNOWN re-delivery without
    * re-staging; the gate inside [[commitIfAbsent]] is the guarantee —
    * a writer that re-stages anyway leaves orphans (vacuum's job) but
    * never commits twice. This is the `foreachBatch` body a Structured
    * Streaming ingest runs against the table log (TimeTravelSpec drives
    * it from a real MemoryStream). */
  private[graft] def commitBatch(table: String, streamId: String)(
      df: DataFrame, batchId: Long): Unit = {
    val spark = df.sparkSession
    // conf parsed BEFORE any commit: a malformed value must fail the
    // batch cleanly, not commit-then-crash (which would crash-loop the
    // restarted stream one successfully-committed batch at a time)
    val every = confInt(spark, "spark.graft.log.checkpointInterval", "0")
    if (!alreadyCommitted(spark, table, streamId, batchId)) {
      val rel = s"data/$streamId/b$batchId-${java.util.UUID.randomUUID}"
      // a table BORN from the stream logs its schema on the first commit
      // (every other writer's discipline): without it the landed table is
      // not CDF-readable — a bronze→silver relay (R17) has no logged
      // schema to slice under. Racing first writers may both prepend it;
      // a redundant identical schema action is harmless on replay.
      val schemaActs: Seq[Action] =
        if (currentVersion(spark, table) == 0)
          Seq(Action("schema", df.schema.json))
        else Nil
      val v = commitIfAbsent(spark, table, streamId, batchId,
        schemaActs ++ stage(spark, table, df, rel))
      // conf-gated auto-checkpoint (R15×S19): a long-lived micro-batch
      // ingest is exactly the writer whose chain grows without bound and
      // whose own exactly-once probe pays the replay on every batch —
      // checkpoint every N commits so both stay O(N). A lost checkpoint
      // race (or a competing writer having advanced the head) is
      // harmless: checkpointLog is idempotent at whatever version it
      // lands on.
      if (every > 0 && v > 0 && v % every == 0) checkpointLog(spark, table)
    }
  }
}
