package graft.operators

import scala.collection.immutable.VectorMap

import org.apache.spark.sql.types.{DataType, StructType}

/** The table-log protocol with no I/O: what a manifest line or a checkpoint
  * line does to table state. [[TableLog]] lists, opens and caches the log
  * files and hands their lines here; every read of table state — snapshot,
  * schema, txn gate, change feed, vacuum, log tail — is a fold of this
  * module's [[applyManifest]] from the newest checkpoint (or the empty
  * state), the snapshot-replay design of the production log formats: one
  * replay of actions is the only way state is derived.
  *
  * Manifest wire (`_log/vN.log`, one action per line; the 2-field file
  * forms are what every pre-stats manifest holds, so old logs replay
  * unchanged):
  *  - `add\tpath[\tcol\tmin\tmax]...` — a data file, one col-min-max
  *    triple per stats column;
  *  - `remove\tpath` — retires a data file or a deletion vector;
  *  - `dv\tpath` (S18) — a deletion-vector file: a parquet of deleted keys
  *    whose single column IS the key column it deletes on;
  *  - `schema\t<json>` — the table schema from this commit on (the last
  *    one in a manifest wins);
  *  - `txn\t<stream>\t<batch>` — an exactly-once marker;
  *  - `feature\t<name>` (S21) — a reader feature the table requires.
  * Any other line is tolerated, which is why the feature gate exists. */
object LogProtocol {

  /** Per-file column statistics carried by an `add` action: min/max of ONE
    * long-typed stats column, recorded at stage time. At 100 TB this is
    * the difference between opening ~800k parquet footers to plan a range
    * scan and reading one manifest: a snapshot read prunes to the files
    * whose [min, max] overlaps the predicate BEFORE any footer I/O (the
    * data-skipping S9's clustered layout provides inside a file, lifted
    * to the file-set level). Stats are optional per action — a file
    * staged without them is simply never pruned (the safe direction). */
  final case class FileStats(col: String, min: Long, max: Long)

  /** One logged action; `path` is table-relative for file actions
    * (portable across mounts — the log never embeds an absolute URI) and
    * the payload for markers (`schema` json, `txn` stream\tbatch, `feature`
    * name). An `add` may carry stats for SEVERAL columns (the Z-order
    * layout records every clustered dimension — S16). */
  final case class Action(op: String, path: String, stats: Seq[FileStats] = Nil)

  /** One live data file in a snapshot: table-relative path, its logged
    * column stats, and the version whose commit ADDED it — the add
    * version is what scopes deletion vectors (a DV committed at version v
    * applies only to files added BEFORE v, so a post-delete re-insert of
    * the same key survives, exactly the sequence-number rule of the
    * production v2 table formats). */
  final case class LiveFile(path: String, stats: Seq[FileStats], version: Int) {
    /** Can this file hold rows with `col` in [lo, hi]? False ONLY when its
      * logged stats prove disjointness; a file without stats on `col` is
      * always kept — pruning can skip work, never rows. */
    def mayHold(col: String, lo: Long, hi: Long): Boolean =
      stats.find(_.col == col).forall(s => s.max >= lo && s.min <= hi)
  }

  /** Table state as of one version — the only thing a replay produces.
    * Live files and DVs are insertion-ordered maps keyed by path, so a
    * re-add keeps its first position (today's scan and compaction order)
    * and one manifest applies in O(its lines), not O(live files). A file
    * keeps its ORIGINAL add version through checkpoints — collapsing it to
    * the checkpoint version would silently widen deletion-vector scope.
    * Txn markers and features ride along so the exactly-once gate and the
    * feature requirement survive manifest GC. */
  final case class LogState(
      liveFiles: VectorMap[String, LiveFile],
      liveDvs: VectorMap[String, Int],
      schema: Option[StructType],
      txns: Set[String],
      features: Set[String]) {

    /** Live data files in first-add order. */
    lazy val files: Seq[LiveFile] = liveFiles.values.toVector

    /** Live deletion vectors as (path, commit version), in first-add order. */
    lazy val dvs: Seq[(String, Int)] = liveDvs.toVector

    /** Has ANY of `batchIds` committed under `streamId`? */
    def committed(streamId: String, batchIds: Seq[Long]): Boolean =
      batchIds.exists(b => txns(s"$streamId\t$b"))

    /** Newest batch committed under `streamId`. The `\t` in the prefix is
      * load-bearing: it stops a streamId that prefixes another (`cdf:a` /
      * `cdf:ab`) from claiming the other's offsets. */
    def lastCommitted(streamId: String): Option[Long] = {
      val pfx = s"$streamId\t"
      txns.collect { case t if t.startsWith(pfx) => t.stripPrefix(pfx).toLong }.maxOption
    }
  }

  object LogState {
    val empty: LogState = LogState(VectorMap.empty, VectorMap.empty, None, Set.empty, Set.empty)
  }

  /** The deletion vectors of `dvs` that apply to `f`: those committed
    * AFTER it was added — the sequence-number scoping. */
  def dvsFor(dvs: Seq[(String, Int)], f: LiveFile): Seq[String] =
    dvs.collect { case (p, v) if v > f.version => p }

  /** One version's manifest applied: its actions (markers included) and
    * the state right after it. */
  final case class Step(version: Int, actions: Seq[Action], after: LogState)

  /** The manifest line a writer publishes for `a`. */
  def actionLine(a: Action): String =
    (s"${a.op}\t${a.path}" +: a.stats.map(s => s"${s.col}\t${s.min}\t${s.max}")).mkString("\t")

  /** Parse one manifest line to a FILE action (None for schema, txn and
    * feature markers and unknown lines). A CORRUPT file action (stats
    * arity not 3k, non-numeric bound, lost path) fails LOUDLY: silently
    * dropping an unparseable add would lose a LIVE file — and a swallowed
    * remove or dv would RESURRECT deleted rows — from every subsequent
    * read with no error anywhere; a transactional log must refuse to
    * replay what it cannot parse. */
  def parseAction(line: String): Option[Action] =
    line.split("\t") match {
      case Array("add", p, rest @ _*) =>
        Some(Action("add", p, parseStatsTriples(rest, line)))
      case Array("remove", p) => Some(Action("remove", p))
      case Array("dv", p) => Some(Action("dv", p))
      case arr if arr.headOption.exists(op =>
          op == "add" || op == "remove" || op == "dv") =>
        throw new IllegalStateException(s"corrupt manifest file action: $line")
      case _ => None
    }

  /** A file action or a schema/txn/feature marker — the inverse of the
    * line a writer publishes for `Action(op, payload)`. */
  private def parseLine(line: String): Option[Action] =
    parseAction(line).orElse(line.split("\t", 2) match {
      case Array(op @ ("schema" | "txn" | "feature"), payload) => Some(Action(op, payload))
      case _ => None
    })

  /** S21 [EXT]: reader features this engine implements. A manifest or
    * checkpoint line `feature\t<name>` declares that correctly reading
    * the table from that commit on REQUIRES understanding `<name>` — the
    * protocol/table-features posture of the production formats (Delta
    * reader versions, Iceberg format-version). The gate exists because
    * the parser deliberately tolerates unknown line kinds (schema and txn
    * markers ride the same wire), so without it a FUTURE writer's new
    * action — a range delete, an equality predicate — would be silently
    * SKIPPED by an old reader, which then serves resurrected or duplicate
    * rows with no error anywhere. The gate turns that silent wrongness
    * into a loud refusal at replay time; declaring a feature the reader
    * does implement costs one string compare per line. A declaration is
    * permanent once committed (removal would need a rewrite proving no
    * surviving action depends on it); the set rides checkpoints so it
    * survives [[TableLog.vacuumLog]] manifest GC. */
  val SUPPORTED_READER_FEATURES: Set[String] = Set("dv", "stats", "checkpoint")

  /** Refuse a `feature` line naming anything this reader does not
    * implement; tolerate everything else. `where` names the table+version
    * so the refusal points at the offending commit, not just the read. */
  private def checkFeatureLine(line: String, where: String): Unit =
    if (line.startsWith("feature\t")) {
      val name = line.stripPrefix("feature\t")
      if (name.isEmpty || name.contains("\t"))
        throw new IllegalStateException(s"corrupt feature line in $where: $line")
      if (!SUPPORTED_READER_FEATURES(name))
        throw new IllegalStateException(
          s"$where requires reader feature '$name'; this engine implements " +
            s"only [${SUPPORTED_READER_FEATURES.toSeq.sorted.mkString(", ")}] " +
            "and refuses to replay a log whose actions it could misread")
    }

  /** Parse the col-min-max triples of a file action / checkpoint file
    * line — ONE parser so the manifest and checkpoint wire formats can
    * never silently diverge. Refuses loudly with the offending line. */
  private def parseStatsTriples(rest: Seq[String], line: String): Seq[FileStats] = {
    if (rest.size % 3 != 0) throw new IllegalStateException(
      s"corrupt stats arity ${rest.size} in: $line")
    try rest.grouped(3).map {
      case Seq(c, mn, mx) => FileStats(c, mn.toLong, mx.toLong)
    }.toSeq
    catch {
      case e: NumberFormatException => throw new IllegalStateException(
        s"corrupt stats bound in: $line", e)
    }
  }

  private def parseSchema(json: String): StructType =
    DataType.fromJson(json).asInstanceOf[StructType]

  /** Apply manifest `v` of `table` to `state`. The feature gate runs over
    * every line BEFORE any is applied (GC included: deleting manifests you
    * cannot fully read is how a retention pass loses an action it never
    * understood). An `add` of a live path replaces it in place under the
    * new add version; a `remove` retires a file or a DV. */
  def applyManifest(state: LogState, table: String, v: Int, lines: Seq[String]): Step = {
    lines.foreach(checkFeatureLine(_, s"$table@v$v"))
    val actions = lines.flatMap(parseLine)
    val after = actions.foldLeft(state) { (s, a) =>
      a.op match {
        case "add" => s.copy(liveFiles = s.liveFiles.updated(a.path, LiveFile(a.path, a.stats, v)))
        case "dv" => s.copy(liveDvs = s.liveDvs.updated(a.path, v))
        case "remove" => s.copy(liveFiles = s.liveFiles - a.path, liveDvs = s.liveDvs - a.path)
        case "schema" => s.copy(schema = Some(parseSchema(a.path)))
        case "txn" => s.copy(txns = s.txns + a.path)
        case "feature" => s.copy(features = s.features + a.path)
      }
    }
    Step(v, actions, after)
  }

  /** The DATA-file actions of a window of steps folded onto `base`:
    * (added, removed) table-relative paths. A file added and removed
    * INSIDE the window appears in both — its +agg and −agg cancel exactly
    * in an abelian merge, so no dedup pass is needed. Deletion-vector
    * files are excluded from BOTH lists: a window that retires a DV
    * (compaction absorbing it — S18×S13) must not hand the key file to a
    * reader as removed-row pre-images, which would fabricate null-filled
    * phantom deltas. The DV set seeds from the DVs live at `base` (a DV
    * added AND removed before the window can never be removed again
    * inside it). */
  def fileDelta(base: LogState, steps: Seq[Step]): (Seq[String], Seq[String]) = {
    val dvEver = scala.collection.mutable.HashSet.empty[String] ++= base.liveDvs.keys
    val adds = Seq.newBuilder[String]
    val removes = Seq.newBuilder[String]
    steps.foreach(_.actions.foreach {
      case Action("add", p, _) => adds += p
      case Action("dv", p, _) => dvEver += p
      case Action("remove", p, _) => if (!dvEver(p)) removes += p
      case _ => ()
    })
    (adds.result(), removes.result())
  }

  /** Checkpoint wire format — ONE line per collapsed fact, its own forms
    * (manifests are untouched; pre-S19 logs replay unchanged):
    * `file\t<addVersion>\t<path>[\tcol\tmin\tmax]...` / `dv\t<version>\t
    * <path>` / `schema\t<json>` / `txn\t<stream>\t<batch>` /
    * `feature\t<name>` (sorted). File and dv lines keep the state's
    * order. */
  def checkpointLines(s: LogState): Seq[String] =
    s.files.map { lf =>
      (Seq("file", lf.version.toString, lf.path) ++
        lf.stats.flatMap(st => Seq(st.col, st.min.toString, st.max.toString))).mkString("\t")
    } ++
      s.dvs.map { case (p, v) => s"dv\t$v\t$p" } ++
      s.schema.map(sch => s"schema\t${sch.json}") ++
      s.txns.map(t => s"txn\t$t") ++
      s.features.toSeq.sorted.map(n => s"feature\t$n")

  /** Parse checkpoint `v$version.ckpt` of `table`. Corrupt lines refuse
    * loudly, the manifest-parse discipline: a silently dropped `file` line
    * loses a live file from every read that trusts the checkpoint. Feature
    * lines pass the same gate the manifests run. */
  def parseCheckpoint(table: String, version: Int, lines: Seq[String]): LogState = {
    def corrupt(line: String): Nothing = throw new IllegalStateException(
      s"corrupt checkpoint line in v$version.ckpt: $line")
    lines.foldLeft(LogState.empty) { (s, line) =>
      line.split("\t") match {
        case Array("file", v, p, rest @ _*) =>
          val addV = v.toIntOption.getOrElse(corrupt(line))
          s.copy(liveFiles = s.liveFiles.updated(p, LiveFile(p, parseStatsTriples(rest, line), addV)))
        case Array("dv", v, p) =>
          s.copy(liveDvs = s.liveDvs.updated(p, v.toIntOption.getOrElse(corrupt(line))))
        case Array("schema", json) => s.copy(schema = Some(parseSchema(json)))
        case Array("txn", stream, batch) => s.copy(txns = s.txns + s"$stream\t$batch")
        case Array("feature", name) =>
          checkFeatureLine(line, s"$table v$version.ckpt")
          s.copy(features = s.features + name)
        case Array("") => s
        case _ => corrupt(line)
      }
    }
  }
}
