package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Structured Streaming re-expression of the reference's incremental page
  * loop (SURVEY.md §2.9). Every transform here is written against a plain
  * DataFrame so the SAME function body runs in batch (for the DuckDB
  * oracle) and on a streaming source (readStream / MemoryStream in the
  * specs) — batch/stream equivalence is by construction, then asserted in
  * StreamingSpec.
  *
  * The ref analog: pages ≙ micro-batches (`batch_number` ≙ batchId,
  * main.rs:136-159), the running JsonWriter.count ≙ streaming state
  * (json.rs:10,44,56-58).
  */
case class StreamEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long, event_type: String)
case class ProgressUpdate(event_id: Long, user_id: Long, events_so_far: Long)
case class ValuedEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long, value: Double)
case class HighWater(event_id: Long, user_id: Long, value: Double)
case class ScreenDoc(doc_id: Long, simhash: Long)
case class ScreenFlag(doc_id: Long, simhash: Long, is_dup: Boolean)
case class MergeChange(user_id: Long, event_type: String, event_id: Long,
    value: Double, ts_us: Long, op: String)
case class SnapshotRow(user_id: Long, event_type: String, event_id: Long, value: Double)
case class MergeApplied(user_id: Long, event_type: String, event_id: Long,
    value: Double, ts_us: Long, action: String)

/** R9 streaming form: the l2g signature screen as CONTINUOUS INGEST —
  * one `ValueState[Long]` per 16-bit SimHash signature holds the first
  * doc_id seen, so later arrivals with a colliding signature flag as
  * duplicates across micro-batches. State cardinality is bounded by 2^16
  * signatures regardless of stream length (the same bound that lets
  * l2g's batch index broadcast). Rows are sorted by doc_id within each
  * micro-batch; as with [[HighWaterProcessor]], batch/stream parity
  * holds PROVIDED batches arrive in doc_id order per signature — a
  * later-batch doc with an earlier id would be flagged where the batch
  * window would keep it (strict subset of keeps, never a wrong keep). */
class SignatureScreenProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, ScreenDoc, ScreenFlag] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}
  @transient private var firstId: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    firstId = getHandle.getValueState[Long](
      "firstId", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(
      sig: Long, rows: Iterator[ScreenDoc],
      timers: org.apache.spark.sql.streaming.TimerValues): Iterator[ScreenFlag] = {
    val sorted = rows.toSeq.sortBy(_.doc_id)
    var first: Option[Long] = if (firstId.exists()) Some(firstId.get()) else None
    val out = sorted.map { d =>
      val dup = first.isDefined
      if (first.isEmpty) first = Some(d.doc_id)
      ScreenFlag(d.doc_id, sig, dup)
    }
    first.foreach(firstId.update)
    out.iterator
  }
}

/** R8 streaming form: Spark 4 arbitrary-state-v2 processor. One
  * `ValueState[Double]` per user holds the running max across
  * micro-batches (requires the RocksDB state store provider — see
  * StreamingSpec). Within a batch the group's rows are sorted by
  * (ts, event_id) before the fold, matching the batch window's ORDER BY —
  * so batch and stream emit the identical row set PROVIDED batches arrive
  * in ts order per user (sorting is per micro-batch only: an event that
  * arrives in a later batch with an earlier ts is folded against state
  * that already includes later-ts values, and may be suppressed where the
  * batch window would emit it). For out-of-order sources, bound the
  * disorder with a watermark and accept the streaming semantics, or
  * re-sort downstream. */
class HighWaterProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, ValuedEvent, HighWater] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}
  @transient private var maxSeen: ValueState[Double] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    maxSeen = getHandle.getValueState[Double](
      "maxSeen", org.apache.spark.sql.Encoders.scalaDouble, TTLConfig.NONE)

  override def handleInputRows(
      user: Long, rows: Iterator[ValuedEvent],
      timers: org.apache.spark.sql.streaming.TimerValues): Iterator[HighWater] = {
    val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    var cur: Option[Double] = if (maxSeen.exists()) Some(maxSeen.get()) else None
    val out = sorted.flatMap { e =>
      if (cur.forall(e.value > _)) { cur = Some(e.value); Some(HighWater(e.event_id, user, e.value)) }
      else None
    }
    cur.foreach(maxSeen.update)
    out.iterator
  }
}

/** R12 streaming form: CDC MERGE apply as continuous ingest — the
  * streaming twin of [[graft.operators.Quality.u3MergeUpsert]]. The
  * snapshot loads ONCE as transformWithState INITIAL STATE (one
  * `SnapshotRow` per entity key, the state-v2 feature r8/r9 don't
  * exercise); each arriving change then upserts or tombstones its key's
  * state and emits an audit row tagging what the apply did. Three
  * per-key values: the current row, whether the BASE snapshot had the
  * key (so update-vs-insert is judged against the snapshot, exactly as
  * batch MERGE tags it, even after an in-stream delete), and the applied
  * (ts_us, event_id) high-water mark — a change older than an already
  * applied one is SKIPPED, so late cross-batch arrivals cannot resurrect
  * a tombstone or roll a row back (emitted action 'stale'). State size =
  * live keys, independent of stream length; deletes leave only the
  * 17-byte mark+flag residue, and a production deployment puts a TTL on
  * that tombstone (TTLConfig seam, deliberately not set here so parity
  * with the batch oracle is exact). */
class MergeApplyProcessor extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
    (Long, String), MergeChange, MergeApplied, SnapshotRow] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}
  @transient private var cur: ValueState[SnapshotRow] = _
  @transient private var baseHad: ValueState[Boolean] = _
  @transient private var mark: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    cur = getHandle.getValueState[SnapshotRow](
      "cur", org.apache.spark.sql.Encoders.product[SnapshotRow], TTLConfig.NONE)
    baseHad = getHandle.getValueState[Boolean](
      "baseHad", org.apache.spark.sql.Encoders.scalaBoolean, TTLConfig.NONE)
    mark = getHandle.getValueState[(Long, Long)](
      "mark", org.apache.spark.sql.Encoders.product[(Long, Long)], TTLConfig.NONE)
  }

  override def handleInitialState(key: (Long, String), row: SnapshotRow,
      timers: org.apache.spark.sql.streaming.TimerValues): Unit = {
    cur.update(row)
    baseHad.update(true)
  }

  override def handleInputRows(key: (Long, String), rows: Iterator[MergeChange],
      timers: org.apache.spark.sql.streaming.TimerValues): Iterator[MergeApplied] = {
    val sorted = rows.toSeq.sortBy(c => (c.ts_us, c.event_id))
    sorted.map { c =>
      val stale = mark.exists() && {
        val (mts, mid) = mark.get()
        c.ts_us < mts || (c.ts_us == mts && c.event_id <= mid)
      }
      val action =
        if (stale) "stale"
        else {
          mark.update((c.ts_us, c.event_id))
          if (c.op == "D") { cur.clear(); "delete" }
          else {
            cur.update(SnapshotRow(c.user_id, c.event_type, c.event_id, c.value))
            if (baseHad.exists() && baseHad.get()) "update" else "insert"
          }
        }
      MergeApplied(c.user_id, c.event_type, c.event_id, c.value, c.ts_us, action)
    }.iterator
  }
}

object Streams {

  /** R2: tumbling-window counts per event type (per-page counts analog). */
  def tumblingCounts(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select(
        unix_timestamp($"window.start").as("bucket_s"),
        $"event_type", $"n")
  }

  /** R2 streaming form: adds the watermark a production stream needs. */
  def tumblingCountsStream(events: DataFrame): DataFrame =
    tumblingCounts(events.withWatermark("ts", "1 hour"))

  /** R3: late-data drop — keep only rows within the watermark horizon of
    * the max event time (batch replay of watermark semantics). */
  def lateDropBatch(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val horizon = events.agg(max(unix_micros($"ts")).as("max_us"))
    events.crossJoin(broadcast(horizon))
      .filter(unix_micros($"ts") >= $"max_us" - lit(10L * 60 * 1000000))
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
  }

  /** R4: session windows — 30 min inactivity gap per user. Batch form via
    * lag + running sum (the canonical sessionization); the streaming form
    * uses the built-in session_window and must agree (asserted in specs).
    */
  def sessionize(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val run = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("prev_us", lag(unix_micros($"ts"), 1).over(byUser))
      .withColumn("new_session",
        // >= : a gap of exactly the timeout starts a new session, matching
        // the built-in session_window's exclusive window end
        when($"prev_us".isNull || unix_micros($"ts") - $"prev_us" >= 30L * 60 * 1000000, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum($"new_session").over(run))
      .groupBy($"user_id", $"session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min(unix_micros($"ts")).as("session_start_us"),
        max(unix_micros($"ts")).as("session_end_us"))
  }

  /** R4 streaming form: built-in gap-based session window. */
  def sessionWindowStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros($"ts")).as("session_start_us"),
        max(unix_micros($"ts")).as("session_end_us"))
      .select($"user_id", $"n_events", $"session_start_us", $"session_end_us")
  }

  /** R5: dedup — first event per (user, type), keyed state in streaming
    * (`dropDuplicatesWithinWatermark`), min-by in batch. Caveat: the
    * streaming form keeps the first-ARRIVED row per key (that is its
    * semantics); the batch/oracle form keeps the min-event-time row.
    * They agree exactly on in-order sources (asserted in StreamingSpec);
    * on late data the streaming result is arrival-dependent by design. */
  def dedupBatch(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupBy($"user_id", $"event_type")
      .agg(min(unix_micros($"ts")).as("first_us"))
  }

  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(Seq("user_id", "event_type"))

  /** R6: stateful running progress — each event tagged with the user's
    * cumulative event count so far (JsonWriter.count analog). */
  def runningProgress(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    events.select($"event_id", $"user_id",
      row_number().over(w).cast("long").as("events_so_far"))
  }

  /** R6 streaming form: true keyed state via flatMapGroupsWithState — the
    * per-user counter lives in the state store across micro-batches
    * (JsonWriter.count analog, json.rs:10,44,56-58). Within a batch the
    * group's rows are ordered by (ts, event_id) before numbering so the
    * output is deterministic; across batches the counter resumes from
    * state. */
  def runningProgressStream(
      events: org.apache.spark.sql.Dataset[StreamEvent]):
      org.apache.spark.sql.Dataset[ProgressUpdate] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, ProgressUpdate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[StreamEvent], state: GroupState[Long]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var n = state.getOption.getOrElse(0L)
          val out = sorted.map { e => n += 1; ProgressUpdate(e.event_id, user, n) }
          state.update(n)
          out.iterator
      }
  }

  /** R7 [EXT]: stream-stream interval join — each purchase joined to the
    * same user's signups within the preceding hour. Both sides carry
    * watermarks so the join state is bounded: signups older than the
    * interval + watermark are evicted. The batch form is the equivalent
    * inequality join (asserted in StreamingSpec). */
  def purchaseSignupJoin(purchases: DataFrame, signups: DataFrame): DataFrame = {
    val spark = purchases.sparkSession
    import spark.implicits._
    val p = purchases.withWatermark("ts", "1 hour")
      .select($"event_id".as("purchase_id"), $"user_id".as("p_user"), $"ts".as("p_ts"))
    val s = signups.withWatermark("ts", "2 hours")
      .select($"event_id".as("signup_id"), $"user_id".as("s_user"), $"ts".as("s_ts"))
    p.join(s,
      expr("p_user = s_user AND s_ts <= p_ts AND s_ts >= p_ts - INTERVAL 1 HOUR"))
      .select($"purchase_id", $"signup_id",
        (unix_micros($"p_ts") - unix_micros($"s_ts")).as("lead_us"))
  }

  // (the same body is the batch form: withWatermark is a no-op in batch)

  /** R13 [EXT]: stream-stream LEFT OUTER interval join — R7's attribution
    * join where purchases with NO qualifying signup still emit, null-
    * padded. The semantics only exist because of the watermark: an inner
    * stream-stream join can emit matches eagerly, but "no match" is
    * undecidable on an unbounded stream until the watermark passes the
    * purchase's whole candidate window — Structured Streaming buffers the
    * left row in the join state store and emits the null-padded form at
    * exactly that point, so the stream CONVERGES to the batch left join
    * (StreamingSpec drives it there with a watermark-advancing sentinel).
    * At 100 TB the state bound is the same as R7's: both sides' state
    * expire at their watermark, so store size tracks the join window, not
    * the stream. Same body batch & stream (withWatermark no-ops in
    * batch); the oracle is the plain SQL LEFT JOIN. */
  def purchaseSignupLeftJoin(purchases: DataFrame, signups: DataFrame): DataFrame = {
    val spark = purchases.sparkSession
    import spark.implicits._
    val p = purchases.withWatermark("ts", "1 hour")
      .select($"event_id".as("purchase_id"), $"user_id".as("p_user"), $"ts".as("p_ts"))
    val s = signups.withWatermark("ts", "2 hours")
      .select($"event_id".as("signup_id"), $"user_id".as("s_user"), $"ts".as("s_ts"))
    p.join(s,
      expr("p_user = s_user AND s_ts <= p_ts AND s_ts >= p_ts - INTERVAL 1 HOUR"),
      "left_outer")
      .select($"purchase_id", $"signup_id",
        (unix_micros($"p_ts") - unix_micros($"s_ts")).as("lead_us"))
  }

  // ------------------------------------------------ oracle-facing wrappers

  def r2TumblingCount(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    tumblingCounts(Tables.events(spark, sfDir)).orderBy($"bucket_s", $"event_type")
  }

  def r3WatermarkLateDrop(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    lateDropBatch(Tables.events(spark, sfDir)).orderBy($"event_type")
  }

  def r4SessionWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    sessionize(Tables.events(spark, sfDir))
      .orderBy($"user_id", $"session_id")
  }

  def r5DedupStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    dedupBatch(Tables.events(spark, sfDir)).orderBy($"user_id", $"event_type")
  }

  def r6StatefulProgress(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    runningProgress(Tables.events(spark, sfDir)).orderBy($"event_id")
  }

  /** R8 batch form: events that set a new per-user value high-water mark
    * (alert-on-record semantics). The window max runs over each row's
    * strict predecessors; per-key state is one group's rows, shuffle key
    * = partition key — the W1/W3 scale posture. */
  def newHighWaterMarks(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .withColumn("prev_max", max($"value").over(w))
      .filter($"prev_max".isNull || $"value" > $"prev_max")
      .select($"event_id", $"user_id", $"value")
  }

  /** R8 streaming entry: [[HighWaterProcessor]] via `transformWithState`
    * (TimeMode NONE, append). */
  def highWaterStream(events: org.apache.spark.sql.Dataset[ValuedEvent]):
      org.apache.spark.sql.Dataset[HighWater] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_.user_id)
      .transformWithState(new HighWaterProcessor, TimeMode.None(), OutputMode.Append())
  }

  def r8HighWater(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    newHighWaterMarks(Tables.events(spark, sfDir)).orderBy($"event_id")
  }

  def r7StreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.events(spark, sfDir)
    purchaseSignupJoin(
      events.filter($"event_type" === "purchase"),
      events.filter($"event_type" === "signup"))
      .orderBy($"purchase_id", $"signup_id")
  }

  def r13StreamLeftJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.events(spark, sfDir)
    purchaseSignupLeftJoin(
      events.filter($"event_type" === "purchase"),
      events.filter($"event_type" === "signup"))
      .orderBy($"purchase_id", $"signup_id")
  }

  /** R10 [EXT]: stream-static enrichment join — each event decorated with
    * its user's customer/nation dimension row (the reference's per-batch
    * vendor enrichment loop, vendor.rs:20-132, as the canonical
    * Structured Streaming stream-static join). The static side is a plain
    * batch DataFrame: Catalyst re-plans the join every micro-batch and
    * broadcasts the dimension, so the unbounded stream side never
    * shuffles and — unlike R7's stream-stream form — the join carries no
    * watermark state at all. Misses keep the event with an 'Unknown'
    * name (J1's HTTP-400 tolerance). Same body serves batch (oracle) and
    * streaming (StreamingSpec asserts equality and the broadcast plan). */
  def staticEnrich(events: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val dim = customer
      .select($"c_custkey", $"c_name", $"c_mktsegment", $"c_nationkey")
      .join(nation.select($"n_nationkey", $"n_name"), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_name", $"c_mktsegment", $"n_name")
    events.join(broadcast(dim), $"user_id" === $"c_custkey", "left_outer")
      .select($"event_id", $"user_id", $"event_type",
        coalesce($"c_name", lit("Unknown")).as("c_name"),
        $"c_mktsegment".as("segment"), $"n_name".as("nation"))
  }

  def r10StaticEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    staticEnrich(Tables.events(spark, sfDir), Tables.customer(spark, sfDir),
      Tables.nation(spark, sfDir)).orderBy($"event_id")
  }

  /** R11 [EXT]: incremental model scoring — continuous ingest scored by a
    * model fitted to YESTERDAY's corpus: docs below the l2g-style id
    * cutoff (max*4/5) fit the l17 unigram model; docs at or above it are
    * "today's batch" and each gets its perplexity-proxy score from the
    * broadcast (vocab→micronats, OOV floor) singleton. Scoring is a
    * per-row integer fold (TextAnalysis.scoreWithModel), so in streaming
    * form the stream side never shuffles and the join holds no state —
    * r10's stream-static contract with a COMPUTED static side (an
    * aggregate of the historical corpus, not a dimension table). The
    * model refresh cadence is the deployment's choice: re-fit nightly,
    * stream all day against a constant broadcast. */
  def modelScoreBatch(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val cut = docs.agg(expr("max(doc_id) * 4 div 5").as("cutoff"))
    val hist = docs.crossJoin(broadcast(cut)).filter($"doc_id" < $"cutoff")
    val today = docs.crossJoin(broadcast(cut)).filter($"doc_id" >= $"cutoff")
      .drop("cutoff")
    graft.llm.TextAnalysis.scoreWithModel(
      today, graft.llm.TextAnalysis.unigramModel(hist))
  }

  def r11ModelScore(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    modelScoreBatch(Tables.documents(spark, sfDir)).orderBy($"doc_id")
  }

  /** R14 batch body: the l29 codebook fitted to the HISTORICAL stratum
    * (vec_id < max·4/5 — the r11 cutoff convention), today's vectors
    * assigned against that frozen codebook. Same body defines the
    * streaming semantics: the codebook is driver state fitted once, so
    * the stream side is a stateless projection pass (compiled argmin +
    * the exact-distance expansion) with the codebook riding a broadcast
    * — no shuffle, no watermark, no state, exactly [[modelScoreBatch]]'s
    * scale contract applied to embeddings. */
  def clusterAssignBatch(emb: DataFrame,
      memoSfDir: Option[String] = None): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cut = emb.agg(expr("max(vec_id) * 4 div 5")).head().getLong(0)
    def fit = graft.llm.Clustering.kmeans(emb.filter($"vec_id" < cut))
    // the nightly re-fit is session state, not per-query work: when the
    // frame is a fingerprintable source, the frozen codebook rides the
    // l29 memo (variant "hist45" = the 4/5 historical stratum)
    val codebook = memoSfDir match {
      case Some(dir) => graft.llm.Clustering.ensureCodebook(spark, dir, "hist45")(fit)
      case None => fit
    }
    graft.llm.Clustering.assignWithDist(emb.filter($"vec_id" >= cut), codebook)
  }

  def r14StreamClusterAssign(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    clusterAssignBatch(Tables.embeddings(spark, sfDir), Some(sfDir)).orderBy($"vec_id")
  }

  /** R9 batch form: the l2g signature screen without the corpus split —
    * every doc flags whether an earlier doc (lower id) shares its SimHash
    * signature. Shuffle key = the 16-bit signature, so per-group window
    * state is bounded; same body feeds the oracle and defines the
    * semantics [[SignatureScreenProcessor]] must reproduce per batch. */
  def signatureScreenBatch(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = Window.partitionBy($"simhash")
    graft.llm.Dedup.simhashed(docs)
      .withColumn("first_id", min($"doc_id").over(w))
      .select($"doc_id", $"simhash", ($"doc_id" =!= $"first_id").as("is_dup"))
  }

  /** R9 streaming entry: [[SignatureScreenProcessor]] via
    * `transformWithState` (TimeMode NONE, append) — continuous-ingest
    * duplicate screening with 2^16-bounded state. */
  def signatureScreenStream(docs: org.apache.spark.sql.Dataset[ScreenDoc]):
      org.apache.spark.sql.Dataset[ScreenFlag] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    docs.groupByKey(_.simhash)
      .transformWithState(new SignatureScreenProcessor, TimeMode.None(), OutputMode.Append())
  }

  def r9SignatureScreen(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    signatureScreenBatch(Tables.documents(spark, sfDir)).orderBy($"doc_id")
  }

  /** R12 change feed: every post-cut event under u3's fixture shaping
    * (error counters immutable, every 7th entity's change a delete),
    * UNCOMPACTED — the stream applies each change; compaction is what the
    * state machine does. */
  def mergeChanges(spark: SparkSession, sfDir: String):
      org.apache.spark.sql.Dataset[MergeChange] = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .filter($"ts" >= lit("2024-01-20").cast("timestamp") && $"event_type" =!= "error")
      .select($"user_id", $"event_type", $"event_id", $"value",
        unix_micros($"ts").as("ts_us"),
        when(pmod($"event_id", lit(7L)) === 0, lit("D")).otherwise(lit("U")).as("op"))
      .as[MergeChange]
  }

  /** R12 initial snapshot: u3's base side (latest-wins before the cut,
    * predating signup tracking), typed for initial-state loading. */
  def mergeSnapshot(spark: SparkSession, sfDir: String):
      org.apache.spark.sql.Dataset[SnapshotRow] = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"ts".desc, $"event_id".desc)
    Tables.events(spark, sfDir)
      .filter($"ts" < lit("2024-01-20").cast("timestamp") && $"event_type" =!= "signup")
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"user_id", $"event_type", $"event_id", $"value")
      .as[SnapshotRow]
  }

  /** R12 [EXT] batch form: the CDC apply AUDIT LOG — one row per change
    * in (ts, event_id) order with the action the merge state machine
    * takes: 'delete' for tombstones, else 'update'/'insert' judged
    * against BASE-snapshot membership (not current state — an upsert
    * after an in-stream delete of a base key is still an update of the
    * snapshot, which is how batch MERGE would tag it). In-order replay
    * has no stale rows, so the log is exactly a key-membership left join
    * away from the raw feed: key-only 16-byte build rows through one
    * hash join, no window, no state — at 100 TB the join co-locates free
    * when the snapshot is bucketed by key. [[MergeApplyProcessor]] must
    * emit this identical log for in-order arrival (StreamingSpec), and
    * folding the log into the snapshot must land on u3's merge result —
    * the log IS the merge, row-at-a-time. */
  def mergeLogBatch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val baseKeys = Tables.events(spark, sfDir)
      .filter($"ts" < lit("2024-01-20").cast("timestamp") && $"event_type" =!= "signup")
      .select($"user_id", $"event_type").distinct()
      .withColumn("in_base", lit(true))
    mergeChanges(spark, sfDir).toDF()
      .join(baseKeys, Seq("user_id", "event_type"), "left_outer")
      .select($"user_id", $"event_type", $"event_id", $"value", $"ts_us",
        when($"op" === "D", lit("delete"))
          .when($"in_base".isNotNull, lit("update"))
          .otherwise(lit("insert")).as("action"))
      .orderBy($"user_id", $"event_type", $"ts_us", $"event_id")
  }

  /** R12 streaming entry: changes keyed by entity, snapshot loaded as
    * initial state. */
  def mergeApplyStream(changes: org.apache.spark.sql.Dataset[MergeChange],
      snapshot: org.apache.spark.sql.Dataset[SnapshotRow]):
      org.apache.spark.sql.Dataset[MergeApplied] = {
    import changes.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    changes.groupByKey(c => (c.user_id, c.event_type))
      .transformWithState(new MergeApplyProcessor, TimeMode.None(), OutputMode.Append(),
        snapshot.groupByKey(s => (s.user_id, s.event_type)))
  }

  def r12MergeLog(spark: SparkSession, sfDir: String): DataFrame =
    mergeLogBatch(spark, sfDir)
}
