package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streams

case class Evt(event_id: Long, ts: Timestamp, user_id: Long, event_type: String)

/** Batch/stream equivalence (SURVEY.md §5.2 #5): the same transform body
  * over a MemoryStream must agree with the batch run on identical input. */
class StreamingSpec extends SparkSpecBase {

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private val fixture: Seq[Evt] = Seq(
    Evt(1, ts(0), 1, "click"), Evt(2, ts(10), 1, "view"),
    Evt(3, ts(65), 1, "click"),   // same user, new hour, same session? gap 55m > 30m => new session
    Evt(4, ts(70), 1, "click"),
    Evt(5, ts(5), 2, "click"), Evt(6, ts(50), 2, "view"),
    Evt(7, ts(130), 2, "click"), Evt(8, ts(130), 2, "click"),
    Evt(9, ts(200), 3, "signup"))

  private def runStream(input: Seq[Evt], f: DataFrame => DataFrame,
                        mode: String, extra: Seq[Evt] = Nil): DataFrame = {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Evt]
    val q = f(mem.toDF()).writeStream
      .format("memory").queryName("sink_" + System.nanoTime())
      .outputMode(mode).start()
    mem.addData(input)
    q.processAllAvailable()
    if (extra.nonEmpty) { mem.addData(extra); q.processAllAvailable() }
    val name = q.name
    q.stop()
    spark.table(name)
  }

  private def batchDf(input: Seq[Evt]): DataFrame = {
    val sparkS = spark
    import sparkS.implicits._
    input.toDF()
  }

  test("R2 tumbling counts: stream (complete mode) == batch") {
    val sparkS = spark
    import sparkS.implicits._
    val streamed = runStream(fixture, Streams.tumblingCountsStream, "complete")
      .select($"bucket_s", $"event_type", $"n")
    val batch = Streams.tumblingCounts(batchDf(fixture))
    assert(streamed.except(batch).count() === 0 && batch.except(streamed).count() === 0)
    assert(batch.count() > 0)
  }

  test("R4 session windows: stream session_window == batch lag-gap sessionization") {
    val sparkS = spark
    import sparkS.implicits._
    // flush event far in the future advances the watermark past every session
    val flush = Seq(Evt(99, ts(4000), 99, "flush"))
    val streamed = runStream(fixture, Streams.sessionWindowStream, "append", flush)
      .filter($"user_id" =!= 99)
      .select($"user_id", $"n_events", $"session_start_us", $"session_end_us")
    val batch = Streams.sessionize(batchDf(fixture))
      .select($"user_id", $"n_events", $"session_start_us", $"session_end_us")
    assert(streamed.except(batch).count() === 0 && batch.except(streamed).count() === 0)
    assert(batch.count() === 6) // u1: 2 sessions, u2: 3 sessions, u3: 1
  }

  test("R5 streaming dedup == batch first-per-key") {
    val sparkS = spark
    import sparkS.implicits._
    val streamed = runStream(fixture, Streams.dedupStream, "append", Nil)
      .select($"user_id", $"event_type", unix_micros($"ts").as("first_us"))
    val batch = Streams.dedupBatch(batchDf(fixture))
    assert(streamed.except(batch).count() === 0 && batch.except(streamed).count() === 0)
  }

  test("R6 running progress is a monotone per-user counter") {
    val sparkS = spark
    import sparkS.implicits._
    val prog = Streams.runningProgress(batchDf(fixture))
    val u1 = prog.filter($"user_id" === 1).orderBy($"event_id")
      .collect().map(_.getAs[Long]("events_so_far"))
    assert(u1.toSeq === Seq(1L, 2L, 3L, 4L))
  }

  test("R3 watermark drops late data in append-mode windowed agg") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Evt]
    val agg = mem.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp($"window.start").as("bucket_s"), $"event_type", $"n")
    val q = agg.writeStream.format("memory").queryName("late_drop")
      .outputMode("append").start()
    // batch 1: events in hour 0, then an event far ahead advances the
    // watermark past hour 0's close
    mem.addData(Seq(Evt(1, ts(5), 1, "click"), Evt(2, ts(30), 1, "click"),
      Evt(3, ts(300), 1, "click")))
    q.processAllAvailable()
    // batch 2: a LATE hour-0 event — behind the watermark, must be dropped
    mem.addData(Seq(Evt(4, ts(10), 1, "click"), Evt(5, ts(400), 1, "flush")))
    q.processAllAvailable()
    q.stop()
    val hour0 = spark.table("late_drop").filter($"bucket_s" === 1704067200L)
      .collect()
    // hour-0 window closed with 2 events; the late 3rd never counted
    assert(hour0.map(_.getAs[Long]("n")).toSeq === Seq(2L))
  }

  test("R6 flatMapGroupsWithState: counter survives across micro-batches == batch row_number") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[graft.streaming.StreamEvent]
    val stateful = graft.streaming.Streams.runningProgressStream(mem.toDS())
    val q = stateful.writeStream.format("memory").queryName("r6_state")
      .outputMode("append").start()
    val evts = fixture.map(e => graft.streaming.StreamEvent(e.event_id, e.ts, e.user_id, e.event_type))
    // split mid-user so the counter must resume from the state store
    mem.addData(evts.take(5)); q.processAllAvailable()
    mem.addData(evts.drop(5)); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("r6_state")
      .select($"event_id", $"user_id", $"events_so_far")
    val batch = graft.streaming.Streams.runningProgress(batchDf(fixture))
    assert(streamed.except(batch).count() === 0 && batch.except(streamed).count() === 0)
    assert(streamed.count() === fixture.size)
  }

  test("R8 transformWithState: high-water marks across micro-batches == batch window") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB state store provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val valued = fixture.map(e =>
        graft.streaming.ValuedEvent(e.event_id, e.ts, e.user_id, (e.event_id * 37 % 11).toDouble))
      val mem = MemoryStream[graft.streaming.ValuedEvent]
      val q = graft.streaming.Streams.highWaterStream(mem.toDS())
        .writeStream.format("memory").queryName("r8_state")
        .outputMode("append").start()
      // split mid-user so the running max must resume from RocksDB state
      mem.addData(valued.take(5)); q.processAllAvailable()
      mem.addData(valued.drop(5)); q.processAllAvailable()
      q.stop()
      val streamed = spark.table("r8_state").select($"event_id", $"user_id", $"value")
      val batch = graft.streaming.Streams.newHighWaterMarks(valued.toDF())
      assert(streamed.except(batch).count() === 0 && batch.except(streamed).count() === 0)
      // sanity: strictly increasing per user in event order
      assert(streamed.count() > 0 && streamed.count() < valued.size)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("R8 out-of-order CROSS-BATCH arrival: streaming may suppress what the batch window emits") {
    // Documents the chosen semantics (HighWaterProcessor docstring): rows
    // are sorted by ts only WITHIN a micro-batch, so an event arriving in
    // a later batch with an earlier ts is folded against state that
    // already includes later-ts values. Here user 1's highest value
    // arrives first (batch 1), then an earlier-ts lower value (batch 2):
    // the batch window emits both (the lower one precedes in ts order);
    // the stream emits only the first — a strict subset, never a wrong
    // extra row.
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def ev(id: Long, s: String, v: Double) =
        graft.streaming.ValuedEvent(id, java.sql.Timestamp.valueOf(s), 1L, v)
      val late = ev(11L, "2024-01-01 00:00:01", 5.0)  // earlier ts, lower value
      val first = ev(12L, "2024-01-01 00:00:02", 9.0) // later ts, the running max
      val mem = MemoryStream[graft.streaming.ValuedEvent]
      val q = graft.streaming.Streams.highWaterStream(mem.toDS())
        .writeStream.format("memory").queryName("r8_ooo")
        .outputMode("append").start()
      mem.addData(Seq(first)); q.processAllAvailable()
      mem.addData(Seq(late)); q.processAllAvailable()
      q.stop()
      val streamed = spark.table("r8_ooo").select($"event_id").as[Long].collect().toSet
      val batch = graft.streaming.Streams.newHighWaterMarks(Seq(first, late).toDF())
        .select($"event_id").as[Long].collect().toSet
      assert(batch === Set(11L, 12L), s"batch window should emit both: $batch")
      assert(streamed === Set(12L), s"stream should suppress the late arrival: $streamed")
      assert(streamed.subsetOf(batch), "stream emitted a row the batch window would not")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("R7 stream-stream interval join == batch inequality join") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = fixture.filter(_.event_type == "click") // reuse clicks as the left side
      .map(e => e.copy(event_type = "purchase"))
    val signups = fixture.filter(_.event_type == "view")    // views as the right side
      .map(e => e.copy(event_type = "signup"))
    val memP = MemoryStream[Evt]; val memS = MemoryStream[Evt]
    val joined = graft.streaming.Streams.purchaseSignupJoin(memP.toDF(), memS.toDF())
    val q = joined.writeStream.format("memory").queryName("r7_join")
      .outputMode("append").start()
    memS.addData(signups); memP.addData(purchases)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("r7_join")
      .select($"purchase_id", $"signup_id", $"lead_us")
    val batch = graft.streaming.Streams.purchaseSignupJoin(
      batchDf(purchases), batchDf(signups))
    assert(streamed.except(batch).count() === 0 && batch.except(streamed).count() === 0)
    assert(batch.count() > 0)
  }

  test("R13 stream-stream LEFT OUTER join converges to the batch left join") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = fixture.filter(_.event_type == "click")
      .map(e => e.copy(event_type = "purchase"))
    val signups = fixture.filter(_.event_type == "view")
      .map(e => e.copy(event_type = "signup"))
    // watermark-advancing sentinels, one per stream, far past every join
    // window: without them the null-padded rows for the latest purchases
    // stay buffered in the join state (outer results emit only once the
    // watermark passes the candidate window — the semantics under test)
    val flushP = Evt(9001, ts(24 * 60), 999, "purchase")
    val flushS = Evt(9002, ts(24 * 60), 998, "signup")
    val memP = MemoryStream[Evt]; val memS = MemoryStream[Evt]
    val joined = graft.streaming.Streams.purchaseSignupLeftJoin(memP.toDF(), memS.toDF())
    val q = joined.writeStream.format("memory").queryName("r13_join")
      .outputMode("append").start()
    memS.addData(signups); memP.addData(purchases)
    q.processAllAvailable()
    memS.addData(flushS); memP.addData(flushP)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("r13_join")
      .filter($"purchase_id" < 9000)
      .select($"purchase_id", $"signup_id", $"lead_us")
    val batch = graft.streaming.Streams.purchaseSignupLeftJoin(
      batchDf(purchases), batchDf(signups))
    assert(streamed.except(batch).count() === 0 && batch.except(streamed).count() === 0)
    // the outer semantics actually fired: at least one null-padded row
    assert(streamed.filter($"signup_id".isNull).count() > 0)
    assert(batch.count() > streamed.filter($"signup_id".isNull).count())
  }

  test("R6 checkpoint restart: keyed state survives a query restart, no reprocessing") {
    // The failure-recovery contract a 100 TB deployment actually relies
    // on: a NEW query instance over the same checkpoint must (a) not
    // re-emit rows whose offsets were committed and (b) resume the
    // per-user counter from the state store, not from zero. File source +
    // JSON rows = a replayable source, which is what makes restart
    // semantics well-defined (MemoryStream is not replayable).
    val sparkS = spark
    import sparkS.implicits._
    val root = java.nio.file.Files.createTempDirectory("r6_restart")
    val srcDir = root.resolve("src"); java.nio.file.Files.createDirectories(srcDir)
    val ckpt = root.resolve("ckpt").toString
    val outDir = root.resolve("out").toString // parquet sink: supports recovery
    def writeBatch(name: String, rows: Seq[graft.streaming.StreamEvent]): Unit = {
      val lines = rows.map { e =>
        s"""{"event_id":${e.event_id},"ts":"${e.ts}","user_id":${e.user_id},"event_type":"${e.event_type}"}"""
      }.mkString("\n")
      java.nio.file.Files.write(srcDir.resolve(name), lines.getBytes("UTF-8"))
    }
    def startQuery() = {
      val events = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[graft.streaming.StreamEvent]].schema)
        .json(srcDir.toString).as[graft.streaming.StreamEvent]
      Streams.runningProgressStream(events).writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
    }
    def sinkRows(): Seq[(Long, Long, Long)] =
      spark.read.parquet(outDir).as[graft.streaming.ProgressUpdate].collect()
        .sortBy(_.event_id).map(p => (p.event_id, p.user_id, p.events_so_far)).toSeq
    // life 1: two events for user 1, one for user 2
    writeBatch("b1.json", Seq(
      graft.streaming.StreamEvent(1, ts(0), 1, "click"), graft.streaming.StreamEvent(2, ts(1), 1, "view"),
      graft.streaming.StreamEvent(3, ts(2), 2, "click")))
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    assert(sinkRows() === Seq((1L, 1L, 1L), (2L, 1L, 2L), (3L, 2L, 1L)))
    // life 2: same checkpoint, fresh query instance, one new file
    writeBatch("b2.json", Seq(
      graft.streaming.StreamEvent(4, ts(3), 1, "click"), graft.streaming.StreamEvent(5, ts(4), 3, "signup")))
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()
    // five rows TOTAL (batch-1 offsets committed in life 1 were not
    // reprocessed — a rerun would have produced 8), and user 1's counter
    // RESUMES at 3: the state store carried it across the restart
    assert(sinkRows() === Seq((1L, 1L, 1L), (2L, 1L, 2L), (3L, 2L, 1L),
      (4L, 1L, 3L), (5L, 3L, 1L)))
  }

  test("R10 stream-static enrich: stream == batch, dimension broadcast, misses tolerated") {
    val sparkS = spark
    import sparkS.implicits._
    val customer = Seq((1L, "Alice", "BUILDING", 10L), (2L, "Bob", "AUTOMOBILE", 20L))
      .toDF("c_custkey", "c_name", "c_mktsegment", "c_nationkey")
    val nation = Seq((10L, "FRANCE"), (20L, "KENYA")).toDF("n_nationkey", "n_name")
    val streamed = runStream(fixture,
      df => Streams.staticEnrich(df, customer, nation), "append",
      extra = fixture.take(0))
      .select($"event_id", $"user_id", $"event_type", $"c_name", $"segment", $"nation")
    val batch = Streams.staticEnrich(batchDf(fixture), customer, nation)
    assert(streamed.except(batch).count() === 0 && batch.except(streamed).count() === 0)
    // left join: every event survives; user 3 has no dimension row
    assert(batch.count() === fixture.size)
    assert(batch.filter($"user_id" === 3).select($"c_name").head().getString(0) === "Unknown")
    // the stateless scale contract: the dimension broadcasts, so the
    // stream side is never shuffled and the join keeps no watermark state
    val phys = batch.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$phys")
  }

  test("R11 incremental model scoring: stream == batch, constant broadcast model, stateless append") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the batch body's split: model fitted on the historical corpus, then
    // "today's" docs streamed against the CONSTANT broadcast model
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val cutoff = docs.agg(expr("max(doc_id) * 4 div 5")).head().getLong(0)
    val hist = docs.filter($"doc_id" < cutoff)
    val today = docs.filter($"doc_id" >= cutoff).as[(Long, String)].collect().toSeq
    assert(today.size >= 2, "fixture must leave a non-trivial today batch")
    val model = graft.llm.TextAnalysis.unigramModel(hist)
    val mem = MemoryStream[(Long, String)]
    val name = "sink_r11_" + System.nanoTime()
    val q = graft.llm.TextAnalysis
      .scoreWithModel(mem.toDF().toDF("doc_id", "text"), model)
      .writeStream.format("memory").queryName(name)
      // append with NO watermark: scoring is stateless by construction —
      // an aggregation over the stream would be rejected here
      .outputMode("append").start()
    mem.addData(today.take(today.size / 2)); q.processAllAvailable()
    mem.addData(today.drop(today.size / 2)); q.processAllAvailable()
    q.stop()
    val streamed = spark.table(name)
    val batch = Streams.modelScoreBatch(docs)
    assert(streamed.except(batch).count() === 0 && batch.except(streamed).count() === 0)
    assert(batch.count() === today.size)
    // scale contract: the model rides a broadcast, never an exchange
    val phys = batch.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastNestedLoopJoin"), s"model not broadcast:\n$phys")
  }

  test("R14 streaming cluster assignment: stream == batch, frozen broadcast codebook, stateless append") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the batch body's split: codebook fitted to the historical stratum,
    // then "today's" vectors streamed against the FROZEN broadcast
    // codebook — r11's incremental-scoring contract on embeddings
    val emb = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
    val cut = emb.agg(expr("max(vec_id) * 4 div 5")).head().getLong(0)
    val today = emb.filter($"vec_id" >= cut)
      .as[(Long, Array[Float])].collect().toSeq
    assert(today.size >= 2, "fixture must leave a non-trivial today batch")
    val cent = graft.llm.Clustering.kmeans(emb.filter($"vec_id" < cut))
    val mem = MemoryStream[(Long, Array[Float])]
    val name = "sink_r14_" + System.nanoTime()
    val q = graft.llm.Clustering
      .assignWithDist(mem.toDF().toDF("vec_id", "embedding"), cent)
      .writeStream.format("memory").queryName(name)
      // append with NO watermark: assignment is a stateless projection
      .outputMode("append").start()
    mem.addData(today.take(today.size / 2)); q.processAllAvailable()
    mem.addData(today.drop(today.size / 2)); q.processAllAvailable()
    q.stop()
    val streamed = spark.table(name)
    val batch = Streams.clusterAssignBatch(emb)
    assert(streamed.except(batch).count() === 0 && batch.except(streamed).count() === 0)
    assert(batch.count() === today.size.toLong)
    // scale contract: the codebook rides a broadcast, never an exchange
    val phys = batch.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastNestedLoopJoin"), s"codebook not broadcast:\n$phys")
  }

  test("R12 merge apply: snapshot as initial state, stream log == batch log, fold == u3") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // in-order feed: globally sorted by (ts_us, event_id), split
      // mid-stream so every key's state must survive the batch boundary
      val changes = Streams.mergeChanges(spark, sfDir).collect()
        .sortBy(c => (c.ts_us, c.event_id)).toSeq
      assert(changes.size > 20, "fixture must carry a real change feed")
      val mem = MemoryStream[graft.streaming.MergeChange]
      val name = "sink_r12_" + System.nanoTime()
      val q = Streams.mergeApplyStream(mem.toDS(), Streams.mergeSnapshot(spark, sfDir))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      mem.addData(changes.take(changes.size / 2)); q.processAllAvailable()
      mem.addData(changes.drop(changes.size / 2)); q.processAllAvailable()
      q.stop()
      val streamed = spark.table(name)
      // 1. in-order arrival → zero stale rows, and the emitted audit log
      //    is exactly the batch log (same rows, same action tags)
      val batchLog = Streams.mergeLogBatch(spark, sfDir)
      assert(streamed.filter($"action" === "stale").count() === 0)
      assert(streamed.except(batchLog).count() === 0
        && batchLog.except(streamed).count() === 0)
      // 2. folding the log over the snapshot = u3's merge result: per key
      //    take the LAST applied action; delete → gone, else the change
      //    row; untouched snapshot keys carry
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id", $"event_type").orderBy($"ts_us".desc, $"event_id".desc)
      val lastPerKey = streamed.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      val folded = lastPerKey.filter($"action" =!= "delete")
        .select($"user_id", $"event_type", $"event_id", $"value", $"action")
        .unionByName(
          Streams.mergeSnapshot(spark, sfDir).toDF()
            .join(streamed.select($"user_id", $"event_type").distinct(),
              Seq("user_id", "event_type"), "left_anti")
            .withColumn("action", lit("carry")))
      val u3 = graft.operators.Quality.u3MergeUpsert(spark, sfDir)
      assert(folded.except(u3).count() === 0 && u3.except(folded).count() === 0)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("R12 out-of-order arrival: an older cross-batch change is stale, state unharmed") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import graft.streaming.{MergeChange, SnapshotRow}
      val snap = Seq(SnapshotRow(1L, "a", 100L, 1.0)).toDS()
      val mem = MemoryStream[MergeChange]
      val name = "sink_r12_ooo_" + System.nanoTime()
      val q = Streams.mergeApplyStream(mem.toDS(), snap)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      // batch 1: a delete at t=2000 tombstones the base row
      mem.addData(Seq(MergeChange(1L, "a", 200L, 2.0, 2000L, "D")))
      q.processAllAvailable()
      // batch 2: an UPSERT that happened EARLIER (t=1000) arrives late —
      // it must not resurrect the tombstoned key
      mem.addData(Seq(MergeChange(1L, "a", 150L, 9.9, 1000L, "U")))
      q.processAllAvailable()
      // batch 3: a genuinely newer upsert re-creates the key as an update
      // (base membership, not current emptiness, decides the tag)
      mem.addData(Seq(MergeChange(1L, "a", 300L, 3.0, 3000L, "U")))
      q.processAllAvailable()
      q.stop()
      val acts = spark.table(name).orderBy($"ts_us")
        .select($"ts_us", $"action").collect().map(r => (r.getLong(0), r.getString(1)))
      assert(acts.toSeq === Seq((1000L, "stale"), (2000L, "delete"), (3000L, "update")))
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("R1 micro-batch ingest: foreachBatch sees every row exactly once") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Evt]
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val q = mem.toDF().writeStream
      .foreachBatch { (df: DataFrame, _: Long) => seen.addAndGet(df.count()); () }
      .start()
    mem.addData(fixture.take(4)); q.processAllAvailable()
    mem.addData(fixture.drop(4)); q.processAllAvailable()
    q.stop()
    assert(seen.get() === fixture.size)
  }

  test("R9 signature screen: stream equals batch, duplicates detected ACROSS micro-batches") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // real signatures from the fixture corpus, fed in doc_id order (the
      // processor's documented parity precondition)
      val docs = graft.streaming.Streams
        .signatureScreenBatch(Tables.documents(spark, "/root/testdata/sf0.01"))
        .select($"doc_id", $"simhash").as[graft.streaming.ScreenDoc]
        .collect().sortBy(_.doc_id).toSeq
      val mem = MemoryStream[graft.streaming.ScreenDoc]
      val q = graft.streaming.Streams.signatureScreenStream(mem.toDS())
        .writeStream.format("memory").queryName("r9_screen")
        .outputMode("append").start()
      // split so colliding signatures land in DIFFERENT batches: the dup
      // flag must come from RocksDB state, not the in-batch sort
      val (b1, b2) = docs.splitAt(docs.size / 2)
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      q.stop()
      val streamed = spark.table("r9_screen")
      val batch = graft.streaming.Streams
        .signatureScreenBatch(Tables.documents(spark, "/root/testdata/sf0.01"))
      assert(streamed.except(batch).count() === 0 && batch.except(streamed).count() === 0)
      // non-degenerate: some batch-2 doc was flagged against batch-1 state
      val b1Sigs = b1.map(_.simhash).toSet
      val crossBatch = b2.filter(d => b1Sigs.contains(d.simhash)).map(_.doc_id).toSet
      assert(crossBatch.nonEmpty)
      val flagged = streamed.filter($"is_dup").select($"doc_id").as[Long].collect().toSet
      assert(crossBatch.subsetOf(flagged))
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
