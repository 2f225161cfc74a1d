package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.operators.{Etl, LakeQueries, TableLog}

/** s11's claims SQL can't see: old versions stay physically readable after
  * a rewrite retires their files, a snapshot scans EXACTLY the manifest's
  * file list (stray siblings invisible), and a crashed writer's staging
  * tmp never surfaces as a version. */
class TimeTravelSpec extends SparkSpecBase {

  private def table = s"${Etl.scratch(spark)}/s11_table"

  private def fs = new Path(table)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("s11: rewrite retires files logically; every version keeps reading") {
    import spark.implicits._
    val retired = LakeQueries.buildFixture(spark, sfDir, table)
    assert(retired.nonEmpty && retired.forall(_.contains("/click/")))
    // time travel's precondition: the retired files are still on disk
    retired.foreach(r => assert(fs.exists(new Path(s"$table/$r")),
      s"rewrite must not delete $r — v1/v2 still reference it"))
    // the v3 scan reads none of them; the v2 scan still reads them
    val files3 = TableLog.readAsOf(spark, table, 3).inputFiles.toSeq
    val files2 = TableLog.readAsOf(spark, table, 2).inputFiles.toSeq
    retired.foreach { r =>
      assert(!files3.exists(_.endsWith(r)), s"v3 scan still reads retired $r")
      assert(files2.exists(_.endsWith(r)), s"v2 scan no longer reads $r")
    }
    assert(files3.exists(_.contains("/data/v3/click/")))
    // version row sets replay from the commit rules on the source
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"event_type", $"value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    def ids(v: Int): Set[Long] = v match {
      case 1 => ev.collect { case (id, _, _) if id % 4 != 3 => id }.toSet
      case 2 => ev.map(_._1).toSet
      case 3 => ev.collect {
        case (id, t, x) if t != "click" || x >= 100.0 => id }.toSet
    }
    (1 to 3).foreach { v =>
      val got = TableLog.readAsOf(spark, table, v)
        .select($"event_id").collect().map(_.getLong(0)).toSet
      assert(got === ids(v), s"version $v row set drifted")
    }
  }

  test("s11: vacuum drops only files no retained version references") {
    LakeQueries.buildFixture(spark, sfDir, table)
    val retired = TableLog.liveFiles(spark, table, 2).filter(_.contains("/click/"))
    val keep3 = TableLog.readAsOf(spark, table, 3).count()
    val dead = TableLog.vacuum(spark, table, retainFrom = 3)
    // the GC horizon: every retired click file is physically gone,
    // the retained snapshot reads bit-for-bit the same
    retired.foreach { r =>
      assert(dead.contains(r), s"vacuum missed retired $r")
      assert(!fs.exists(new Path(s"$table/$r")))
    }
    assert(TableLog.readAsOf(spark, table, 3).count() === keep3)
    TableLog.liveFiles(spark, table, 3).foreach(r =>
      assert(fs.exists(new Path(s"$table/$r")), s"vacuum ate live $r"))
  }

  test("r15: a real stream commits per micro-batch; re-delivery orphans get vacuumed") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t = s"${Etl.scratch(spark)}/r15_stream_table"
    fs.delete(new Path(t), true)
    val evts = Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type")
      .as[Evt].collect().toSeq
    val mem = MemoryStream[Evt]
    val q = mem.toDS().toDF().writeStream
      .foreachBatch(TableLog.commitBatch(t, "spec-stream") _)
      .outputMode("append").start()
    try {
      mem.addData(evts.take(40)); q.processAllAvailable()
      mem.addData(evts.drop(40)); q.processAllAvailable()
    } finally q.stop()
    // one commit per micro-batch, whole-batch visibility at each version
    assert(TableLog.currentVersion(spark, t) === 2)
    assert(TableLog.readAsOf(spark, t, 1).count() === 40L)
    assert(TableLog.readAsOf(spark, t, 2).count() === evts.size.toLong)
    // the worst-case re-delivery: fully re-staged, stopped at the gate
    val orphans = TableLog.stage(spark, t,
      spark.createDataset(evts.take(40)).toDF(), "data/spec-stream/b0-redo")
    assert(TableLog.commitIfAbsent(spark, t, "spec-stream", 0L, orphans) === -1)
    assert(TableLog.readAsOf(spark, t, 2).count() === evts.size.toLong)
    // vacuum clears the orphans without touching any retained version
    val dead = TableLog.vacuum(spark, t, retainFrom = 1)
    orphans.foreach(a => assert(dead.contains(a.path) &&
      !fs.exists(new Path(s"$t/${a.path}"))))
    assert(TableLog.readAsOf(spark, t, 1).count() === 40L)
    assert(TableLog.readAsOf(spark, t, 2).count() === evts.size.toLong)
  }

  test("s12: the logged schema gates the column in both directions") {
    import spark.implicits._
    val t = s"${Etl.scratch(spark)}/s12_spec_table"
    LakeQueries.buildFixture(spark, sfDir, t)
    val pre = (1 to 3).map(v => TableLog.readAsOf(spark, t, v).count())
    LakeQueries.evolveFixture(spark, sfDir, t)
    // retroactive invisibility: v1-v3 present the ORIGINAL schema even
    // though the log now knows the column
    (1 to 3).foreach { v =>
      val df = TableLog.readAsOf(spark, t, v)
      assert(!df.columns.contains("source_tag"), s"v$v leaked the new column")
      assert(df.count() === pre(v - 1))
    }
    // under the v4 schema: pre-v4 files null-fill, the backfilled error
    // partition carries real tags, and no non-error row is tagged
    val v4 = TableLog.readAsOf(spark, t, 4)
    assert(v4.columns.contains("source_tag"))
    val byType = v4.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), count($"source_tag").as("tagged"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byType("error")._1 === byType("error")._2, "error rows must all tag")
    (byType - "error").foreach { case (tpe, (_, tagged)) =>
      assert(tagged === 0L, s"$tpe rows tagged under null-fill") }
    // the tag itself replays from the rule
    val bad = v4.filter($"event_type" === "error" &&
      $"source_tag" =!= concat($"event_type", lit("-"),
        pmod($"user_id", lit(3L)).cast("string"))).count()
    assert(bad === 0L)
  }

  test("s12b: column drop is logical and O(1) — reads project it away, time travel keeps it, no byte moves") {
    import spark.implicits._
    val t = s"${Etl.scratch(spark)}/s12b_spec_table"
    LakeQueries.buildFixture(spark, sfDir, t)
    val vPre = TableLog.currentVersion(spark, t)
    val before = TableLog.liveFiles(spark, t, vPre)
    val sig = before.map { r =>
      val st = fs.getFileStatus(new Path(s"$t/$r"))
      r -> (st.getLen, st.getModificationTime)
    }.toMap
    val vDrop = TableLog.dropColumn(spark, t, "value")
    assert(vDrop === vPre + 1)
    // logical: same live files, byte-identical on disk
    val after = TableLog.liveFiles(spark, t, vDrop)
    assert(after === before)
    after.foreach { r =>
      val st = fs.getFileStatus(new Path(s"$t/$r"))
      assert((st.getLen, st.getModificationTime) === sig(r),
        s"dropColumn rewrote $r")
    }
    // projected away from the drop version on; time travel below keeps it
    val dropped = TableLog.readAsOf(spark, t, vDrop)
    assert(!dropped.columns.contains("value"))
    assert(dropped.count() === TableLog.readAsOf(spark, t, vPre).count())
    assert(TableLog.readAsOf(spark, t, vPre).columns.contains("value"))
    // the narrowed schema carries forward through later commits
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type")
      .filter($"event_type" === "signup").limit(7)
      .withColumn("event_id", $"event_id" + 50000000L)
    TableLog.commit(spark, t, TableLog.stage(spark, t, ev, "data/postdrop"))
    val head = TableLog.currentVersion(spark, t)
    assert(!TableLog.readAsOf(spark, t, head).columns.contains("value"))
    // a CDF window crossing the drop unions cleanly (early slices carry
    // the column, later ones don't)
    val feed = graft.operators.Lakehouse.cdfRead(spark, t, 0, head, "event_id")
    assert(feed.filter($"_commit_version" === head).count() === 7L)
    // guards: unknown column, last column
    intercept[IllegalArgumentException] {
      TableLog.dropColumn(spark, t, "no_such")
    }
  }

  test("s12b: a column a live DV deletes on cannot drop until OPTIMIZE absorbs the DV; re-adding a dropped name resurfaces old values (the documented by-name hazard)") {
    import spark.implicits._
    val t = s"${Etl.scratch(spark)}/s12b_dv_table"
    fs.delete(new Path(t), true)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    TableLog.commit(spark, t, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stageWithStats(spark, t, ev, "data/v1", Seq("event_id"), 4))
    graft.operators.Lakehouse.morDelete(spark, t,
      ev.filter($"event_type" === "click" && $"value" < 100.0)
        .select($"event_id"))
    val e = intercept[IllegalArgumentException] {
      TableLog.dropColumn(spark, t, "event_id")
    }
    assert(e.getMessage.contains("deletion vector"))
    // absorb, then the drop goes through
    graft.operators.Lakehouse.compactCommit(spark, t, 2)
    TableLog.dropColumn(spark, t, "event_id")
    val head = TableLog.currentVersion(spark, t)
    assert(!TableLog.readAsOf(spark, t, head).columns.contains("event_id"))
    // the resurface hazard, pinned as DOCUMENTED semantics: this log maps
    // columns BY NAME, so re-adding a dropped name makes surviving files'
    // old bytes visible again — the reason production formats carry
    // column mapping (stable IDs), the exact future feature the S21 gate
    // would declare
    val t2 = s"${Etl.scratch(spark)}/s12b_resurface_table"
    fs.delete(new Path(t2), true)
    TableLog.commit(spark, t2, TableLog.Action("schema", ev.schema.json) +:
      TableLog.stage(spark, t2, ev, "data/v1"))
    TableLog.dropColumn(spark, t2, "value")
    assert(!TableLog.readAsOf(spark, t2, 2).columns.contains("value"))
    TableLog.commit(spark, t2,
      Seq(TableLog.Action("schema", ev.schema.json))) // re-add by name
    val back = TableLog.readAsOf(spark, t2, 3)
    assert(back.columns.contains("value"))
    assert(back.filter($"value".isNotNull).count() === ev.count(),
      "re-added name must resurface the surviving files' old values")
  }

  test("mv1: every refresh scans only its window's files and lands on the direct aggregate") {
    import spark.implicits._
    LakeQueries.buildFixture(spark, sfDir, table)
    // the (2,3] window touched ONLY click files (retired + rewrite): the
    // delta scan must never read an untouched partition's bytes
    val scanned = LakeQueries.mvDelta(spark, table, 2, 3).inputFiles.toSeq
    assert(scanned.nonEmpty && scanned.forall(_.contains("/click/")),
      s"delta refresh scanned outside its window: $scanned")
    // cold start + two incremental refreshes, each checked against the
    // direct aggregate over that version's snapshot
    var state = LakeQueries.mvSlice(spark, table, Seq.empty, 1L)
    (1 to 3).foreach { v =>
      state = LakeQueries.mvMerge(state, LakeQueries.mvDelta(spark, table, v - 1, v))
      val got = state.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val direct = TableLog.readAsOf(spark, table, v)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_rows"), sum($"event_id").as("id_sum"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === direct, s"view drifted from snapshot at v$v")
    }
  }

  test("r16: a live stream's view refreshes from each batch's delta only") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t = s"${Etl.scratch(spark)}/r16_stream_table"
    fs.delete(new Path(t), true)
    val evts = Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type")
      .as[Evt].collect().toSeq
    var state = LakeQueries.mvSlice(spark, t, Seq.empty, 1L)
    val mem = MemoryStream[Evt]
    val q = mem.toDS().toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
        TableLog.commitBatch(t, "view-stream")(df, bid)
        val v = TableLog.currentVersion(spark, t)
        val delta = LakeQueries.mvDelta(spark, t, v - 1, v)
        // per-batch cost: the refresh reads this commit's files, nothing else
        assert(delta.inputFiles.nonEmpty &&
          delta.inputFiles.forall(_.contains(s"/b$bid-")),
          s"batch $bid refresh read outside its delta")
        state = LakeQueries.mvMerge(state, delta).localCheckpoint()
      }
      .outputMode("append").start()
    try {
      mem.addData(evts.take(40)); q.processAllAvailable()
      mem.addData(evts.drop(40)); q.processAllAvailable()
    } finally q.stop()
    val got = state.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val direct = evts.groupBy(_.event_type).map { case (tpe, es) =>
      (tpe, es.size.toLong, es.map(_.event_id).sum)
    }.toSet
    assert(got === direct, "streamed view drifted from the direct aggregate")
  }

  test("table log: random commit sequences replay against an independent model") {
    // model-based check: fold each committed manifest over a plain
    // ordered replay (independent of LinkedHashSet), assert every
    // version's live set, the txn gate, and that vacuum keeps EXACTLY
    // the union of retained versions' files
    val fnames = (0 until 10).map(i => s"data/f$i.parquet")
    for (iter <- 0 until 8) {
      val t = s"${Etl.scratch(spark)}/log_prop_$iter"
      fs.delete(new Path(t), true)
      val rnd = new scala.util.Random(1234 + iter)
      var live = Set.empty[String]
      var txns = Set.empty[Long]
      var versions = Vector.empty[Set[String]]
      def touch(a: TableLog.Action): Unit =
        if (a.op == "add") fs.create(new Path(s"$t/${a.path}"), true).close()
      // seed commit so data/ exists, then 3-7 random commits
      val seed = Seq(TableLog.Action("add", fnames(0)), TableLog.Action("add", fnames(1)))
      TableLog.commit(spark, t, seed); seed.foreach(touch)
      live = Set(fnames(0), fnames(1)); versions :+= live
      (0 until 3 + rnd.nextInt(5)).foreach { _ =>
        val acts = (0 to rnd.nextInt(2)).map { _ =>
          val f = fnames(rnd.nextInt(fnames.size))
          TableLog.Action(if (rnd.nextBoolean()) "add" else "remove", f)
        }
        acts.foreach(touch) // writers stage before the gate decides
        if (rnd.nextInt(3) == 0) {
          val bid = rnd.nextInt(3).toLong
          val v = TableLog.commitIfAbsent(spark, t, "prop", bid, acts)
          if (txns.contains(bid)) assert(v === -1, s"txn $bid committed twice")
          else {
            assert(v === versions.size + 1); txns += bid
            acts.foreach(a => live = if (a.op == "add") live + a.path else live - a.path)
            versions :+= live
          }
        } else {
          TableLog.commit(spark, t, acts)
          acts.foreach(a => live = if (a.op == "add") live + a.path else live - a.path)
          versions :+= live
        }
      }
      assert(TableLog.currentVersion(spark, t) === versions.size)
      versions.zipWithIndex.foreach { case (exp, i) =>
        assert(TableLog.liveFiles(spark, t, i + 1).toSet === exp, s"v${i + 1} drifted")
      }
      val retainFrom = 1 + rnd.nextInt(versions.size)
      val keep = (retainFrom to versions.size).flatMap(v => versions(v - 1)).toSet
      TableLog.vacuum(spark, t, retainFrom)
      val remaining = fnames.filter(f0 => fs.exists(new Path(s"$t/$f0"))).toSet
      assert(remaining === keep, s"vacuum kept $remaining, model says $keep")
    }
  }

  test("commit: a competing writer's published manifest is never clobbered") {
    LakeQueries.buildFixture(spark, sfDir, table)
    // a competing writer publishes v4 while we prepare our commit: the
    // publish re-reads the log, so we land at v5 and v4 stays
    // byte-identical — no version is ever overwritten (the no-clobber
    // rename in publish() narrows the remaining read-to-rename window on
    // a local FS and closes it on HDFS, where Rename.NONE is atomic)
    val out = fs.create(new Path(table, "_log/v4.log"), false)
    out.write("add\tdata/winner/file.parquet\n".getBytes("UTF-8")); out.close()
    val v = TableLog.commit(spark, table,
      Seq(TableLog.Action("add", "data/loser/file.parquet")))
    assert(v === 5)
    val at4 = TableLog.liveFiles(spark, table, 4)
    assert(at4.contains("data/winner/file.parquet") &&
      !at4.contains("data/loser/file.parquet"),
      "the later commit leaked into the winner's version")
    val at5 = TableLog.liveFiles(spark, table, 5)
    assert(at5.contains("data/winner/file.parquet") &&
      at5.contains("data/loser/file.parquet"))
  }

  test("commit: two writers racing to the SAME version — exactly one wins, loser errors") {
    // the true lost-race shape: both writers read currentVersion=3 and
    // race to publish v4. The winner's manifest must survive byte-
    // identical and the loser must get an ERROR (never a silent
    // overwrite). publish() exists so this interleaving is drivable
    // without thread timing: the competitor lands v4 first, then our
    // publish targets the same version number.
    LakeQueries.buildFixture(spark, sfDir, table)
    TableLog.publish(spark, table, 4,
      Seq(TableLog.Action("add", "data/winner/file.parquet")))
    val e = intercept[TableLog.CommitConflict] {
      TableLog.publish(spark, table, 4,
        Seq(TableLog.Action("add", "data/loser/file.parquet")))
    }
    assert(e.getMessage.contains("lost the publish race"), s"wrong error: $e")
    val at4 = TableLog.liveFiles(spark, table, 4)
    assert(at4.contains("data/winner/file.parquet") &&
      !at4.contains("data/loser/file.parquet"),
      "the losing publish clobbered or leaked into the winner's manifest")
    // the loser's staging tmp never becomes a version
    assert(TableLog.currentVersion(spark, table) === 4)
  }

  test("publish: a loser that lost the race leaves no dot-tmp in _log") {
    // the exclusive write stages to an attempt-unique dot-tmp; a lost
    // race deletes it, so a contended log does not collect one stray tmp
    // per lost attempt until the next vacuum
    LakeQueries.buildFixture(spark, sfDir, table)
    TableLog.publish(spark, table, 4,
      Seq(TableLog.Action("add", "data/winner/file.parquet")))
    intercept[TableLog.CommitConflict] {
      TableLog.publish(spark, table, 4,
        Seq(TableLog.Action("add", "data/loser/file.parquet")))
    }
    val tmps = fs.listStatus(new Path(table, "_log")).map(_.getPath.getName)
      .filter(n => n.startsWith(".") && n.contains(".tmp"))
    assert(tmps.isEmpty, s"publish left staging files: ${tmps.mkString(", ")}")
  }

  test("commitWithRetry: a loser re-reads and lands after the winner, never over it") {
    // the optimistic-concurrency loop driven deterministically: a
    // competitor publishes INSIDE the read-to-publish window for the
    // first three attempts (the beforePublish seam), so our writer loses
    // three races and must land at the fourth version — with every
    // competitor manifest intact and its own actions committed exactly
    // once. Blind file-level appends commute, so no rebase is needed;
    // that commutativity is the documented precondition.
    LakeQueries.buildFixture(spark, sfDir, table) // versions 1..3
    var raced = 0
    val v = TableLog.commitWithRetry(spark, table,
      Seq(TableLog.Action("add", "data/mine/file.parquet")),
      beforePublish = next => if (raced < 3) {
        raced += 1
        TableLog.publish(spark, table, next,
          Seq(TableLog.Action("add", s"data/competitor/c$raced.parquet")))
      })
    assert(raced === 3)
    assert(v === 7, s"expected to land at v7 after three lost races, got v$v")
    // every competitor manifest survived byte-intact and in order
    (1 to 3).foreach { i =>
      assert(TableLog.liveFiles(spark, table, 3 + i)
        .contains(s"data/competitor/c$i.parquet"))
      assert(!TableLog.liveFiles(spark, table, 3 + i)
        .contains("data/mine/file.parquet"),
        s"loser's actions leaked into v${3 + i}")
    }
    val live = TableLog.liveFiles(spark, table, 7)
    assert(live.count(_ == "data/mine/file.parquet") === 1)
    // a storm past maxAttempts surfaces as an error, not a spin
    val e = intercept[IllegalStateException] {
      TableLog.commitWithRetry(spark, table,
        Seq(TableLog.Action("add", "data/mine/never.parquet")),
        maxAttempts = 2,
        beforePublish = next => TableLog.publish(spark, table, next,
          Seq(TableLog.Action("add", s"data/storm/s$next.parquet"))))
    }
    assert(e.getMessage.contains("after 2 attempts"), e.getMessage)
    assert(!TableLog.liveFiles(spark, table,
      TableLog.currentVersion(spark, table)).contains("data/mine/never.parquet"))
  }

  test("commitIfAbsent: the txn gate re-checks per attempt — a racing duplicate lands ONCE") {
    import spark.implicits._
    // two writers re-deliver the SAME (streamId, batchId): the competitor
    // lands the marker inside our read-to-publish window; our retry must
    // re-check the gate and back off with -1 — without the per-attempt
    // re-check the batch would commit twice (the exactly-once hole the
    // interleaved gate closes).
    val t = s"${Etl.scratch(spark)}/txn_race_table"
    fs.delete(new Path(t), true)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    TableLog.commit(spark, t,
      TableLog.stage(spark, t, ev.filter($"event_id" % 4 === 0), "data/v1/base"))
    val ours = TableLog.stage(spark, t,
      ev.filter($"event_id" % 4 === 1), "data/dup/ours")
    var competed = false
    val r = TableLog.commitIfAbsent(spark, t, "s", 1L, ours,
      beforePublish = next => if (!competed) {
        competed = true
        val theirs = TableLog.stage(spark, t,
          ev.filter($"event_id" % 4 === 1), "data/dup/theirs")
        require(TableLog.publish(spark, t, next,
          theirs :+ TableLog.Action("txn", "s\t1")) == next)
      })
    assert(r === -1, s"duplicate batch committed twice (returned v$r)")
    // exactly one copy of the batch is live; the loser's staged files are
    // orphans for vacuum
    val live = TableLog.liveFiles(spark, t, TableLog.currentVersion(spark, t))
    assert(live.exists(_.startsWith("data/dup/theirs/")))
    assert(!live.exists(_.startsWith("data/dup/ours/")))
    assert(TableLog.readAsOf(spark, t, TableLog.currentVersion(spark, t)).count()
      === ev.filter($"event_id" % 4 <= 1).count())
    // an UNRELATED concurrent commit just costs a retry, then lands
    var bumped = false
    val v2 = TableLog.commitIfAbsent(spark, t, "s", 2L,
      TableLog.stage(spark, t, ev.filter($"event_id" % 4 === 2), "data/b2"),
      beforePublish = next => if (!bumped) {
        bumped = true
        TableLog.publish(spark, t, next,
          Seq(TableLog.Action("add", "data/unrelated/x.parquet")))
      })
    assert(v2 === TableLog.currentVersion(spark, t) &&
      TableLog.alreadyCommitted(spark, t, "s", 2L))
  }

  test("commitIfAbsent over a window: two writers publish the same window — ONE commit carrying every marker lands, the loser returns -1") {
    // a relay window commits one txn marker per source version in ONE
    // manifest. Two writers race the same window (1, 3]: the competitor
    // publishes inside our read-to-publish window, our publish loses,
    // and the per-attempt gate — one log pass over ALL the window's
    // markers — must back off instead of retrying past the winner.
    val t = s"${Etl.scratch(spark)}/txn_window_race_table"
    fs.delete(new Path(t), true)
    TableLog.commit(spark, t, Seq(TableLog.Action("add", "data/base/f.parquet")))
    val window = Seq(1L, 2L, 3L)
    var competed = false
    val r = TableLog.commitIfAbsent(spark, t, "w", window,
      Seq(TableLog.Action("add", "data/ours/f.parquet")), 5,
      beforePublish = next => if (!competed) {
        competed = true
        assert(TableLog.commitIfAbsent(spark, t, "w", window,
          Seq(TableLog.Action("add", "data/theirs/f.parquet")), 5, _ => ()) === next)
        ()
      })
    assert(competed)
    assert(r === -1, s"the window committed twice (returned v$r)")
    assert(TableLog.currentVersion(spark, t) === 2)
    val live = TableLog.liveFiles(spark, t, 2)
    assert(live.contains("data/theirs/f.parquet") && !live.contains("data/ours/f.parquet"))
    // the winner's ONE manifest carries every version's marker, once
    val txnLines = (1 to 2).map { v =>
      val in = fs.open(new Path(t, s"_log/v$v.log"))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.startsWith("txn\t")).toList
      finally in.close()
    }
    assert(txnLines === Seq(Nil, window.map(b => s"txn\tw\t$b")))
    assert(TableLog.lastCommitted(spark, t, "w") === Some(3L))
    window.foreach(b => assert(TableLog.alreadyCommitted(spark, t, "w", b)))
  }

  test("commitIfAbsent over a window: a window overlapping an already committed id no-ops") {
    val t = s"${Etl.scratch(spark)}/txn_window_overlap_table"
    fs.delete(new Path(t), true)
    assert(TableLog.commitIfAbsent(spark, t, "w", Seq(1L, 2L, 3L),
      Seq(TableLog.Action("add", "data/w1/f.parquet")), 5, _ => ()) === 1)
    // (2, 5] overlaps the committed id 3: nothing lands, and the ids
    // past the overlap stay uncommitted for the caller to re-window
    assert(TableLog.commitIfAbsent(spark, t, "w", Seq(3L, 4L, 5L),
      Seq(TableLog.Action("add", "data/w2/f.parquet")), 5, _ => ()) === -1)
    assert(TableLog.currentVersion(spark, t) === 1)
    assert(!TableLog.liveFiles(spark, t, 1).contains("data/w2/f.parquet"))
    assert(!TableLog.alreadyCommitted(spark, t, "w", 4L) &&
      !TableLog.alreadyCommitted(spark, t, "w", 5L))
    // the gate reads the markers from the checkpoint as well as the
    // manifests past it
    TableLog.checkpointLog(spark, t)
    assert(TableLog.alreadyCommitted(spark, t, "w", Seq(5L, 2L)))
    assert(!TableLog.alreadyCommitted(spark, t, "w", Seq(4L, 5L)))
    // the disjoint window lands
    assert(TableLog.commitIfAbsent(spark, t, "w", Seq(4L, 5L),
      Seq(TableLog.Action("add", "data/w3/f.parquet")), 5, _ => ()) === 2)
    assert(TableLog.lastCommitted(spark, t, "w") === Some(5L))
  }

  test("vacuum: the min-age guard protects an in-flight writer's staged files") {
    // "unreferenced" cannot distinguish an orphan from a file a slow
    // writer staged whose manifest hasn't landed: with an age threshold
    // the young staged files survive vacuum, the manifest can still land,
    // and the committed version reads whole. With threshold 0 the same
    // files are GC'd (the orphan-collection behavior r15 relies on).
    import spark.implicits._
    val t = s"${Etl.scratch(spark)}/vacuum_age_table"
    fs.delete(new Path(t), true)
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    TableLog.commit(spark, t,
      TableLog.stage(spark, t, ev.filter($"event_id" % 4 === 0), "data/v1/base"))
    // the slow writer: staged, not yet committed
    val staged = TableLog.stage(spark, t,
      ev.filter($"event_id" % 4 === 1), "data/v2/slow")
    // a vacuum with an in-flight window races past: staged files survive
    val dead = TableLog.vacuum(spark, t, retainFrom = 1, minAgeMs = 3600000L)
    assert(dead.isEmpty, s"age-guarded vacuum deleted $dead")
    staged.foreach(a => assert(fs.exists(new Path(s"$t/${a.path}"))))
    // the manifest lands AFTER the vacuum; the version reads whole
    TableLog.commit(spark, t, staged)
    assert(TableLog.readAsOf(spark, t, 2).count() ===
      ev.filter($"event_id" % 4 <= 1).count())
    // threshold 0 + a fresh orphan: delete-now behavior is unchanged
    val orphan = TableLog.stage(spark, t,
      ev.filter($"event_id" % 4 === 2), "data/orphan")
    // a crashed publish attempt's staging tmp: invisible to readers, but
    // vacuum sweeps it under the same age guard
    val crashTmp = new Path(t, "_log/.v9.deadbeef.tmp")
    fs.create(crashTmp, true).close()
    TableLog.vacuum(spark, t, retainFrom = 1, minAgeMs = 3600000L)
    assert(fs.exists(crashTmp), "age-guarded vacuum swept a young _log tmp")
    val dead0 = TableLog.vacuum(spark, t, retainFrom = 1, minAgeMs = 0L)
    orphan.foreach(a => assert(dead0.contains(a.path) &&
      !fs.exists(new Path(s"$t/${a.path}"))))
    assert(!fs.exists(crashTmp), "vacuum left the crashed attempt's _log tmp")
  }

  test("mv1: a vacuum that outruns an unrefreshed view fails loud, not wrong") {
    // the documented retention coupling, driven to its defined failure:
    // the (2,3] delta needs v3's REMOVED files (the retired click set) to
    // subtract them from the view, but a vacuum retaining only v3 has
    // already GC'd them — the refresh must ERROR (missing files), never
    // silently return a partial delta that would corrupt the view state.
    LakeQueries.buildFixture(spark, sfDir, table)
    val retired = TableLog.liveFiles(spark, table, 2).filter(_.contains("/click/"))
    TableLog.vacuum(spark, table, retainFrom = 3)
    retired.foreach(r => assert(!fs.exists(new Path(s"$table/$r"))))
    val e = intercept[Exception] {
      LakeQueries.mvDelta(spark, table, 2, 3).collect()
    }
    val msg = e.toString + Option(e.getCause).map(_.toString).getOrElse("")
    assert(msg.contains("PATH_NOT_FOUND") || msg.contains("FileNotFound") ||
      msg.contains("does not exist"), s"wrong failure mode: $e")
    // and the coupling's happy side: a vacuum retaining v2 (the oldest
    // unrefreshed view) keeps the same refresh working
    val t2 = s"${Etl.scratch(spark)}/mv_retain_table"
    fs.delete(new Path(t2), true)
    LakeQueries.buildFixture(spark, sfDir, t2)
    TableLog.vacuum(spark, t2, retainFrom = 2)
    assert(LakeQueries.mvDelta(spark, t2, 2, 3).collect().nonEmpty)
  }

  test("s11: stray files and crashed-writer tmps are invisible to readers") {
    import spark.implicits._
    LakeQueries.buildFixture(spark, sfDir, table)
    val before = (1 to 3).map(v =>
      TableLog.readAsOf(spark, table, v).count())
    // a stray parquet file NEXT TO live ones (the listing trap): copy a
    // live v1 click file to a sibling name in the same directory
    val live1 = TableLog.liveFiles(spark, table, 1).find(_.contains("/click/")).get
    val src = new Path(s"$table/$live1")
    val stray = new Path(src.getParent, "part-stray.c000.snappy.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, stray, false,
      spark.sparkContext.hadoopConfiguration)
    // a crashed writer's staging manifest: must not become a version
    fs.create(new Path(table, "_log/.v9.tmp"), true).close()
    assert(TableLog.currentVersion(spark, table) === 3)
    val after = (1 to 3).map(v => TableLog.readAsOf(spark, table, v).count())
    assert(after === before,
      "a snapshot read picked up files outside its manifest")
  }

  test("listStaged returns a staged file set's adds in file-name order (partition order), not listing order") {
    val t = s"${Etl.scratch(spark)}/staged_order_table"
    fs.delete(new Path(t), true)
    val adds = TableLog.stage(spark, t, spark.range(0, 4000).toDF().repartition(16), "data/v1")
    assert(adds.size >= 8)
    assert(adds.map(_.path) === adds.map(_.path).sorted)
    assert(TableLog.listStaged(spark, t, "data/v1") === adds)
  }
}
