package graft

import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.LogProtocol
import graft.operators.LogProtocol.{Action, FileStats, LiveFile, LogState}

/** The table-log protocol over hand-written manifest and checkpoint lines —
  * no SparkSession, no FileSystem: what each line does to table state, the
  * feature gate, the txn gate, corruption refusals, and (generated) that
  * resuming from a checkpoint cut anywhere equals replaying from v1. */
class LogProtocolSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val schemaA = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
  private val schemaB = StructType(schemaA.fields :+ StructField("tag", StringType))

  /** Fold manifests v1.. (one line list each) from `base`. */
  private def replay(manifests: Seq[Seq[String]], base: LogState = LogState.empty,
      from: Int = 0): LogState =
    manifests.zipWithIndex.foldLeft(base) { case (s, (lines, i)) =>
      LogProtocol.applyManifest(s, "t", from + i + 1, lines).after
    }

  private def lines(actions: Action*): Seq[String] = actions.map(LogProtocol.actionLine)

  test("DV scoping follows add versions: a re-insert after a DV escapes it") {
    val st = replay(Seq(
      lines(Action("schema", schemaA.json),
        Action("add", "data/a", Seq(FileStats("k", 0, 9))), Action("add", "data/b")),
      lines(Action("feature", "dv"), Action("dv", "data/dv/d1")),
      lines(Action("add", "data/c")),
      // the same path re-added: replaced in place under its new version
      lines(Action("add", "data/a", Seq(FileStats("k", 0, 4))))))
    assert(st.files === Seq(LiveFile("data/a", Seq(FileStats("k", 0, 4)), 4),
      LiveFile("data/b", Nil, 1), LiveFile("data/c", Nil, 3)))
    assert(st.dvs === Seq("data/dv/d1" -> 2))
    assert(st.files.map(f => f.path -> LogProtocol.dvsFor(st.dvs, f)) === Seq(
      "data/a" -> Nil, "data/b" -> Seq("data/dv/d1"), "data/c" -> Nil))
    assert(st.features === Set("dv"))
  }

  test("a remove retires a DV as well as a data file") {
    val st = replay(Seq(
      lines(Action("add", "data/a"), Action("add", "data/b")),
      lines(Action("dv", "data/dv/d1"), Action("dv", "data/dv/d2")),
      lines(Action("remove", "data/dv/d1"), Action("remove", "data/a"))))
    assert(st.dvs === Seq("data/dv/d2" -> 2))
    assert(st.files.map(_.path) === Seq("data/b"))
  }

  test("the last schema line in a manifest wins; a manifest without one keeps it") {
    val st2 = replay(Seq(
      lines(Action("schema", schemaA.json), Action("schema", schemaB.json)),
      lines(Action("add", "data/a"))))
    assert(st2.schema === Some(schemaB))
    assert(replay(Seq(lines(Action("schema", schemaB.json)),
      lines(Action("schema", schemaA.json)))).schema === Some(schemaA))
    assert(replay(Seq(lines(Action("add", "data/a")))).schema === None)
  }

  test("txn set: the gate and lastCommitted, with stream / stream2 prefix safety") {
    val st = replay(Seq(
      lines(Action("txn", "stream\t1"), Action("txn", "stream2\t9")),
      lines(Action("txn", "stream\t3"))))
    assert(st.txns === Set("stream\t1", "stream2\t9", "stream\t3"))
    assert(st.lastCommitted("stream") === Some(3L))
    assert(st.lastCommitted("stream2") === Some(9L))
    assert(st.lastCommitted("strea") === None)
    assert(st.committed("stream", Seq(2L, 3L)))
    assert(!st.committed("stream", Seq(2L, 9L)))
    assert(!st.committed("stream2", Seq(1L)))
  }

  test("an unimplemented reader feature is refused, naming table@vN, before any line applies") {
    val e = intercept[IllegalStateException] {
      replay(Seq(lines(Action("add", "data/a")),
        Seq("add\tdata/x\tk\t1", "feature\trange-delete")))
    }
    assert(e.getMessage.contains("t@v2") && e.getMessage.contains("'range-delete'"),
      e.getMessage)
    val ck = intercept[IllegalStateException] {
      LogProtocol.parseCheckpoint("t", 7, Seq("feature\tcolumn-mapping"))
    }
    assert(ck.getMessage.contains("t v7.ckpt"), ck.getMessage)
    assert(replay(Seq(Seq("feature\tstats", "feature\tcheckpoint"))).features
      === Set("stats", "checkpoint"))
  }

  test("corrupt add/remove/dv/stats/feature and checkpoint lines are refused") {
    for (bad <- Seq("add", "add\tdata/a\tk\t1", "add\tdata/a\tk\tzero\tten",
        "remove", "remove\tdata/a\tgarbage", "dv", "dv\tdata/d\tgarbage", "feature\t"))
      intercept[IllegalStateException](replay(Seq(Seq(bad))))
    for (bad <- Seq("file\tone\tdata/a", "file\t1\tdata/a\tk\t1", "file\t1",
        "dv\tx\tdata/d", "dv\t2", "txn\tonly", "schema", "bogus\tline"))
      intercept[IllegalStateException](LogProtocol.parseCheckpoint("t", 1, Seq(bad)))
    // markers and unknown kinds are not file actions
    assert(LogProtocol.parseAction("txn\ts\t1") === None)
    assert(replay(Seq(Seq("", "comment\tfree text"))) === LogState.empty)
  }

  test("fileDelta: data-file adds and removes only — a retired DV is no removed file") {
    val base = replay(Seq(lines(Action("add", "data/a"), Action("dv", "data/dv/d1"))))
    val steps = Seq(
      lines(Action("add", "data/b"), Action("dv", "data/dv/d2")),
      lines(Action("remove", "data/a"), Action("remove", "data/dv/d1"),
        Action("remove", "data/dv/d2"), Action("remove", "data/b")))
      .zipWithIndex.scanLeft(Option.empty[LogProtocol.Step]) { case (prev, (ls, i)) =>
        Some(LogProtocol.applyManifest(prev.fold(base)(_.after), "t", i + 2, ls))
      }.flatten
    assert(LogProtocol.fileDelta(base, steps) === (Seq("data/b"), Seq("data/a", "data/b")))
  }

  test("checkpoint lines round-trip the state: file and dv lines in state order") {
    val st = replay(Seq(
      lines(Action("schema", schemaA.json), Action("add", "data/z", Seq(FileStats("k", -3, 42))),
        Action("add", "data/a"), Action("txn", "s\t1"), Action("feature", "stats")),
      lines(Action("dv", "data/dv/y"), Action("dv", "data/dv/b"), Action("add", "data/m"))))
    val ck = LogProtocol.checkpointLines(st)
    assert(ck.take(5) === Seq("file\t1\tdata/z\tk\t-3\t42", "file\t1\tdata/a",
      "file\t2\tdata/m", "dv\t2\tdata/dv/y", "dv\t2\tdata/dv/b"))
    val back = LogProtocol.parseCheckpoint("t", 2, ck)
    assert(back.files === st.files && back.dvs === st.dvs && back === st)
  }

  // ------------------------------------------------ generated: checkpoint cuts

  private val dataPaths = (0 until 6).map(i => s"data/f$i")
  private val dvPaths = (0 until 3).map(i => s"data/dv/d$i")

  private val genAction: Gen[Action] = Gen.frequency(
    5 -> (for {
      p <- Gen.oneOf(dataPaths)
      n <- Gen.choose(0, 2)
      st <- Gen.listOfN(n, for {
        c <- Gen.oneOf("k", "ts")
        lo <- Gen.choose(-50L, 50L)
        w <- Gen.choose(0L, 20L)
      } yield FileStats(c, lo, lo + w))
    } yield Action("add", p, st)),
    3 -> Gen.oneOf(dataPaths ++ dvPaths).map(Action("remove", _)),
    2 -> Gen.oneOf(dvPaths).map(Action("dv", _)),
    1 -> Gen.oneOf(schemaA, schemaB).map(s => Action("schema", s.json)),
    2 -> (for {
      s <- Gen.oneOf("s", "s2")
      b <- Gen.choose(0, 30)
    } yield Action("txn", s"$s\t$b")),
    1 -> Gen.oneOf(LogProtocol.SUPPORTED_READER_FEATURES.toSeq).map(Action("feature", _)))

  private val genHistory: Gen[Seq[Seq[String]]] = for {
    n <- Gen.choose(1, 12)
    ms <- Gen.listOfN(n, Gen.choose(0, 6).flatMap(k => Gen.listOfN(k, genAction)))
  } yield ms.map(_.map(LogProtocol.actionLine))

  test("property: folding from a checkpoint cut at any version equals folding from v1") {
    val histories = (0 until 200).flatMap(i =>
      genHistory.apply(Gen.Parameters.default, Seed(1000L + i)))
    assert(histories.size === 200)
    histories.zipWithIndex.foreach { case (h, i) =>
      val full = replay(h)
      (0 to h.size).foreach { c =>
        val cut = replay(h.take(c))
        val ck = LogProtocol.parseCheckpoint("t", c, LogProtocol.checkpointLines(cut))
        val resumed = replay(h.drop(c), ck, c)
        val ctx = s"history $i cut at v$c"
        assert(resumed.files === full.files, ctx)
        assert(resumed.dvs === full.dvs, ctx)
        assert(resumed === full, ctx)
      }
    }
  }
}
