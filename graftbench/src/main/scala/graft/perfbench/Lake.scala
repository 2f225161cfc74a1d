package graft.perfbench

import graft.operators.{Lakehouse, TableLog}
import graft.operators.TableLog.Action
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The value columns of one events-shaped row, keyed by `event_id`. */
final case class LakeRow(userId: Long, eventType: String, value: Double)

/** The `lake_churn` workload: one events-shaped table under a seeded mix of
  * micro-batch appends, merge-on-read upserts and deletes, relay ticks to a
  * downstream table, maintenance, and snapshot / time-travel / change-feed /
  * point reads. The benchmark keeps its own key -> row model of every
  * version and checks each read against it. */
final class Lake(spark: SparkSession, root: String, seed: Long, base: DataFrame) {
  import Lake._

  val main = s"$root/main"
  val dst = s"$root/downstream"
  private val sizingDir = s"$root/_sizing"
  private val rng = new Random(seed)
  private var batchId = 0L
  private var nextId = 0L
  private var sizingN = 0
  private val types = Vector("click", "view", "purchase", "signup", "error")

  /** model(v) = the table's rows as of version v (index 0 = empty). */
  private var model = Vector(Map.empty[Long, LakeRow])
  private var dstModel = Map.empty[Long, LakeRow]

  /** Bytes of the rows handed to write calls, each sized as one plain
    * Parquet copy, and bytes the program wrote under the table dirs. */
  var userBytes = 0L
  var writtenBytes = 0L
  /** OPTIMIZE commits the maintenance op made. */
  var optimized = 0

  def version: Int = TableLog.currentVersion(spark, main)

  /** v1: the base rows, staged key-clustered with `event_id` stats. */
  def create(): Unit = {
    val rows = base.collect().map(r => r.getLong(0) -> rowOf(r)).toMap
    val adds = TableLog.stageWithStats(spark, main, base, "data/v1", Seq("event_id"), 8)
    TableLog.commit(spark, main, Action("schema", base.schema.json) +: adds)
    model = Vector(Map.empty, rows)
    nextId = rows.keys.max + 1
  }

  private def rowOf(r: Row): LakeRow = LakeRow(r.getLong(1), r.getString(2), r.getDouble(3))

  private def frame(rows: Seq[(Long, LakeRow)]): DataFrame = {
    import spark.implicits._
    rows.map { case (k, r) => (k, r.userId, r.eventType, r.value) }
      .toDF("event_id", "user_id", "event_type", "value")
  }

  private def freshRow(): LakeRow =
    LakeRow(rng.nextInt(200).toLong, types(rng.nextInt(types.size)),
      math.round(rng.nextDouble() * 50000.0) / 100.0)

  private def pickKeys(n: Int): Seq[Long] = {
    val keys = model.last.keys.toVector
    rng.shuffle(keys).take(n)
  }

  /** Record the head after a write: every version between the old head
    * and the new one carries `rows` (maintenance commits keep the rows). */
  private def advance(rows: Map[Long, LakeRow]): Unit = {
    val v = version
    while (model.size <= v) model :+= rows
  }

  private def sizeOf(df: DataFrame): Long = {
    sizingN += 1
    val p = s"$sizingDir/$sizingN"
    df.coalesce(1).write.parquet(p)
    val n = dirBytes(Paths.get(p))
    deleteTree(Paths.get(p))
    n
  }

  /** The write ops. Each entry prepares its inputs (untimed) and returns
    * the public call to time plus the user rows it hands to the program. */
  def writeOps: Seq[(String, String, () => (() => Unit, Option[DataFrame]))] = Seq(
    ("commitBatch", "TableLog", () => {
      val rows = (0 until AppendRows).map(i => (nextId + i) -> freshRow())
      val df = frame(rows).coalesce(1)
      (() => {
        TableLog.commitBatch(main, "ingest")(df, batchId)
        batchId += 1
        nextId += AppendRows
        advance(model.last ++ rows)
      }, Some(df))
    }),
    ("morMerge", "Lakehouse", () => {
      val upd = pickKeys(MergeRows - MergeNewRows).map(_ -> freshRow()) ++
        (0 until MergeNewRows).map(i => (nextId + i) -> freshRow())
      val df = frame(upd)
      (() => {
        Lakehouse.morMerge(spark, main, df, "event_id")
        nextId += MergeNewRows
        advance(model.last ++ upd)
      }, Some(df))
    }),
    ("morDelete", "Lakehouse", () => {
      val keys = pickKeys(DeleteRows)
      import spark.implicits._
      val df = keys.toDF("event_id")
      (() => {
        Lakehouse.morDelete(spark, main, df)
        advance(model.last -- keys)
      }, Some(df))
    }),
    ("relay", "Lakehouse", () => (() => {
      val applied = Lakehouse.relay(spark, main, dst, "event_id", "bench")
      if (applied.nonEmpty) dstModel = model(applied.max)
    }, None)),
    ("maybeOptimize", "Lakehouse", () => (() => {
      if (Lakehouse.maybeOptimize(spark, main, Seq("event_id")).nonEmpty) optimized += 1
      advance(model.last)
    }, None)),
    ("checkpointLog", "TableLog", () => (() => {
      TableLog.checkpointLog(spark, main)
      ()
    }, None)),
  )

  /** The read ops; each returns its frame and the check to run on it. */
  def readOps: Seq[(String, String, () => (DataFrame, DataFrame => Option[String]))] = Seq(
    ("readLatest", "TableLog", () => {
      val v = version
      (TableLog.readAsOf(spark, main, v), snapshotCheck(model(v), s"v$v"))
    }),
    ("readAsOf", "TableLog", () => {
      val v = math.max(1, version - CdfWindow)
      (TableLog.readAsOf(spark, main, v), snapshotCheck(model(v), s"v$v"))
    }),
    ("cdfRead", "Lakehouse", () => {
      val to = version
      val from = math.max(1, to - CdfWindow)
      (Lakehouse.cdfRead(spark, main, from, to, "event_id"), cdfCheck(from, to))
    }),
    ("pointRead", "TableLog", () => pointRead(pickKeys(1).head)),
    ("pointMiss", "TableLog", () => pointRead(nextId + rng.nextInt(1000))),
    ("readDownstream", "TableLog", () => {
      val want = dstModel
      val v = TableLog.currentVersion(spark, dst)
      val df = if (v == 0) frame(Nil) else TableLog.readAsOf(spark, dst, v)
      (df, snapshotCheck(want, s"downstream v$v"))
    }),
  )

  /** Stats-pruned read of one key at the head. */
  private def pointRead(k: Long): (DataFrame, DataFrame => Option[String]) = {
    val v = version
    (TableLog.readAsOfRange(spark, main, v, "event_id", k, k),
      snapshotCheck(model(v).filter(_._1 == k), s"v$v key $k"))
  }

  private def snapshotCheck(want: Map[Long, LakeRow], what: String)(df: DataFrame): Option[String] = {
    val got = df.select("event_id", "user_id", "event_type", "value").collect()
    val gotMap = got.map(r => r.getLong(0) -> rowOf(r)).toMap
    if (got.length != gotMap.size) Some(s"$what: duplicate keys in the read")
    else if (gotMap != want) {
      val missing = (want.keySet -- gotMap.keySet).size
      val extra = (gotMap.keySet -- want.keySet).size
      val changed = want.count { case (k, r) => gotMap.get(k).exists(_ != r) }
      Some(s"$what: $missing missing, $extra extra, $changed changed rows")
    } else None
  }

  private def cdfCheck(from: Int, to: Int)(df: DataFrame): Option[String] = {
    val got = df.select(col("_commit_version"), col("_change_type"), col("event_id"),
      col("user_id"), col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0).toInt, r.getString(1), r.getLong(2), feedRowOf(r)))
      .sortBy(x => (x._1, x._3)).toSeq
    val want = ((from + 1) to to).flatMap { v =>
      val (pre, post) = (model(v - 1), model(v))
      (pre.keySet ++ post.keySet).toSeq.sorted.flatMap { k =>
        (pre.get(k), post.get(k)) match {
          case (None, Some(r)) => Some((v, "insert", k, r))
          case (Some(r), None) => Some((v, "delete", k, r))
          case (Some(a), Some(b)) if a != b => Some((v, "update", k, b))
          case _ => None
        }
      }
    }
    if (got == want) None
    else Some(s"cdf ($from, $to]: ${got.size} change rows, model says ${want.size}")
  }

  private def feedRowOf(r: Row): LakeRow = LakeRow(r.getLong(3), r.getString(4), r.getDouble(5))

  /** Size the user rows of a write (untimed) and return the bytes the
    * program wrote while `body` ran. */
  def measuredWrite(user: Option[DataFrame])(body: => Unit): Unit = {
    val before = listing()
    body
    val after = listing()
    writtenBytes += after.collect {
      case (p, n) if !before.get(p).contains(n) => n
    }.sum
    user.foreach(df => userBytes += sizeOf(df))
  }

  private def listing(): Map[Path, Long] =
    Seq(main, dst).map(Paths.get(_)).filter(Files.exists(_)).flatMap { d =>
      val s = Files.walk(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p -> Files.size(p)).toVector
      finally s.close()
    }.toMap

  /** Space amplification: bytes on disk under the main table over its
    * live snapshot written once as plain Parquet. */
  def spaceAmp(): Double =
    dirBytes(Paths.get(main)).toDouble / sizeOf(TableLog.readAsOf(spark, main, version))

  /** Log and file counts of the main table at its head. */
  def counts(): Map[String, Double] = {
    val st = TableLog.liveState(spark, main, version)
    val logDir = Paths.get(main, "_log")
    val names = {
      val s = Files.list(logDir)
      try s.iterator().asScala.map(_.getFileName.toString).toVector
      finally s.close()
    }
    Map("TableLog.log_files" -> names.count(_.matches("v\\d+\\.log")).toDouble,
      "TableLog.ckpt_files" -> names.count(_.matches("v\\d+\\.ckpt")).toDouble,
      "TableLog.live_files" -> st.files.size.toDouble,
      "TableLog.dv_files" -> st.dvs.size.toDouble)
  }
}

object Lake {
  /** The public lake functions the ops call. */
  val Calls: Seq[String] = Seq("commitBatch", "morMerge", "morDelete", "relay",
    "maybeOptimize", "checkpointLog", "readAsOf", "readAsOfRange", "cdfRead")

  val AppendRows = 300
  val MergeRows = 200
  val MergeNewRows = 40
  val DeleteRows = 100
  val CdfWindow = 4
  /** Base rows of the warmup lake. */
  val WarmRows = 2000

  /** The lake confs the workload sets: auto-checkpoint every 8 commits of
    * the micro-batch sink and the relay, and OPTIMIZE once 2 deletion
    * vectors or 24 live files accumulate — every block's merge and delete
    * add two, so each block compacts and every block does the same work. */
  val Confs: Seq[(String, String)] = Seq(
    "spark.graft.log.checkpointInterval" -> "8",
    "spark.graft.log.optimizeMaxDvs" -> "2",
    "spark.graft.log.optimizeMaxFiles" -> "24",
    "spark.graft.log.optimizeTargetFiles" -> "4")

  def dirBytes(d: Path): Long =
    if (!Files.exists(d)) 0L
    else {
      val s = Files.walk(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
      finally s.close()
    }

  def deleteTree(d: Path): Unit =
    if (Files.exists(d)) {
      val s = Files.walk(d)
      try s.iterator().asScala.toVector.reverse.foreach(Files.delete(_))
      finally s.close()
    }
}
