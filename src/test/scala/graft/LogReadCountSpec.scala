package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}

import graft.operators.{Etl, Lakehouse, TableLog}

/** The local file system under the `countfs` scheme, recording the path of
  * every file it opens. */
final class CountingFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    CountingFs.opened.add(p.toUri.getPath)
    super.open(p, bufferSize)
  }
}

object CountingFs {
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** How many times a log operation opens each log file, counted at the
  * Hadoop FileSystem seam. */
class LogReadCountSpec extends SparkSpecBase {

  private def events = {
    import spark.implicits._
    Tables.events(spark, sfDir).select($"event_id", $"user_id", $"event_type", $"value")
  }

  /** A fresh four-commit table at `dir` (the mod-4 split of the events):
    * the only schema action is at v1, and there is no checkpoint. */
  private def fourCommits(dir: String): Unit = {
    import spark.implicits._
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(dir), true)
    (0 until 4).foreach { b =>
      val adds = TableLog.stage(spark, dir, events.filter($"event_id" % 4 === b), s"data/b$b")
      TableLog.commit(spark, dir,
        if (b == 0) TableLog.Action("schema", events.schema.json) +: adds else adds)
    }
  }

  /** `dir` under the counting scheme, with the open record cleared. */
  private def counted(dir: String): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl", classOf[CountingFs].getName)
    CountingFs.opened.clear()
    s"countfs://$dir"
  }

  private def logOpens(dir: String): Seq[String] =
    CountingFs.opened.asScala.toSeq.filter(_.startsWith(s"$dir/_log/")).sorted

  test("readAsOf at head opens each manifest exactly once: files and schema come from one replay") {
    val dir = s"${Etl.scratch(spark)}/readcount_table"
    fourCommits(dir)
    val df = TableLog.readAsOf(spark, counted(dir), 4)
    assert(logOpens(dir) === (1 to 4).map(v => s"$dir/_log/v$v.log"),
      s"log files opened: ${logOpens(dir).mkString(", ")}")
    assert(df.count() === events.count())
  }

  test("one relay tick opens each source manifest exactly once: the window split's walk feeds the apply") {
    val dir = s"${Etl.scratch(spark)}/readcount_relay_src"
    val dst = s"${Etl.scratch(spark)}/readcount_relay_dst"
    fourCommits(dir)
    new Path(dst).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(dst), true)
    assert(Lakehouse.relay(spark, counted(dir), dst, "event_id", "readcount") === (1 to 4))
    assert(logOpens(dir) === (1 to 4).map(v => s"$dir/_log/v$v.log"),
      s"source log files opened: ${logOpens(dir).mkString(", ")}")
    assert(TableLog.readAsOf(spark, dst, TableLog.currentVersion(spark, dst)).count() ===
      events.count())
  }
}
