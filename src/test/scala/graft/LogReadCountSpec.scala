package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}

import graft.operators.{Etl, TableLog}

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

  test("readAsOf at head opens each manifest exactly once: files and schema come from one replay") {
    import spark.implicits._
    val dir = s"${Etl.scratch(spark)}/readcount_table"
    val local = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    local.delete(new Path(dir), true)
    val ev = Tables.events(spark, sfDir).select($"event_id", $"user_id", $"event_type", $"value")
    // the only schema action is at v1, and there is no checkpoint
    (0 until 4).foreach { b =>
      val adds = TableLog.stage(spark, dir, ev.filter($"event_id" % 4 === b), s"data/b$b")
      TableLog.commit(spark, dir,
        if (b == 0) TableLog.Action("schema", ev.schema.json) +: adds else adds)
    }
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl", classOf[CountingFs].getName)
    val table = s"countfs://$dir"
    CountingFs.opened.clear()
    val df = TableLog.readAsOf(spark, table, 4)
    val logOpens = CountingFs.opened.asScala.toSeq.filter(_.contains("/_log/"))
    assert(logOpens.sorted === (1 to 4).map(v => s"$dir/_log/v$v.log"),
      s"log files opened: ${logOpens.mkString(", ")}")
    assert(df.count() === ev.count())
  }
}
