package graft

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** The clustered layout's scale claim, machine-checked: after
  * `Etl.clusteredWrite` each output file covers a DISJOINT slice of the
  * cluster column and every row group carries min/max footer stats — the
  * two properties a reader needs to prune row groups on a cluster-column
  * predicate without any index. */
class ClusteredWriteSpec extends SparkSpecBase {

  test("z-order key + clustered write yields disjoint per-file z-ranges (2-D layout)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val out = graft.operators.Etl.scratch(spark) + "/clustered_zorder_spec"
    val day = (datediff($"o_orderdate", lit("1995-01-01").cast("timestamp")) % 1024).cast("long")
    val cust = pmod($"o_custkey", lit(1024L))
    graft.operators.Etl.clusteredWrite(
      Tables.orders(spark, sfDir)
        .withColumn("zkey", graft.functions.Scalars.zorderKey(day, cust, 10)),
      out, files = 6, clusterCol = "zkey")
    val ranges = fileRanges(out, "zkey").map { case (lo, hi) => (lo.longValue, hi.longValue) }
    assert(ranges.length > 1)
    val sorted = ranges.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq((_, prevMax), (curMin, _)) => assert(curMin > prevMax,
        s"z-ranges overlap: [..,$prevMax] then [$curMin,..]")
      case _ =>
    }
  }

  test("clustered write yields disjoint per-file ranges with row-group stats") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val out = graft.operators.Etl.scratch(spark) + "/clustered_spec"
    graft.operators.Etl.clusteredWrite(
      Tables.orders(spark, sfDir).withColumn("o_date", to_date($"o_orderdate")),
      out, files = 6, clusterCol = "o_date")

    val ranges = fileRanges(out, "o_date").map { case (lo, hi) => (lo.intValue, hi.intValue) }
    assert(ranges.length > 1, "need several files to prove disjointness")
    // disjoint: sorted by min, no file's range reaches into the next one's
    val sorted = ranges.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq((_, prevMax), (curMin, _)) =>
        assert(curMin > prevMax,
          s"file ranges overlap: [..,$prevMax] then [$curMin,..] — range partitioning broken")
      case _ =>
    }
  }

  /** Per-file [min, max] of `colName` read from the parquet footers;
    * asserts every row group carries non-null min/max stats (the property
    * the reader's skipping needs). */
  private def fileRanges(out: String, colName: String): Seq[(Number, Number)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    files.map { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f.getAbsolutePath), conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        assert(blocks.nonEmpty, s"${f.getName}: no row groups")
        val stats = blocks.map { b =>
          val col = b.getColumns.asScala
            .find(_.getPath.toDotString == colName)
            .getOrElse(fail(s"${f.getName}: no $colName column chunk"))
          val s = col.getStatistics
          assert(s != null && s.hasNonNullValue,
            s"${f.getName}: row group without $colName min/max stats — skipping impossible")
          (s.genericGetMin.asInstanceOf[Number], s.genericGetMax.asInstanceOf[Number])
        }
        (stats.map(_._1.longValue).min.asInstanceOf[Number],
          stats.map(_._2.longValue).max.asInstanceOf[Number])
      } finally reader.close()
    }
  }
}
