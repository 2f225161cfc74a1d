package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{LakeQueries, Lakehouse, TableLog}

/** A/B the S15/S16 manifest-stats claim at a heavy tier: the same range
  * rollup through (a) `readAsOfRange` — file list pruned from the
  * manifest — vs (b) `readAsOf` + the identical filter — every live file
  * opened, skipping left to parquet row-group stats alone. Both arms are
  * the same rows and the same aggregate; the delta is exactly what the
  * manifest buys BEFORE any footer I/O. Run on an events tier
  * (`MakeHeavy <src> <out> <copies> events`), quarter-domain windows on
  * each Z-order dimension, lower-median of REPS after one warmup.
  *
  * Prints one JSON line (written to target/lake_probe_<files>.json):
  * per-arm walls, kept-vs-total file counts per dimension.
  */
object LakeProbe {
  val REPS = 3

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/bench_lake/sf25")
    // file count is the experiment's independent variable: the manifest
    // term scales with FILES (listing + footer opens at plan time), not
    // with data volume — at 32 local files parquet row-group stats hide
    // it entirely; a production table has thousands per partition
    val FILES = if (args.length > 1) args(1).toInt else 32
    val spark = graft.GraftSession.local(MakeHeavy.cpus)
    import spark.implicits._
    val table = s"${dir.stripSuffix("/")}/lake_probe_table_$FILES"

    val ev = LakeQueries.fixtureEvents(spark, dir)
    val org.apache.spark.sql.Row(eLo: Long, eHi: Long, uLo: Long, uHi: Long) = ev
      .agg(min($"event_id"), max($"event_id"), min($"user_id"), max($"user_id"))
      .head()

    // build once per tier generation: one commit, z-ordered on both dims
    if (TableLog.currentVersion(spark, table) < 1) {
      val z = Lakehouse.zOrderValue($"event_id", eLo, eHi, $"user_id", uLo, uHi)
      TableLog.commit(spark, table,
        TableLog.Action("schema", ev.schema.json) +:
          TableLog.stageWithStats(spark, table, ev, "data/z1",
            Seq("event_id", "user_id"), FILES, orderBy = Some(z)))
    }

    def rollup(df: DataFrame): DataFrame =
      df.groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"event_id").as("s"))

    val windows = Seq(
      ("event_id", eHi / 4, eHi / 2),
      ("user_id", uHi / 4, uHi / 2))
    val arms: Seq[(String, () => DataFrame)] = windows.flatMap {
      case (c, lo, hi) => Seq(
        s"pruned_$c" -> (() =>
          rollup(TableLog.readAsOfRange(spark, table, 1, c, lo, hi))),
        s"allfiles_$c" -> (() =>
          rollup(TableLog.readAsOf(spark, table, 1)
            .filter(col(c) >= lo && col(c) <= hi))))
    }

    for ((_, fn) <- arms) graft.BenchUtil.force(fn()) // warmup
    val walls = arms.map { case (name, fn) =>
      val ts = (1 to REPS).map { _ =>
        val t0 = System.nanoTime()
        graft.BenchUtil.force(fn())
        (System.nanoTime() - t0) / 1e9
      }
      name -> graft.BenchUtil.median(ts.toVector)
    }
    val kept = windows.map { case (c, lo, hi) =>
      val (k, total) = TableLog.prunedLiveFiles(spark, table, 1, c, lo, hi)
      c -> (k.size, total)
    }
    val line = "{" +
      walls.map { case (n, w) => s""""$n":$w""" }.mkString(",") + "," +
      kept.map { case (c, (k, t)) => s""""files_$c":"$k/$t"""" }.mkString(",") +
      s""","dir":"$dir"}"""
    println(line)
    graft.BenchUtil.writeArtifact(s"target/lake_probe_$FILES.json", line)
    spark.stop()
  }
}
