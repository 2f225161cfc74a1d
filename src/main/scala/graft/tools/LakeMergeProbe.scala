package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{LakeQueries, Lakehouse, TableLog}

/** Tier measurement for the MERGE paths (r16 verdict item 7: s13–s16/mv2
  * carry 25M-row walls, s17 does not — and S18 is new this round):
  *
  *  - s17 copy-on-write apply: a src commit that CHANGES only the first
  *    1/64 of the key domain replicates into a key-clustered destination
  *    — measured wall plus the PRUNED-REWRITE FRACTION (dst files
  *    rewritten / total), the number the "bounded by key locality" claim
  *    needs;
  *  - s18 merge-on-read delete: wall of the delete itself (one key-file
  *    write — compare against the s17 apply that rewrites files), the
  *    full-scan read tax of the DV anti-join (read wall before vs after
  *    the delete), and the OPTIMIZE absorb wall that retires it;
  *  - s20 merge-on-read upsert: wall of a DV merge over ~0.1% of keys
  *    SCATTERED across the whole domain (the case where a CoW apply
  *    would rewrite every file — compare cold_apply), its read tax, and
  *    the absorbing OPTIMIZE.
  *
  * Run on an events tier (`MakeHeavy <src> <out> <copies> events`).
  * Mutations are timed once (they move the table); reads are
  * lower-median of REPS after one warmup. One JSON line to stdout and
  * target/lake_merge_probe_<files>.json.
  */
object LakeMergeProbe {
  val REPS = 3

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/bench_lake/sf25")
    val FILES = if (args.length > 1) args(1).toInt else 64
    val spark = graft.GraftSession.local(MakeHeavy.cpus)
    import spark.implicits._
    val src = s"${dir.stripSuffix("/")}/lake_merge_src_$FILES"
    val dst = s"${dir.stripSuffix("/")}/lake_merge_dst_$FILES"
    val ev = LakeQueries.fixtureEvents(spark, dir, src, dst)
    val org.apache.spark.sql.Row(eLo: Long, eHi: Long) =
      ev.agg(min($"event_id"), max($"event_id")).head()

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def readMedian(f: () => DataFrame): Double = {
      graft.BenchUtil.force(f()) // warmup
      graft.BenchUtil.median((1 to REPS).map { _ =>
        timed(graft.BenchUtil.force(f()))
      }.toVector)
    }
    def rollup(df: DataFrame): DataFrame =
      df.groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"event_id").as("s"))

    // ---- fixture: src v1 = the tier, key-clustered with manifest stats
    val tBuild = timed {
      TableLog.commit(spark, src, TableLog.Action("schema", ev.schema.json) +:
        TableLog.stageWithStats(spark, src, ev, "data/v1", Seq("event_id"), FILES))
    }
    // cold replication (the one full-table apply a deployment pays once)
    val tCold = timed {
      Lakehouse.cdfApply(spark, src, dst, 1, "event_id", "probe", FILES)
    }
    val dstBefore = TableLog.liveFiles(spark, dst, 1).toSet

    // ---- s17: src v2 changes ONLY the first 1/64 of the key domain —
    // the commit itself rewrites just the covering src files (what a
    // production UPDATE would stage), so the DELTA is narrow by
    // construction and the apply's pruning is what gets measured
    val cutHi = eLo + (eHi - eLo) / 64
    val covering = TableLog.prunedLiveFiles(spark, src, 1,
      "event_id", eLo, cutHi)._1
    val bumped = spark.read
      .schema(TableLog.schemaAsOf(spark, src, 1).get)
      .parquet(covering.map(r => s"$src/$r"): _*)
      .withColumn("value",
        when($"event_id" <= cutHi, $"value" + 1.0).otherwise($"value"))
    TableLog.commit(spark, src,
      covering.map(TableLog.Action("remove", _)) ++
        TableLog.stage(spark, src, bumped, "data/v2"))
    val tApply = timed {
      Lakehouse.cdfApply(spark, src, dst, 2, "event_id", "probe", FILES)
    }
    val dstAfter = TableLog.liveFiles(spark, dst,
      TableLog.currentVersion(spark, dst)).toSet
    val rewritten = (dstBefore -- dstAfter).size

    // ---- s18: reads before, MOR delete of ~0.1% of keys, reads after
    // (the DV anti-join tax), then the absorbing OPTIMIZE
    def head(): Int = TableLog.currentVersion(spark, dst)
    val tReadPlain = readMedian(() =>
      rollup(TableLog.readAsOf(spark, dst, head())))
    val tDelete = timed {
      Lakehouse.morDelete(spark, dst,
        TableLog.readAsOf(spark, dst, head())
          .filter($"event_id" % 1000 === 0).select($"event_id"))
    }
    val tReadDv = readMedian(() =>
      rollup(TableLog.readAsOf(spark, dst, head())))
    val tAbsorb = timed {
      Lakehouse.compactCommit(spark, dst, FILES, statsCols = Seq("event_id"))
    }
    val tReadPacked = readMedian(() =>
      rollup(TableLog.readAsOf(spark, dst, head())))

    // ---- s20: MOR upsert of ~0.1% of keys SCATTERED across the whole
    // domain — the worst case for a CoW apply (every destination file's
    // range is hit, so S17 would rewrite all of them; compare cold_apply)
    // and the case the DV merge exists for: O(k) at write time. The
    // source frame is built outside the timing (production upserts
    // arrive as their own small frame, they are not derived by scanning
    // the destination).
    val mergeRows = ev.filter($"event_id" % 997 === 0)
      .withColumn("value", $"value" + 2.0).localCheckpoint()
    val tMerge = timed {
      Lakehouse.morMerge(spark, dst, mergeRows, "event_id", files = 1)
    }
    val tReadMergeDv = readMedian(() =>
      rollup(TableLog.readAsOf(spark, dst, head())))
    val tMergeAbsorb = timed {
      Lakehouse.compactCommit(spark, dst, FILES, statsCols = Seq("event_id"))
    }

    val line = "{" + Seq(
      s""""build":$tBuild""",
      s""""cold_apply":$tCold""",
      s""""s17_apply":$tApply""",
      s""""s17_rewritten":"$rewritten/${dstBefore.size}"""",
      s""""read_plain":$tReadPlain""",
      s""""s18_delete":$tDelete""",
      s""""read_with_dv":$tReadDv""",
      s""""s18_absorb":$tAbsorb""",
      s""""read_packed":$tReadPacked""",
      s""""s20_merge":$tMerge""",
      s""""read_with_merge_dv":$tReadMergeDv""",
      s""""s20_absorb":$tMergeAbsorb""",
      s""""files":$FILES""",
      s""""dir":"$dir"""").mkString(",") + "}"
    println(line)
    graft.BenchUtil.writeArtifact(s"target/lake_merge_probe_$FILES.json", line)
    spark.stop()
  }
}
