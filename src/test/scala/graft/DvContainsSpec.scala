package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.operators.{Etl, Lakehouse, TableLog}

/** Deletion vectors applied inside the scan task: `dv_contains` keeps the
  * anti join's semantics (null keys survive, integral keys compare as
  * long, string keys compare by bytes), refuses key types it cannot
  * compare, and a DV read or a DV guard costs no job of its own. */
class DvContainsSpec extends SparkSpecBase {

  private def fresh(name: String): String = {
    val t = s"${Etl.scratch(spark)}/$name"
    new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(t), true)
    t
  }

  private def create(t: String, df: DataFrame): Unit =
    TableLog.commit(spark, t, TableLog.Action("schema", df.schema.json) +:
      TableLog.stage(spark, t, df, "data/v1"))

  test("dv_contains: a null-keyed row survives a DV, and a null DV key deletes nothing") {
    import spark.implicits._
    val t = fresh("dv_null_table")
    create(t, Seq[(Option[Long], String)]((Some(1L), "a"), (None, "b"), (Some(2L), "c"))
      .toDF("id", "v"))
    Lakehouse.morDelete(spark, t, Seq(Some(1L), None).toDF("id"))
    val rows = TableLog.readAsOf(spark, t, 2).as[(Option[Long], String)].collect()
    assert(rows.toSet === Set((None, "b"), (Some(2L), "c")))
  }

  test("dv_contains: an int DV on a long key deletes exactly its keys (compared as long, never truncated)") {
    import spark.implicits._
    val t = fresh("dv_int_on_long_table")
    // 4294967297 truncates to the int 1: only a long compare keeps it
    create(t, Seq(1L, 2L, 3L, 4294967297L).toDF("id").withColumn("v", $"id" * 10))
    Lakehouse.morDelete(spark, t, Seq(1, 3).toDF("id"))
    assert(TableLog.readAsOf(spark, t, 2).select($"id").as[Long].collect().toSet
      === Set(2L, 4294967297L))
  }

  test("dv_contains: a string-keyed morMerge + morDelete reads and feeds correctly") {
    import spark.implicits._
    val t = fresh("dv_string_table")
    create(t, (1 to 6).map(i => (s"k$i", i.toLong)).toDF("k", "v"))
    // v2: update k2, insert k7; v3: delete k3 and k4 (k9 is absent)
    Lakehouse.morMerge(spark, t, Seq(("k2", 20L), ("k7", 7L)).toDF("k", "v"), "k")
    Lakehouse.morDelete(spark, t, Seq("k3", "k4", "k9").toDF("k"))
    assert(TableLog.readAsOf(spark, t, 3).as[(String, Long)].collect().toSet ===
      Set(("k1", 1L), ("k2", 20L), ("k5", 5L), ("k6", 6L), ("k7", 7L)))
    assert(TableLog.readAsOf(spark, t, 2).as[(String, Long)].collect().toSet ===
      (1 to 6).map(i => (s"k$i", i.toLong)).toSet - (("k2", 2L)) + (("k2", 20L)) +
        (("k7", 7L)))
    val feed = Lakehouse.cdfRead(spark, t, 1, 3, "k")
      .select($"_commit_version", $"_change_type", $"k", $"v")
      .as[(Long, String, String, Long)].collect().toSet
    assert(feed === Set((2L, "update", "k2", 20L), (2L, "insert", "k7", 7L),
      (3L, "delete", "k3", 3L), (3L, "delete", "k4", 4L)))
  }

  test("dv key types: a double key is refused by morDelete and morMerge; a string DV on a long column too") {
    import spark.implicits._
    val t = fresh("dv_double_table")
    create(t, Seq((1.5, 1L), (2.5, 2L)).toDF("d", "id"))
    val del = intercept[IllegalArgumentException] {
      Lakehouse.morDelete(spark, t, Seq(1.5).toDF("d"))
    }
    assert(del.getMessage.contains("integral or string"))
    val merge = intercept[IllegalArgumentException] {
      Lakehouse.morMerge(spark, t, Seq((1.5, 10L)).toDF("d", "id"), "d")
    }
    assert(merge.getMessage.contains("integral or string"))
    val family = intercept[IllegalArgumentException] {
      Lakehouse.morDelete(spark, t, Seq("1").toDF("id"))
    }
    assert(family.getMessage.contains("never match"))
    assert(TableLog.currentVersion(spark, t) === 1)
    // a DV committed around the writer checks: the reader refuses it, naming the file
    def commitRawDv(keys: DataFrame, rel: String): String = {
      keys.coalesce(1).write.parquet(s"$t/$rel")
      val dv = TableLog.listStaged(spark, t, rel).head.path
      TableLog.commit(spark, t, Seq(TableLog.Action("feature", "dv"), TableLog.Action("dv", dv)))
      dv
    }
    val stringDv = commitRawDv(Seq("1").toDF("id"), "data/dv/raw-string")
    val read = intercept[Exception](TableLog.readAsOf(spark, t, 2).collect())
    assert(Iterator.iterate[Throwable](read)(_.getCause).takeWhile(_ != null)
      .exists(c => c.getMessage != null && c.getMessage.contains(stringDv) &&
        c.getMessage.contains("never match")), read.toString)
    val doubleDv = commitRawDv(Seq(1.5).toDF("d"), "data/dv/raw-double")
    val refused = intercept[IllegalStateException](TableLog.readAsOf(spark, t, 3))
    assert(refused.getMessage.contains(doubleDv) &&
      refused.getMessage.contains("only integral and string keys"))
  }

  test("dv read: readAsOf over two DV groups (merge, then delete) runs ONE job — no join, no exchange") {
    import spark.implicits._
    val t = fresh("dv_jobs_table")
    create(t, (1L to 40L).map(i => (i, i * 10)).toDF("id", "v"))
    Lakehouse.morMerge(spark, t, Seq((5L, 0L), (41L, 410L)).toDF("id", "v"), "id")
    Lakehouse.morDelete(spark, t, Seq(6L, 41L).toDF("id"))
    val (rows, jobs) = jobsOf("dv-read") {
      val df = TableLog.readAsOf(spark, t, 3)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Join") && !plan.contains("Exchange") &&
        plan.contains("dv_contains"), s"DV read plan:\n$plan")
      df.as[(Long, Long)].collect()
    }
    assert(jobs === 1)
    assert(rows.toSet === ((1L to 40L).map(i => (i, i * 10)).toSet --
      Set((5L, 50L), (6L, 60L)) + ((5L, 0L))))
  }

  test("dropColumn under a live DV reads the DV key from the footer: zero jobs") {
    import spark.implicits._
    val t = fresh("dv_drop_table")
    create(t, Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "s", "w"))
    Lakehouse.morDelete(spark, t, Seq(1L).toDF("id"))
    val (e, refusedJobs) = jobsOf("dv-drop-key") {
      intercept[IllegalArgumentException](TableLog.dropColumn(spark, t, "id"))
    }
    assert(e.getMessage.contains("deletion vector") &&
      e.getMessage.contains("every read's DV filter would fail"))
    val (_, dropJobs) = jobsOf("dv-drop-other") { TableLog.dropColumn(spark, t, "w") }
    assert(refusedJobs === 0 && dropJobs === 0)
    assert(TableLog.readAsOf(spark, t, 3).as[(Long, String)].collect().toSeq === Seq((2L, "b")))
  }

  test("dv_contains: generated code compiles (fallback off) and agrees with interpreted eval") {
    import spark.implicits._
    val t = fresh("dv_codegen_table")
    create(t, Seq(Some(1L), Some(2L), None).toDF("id"))
    Lakehouse.morDelete(spark, t, Seq(2L).toDF("id"))
    val path = TableLog.dvKey(spark, t, TableLog.liveState(spark, t, 2).dvs.head._1)._1
    graft.plans.Native.install(spark)
    // a file scan, so the projection really runs in a task (a local
    // relation would be folded on the driver)
    val probe = TableLog.readAsOf(spark, t, 1)
      .select($"id", expr(s"dv_contains(id, array('$path'))"),
        expr(s"dv_contains(CAST(id AS INT), array('$path'))"))
    def rows = probe.as[(Option[Long], Boolean, Boolean)].collect().sortBy(_._1).toSeq
      .map(r => (r._2, r._3))
    val expected = Seq((false, false), (false, false), (true, true)) // null, 1, 2
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try assert(rows === expected) finally spark.conf.set("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(rows === expected)
    finally {
      spark.conf.unset("spark.sql.codegen.factoryMode")
      spark.conf.unset("spark.sql.codegen.wholeStage")
    }
  }

  test("a snapshot read scans its deletion-vector groups in manifest order, not hash order") {
    import spark.implicits._
    val t = fresh("dv_group_order_table")
    // five file sets, a DV after each of the first four: every file sees a
    // different DV set, so the read is five groups
    (0 until 5).foreach { i =>
      val rows = spark.range(i * 10L, i * 10L + 10).select($"id", ($"id" * 2).as("v"))
      val adds = TableLog.stage(spark, t, rows, s"data/b$i")
      TableLog.commit(spark, t,
        if (i == 0) TableLog.Action("schema", rows.schema.json) +: adds else adds)
      if (i < 4) Lakehouse.morDelete(spark, t, Seq(i * 10L).toDF("id"))
    }
    val head = TableLog.currentVersion(spark, t)
    val manifestOrder = TableLog.liveFiles(spark, t, head).map(_.split('/')(1)).distinct
    // the batch dir of each scan relation, in plan (union child) order
    val scanOrder = TableLog.readAsOf(spark, t, head).queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation].location
        .inputFiles.map(p => new Path(p).getParent.getName).distinct.toSeq
    }.flatten
    assert(manifestOrder.size === 5)
    assert(scanOrder === manifestOrder)
  }
}
