package graft

import org.apache.spark.sql.functions._

/** The apply-loop probes (cdfApply's emptiness and key-range probe,
  * morMerge's empty-source test, `Dedup`'s connected-components
  * convergence count) ride a `localCheckpoint()` as observed metrics and
  * read them SYNCHRONOUSLY off the executed plan,
  * `queryExecution.observedMetrics`, not through the listener-bus
  * `Observation`. This pins that the metrics are there the moment the
  * eager checkpoint returns, with AQE on, for a non-empty and an empty
  * frame. */
class ObservedCheckpointSpec extends SparkSpecBase {

  private def aqeSession() = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s
  }

  test("observed metrics are readable right after localCheckpoint (non-empty frame)") {
    val s = aqeSession()
    import s.implicits._
    val observed = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("k", "t")
      .observe("__probe", count(lit(1)).as("n"),
        count(when($"t" === "a", 1)).as("na"),
        max(when($"k" >= 2L && $"k" <= 3L, 1L).otherwise(0L)).as("h"))
    val ck = observed.localCheckpoint()
    val row = observed.queryExecution.observedMetrics("__probe")
    assert(row.getAs[Long]("n") === 3L)
    assert(row.getAs[Long]("na") === 2L)
    assert(row.getAs[Long]("h") === 1L)
    assert(ck.count() === 3L)
  }

  test("an empty frame observes count 0 and a null max") {
    val s = aqeSession()
    import s.implicits._
    val observed = Seq((1L, "a"), (2L, "b")).toDF("k", "t").filter($"k" > 100L)
      .observe("__probe", count(lit(1)).as("n"),
        max(when($"k" > 0L, 1L).otherwise(0L)).as("h"))
    val ck = observed.localCheckpoint()
    val row = observed.queryExecution.observedMetrics("__probe")
    assert(row.getAs[Long]("n") === 0L)
    assert(row.isNullAt(row.fieldIndex("h")))
    assert(ck.isEmpty)
  }
}
