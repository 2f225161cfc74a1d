package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  // Timestamp literals in fixtures are written as wall-clock strings; pin
  // the JVM default so suites are green regardless of the host timezone
  // (the Spark session timezone is pinned to UTC separately below).
  java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))

  /** Where specs write: the engine's default scratch root, under the
    * working directory. */
  val scratchRoot: String = graft.operators.Etl.defaultScratch

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.warehouse.dir", s"$scratchRoot/warehouse")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** Jobs started by `body`, counted through the status tracker once the
    * listener bus has drained past a marker job. */
  protected def jobsOf[T](group: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, "")
    val out = try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$group-drain", "")
    try spark.range(1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (sc.statusTracker.getJobIdsForGroup(s"$group-drain").isEmpty &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(sc.statusTracker.getJobIdsForGroup(s"$group-drain").nonEmpty,
      "listener bus never drained")
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  override def afterAll(): Unit = {
    // keep the session for sibling suites (same JVM); Spark stops on exit
    super.afterAll()
  }
}
