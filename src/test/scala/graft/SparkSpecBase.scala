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

  override def afterAll(): Unit = {
    // keep the session for sibling suites (same JVM); Spark stops on exit
    super.afterAll()
  }
}
