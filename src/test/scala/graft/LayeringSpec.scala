package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The source layering of the table log: the log library files hold the
  * engine API only — the declared queries and their fixtures live in
  * LakeQueries — one module owns the artifact source stamp, one write
  * publishes to the log, one harness listens to the scheduler, one
  * operator writes a bucketed layout, no lake writer pulls rows to the
  * driver, and no default path points into one checkout.
  * Reads the sources; needs no Spark session. */
class LayeringSpec extends AnyFunSuite {
  private val main = Paths.get("src/main/scala")
  private def read(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  test("TableLog, Lakehouse and LogProtocol name no fixture source: no Tables., Etl.scratch or sfDir") {
    for (f <- Seq("TableLog", "Lakehouse", "LogProtocol")) {
      val src = read(main.resolve(s"graft/operators/$f.scala"))
      for (needle <- Seq("Tables.", "Etl.scratch", "sfDir"))
        assert(!src.contains(needle), s"$f.scala mentions $needle")
    }
  }

  test("the lake writers pull no rows to the driver: no .head(), .collect(), .take( or .count() in TableLog, Lakehouse and LogProtocol") {
    val hits = for {
      f <- Seq("TableLog", "Lakehouse", "LogProtocol")
      (line, i) <- read(main.resolve(s"graft/operators/$f.scala")).linesIterator.zipWithIndex
      needle <- Seq(".head()", ".collect()", ".take(", ".count()") if line.contains(needle)
    } yield s"$f.scala:${i + 1} $needle"
    assert(hits.isEmpty, s"driver pulls in ${hits.mkString(", ")}")
  }

  /** Every main source file, relative path and text. */
  private lazy val sources: Seq[(String, String)] = {
    val walk = Files.walk(main)
    try walk.iterator.asScala.toSeq.filter(_.toString.endsWith(".scala"))
      .map(p => main.relativize(p).toString -> read(p)).sortBy(_._1)
    finally walk.close()
  }

  test("_GRAFT_SOURCE appears in exactly one main source file") {
    assert(sources.collect { case (p, src) if src.contains("_GRAFT_SOURCE") => p } ===
      Seq("graft/Stamp.scala"))
  }

  test("addSparkListener appears in exactly one main source file: the tools' sweep harness") {
    assert(sources.collect { case (p, src) if src.contains("addSparkListener") => p } ===
      Seq("graft/tools/Sweep.scala"))
  }

  test("no main source names an absolute checkout path: defaults resolve under the working directory") {
    val checkout = Paths.get("").toAbsolutePath.normalize.toString
    val hits = sources.collect { case (p, src) if src.contains(checkout) => p }
    assert(hits.isEmpty, s"absolute checkout path in ${hits.mkString(", ")}")
  }

  test("the table log has one exclusive write: publishExclusive( is called from one place outside LogStore") {
    val calls = sources.filterNot(_._1 == "graft/operators/LogStore.scala").flatMap {
      case (p, src) => src.linesIterator.zipWithIndex.collect {
        case (line, i) if line.contains("publishExclusive(") => s"$p:${i + 1}"
      }
    }
    assert(calls.size === 1, s"publishExclusive( called from ${calls.mkString(", ")}")
  }

  test("one integer Lloyd: src/main/scala holds exactly one CAST(CAST(CAST(sum( centroid update") {
    val update = java.util.regex.Pattern.quote("CAST(CAST(CAST(sum(").r
    val hits = sources.map { case (p, src) => p -> update.findAllIn(src).size }
      .filter(_._2 > 0)
    assert(hits.map(_._2).sum === 1, s"centroid updates in ${hits.mkString(", ")}")
  }

  test("one PQ encoder: no join-based min(struct(dist, c)) argmin in src/main/scala") {
    val hits = sources.collect { case (p, src) if src.contains("min(struct($\"dist\"") => p }
    assert(hits.isEmpty, s"join-based argmin in ${hits.mkString(", ")}")
  }

  test("the deleted k-means and PQ twins stay deleted: pqAssign, pqDims, pqTrainPlan, kmTrainFrom") {
    val gone = "pqAssign|pqDims|pqTrainPlan|kmTrainFrom".r
    val hits = sources.collect { case (p, src) if gone.findFirstIn(src).nonEmpty => p }
    assert(hits.isEmpty, s"deleted names in ${hits.mkString(", ")}")
  }

  test("one bucketed-layout writer: bucketBy( and CLUSTERED BY each appear only in operators/Bucketed.scala") {
    for (needle <- Seq("bucketBy(", "CLUSTERED BY"))
      assert(sources.collect { case (p, src) if src.contains(needle) => p } ===
        Seq("graft/operators/Bucketed.scala"), needle)
  }

  test("the deleted star arms and the second layout writer stay deleted: q2PlainFrom, MakeStar, registerBucketed, probe rows") {
    val gone = "q2PlainFrom|MakeStar|registerBucketed|q2_sortagg_probe|plain_legacy".r
    val hits = sources.collect { case (p, src) if gone.findFirstIn(src).nonEmpty => p }
    assert(hits.isEmpty, s"deleted names in ${hits.mkString(", ")}")
  }
}
