package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The source layering of the table log: the log library files hold the
  * engine API only — the declared queries and their fixtures live in
  * LakeQueries — and one module owns the artifact source stamp. Reads the
  * sources; needs no Spark session. */
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

  test("_GRAFT_SOURCE appears in exactly one main source file") {
    val walk = Files.walk(main)
    val hits =
      try walk.iterator.asScala.toSeq
        .filter(p => p.toString.endsWith(".scala") && read(p).contains("_GRAFT_SOURCE"))
        .map(main.relativize(_).toString)
      finally walk.close()
    assert(hits === Seq("graft/Stamp.scala"))
  }
}
