package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source-tree guards that need no Spark. `plans/Native.scala` is the
  * only place that puts a function into a session registry: a second
  * path (a per-kernel `register`, an inline extension entry) is how
  * `sum128` and `simhash_sig` once went missing from the extension.
  * `GraftSession.local` is the one session the tools build, with Bench's
  * conf: hand-copied builder blocks had already drifted apart. So the
  * source is scanned rather than trusting review to spot a second path. */
class NativeSourceSpec extends org.scalatest.funsuite.AnyFunSuite {

  // forked test JVMs run in the repository root
  private val mainRoot: Path = Paths.get("src/main/scala").toAbsolutePath

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  /** `file:line: text` for every line under `dir` matching `re`. */
  private def grep(dir: Path, re: scala.util.matching.Regex,
      skip: Path => Boolean = _ => false): Seq[String] =
    Files.walk(dir).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !skip(p))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if re.findFirstIn(line).isDefined =>
            s"${mainRoot.relativize(p)}:${i + 1}: ${line.trim}"
        }
      }.toSeq

  test("only plans/Native.scala registers or injects functions") {
    val native = mainRoot.resolve("graft/plans/Native.scala")
    val calls = "createOrReplaceTempFunction|registerFunction|injectFunction".r
    val offenders = grep(mainRoot, calls, _ == native)
    assert(Files.exists(native))
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("no tool builds its own SparkSession") {
    val tools = mainRoot.resolve("graft/tools")
    assert(Files.isDirectory(tools))
    val offenders = grep(tools, """SparkSession\.builder""".r)
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("every literal conf Bench sets, GraftSession sets to the same value") {
    val benchPairs = """\.config\("([^"]+)",\s*"([^"]*)"\)""".r
      .findAllMatchIn(read(mainRoot.resolve("graft/Bench.scala")))
      .map(m => m.group(1) -> m.group(2)).toSeq
    // `"key" -> "value"` in the conf lists, `.config("key", "value")` in local
    val sessionPairs = """"([^"]+)"\s*(?:->|,)\s*"([^"]*)"""".r
      .findAllMatchIn(read(mainRoot.resolve("graft/GraftSession.scala")))
      .map(m => m.group(1) -> m.group(2)).toSet
    assert(benchPairs.size >= 5, s"Bench conf scan found only $benchPairs")
    val drift = benchPairs.filterNot(sessionPairs)
    assert(drift.isEmpty, s"Bench sets, GraftSession does not: ${drift.mkString(", ")}")
  }
}
