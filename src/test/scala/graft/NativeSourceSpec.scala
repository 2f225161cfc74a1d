package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** `plans/Native.scala` is the only place that puts a function into a
  * session registry. A second path (a per-kernel `register`, an inline
  * extension entry) is how `sum128` and `simhash_sig` once went missing
  * from the extension, so the source tree is scanned for the registry
  * calls rather than trusting review to spot them. */
class NativeSourceSpec extends org.scalatest.funsuite.AnyFunSuite {

  // forked test JVMs run in the repository root
  private val mainRoot: Path = Paths.get("src/main/scala").toAbsolutePath

  test("only plans/Native.scala registers or injects functions") {
    val native = mainRoot.resolve("graft/plans/Native.scala")
    val calls = "createOrReplaceTempFunction|registerFunction|injectFunction".r
    val offenders = Files.walk(mainRoot).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != native)
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if calls.findFirstIn(line).isDefined =>
            s"${mainRoot.relativize(p)}:${i + 1}: ${line.trim}"
        }
      }.toSeq
    assert(Files.exists(native))
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
