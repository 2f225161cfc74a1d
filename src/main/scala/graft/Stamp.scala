package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** The source stamp of a derived artifact — an ANN index, a learned merge
  * table, a bucketed layout, a prebuilt lake fixture: a `_GRAFT_SOURCE`
  * file in the artifact's directory holding the [[of fingerprint]] of the
  * source it was built from. An artifact is reused only while its stamp
  * equals the live source's fingerprint, so a fixture regenerated under an
  * unchanged path forces a rebuild instead of serving data that no longer
  * exists. The stamp is written only AFTER the build returns: a crashed
  * build leaves no stamp (or the previous generation's, which no longer
  * matches), and both read as stale. The stamp proves provenance, not
  * that a build finished: each caller adds a completeness check, the
  * written artifacts' [[committed]] or a log version.
  */
object Stamp {

  private def marker(dir: String) = Paths.get(s"$dir/_GRAFT_SOURCE")

  /** Fingerprint of a source table, a single file or a directory of parts:
    * `name=length:mtime` per file (dot-files skipped, sorted by name).
    * Metadata only, so every ensure can afford it. */
  def of(path: String): String = {
    val src = new java.io.File(path)
    if (src.isFile) s"${src.getName}=${src.length}:${src.lastModified}"
    else
      Option(src.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isFile && !f.getName.startsWith("."))
        .sortBy(_.getName)
        .map(f => s"${f.getName}=${f.length}:${f.lastModified}")
        .mkString(";")
  }

  /** Did the write of the artifact at `dir` commit (`_SUCCESS`)? */
  def committed(dir: String): Boolean = Files.exists(Paths.get(s"$dir/_SUCCESS"))

  /** Does `dir` carry the stamp `fp`? */
  def holds(dir: String, fp: String): Boolean =
    Files.isRegularFile(marker(dir)) &&
      new String(Files.readAllBytes(marker(dir)), UTF_8) == fp

  /** Stamp `dir` with `fp`. Call it only once the build of `dir` has
    * returned; [[ensure]] does. */
  def write(dir: String, fp: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(marker(dir), fp.getBytes(UTF_8))
  }

  /** Rebuild `dir` unless it is stamped with `fp` and `complete`, stamping
    * it after the build; returns whether it built. */
  def ensure(dir: String, fp: String, complete: => Boolean)(build: => Unit): Boolean =
    if (holds(dir, fp) && complete) false
    else { build; write(dir, fp); true }
}
