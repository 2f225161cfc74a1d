package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the DISTINCT hashed word k-gram shingles of
  * a string as ARRAY<BIGINT>, in one pass over the UTF-8 bytes.
  *
  * This is the endpoint of the shingle-cost ladder the l2f variants
  * measured (llm/Dedup.scala): the SQL forms either build every shingle
  * string inside a higher-order `transform` lambda (interpreted, boxed
  * tree-walk per element — l2f_decontam/l2f_xxh) or explode positions and
  * re-slice the word array per row (codegen'd but re-materializing ~k
  * words per shingle — l2f_pos). Here the shingle is never materialized at
  * all: a word k-gram joined by single spaces is EXACTLY a byte region of
  * the original string (split-on-' '/rejoin-with-' ' is the identity on
  * any region, including empty words from doubled spaces), so each
  * shingle hash is computed straight off the parent string's bytes. One
  * allocation-free scan finds word starts (0x20 never occurs inside a
  * multi-byte UTF-8 sequence, so the byte scan is exact), one loop hashes
  * the `nWords - k + 1` regions, an open-addressing long set dedupes.
  *
  * `algo` selects the hash family so every existing shingle consumer can
  * adopt it without changing results:
  *  - `xxh64`: bit-equal to `xxhash64(shingle_string)` (seed 42 over the
  *    UTF-8 bytes — the l2f_xxh/l2f_pos key).
  *  - `md5p48`: bit-equal to `md5_prefix48(shingle_string)` (the
  *    [[Md5Prefix48]] key every md5-anchored oracle replays).
  *
  * Dedup happens on the HASH, not the string: a within-doc collision
  * between distinct shingles merges them (undercount) — the documented
  * posture of the l2f_pos/l2f_roll family; oracle equality vs the
  * md5-keyed COUNT(DISTINCT) SQL is the per-run collision check.
  */
case class ShingleHashes(child: Expression, k: Int, algo: String)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"shingle_hashes requires a STRING argument, got ${child.dataType.catalogString}")
    else if (k < 1)
      TypeCheckResult.TypeCheckFailure(s"shingle_hashes requires k >= 1, got $k")
    else if (algo != "xxh64" && algo != "md5p48")
      TypeCheckResult.TypeCheckFailure(
        s"shingle_hashes algo must be 'xxh64' or 'md5p48', got '$algo'")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  protected override def nullSafeEval(input: Any): Any =
    ShingleHashes.evalHashes(input.asInstanceOf[UTF8String], k, algo == "xxh64")

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.ShingleHashes.evalHashes($c, $k, ${algo == "xxh64"})")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {

  private val EMPTY = new GenericArrayData(Array.emptyLongArray)

  // md5 digests are stateful; one instance per thread (Md5Prefix48's trick)
  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def evalHashes(s: UTF8String, k: Int, xx: Boolean): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    // word starts: Java/Spark split-on-" " with limit -1 semantics — words
    // = spaces + 1, empty words (doubled/leading/trailing spaces) kept
    var nWords = 1
    var i = 0
    while (i < len) { if (bytes(i) == ' ') nWords += 1; i += 1 }
    if (nWords < k) return EMPTY
    val starts = new Array[Int](nWords + 1)
    var w = 1
    i = 0
    while (i < len) { if (bytes(i) == ' ') { starts(w) = i + 1; w += 1 }; i += 1 }
    starts(nWords) = len + 1 // sentinel: end of word w is starts(w + 1) - 1

    val nSh = nWords - k + 1
    val out = new Array[Long](nSh)
    var m = 0
    // open-addressing set, power-of-two capacity >= 2 * nSh (load <= 0.5);
    // 0 is reserved as the empty slot, tracked by a flag
    var cap = 4
    while (cap < nSh * 2) cap <<= 1
    val table = new Array[Long](cap)
    val mask = cap - 1
    var seenZero = false
    val md = if (xx) null else digests.get()

    var sh = 0
    while (sh < nSh) {
      val off = starts(sh)
      val end = starts(sh + k) - 1 // exclusive: byte before the next start
      val h =
        if (xx) {
          // seed 42 = Spark's xxhash64 over the same bytes
          org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + off, end - off, 42L)
        } else {
          md.reset()
          md.update(bytes, off, end - off)
          val d = md.digest()
          ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) | ((d(2) & 0xffL) << 24) |
            ((d(3) & 0xffL) << 16) | ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
        }
      if (h == 0L) {
        if (!seenZero) { seenZero = true; out(m) = 0L; m += 1 }
      } else {
        var slot = (h.toInt ^ (h >>> 32).toInt) & mask
        var dup = false
        var probing = true
        while (probing) {
          val v = table(slot)
          if (v == 0L) probing = false
          else if (v == h) { dup = true; probing = false }
          else slot = (slot + 1) & mask
        }
        if (!dup) { table(slot) = h; out(m) = h; m += 1 }
      }
      sh += 1
    }
    new GenericArrayData(if (m == nSh) out else java.util.Arrays.copyOf(out, m))
  }

  /** All `numHashes` MinHash signatures of the text's word k-grams in the
    * same single byte-pass: signature j is
    * `min over shingles of ((md5p48(shingle) % P) * a_j + b_j) % P` —
    * bit-equal to `array_min(transform(hs, h -> ...))` over the md5p48
    * hash array (llm.Dedup's LCG family; constants passed in so the
    * expression stays algorithm-agnostic). No shingle array, no dedup set
    * (min is idempotent over duplicate shingles), no interpreted lambda —
    * H multiply-adds per shingle in a JIT'd loop. Empty result (fewer
    * than k words) replaces the caller's size filter. */
  def evalMinhash(s: UTF8String, k: Int, p: Long,
      as: Array[Long], bs: Array[Long]): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    var nWords = 1
    var i = 0
    while (i < len) { if (bytes(i) == ' ') nWords += 1; i += 1 }
    if (nWords < k) return EMPTY
    val starts = new Array[Int](nWords + 1)
    var w = 1
    i = 0
    while (i < len) { if (bytes(i) == ' ') { starts(w) = i + 1; w += 1 }; i += 1 }
    starts(nWords) = len + 1

    val H = as.length
    val mins = Array.fill(H)(Long.MaxValue)
    val md = digests.get()
    val nSh = nWords - k + 1
    var sh = 0
    while (sh < nSh) {
      val off = starts(sh)
      val end = starts(sh + k) - 1
      md.reset()
      md.update(bytes, off, end - off)
      val d = md.digest()
      val h = ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) | ((d(2) & 0xffL) << 24) |
        ((d(3) & 0xffL) << 16) | ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
      val hp = h % p
      var j = 0
      while (j < H) {
        val v = (hp * as(j) + bs(j)) % p
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      sh += 1
    }
    new GenericArrayData(mins)
  }

  // SQL surface: shingle_hashes(text, k, algo) with foldable k/algo
  private[plans] val builder = (exprs: Seq[Expression]) => {
    require(exprs.length == 3,
      "shingle_hashes(text, k, algo) takes exactly 3 arguments")
    ShingleHashes(exprs.head,
      FoldableArgs.int("shingle_hashes", "k", exprs(1)),
      FoldableArgs.string("shingle_hashes", "algo", exprs(2)))
  }
}
