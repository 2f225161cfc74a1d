package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the 48-bit md5 prefix of a string as a
  * LONG — bit-identical to `CAST(conv(substr(md5(s), 1, 12), 16, 10) AS
  * BIGINT)` (the first 6 digest bytes, big-endian), which is the shuffle
  * key every hash-keyed operator here uses (shingles in l2b/l2d/l2e/l2f,
  * terms in l7, bigrams in l4f).
  *
  * The composed form materializes the full 32-char hex string, substrings
  * it, and re-parses base-16 — three UTF8String allocations plus a digit
  * loop per value. At sf1 the shingle family evaluates this ~9M times per
  * query and the hex round trip was measured as ~16s of a 25s scan
  * (L2fProbe); this expression goes digest-bytes → long directly inside
  * whole-stage codegen. The DuckDB oracle keeps replaying the hex fold —
  * values are equal by construction, so every query stays hash-exact.
  */
case class Md5Prefix48(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"md5_prefix48 requires a STRING argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix48"

  protected override def nullSafeEval(input: Any): Any =
    Md5Prefix48.evalMd5p48(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Md5Prefix48.evalMd5p48($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix48 =
    copy(child = newChild)
}

object Md5Prefix48 {

  // one digest instance per thread: MessageDigest is stateful and
  // getInstance per row would dominate the hot loop
  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 6 md5 digest bytes, big-endian — equals the hex-prefix fold. */
  def evalMd5p48(s: UTF8String): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(s.getBytes)
    ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) | ((d(2) & 0xffL) << 24) |
      ((d(3) & 0xffL) << 16) | ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
  }

  private[plans] val builder = (exprs: Seq[Expression]) => Md5Prefix48(exprs.head)
}
