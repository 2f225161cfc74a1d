package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: polynomial rolling fingerprint of a string —
  * `acc := (acc * 31 + codepoint) % 1e9+7` folded left-to-right over the
  * code points, the l4e document fingerprint (reference extracts carry no
  * content hash; this is the winnowing building block SURVEY §2.10 mandates).
  *
  * The composed SQL form `aggregate(transform(sequence(1, length(text)),
  * i -> ascii(substr(text, i, 1))), ...)` is accidentally O(n²): Spark's
  * `substr(text, i, 1)` must seek from byte 0 to find code point i on every
  * call, so a 1 KB document costs ~500K byte inspections and the sf0.1
  * corpus made l4e the single slowest bench query (3.35s, 7× DuckDB —
  * BENCHNOTES round 10). This expression folds the code points in one pass
  * inside whole-stage codegen: O(n) per document, one `toString` as the
  * only per-row allocation.
  *
  * Semantics match the DuckDB oracle (`unicode(text[i])` = code point) on
  * ALL input, which is stricter than the old composed form: `ascii` returns
  * the first UTF-8 BYTE, equal to the code point only for ASCII (the
  * fixture corpus is ASCII, so all three agree there — hash-exactness is
  * unchanged; on non-ASCII this form is the correct one).
  */
case class RollingFp(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_fp requires a STRING argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_fp"

  protected override def nullSafeEval(input: Any): Any =
    RollingFp.evalRollingFp(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.RollingFp.evalRollingFp($c)")

  override protected def withNewChildInternal(newChild: Expression): RollingFp =
    copy(child = newChild)
}

object RollingFp {

  private val MOD = 1000000007L

  /** One-pass left fold over code points; acc < 1e9+7 so acc*31+cp never
    * overflows a long (max ~3.1e10 + 0x10FFFF). */
  def evalRollingFp(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      acc = (acc * 31L + cp) % MOD
      i += Character.charCount(cp)
    }
    acc
  }

  private[plans] val builder = (exprs: Seq[Expression]) => RollingFp(exprs.head)
}
