package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native Catalyst expression: all `bands` seeded-Rademacher band
  * signatures of a float embedding as ARRAY<BIGINT>, one tight pass.
  *
  * Bit-equal to the SQL composition it replaces (llm.Similarity's seeded
  * `signLshPairs`): band b, bit i is the sign of the fold
  * `aggregate(zip_with(embedding, signs, (x,s) -> CAST(x AS DOUBLE)*s),
  * 0D, (acc,v) -> acc+v)` — the accumulation order (d = 0..dim-1) and
  * the ±1.0 multiplications are replayed exactly, so every signature
  * matches the interpreted form bit-for-bit. The hyperplane sign for
  * projection row k, dimension d is the sign bit of
  * `splitmix64(seed·1000003 + k·8191 + d)`, computed inline — no matrix
  * is materialized or broadcast.
  *
  * Why native: the SQL form pays TWO nested higher-order lambdas
  * (`aggregate` over `zip_with`) per bit — interpreted, boxed — times
  * `bands·signBits` bits per vector. This is the ShingleHashes lesson
  * applied to projections: per-element work belongs in one expression
  * that touches the values once.
  */
case class RademacherSigs(child: Expression, seed: Long, signBits: Int, bands: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) =>
      if (signBits < 1 || signBits > 62)
        TypeCheckResult.TypeCheckFailure(s"signBits out of range: $signBits")
      else if (bands < 1)
        TypeCheckResult.TypeCheckFailure(s"bands out of range: $bands")
      else TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"rademacher_sigs requires ARRAY<FLOAT>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rademacher_sigs"

  protected override def nullSafeEval(input: Any): Any =
    RademacherSigs.evalSigs(input.asInstanceOf[ArrayData], seed, signBits, bands)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.RademacherSigs.evalSigs($c, ${seed}L, $signBits, $bands)")

  override protected def withNewChildInternal(newChild: Expression): RademacherSigs =
    copy(child = newChild)
}

object RademacherSigs {

  // SQL surface: rademacher_sigs(embedding, seed, signBits, bands) with
  // foldable numeric literals (the Md5Prefix48/ShingleHashes pattern)
  private[plans] val builder = (exprs: Seq[Expression]) => {
    require(exprs.length == 4,
      "rademacher_sigs(emb, seed, signBits, bands) takes exactly 4 arguments")
    RademacherSigs(exprs.head,
      FoldableArgs.long("rademacher_sigs", "seed", exprs(1)),
      FoldableArgs.int("rademacher_sigs", "signBits", exprs(2)),
      FoldableArgs.int("rademacher_sigs", "bands", exprs(3)))
  }

  /** Steele et al.'s splitmix64 finalizer — the shared PRN the Scala-side
    * matrix builder (Similarity.rademacher) and this expression both
    * derive signs from. */
  def splitmix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  // named evalSigs, NOT eval: the case class inherits eval(InternalRow)
  // from Expression, which suppresses the static forwarder for a
  // companion method of the same name — generated Java then resolves
  // graft.plans.RademacherSigs.eval to the instance method and the
  // whole-stage compile fails, silently demoting every caller to
  // interpreted eval (found via the CompileException in bench logs)
  def evalSigs(arr: ArrayData, seed: Long, signBits: Int, bands: Int): ArrayData = {
    val x = arr.toFloatArray()
    val dim = x.length
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var sig = 0L
      var i = 0
      while (i < signBits) {
        val k = (b * signBits + i).toLong
        var dot = 0.0d
        var d = 0
        while (d < dim) {
          // identical arithmetic to the SQL fold: ±1.0 * (double)x, summed
          // in dimension order
          val s = if (splitmix64(seed * 1000003L + k * 8191L + d) < 0) -1.0d else 1.0d
          dot += x(d).toDouble * s
          d += 1
        }
        if (dot > 0d) sig |= 1L << i
        i += 1
      }
      out(b) = sig
      b += 1
    }
    new GenericArrayData(out)
  }
}
