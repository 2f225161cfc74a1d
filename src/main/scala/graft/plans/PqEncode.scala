package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native Catalyst expression: product-quantization encode —
  * `pq_encode(qvec, codebook)` maps a quantized vector
  * (`ARRAY<BIGINT>`, the l3l micro-fixed-point convention) to its M
  * subspace codes (`ARRAY<INT>`) under a codebook
  * (`ARRAY<ARRAY<ARRAY<BIGINT>>>`, M × K × SUB).
  *
  * This is the production-width (K=256, 8-bit codes) answer to the
  * fan-out the demonstration path tolerates: `Similarity.pqAssign`
  * assigns by a broadcast join that materializes one ROW per
  * (subvector, candidate centroid) — ×16 at the fixture's K=16, but
  * ×256 at production width that join emits half a BILLION intermediate
  * rows per 500k vectors. Here the argmin over K centroids is one
  * compiled loop per vector (M·K·SUB integer multiply-adds, no rows),
  * the codebook riding a 1-row broadcast beside the scan — the FAISS
  * encode shape. Arithmetic is the exact BIGINT squared distance of
  * pqAssign with ties to the lowest centroid id, so at equal K the two
  * paths emit identical codes (PqSizedSpec proves it at K=16).
  *
  * SUB is derived as qvec.length / M; a vector whose length is not
  * M·SUB yields NULL (ragged input), as does any null element. */
case class PqEncode(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _),
            ArrayType(ArrayType(ArrayType(LongType, _), _), _)) => true
      case _ => false
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "pq_encode requires (ARRAY<BIGINT>, ARRAY<ARRAY<ARRAY<BIGINT>>>), got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"
  override def nullable: Boolean = true

  override def nullSafeEval(vec: Any, cb: Any): Any =
    PqEncode.evalEncode(vec.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, c) => {
      val out = ctx.freshName("codes")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $out =
         |  graft.plans.PqEncode.evalEncode($v, $c);
         |if ($out == null) { ${ev.isNull} = true; } else { ${ev.value} = $out; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncode =
    copy(left = newLeft, right = newRight)
}

object PqEncode {

  /** Compiled argmin per subspace: exact BIGINT squared distances, ties
    * to the lowest centroid id (the pqAssign `min(struct(dist, c))`
    * convention). Returns null on ragged/null input. */
  def evalEncode(vec: ArrayData, cb: ArrayData): ArrayData = {
    val m = cb.numElements()
    if (m == 0) return new GenericArrayData(Array.empty[Int])
    val n = vec.numElements()
    if (n % m != 0) return null
    val sub = n / m
    val codes = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      if (cb.isNullAt(mi)) return null
      val centroids = cb.getArray(mi)
      val k = centroids.numElements()
      var best = -1
      var bestDist = Long.MaxValue
      var c = 0
      while (c < k) {
        if (centroids.isNullAt(c)) return null
        val cent = centroids.getArray(c)
        if (cent.numElements() != sub) return null
        var dist = 0L
        var d = 0
        while (d < sub) {
          if (vec.isNullAt(mi * sub + d) || cent.isNullAt(d)) return null
          val diff = vec.getLong(mi * sub + d) - cent.getLong(d)
          dist += diff * diff
          d += 1
        }
        if (dist < bestDist) { bestDist = dist; best = c }
        c += 1
      }
      codes(mi) = best
      mi += 1
    }
    new GenericArrayData(codes)
  }

  private[plans] val builder = (exprs: Seq[Expression]) => {
    require(exprs.length == 2, "pq_encode(qvec, codebook) takes exactly 2 arguments")
    PqEncode(exprs.head, exprs(1))
  }
}
