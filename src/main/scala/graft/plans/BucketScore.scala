package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: tokenize a document and fold its tokens
  * against a HASHED-BUCKET model in one compiled pass —
  * `bucket_score(text, deltas)` returns
  * `STRUCT<n_tokens: BIGINT, sum_micronats: BIGINT>` where each
  * single-space-delimited token w adds `deltas[md5_byte0(w) % B]`
  * (B = deltas length). The bucket is the l28 convention —
  * `pmod(CAST(conv(substr(md5(w), 1, 2), 16, 10) AS BIGINT), B)`, i.e.
  * the first digest byte mod B — so the expression is only meaningful
  * for B ≤ 256 (l28 uses 64; a wider production bucket space widens the
  * prefix, a one-line change on both engines).
  *
  * This is the scoring kernel for models whose per-word value is a
  * FUNCTION OF THE WORD'S HASH BUCKET (DSIR's hashed n-gram features):
  * the word→value map [[ModelScore]] would need here is
  * vocabulary-sized, and its linear MapData probe — fine at l17's
  * broadcast-bounded 24 entries — degrades to
  * O(tokens × vocabulary): measured 245 s for l28 at sf5 (46k-word
  * vocabulary × 12M tokens) vs ~0.5 s at sf0.1. Folding the bucket
  * structure into the kernel makes the probe O(1) (one md5 of the token
  * bytes + one array index), restoring the linear three-pass shape the
  * operator's Scaladoc promises. Values are identical by construction —
  * the vocab map's entries WERE `deltas[bucket(w)]` — so the DuckDB
  * oracle (which replays the bucket join by hex fold) is unchanged.
  *
  * Null/empty-token semantics match [[ModelScore]]: split-on-single-
  * space, empty tokens (consecutive/leading/trailing separators, "")
  * are tokens and are hashed like any other; null text or deltas yields
  * a NULL struct; a null deltas ELEMENT yields NULL (a fitted model has
  * no null buckets). */
case class BucketScore(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = (left.dataType, right.dataType) match {
      case (StringType, ArrayType(LongType, _)) => true
      case _ => false
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "bucket_score requires (STRING, ARRAY<BIGINT>), got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("sum_micronats", LongType, nullable = false)))
  override def prettyName: String = "bucket_score"
  override def nullable: Boolean = true

  override def nullSafeEval(text: Any, deltas: Any): Any =
    BucketScore.evalScore(text.asInstanceOf[UTF8String],
      deltas.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, d) => {
      val out = ctx.freshName("scored")
      s"""
         |org.apache.spark.sql.catalyst.InternalRow $out =
         |  graft.plans.BucketScore.evalScore($t, $d);
         |if ($out == null) { ${ev.isNull} = true; } else { ${ev.value} = $out; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BucketScore =
    copy(left = newLeft, right = newRight)
}

object BucketScore {

  // one digest instance per thread (the Md5Prefix48 rationale)
  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** One compiled pass over the text bytes: per token, md5 the byte
    * slice, index `deltas` by (first digest byte) % B. Returns null on a
    * null deltas element (ragged model). */
  def evalScore(text: UTF8String, deltas: ArrayData): InternalRow = {
    val b = deltas.numElements()
    if (b == 0) return null
    val md = digests.get()
    val bytes = text.getBytes
    val n = bytes.length
    var nTokens = 0L
    var acc = 0L
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        md.reset()
        md.update(bytes, start, i - start)
        val bucket = (md.digest()(0) & 0xff) % b
        if (deltas.isNullAt(bucket)) return null
        acc += deltas.getLong(bucket)
        nTokens += 1L
        start = i + 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](nTokens, acc))
  }

  private[plans] val builder = (exprs: Seq[Expression]) => {
    require(exprs.length == 2, "bucket_score(text, deltas) takes exactly 2 arguments")
    BucketScore(exprs.head, exprs(1))
  }
}
