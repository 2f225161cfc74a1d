package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression}
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: tokenize a document and fold its tokens
  * against a broadcast language model in ONE compiled pass —
  * `model_score(text, vocab_map, oov)` returns
  * `STRUCT<n_tokens: BIGINT, sum_micronats: BIGINT>` where `n_tokens` is
  * the `split(text, ' ')` token count and `sum_micronats` is
  * `Σ_w coalesce(vocab_map[w], oov)` in exact integer micronats. The
  * per-row scoring kernel of the l17/r11 quality filters (CCNet-style
  * perplexity gates, SURVEY §2.10): the model rides a 1-row broadcast
  * next to the corpus scan, so scoring is a map-only pass and the corpus
  * crosses ZERO exchanges — which also makes the same body legal in a
  * stateless streaming projection (r11's contract: append mode, no
  * watermark, no state).
  *
  * Replaces `size(split(text, ' '))` + the `aggregate(words, 0L,
  * (acc, w) -> acc + coalesce(try_element_at(vmn, w), oov_mn))`
  * higher-order fold. Two separate taxes die here, both measured at sf5:
  * Spark evaluates lambda functions interpreted — one Catalyst eval tree
  * walk per TOKEN (the tax the l2f ladder measured at 10-20×, l17 at
  * 6.9× DuckDB compute) — and `split` materializes a per-row UTF8String
  * array the fold immediately consumes (~0.3s of the 0.77s scoring pass
  * at sf5). Here tokens are byte slices of the text scanned in place
  * (split-on-single-space semantics exactly: consecutive/leading/
  * trailing separators yield empty tokens, "" yields [""]), probed in a
  * compiled loop. The vocab probe stays a linear scan of the MapData —
  * what `try_element_at` costs on a map value, right at the model's
  * broadcast-bounded K (24 here); a production 100k-entry vocabulary
  * would hash-index the broadcast side (the AnnIndex persisted-artifact
  * idiom), changing the probe, not the plan shape.
  *
  * Bit-identical to the composed form: integer sums are associative,
  * each vocab entry was quantized once at fit time, a null text/model/
  * oov input yields a NULL struct (the composed form's null propagation,
  * where both fields go null together), and a null map entry scores as
  * OOV. */
case class ModelScore(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = (first.dataType, second.dataType, third.dataType) match {
      case (StringType, MapType(StringType, LongType, _), LongType) => true
      case _ => false
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "model_score requires (STRING, MAP<STRING,BIGINT>, BIGINT), got " +
        Seq(first, second, third).map(_.dataType.catalogString).mkString(", "))
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("sum_micronats", LongType, nullable = false)))
  override def prettyName: String = "model_score"

  override def nullSafeEval(text: Any, model: Any, oov: Any): Any =
    ModelScore.evalScore(text.asInstanceOf[UTF8String],
      model.asInstanceOf[MapData], oov.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, m, o) =>
      s"graft.plans.ModelScore.evalScore($t, $m, $o)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): ModelScore =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object ModelScore {

  /** One compiled pass over the text bytes: each single-space-delimited
    * token (empty tokens included — split semantics) is probed against
    * the vocab map (linear scan, bounded by the broadcast vocab K), else
    * adds the OOV floor. Token wrappers are zero-copy byte slices. */
  def evalScore(text: UTF8String, model: MapData, oov: Long): InternalRow = {
    val bytes = text.getBytes
    val keys = model.keyArray()
    val vals = model.valueArray()
    val k = model.numElements()
    val n = bytes.length
    var nTokens = 0L
    var acc = 0L
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        val w = UTF8String.fromBytes(bytes, start, i - start)
        var add = oov
        var j = 0
        while (j < k) {
          if (!keys.isNullAt(j) && keys.getUTF8String(j).equals(w)) {
            add = vals.getLong(j); j = k
          } else j += 1
        }
        acc += add
        nTokens += 1L
        start = i + 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](nTokens, acc))
  }

  private[plans] val builder = (exprs: Seq[Expression]) => {
    require(exprs.length == 3, "model_score(text, vocab_map, oov) takes exactly 3 arguments")
    ModelScore(exprs.head, exprs(1), exprs(2))
  }
}
