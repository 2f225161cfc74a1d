package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Native 128-bit exact sum: `sum128(longCol, scale)` accumulates a
  * LONG column into a two-long (hi, lo) int128 and emits the total as
  * `DECIMAL(38, scale)` — `CAST(SUM(CAST(x AS DECIMAL(38, scale)))`'s
  * exact value at integer-add speed.
  *
  * Why: Spark's decimal SUM widens the buffer past 18 digits
  * (DECIMAL(18,2) inputs -> a DECIMAL(28,2) buffer), and a >18-digit
  * Decimal leaves the compact-long representation — every per-row update
  * round-trips a heap BigDecimal through the UnsafeRow's 16-byte slot.
  * On q1's four money sums at the sf25 tier that is ~40% of the query
  * (DecProbe: 4.57s -> 2.70s with long accumulators). A raw BIGINT sum
  * has the right speed but the wrong domain: 4dp-scaled money terms
  * (~10^9 per row) overflow a signed long near 10^10 rows per group —
  * real at the 100 TB design point, where a q1 group is O(corpus/4).
  * This aggregate is the engine answer DuckDB/ClickHouse use natively:
  * saturate nothing, carry into a second long. Domain ceiling becomes
  * 2^127/10^9 ≈ 10^29 rows — unreachable.
  *
  * The buffer is three UnsafeRow long fields (hi, lo, cnt), every
  * update/merge expression is primitive bitwise/add arithmetic
  * (wrapping LEGACY adds — overflow IS the carry mechanism), so the
  * whole accumulation stays inside whole-stage codegen and the hash
  * aggregate's mutable fast path; the only object materialized is one
  * Decimal per GROUP at evaluate.
  *
  * Null inputs contribute nothing; an all-null (or empty) group yields
  * NULL, matching SUM. */
case class Sum128(child: Expression, scale: Int)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"sum128 requires a BIGINT column, got ${child.dataType.catalogString}")
    else if (scale < 0 || scale > 38)
      TypeCheckResult.TypeCheckFailure(s"sum128 scale out of range: $scale")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = DecimalType(38, scale)
  override def nullable: Boolean = true
  override def prettyName: String = "sum128"

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val cnt = AttributeReference("cnt", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, cnt)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(0L))

  /** Wrapping add — overflow must wrap (it feeds the carry computation),
    * so the adds are pinned LEGACY regardless of the session's ANSI
    * mode. */
  private def wadd(l: Expression, r: Expression): Expression =
    Add(l, r, EvalMode.LEGACY)

  /** Carry-out of the unsigned add `a + b = sum`:
    * ((a & b) | ((a | b) & ~sum)) >>> 63 — the textbook carry detect
    * (a carry happened iff both top bits were set, or either was set and
    * the result's top bit cleared). */
  private def carry(a: Expression, b: Expression, sum: Expression): Expression =
    ShiftRightUnsigned(
      BitwiseOr(
        BitwiseAnd(a, b),
        BitwiseAnd(BitwiseOr(a, b), BitwiseNot(sum))),
      Literal(63))

  override lazy val updateExpressions: Seq[Expression] = {
    val newLo = wadd(lo, child)
    // adding a SIGNED long x to the int128: hi += (x >> 63) + carry —
    // the arithmetic shift is x's sign extension into the high word
    val newHi = wadd(wadd(hi, ShiftRight(child, Literal(63))), carry(lo, child, newLo))
    Seq(
      If(IsNull(child), hi, newHi),
      If(IsNull(child), lo, newLo),
      If(IsNull(child), cnt, wadd(cnt, Literal(1L))))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val newLo = wadd(lo.left, lo.right)
    val newHi = wadd(wadd(hi.left, hi.right), carry(lo.left, lo.right, newLo))
    Seq(newHi, newLo, wadd(cnt.left, cnt.right))
  }

  override lazy val evaluateExpression: Expression =
    If(EqualTo(cnt, Literal(0L)),
      Literal(null, dataType),
      StaticInvoke(
        Sum128.getClass,
        dataType,
        "toDecimal",
        Seq(hi, lo, Literal(scale)),
        Seq(LongType, LongType, IntegerType),
        returnNullable = true))

  override protected def withNewChildInternal(newChild: Expression): Sum128 =
    copy(child = newChild)
}

object Sum128 {

  /** 10^38 - 1: the largest unscaled value DECIMAL(38, _) can carry. */
  private val Max38 = new java.math.BigInteger("9" * 38)

  /** The signed int128 (hi, lo) as DECIMAL(38, scale). Two's complement:
    * the 16 big-endian bytes feed BigInteger's signed constructor. Called
    * once per output GROUP, never per row.
    *
    * The int128 holds up to ~1.7e38, slightly past DECIMAL(38)'s 10^38-1
    * ceiling; a total in that band returns NULL — SUM(DECIMAL)'s legacy
    * overflow contract — rather than raising Decimal's precision check.
    * Unreachable in practice (~10^29 rows per group at 4dp money scale),
    * but the contract should match SUM's, not crash past it. */
  def toDecimal(hi: Long, lo: Long, scale: Int): Decimal = {
    val bytes = new Array[Byte](16)
    var i = 0
    while (i < 8) {
      bytes(i) = (hi >>> (56 - 8 * i)).toByte
      bytes(8 + i) = (lo >>> (56 - 8 * i)).toByte
      i += 1
    }
    val unscaled = new java.math.BigInteger(bytes)
    if (unscaled.abs.compareTo(Max38) > 0) null
    else Decimal(new java.math.BigDecimal(unscaled, scale), 38, scale)
  }

  private[plans] val builder = (exprs: Seq[Expression]) => {
    require(exprs.length == 2, "sum128(col, scale) takes exactly 2 arguments")
    Sum128(exprs.head, FoldableArgs.int("sum128", "scale", exprs(1)))
      .toAggregateExpression()
  }
}
