package graft

import org.apache.spark.sql.Column

/** The exact-arithmetic contract shared by every oracle-visible operator
  * (README "Determinism & oracle discipline"). One definition so a future
  * precision change cannot silently diverge a subset of queries.
  */
object Exact {
  /** Money: 2-decimal doubles -> DECIMAL(18,2). Sums become
    * order-independent (no fp non-associativity across partitions). */
  def money(c: Column): Column = c.cast("decimal(18,2)")

  /** Decimal literal 1 at money scale, for (1 - discount)-style factors. */
  def one: Column = org.apache.spark.sql.functions.lit(1).cast("decimal(18,2)")

  /** Money as integer cents (LONG) — [[money]]'s exact unscaled value.
    * A product of two cents-scaled factors lives at 4dp (units of 10^-4
    * dollars) and accumulates exactly in integers. For sums whose group
    * size is BOUNDED (e.g. per-order: ≤7 lineitems) a raw BIGINT sum is
    * exact at any corpus scale; for unbounded groups feed
    * `plans.Sum128` — the int128 sum — instead of SUM(DECIMAL), whose
    * >18-digit buffer pays a BigDecimal round-trip per row. The final
    * scaled-integer -> DOUBLE conversion is correctly rounded on both
    * paths (the integer is exact below 2^53 / the decimal cast is
    * BigDecimal.doubleValue), so results stay hash-equal to the
    * DECIMAL-sum oracle form.
    *
    * Computed as a pure-FP HALF_UP — `trunc(x*100 ± 0.5)` via the
    * truncating double->long cast — NOT `(money(x)*100).cast(long)` and
    * not `round(x*100)` either: BOTH of those allocate a BigDecimal per
    * row (the decimal cast's shortest-string valueOf + setScale, and
    * Spark's Round, which round-trips doubles through BigDecimal.
    * valueOf().setScale()), which a round-13 A/B measured at ~25% of
    * q1's whole runtime at the 150M-row tier (CROSSOVER.md's q1 section
    * records the decimal form at 4.56s vs 1.64s for this one with
    * sum128). The FP form is whole-stage arithmetic with zero
    * allocation: x*100 lands within ±0.25 of the true cent integer c on
    * the contract domain, so trunc-toward-zero of (x*100 + sign*0.5) ∈
    * (c ± (0.25..0.75)) recovers c exactly, both signs. On
    * the [[money]] contract's domain — values that ARE 2-decimal
    * decimals carried in doubles, |cents| < 2^51 (~$22.5T per value) —
    * the two are equal on every input: x's representation error and
    * x·100's product rounding together stay under half a cent, so
    * HALF_UP recovers the integer exactly. Above 2^51 cents the
    * combined error can cross 0.5 and the routes split (found
    * empirically by the PropertiesSpec domain-edge property, which now
    * pins the boundary). The magnitude half of the contract is GUARDED
    * at runtime: |x·100| ≥ 2^51 raises instead of silently splitting
    * from the decimal route (one fused abs-compare per row — branch
    * never taken on contract inputs, so it predicts perfectly and stays
    * inside whole-stage codegen; the error branch's string cast only
    * materializes on violation). The other half — inputs must BE
    * 2-decimal values — is not runtime-detectable from the double alone
    * (1.005 has no exact double, so "was this 2dp?" is unanswerable at
    * the row): a 3dp caller gets FP-trunc semantics here vs HALF_UP via
    * [[money]], but such inputs already diverge between Spark's
    * shortest-string cast and DuckDB's binary-value cast, i.e. they are
    * outside the oracle contract entirely. NULL passes through as NULL,
    * matching the decimal cast. */
  def cents(c: Column): Column = {
    import org.apache.spark.sql.functions.{abs, concat, lit, raise_error, when}
    val scaled = c * 100
    when(c.isNull, lit(null).cast("long"))
      .when(abs(scaled) < lit(2.251799813685248e15), // 2^51 cents
        when(scaled >= 0, (scaled + 0.5).cast("long"))
          .otherwise((scaled - 0.5).cast("long")))
      .otherwise(raise_error(concat(
        lit("Exact.cents: |value*100| >= 2^51 is outside the exact-recovery domain: "),
        c.cast("string"))))
  }
}
