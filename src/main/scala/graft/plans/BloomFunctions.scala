package graft.plans

import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}

/** SQL surface for Spark's OWN Bloom-filter expression pair — the
  * machinery behind `spark.sql.optimizer.runtime.bloomFilter.enabled`
  * (InjectRuntimeFilter), which Catalyst only applies to join patterns it
  * chooses by itself. Registering the two expressions as session
  * functions makes the same sketch available as an EXPLICIT operator
  * building block:
  *
  *  - `graft_bloom_agg(h, items, bits)` — distributed Bloom build over a
  *    LongType key column (partial buffers OR-merge, so the aggregate is
  *    one pass + tiny combine; the result is a BinaryType sketch of
  *    `bits/8` bytes regardless of input cardinality).
  *  - `graft_might_contain(bf, h)` — the probe; false = definitely
  *    absent, true = present or false positive (rate set by bits/items).
  *
  * Both are Spark classes (aggregate.BloomFilterAggregate,
  * BloomFilterMightContain) — no custom code evaluates; this file only
  * holds their builders, which [[Native]] lists beside the graft native
  * expressions. The l27 decontamination screen uses them for the
  * two-phase membership pattern: broadcast the sketch, prune the probe
  * side BEFORE its exchange, confirm survivors exactly (false positives
  * die in the exact join, so results never depend on the Bloom). */
object BloomFunctions {

  private[plans] val aggBuilder = (exprs: Seq[Expression]) => {
    require(exprs.length == 3,
      "graft_bloom_agg(value, estimatedItems, numBits) takes exactly 3 arguments")
    new BloomFilterAggregate(exprs(0), exprs(1), exprs(2))
      .toAggregateExpression()
  }

  private[plans] val probeBuilder = (exprs: Seq[Expression]) => {
    require(exprs.length == 2,
      "graft_might_contain(bloom, value) takes exactly 2 arguments")
    BloomFilterMightContain(exprs(0), exprs(1))
  }
}
