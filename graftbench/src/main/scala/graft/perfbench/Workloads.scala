package graft.perfbench

import graft.SparkEntry

/** One benchmark op: a single call into a module's public function.
  * `layer` names the module the call lands in; `write` marks ops that
  * write or commit files (everything else only returns rows). */
final case class OpSpec(name: String, layer: String, write: Boolean)

object Workloads {
  val Names: Seq[String] = Seq("etl_mix", "lake_churn")

  /** Nominal op seconds of one timed pass (a block, for the lake; the
    * same for both workloads) on a 4-core host; `--seconds` divided by it
    * fixes a run's pass count. */
  val PassSeconds = 6.0

  private def layerOf(q: String): String =
    if (q.matches("f\\d+_.*")) "functions"
    else if (q.matches("r[2-8]_.*")) "streaming"
    else if (q.startsWith("s3_")) "sources"
    else if (q.matches("l\\d+.*")) "llm"
    else "operators"

  /** The food-panda dataflow re-expressed as Spark operators, one row per
    * stage family — scan, null-tolerant enrichment, aggregate/top-K,
    * upsert, scalar functions, a batch-form streaming row, the paginated
    * source — which are floor-bound at this size; the compute-bound corpus
    * rows over the replicated documents; and the partitioned sink. */
  val etlMix: Seq[OpSpec] = Seq(
    "etl_pipeline", "j1_enrich_details", "q3_revenue_by_nation", "u3_merge_upsert",
    "f2_json_parse", "r4_session_window", "s3_paginated_scan",
    "l2d_ngram_jaccard", "l4f_repetition_stats",
  ).map(q => OpSpec(q, layerOf(q), write = false)) :+
    OpSpec("s5_s6_partitioned_sink", "operators", write = true)

  /** Query ops of a workload; each resolves through SparkEntry.queries
    * and is checked against SparkEntry.oracleSql. */
  def queryOps(workload: String): Seq[OpSpec] = workload match {
    case "etl_mix" => etlMix
    case "lake_churn" => Nil
    case w => throw new IllegalArgumentException(s"unknown workload '$w'")
  }

  def resolve(op: OpSpec): (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
    SparkEntry.queries.getOrElse(op.name,
      throw new IllegalArgumentException(s"op ${op.name} is not a SparkEntry query"))
}
