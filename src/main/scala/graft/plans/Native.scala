package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** The one list of graft's native SQL functions. Two paths read it and
  * nothing else registers a function:
  *  - [[GraftExtensions]] injects every entry at session build time (the
  *    deployment conf `GraftSession.extensionsConf`);
  *  - [[install]] adds the missing ones to a live session. Operators call
  *    it because the sessions they run in may have been built without the
  *    extension. */
object Native {

  private def entry(name: String, cls: Class[_], builder: FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    entry("dot_f32", classOf[DotF32], DotF32.builder),
    entry("md5_prefix48", classOf[Md5Prefix48], Md5Prefix48.builder),
    entry("shingle_hashes", classOf[ShingleHashes], ShingleHashes.builder),
    entry("minhash_sigs", classOf[MinHashSigs], MinHashSigs.builder),
    entry("rademacher_sigs", classOf[RademacherSigs], RademacherSigs.builder),
    entry("dot_i64", classOf[DotI64], DotI64.builder),
    entry("rolling_fp", classOf[RollingFp], RollingFp.builder),
    entry("winnow_hashes", classOf[WinnowHashes], WinnowHashes.builder),
    entry("model_score", classOf[ModelScore], ModelScore.builder),
    entry("bucket_score", classOf[BucketScore], BucketScore.builder),
    entry("pq_encode", classOf[PqEncode], PqEncode.builder),
    entry("word_count_agg", classOf[WordCountAgg], WordCountAgg.builder),
    entry("graft_bloom_agg", classOf[BloomFilterAggregate], BloomFunctions.aggBuilder),
    entry("graft_might_contain", classOf[BloomFilterMightContain], BloomFunctions.probeBuilder),
    entry("json_long", classOf[JsonGetLong], JsonGetLong.builder),
    entry("sum128", classOf[Sum128], Sum128.builder),
    entry("simhash_sig", classOf[SimHashSig], SimHashSig.builder))

  /** Registers every function the session does not already resolve.
    * Idempotent and cheap to repeat: an installed entry is left alone, so
    * a second call neither replaces it nor logs Spark's replacement
    * warning. */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    for ((id, info, builder) <- functions if !registry.functionExists(id))
      registry.registerFunction(id, info, builder)
  }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` installs every
  * [[Native]] function at session build time — the deployment-config
  * path. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    Native.functions.foreach(ext.injectFunction)
}
