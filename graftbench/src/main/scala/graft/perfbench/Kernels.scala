package graft.perfbench

import graft.Tables
import graft.llm.Dedup
import graft.plans._
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** Kernel throughput: each of the engine's native expression kernels
  * called through its public `eval*` entry on the workload's generated
  * texts (and the events' JSON props), in nanoseconds per input byte,
  * with the shingle width, signature bits and window the corpus rows use. */
object Kernels {
  private val TargetNs = 150L * 1000 * 1000

  def run(spark: SparkSession, inputDir: String): Map[String, Double] = {
    val texts = Tables.documents(spark, inputDir).select("text").collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    val jsons = Tables.events(spark, inputDir).select("props").limit(5000).collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    val key = UTF8String.fromString("k")
    val rnd = new scala.util.Random(17)
    val as = Array.fill(64)(1L + (rnd.nextLong() >>> 4))
    val bs = Array.fill(64)(rnd.nextLong() >>> 4)
    val prime = (1L << 61) - 1
    var sink = 0L
    def time(inputs: Array[UTF8String])(f: UTF8String => Long): Double = {
      val bytes = inputs.map(_.numBytes().toLong).sum
      inputs.foreach(x => sink += f(x)) // warm the JIT
      var n = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < TargetNs || n == 0) {
        inputs.foreach(x => sink += f(x))
        n += 1
      }
      (System.nanoTime() - t0).toDouble / (n * bytes)
    }
    val out = Map(
      "plans.ShingleHashes.evalHashes.ns_per_byte" ->
        time(texts)(s => ShingleHashes.evalHashes(s, Dedup.SHINGLE_K, true).numElements()),
      "plans.ShingleHashes.evalMinhash.ns_per_byte" ->
        time(texts)(s => ShingleHashes.evalMinhash(s, Dedup.SHINGLE_K, prime, as, bs).numElements()),
      "plans.SimHashSig.ns_per_byte" -> time(texts)(s => SimHashSig.evalSimhash(s, Dedup.SIMHASH_BITS)),
      "plans.WinnowHashes.ns_per_byte" ->
        time(texts)(s => WinnowHashes.evalWinnow(s, Dedup.SHINGLE_K, Dedup.WINNOW_W).numElements()),
      "plans.RollingFp.ns_per_byte" -> time(texts)(s => RollingFp.evalRollingFp(s)),
      "plans.Md5Prefix48.ns_per_byte" -> time(texts)(s => Md5Prefix48.evalMd5p48(s)),
      "plans.JsonGetLong.ns_per_byte" -> time(jsons) { s =>
        val v = JsonGetLong.evalJsonLong(s, key); if (v == null) 0L else v.longValue
      })
    if (sink == 42) println() // keep the results live
    out
  }
}
