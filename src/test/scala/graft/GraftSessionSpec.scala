package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The deployment surface: every tuned conf key must be accepted by a live
  * session (catches typo'd keys, which Spark silently ignores at builder
  * time), the extensions class must resolve and inject every native
  * function, and operators must install them without replacing any. */
class GraftSessionSpec extends SparkSpecBase {

  test("every tunedConf key is a valid, runtime-settable Spark conf") {
    val s = spark.newSession()
    for ((k, v) <- GraftSession.tunedConf(shufflePartitions = 7)) {
      s.conf.set(k, v) // throws on unknown/static keys
      assert(s.conf.get(k) === v, s"conf $k did not take")
    }
    assert(s.conf.get("spark.sql.shuffle.partitions") === "7")
  }

  test("every staticConf key is a REAL static conf (refused at runtime, not silently unknown)") {
    // spark.conf.set silently accepts unknown keys; a genuine static key
    // is the one case Spark rejects loudly — that rejection is the
    // validity proof (these keys only take effect via the tuned builder)
    val s = spark.newSession()
    for ((k, v) <- GraftSession.staticConf) {
      val e = intercept[org.apache.spark.sql.AnalysisException] { s.conf.set(k, v) }
      assert(e.getMessage.toLowerCase.contains("static"), s"$k: ${e.getMessage}")
    }
  }

  private def extensionsHook(): SparkSessionExtensions => Unit = {
    val (key, className) = GraftSession.extensionsConf
    assert(key === "spark.sql.extensions")
    Class.forName(className).getDeclaredConstructor().newInstance()
      .asInstanceOf[SparkSessionExtensions => Unit]
  }

  test("extensions conf names a resolvable extension class") {
    extensionsHook().apply(new SparkSessionExtensions) // must not throw
  }

  test("the extension injects exactly the Native function list") {
    val injected = scala.collection.mutable.ArrayBuffer.empty[String]
    val recording = new SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
    }
    extensionsHook().apply(recording)
    val listed = graft.plans.Native.functions.map(_._1.funcName)
    assert(injected.toSeq === listed)
    assert(listed.distinct.size === listed.size, "a name is listed twice")
    assert(Set("sum128", "simhash_sig").subsetOf(injected.toSet))
  }

  test("repeated operator calls install simhash_sig once, never replace it") {
    val s = spark.newSession() // fresh registry: no extension, nothing installed
    val id = FunctionIdentifier("simhash_sig")
    val registry = s.sessionState.functionRegistry
    assert(registry.lookupFunction(id).isEmpty)
    val docs = s.createDataFrame(Seq((1L, "a b c d"), (2L, "e f g h")))
      .toDF("doc_id", "text")
    assert(graft.llm.Dedup.simhashed(docs).collect().length === 2)
    val first = registry.lookupFunction(id).get
    assert(first.getClassName === classOf[graft.plans.SimHashSig].getName)
    assert(graft.llm.Dedup.simhashed(docs).collect().length === 2)
    assert(registry.lookupFunction(id).get eq first)
  }

  test("tuned builder produces a session with the knobs set (same-JVM getOrCreate)") {
    // static confs can't change on an existing context, but runtime SQL
    // confs from the builder apply to the new session
    val s = GraftSession.tuned(
      org.apache.spark.sql.SparkSession.builder(), shufflePartitions = 5).getOrCreate()
    assert(s.conf.get("spark.sql.adaptive.skewJoin.enabled") === "true")
    assert(s.conf.get("spark.sql.files.maxPartitionBytes") === (128L * 1024 * 1024).toString)
  }

  test("dot_f32 registers and evaluates on a fresh session") {
    val s = spark.newSession()
    graft.plans.Native.install(s)
    val r = s.sql("SELECT dot_f32(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
      "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d").head().getDouble(0)
    assert(r === 11.0)
  }
}
