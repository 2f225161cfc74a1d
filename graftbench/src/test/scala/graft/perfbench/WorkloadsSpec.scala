package graft.perfbench

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

class WorkloadsSpec extends AnyFunSuite {
  private val queryOps = Workloads.Names.flatMap(Workloads.queryOps)

  test("every query op resolves to a public SparkEntry function") {
    queryOps.foreach(op => assert(SparkEntry.queries.contains(op.name), op.name))
  }

  test("every query op has an oracle") {
    queryOps.foreach(op => assert(SparkEntry.oracleSql.contains(op.name), op.name))
  }

  test("etl_mix writes, reads, and spans every query layer") {
    val etl = Workloads.queryOps("etl_mix")
    assert(etl.exists(_.write) && etl.exists(!_.write))
    assert(etl.map(_.layer).toSet == Set("operators", "functions", "streaming", "sources", "llm"))
  }

  test("every lake op is a call on TableLog or Lakehouse") {
    val public = Seq("graft.operators.TableLog$", "graft.operators.Lakehouse$")
      .flatMap(c => Class.forName(c).getMethods.map(_.getName)).toSet
    Lake.Calls.foreach(n => assert(public.contains(n), n))
  }
}
