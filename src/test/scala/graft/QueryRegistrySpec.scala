package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Analysis, DataOps, GraphOps, KgOps, Relational}

/** The query registry: each operator module declares its queries once,
  * and `SparkEntry`'s name-keyed maps are views of their concatenation.
  */
class QueryRegistrySpec extends AnyFunSuite {

  private def modules: Seq[Seq[Query]] = Seq(Relational.queries,
    Analysis.queries, GraphOps.queries, KgOps.queries, DataOps.queries)

  test("query names are unique across the five operator modules") {
    val names = modules.flatten.map(_.name)
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, s"declared twice: ${dups.mkString(", ")}")
    assert(SparkEntry.all.map(_.name) === names)
  }

  test("queries and oracleSql hold the same 141 names") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size === 141)
  }

  test("no oracle interpolates an uninitialized helper") {
    val bad = SparkEntry.all.filter(_.oracle.contains("null")).map(_.name)
    assert(bad.isEmpty, s"oracles containing null: ${bad.mkString(", ")}")
  }
}
