package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry: one `QueryDef` per query across the family lists,
  * every one with an oracle. Needs no SparkSession.
  */
class QueryRegistrySpec extends AnyFunSuite {

  private val names = SparkEntry.all.map(_.name)

  test("query names are unique across all family lists") {
    val dups = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(dups.isEmpty, s"repeated query names: ${dups.toSeq.sorted.mkString(", ")}")
  }

  test("the registry holds exactly 284 queries") {
    assert(names.size == 284)
  }

  test("queries and oracleSql have the same key set") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == names.toSet)
  }

  test("every oracle renders a non-empty SQL string") {
    val empty = SparkEntry.all.filter(q => q.oracle().trim.isEmpty).map(_.name)
    assert(empty.isEmpty, s"empty oracles: ${empty.mkString(", ")}")
  }
}
