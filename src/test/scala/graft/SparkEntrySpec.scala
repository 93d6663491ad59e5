package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry: built once, one oracle per query. */
class SparkEntrySpec extends AnyFunSuite {

  test("registry: every query has exactly one oracle, every oracle a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert((queries -- oracles).isEmpty, "queries without an oracle")
    assert((oracles -- queries).isEmpty, "oracles without a query")
    assert(SparkEntry.queries eq SparkEntry.queries, "the registry is built once")
  }
}
