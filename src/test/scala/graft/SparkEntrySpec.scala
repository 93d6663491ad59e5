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

  test("registry: no module's key shadows another's in the merged maps") {
    import graft.queries._
    // `++` keeps the last of two equal keys silently: the merged size
    // equals the modules' summed sizes only when no key repeats
    val modules = Seq(
      (ForexQueries.queries, ForexQueries.oracleSql),
      (IndicatorQueries.queries, IndicatorQueries.oracleSql),
      (TextQueries.queries, TextQueries.oracleSql),
      (DedupQueries.queries, DedupQueries.oracleSql),
      (SimilarityQueries.queries, SimilarityQueries.oracleSql),
      (MediaQueries.queries, MediaQueries.oracleSql),
      (RelationalQueries.queries, RelationalQueries.oracleSql),
      (SamplingQueries.queries, SamplingQueries.oracleSql),
      (StoreQueries.queries, StoreQueries.oracleSql),
      (PipelineQueries.queries, PipelineQueries.oracleSql),
      (CurationQueries.queries, CurationQueries.oracleSql),
      (MultiSymQueries.queries, MultiSymQueries.oracleSql),
      (DriftQueries.queries, DriftQueries.oracleSql),
      (FormatQueries.queries, FormatQueries.oracleSql),
      (FeatureQueries.queries, FeatureQueries.oracleSql),
      (KllQueries.queries, KllQueries.oracleSql))
    assert(modules.map(_._1.size).sum === SparkEntry.queries.size)
    assert(modules.map(_._2.size).sum === SparkEntry.oracleSql.size)
  }
}
