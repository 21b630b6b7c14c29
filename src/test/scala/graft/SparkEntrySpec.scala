package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries._

/** The driver contract: every query has a unique name and an oracle,
  * and the `SPARK_GRAFT_ONLY` selector never silently drops a name. */
class SparkEntrySpec extends AnyFunSuite {

  test("query names are unique across the module maps") {
    // the map views keep only the last record of a repeated name, so a
    // name shared by two records would drop a query with no error
    val modules = Seq(CoreQueries.queries, HierarchyQueries.queries,
      ExtractionQueries.queries, TextQueries.queries, DedupQueries.queries,
      EventQueries.queries, GeoQueries.queries, FormatQueries.queries,
      EcoQueries.queries, ClassObjectQueries.queries, MultimodalQueries.queries,
      CurationQueries.queries, PipelineQueries.queries, RetrievalQueries.queries,
      BpeQueries.queries, GraphQueries.queries)
    val names = modules.flatten.map(_.name)
    assert(names.diff(names.distinct).isEmpty, "repeated query names")
    assert(SparkEntry.records.map(_.name) == names)
    assert(names.size == 165)
    assert(SparkEntry.queries.size == names.size)
  }

  test("every query has an oracle and every oracle a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert((queries -- oracles).isEmpty, "queries without an oracle")
    assert((oracles -- queries).isEmpty, "oracles without a query")
    assert(SparkEntry.records.filter(_.oracle.trim.isEmpty).isEmpty, "blank oracles")
  }

  test("selected keeps name order and the asked subset") {
    val all = SparkEntry.selected(None).map(_._1)
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
    val pick = Seq(all(7), all(2), all.last)
    assert(SparkEntry.selected(Some(pick.mkString(","))).map(_._1) == pick.sorted)
  }

  test("selected rejects an unknown name and names it") {
    val err = intercept[IllegalArgumentException](
      SparkEntry.selected(Some("q_token_count,q_tokn_count")))
    assert(err.getMessage.contains("q_tokn_count"))
    assert(!err.getMessage.contains("q_token_count"))
  }
}
