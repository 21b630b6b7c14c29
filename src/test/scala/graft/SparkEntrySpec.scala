package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries._

/** The driver contract: every query has a unique name and an oracle,
  * and the `SPARK_GRAFT_ONLY` selector never silently drops a name. */
class SparkEntrySpec extends AnyFunSuite {

  test("query names are unique across the module maps") {
    // `++` keeps only the last entry for a repeated key, so a name
    // shared by two modules would drop a query with no error
    val modules = Seq(CoreQueries.all, HierarchyQueries.all, ExtractionQueries.all,
      TextQueries.all, DedupQueries.all, EventQueries.all, GeoQueries.all,
      FormatQueries.all, EcoQueries.all, ClassObjectQueries.all,
      MultimodalQueries.all, CurationQueries.all, PipelineQueries.all,
      RetrievalQueries.all, BpeQueries.all, GraphQueries.all, GraphQueries.allHits)
    val shared = modules.flatMap(_.keys).groupBy(identity).collect {
      case (name, hits) if hits.size > 1 => name
    }
    assert(shared.isEmpty)
    assert(modules.map(_.size).sum == SparkEntry.queries.size)
  }

  test("every query has an oracle and every oracle a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert((queries -- oracles).isEmpty, "queries without an oracle")
    assert((oracles -- queries).isEmpty, "oracles without a query")
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
