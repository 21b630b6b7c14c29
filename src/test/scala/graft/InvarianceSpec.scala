package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.Sort

/** Results do not depend on adaptive execution. The benchmark's
  * workload queries run on the benchmark's sf0.001 corpus with AQE on,
  * where [[graft.plans.SortInPlace]] can sort a small result in place
  * of its range exchange, and with AQE off, where it cannot; the rows
  * must agree. Row order must agree too wherever the query's final
  * sort keys are output columns: row for row when those keys are
  * unique, key for key (with the rows compared as a multiset) when
  * they tie.
  */
class InvarianceSpec extends SparkSpec {

  private val dir = "perfbench/data/sf0.001"

  private val workload = Seq(
    "q_token_count", "q_direct_attribute", "q_corpus_split", "q_dedup_exact",
    "q_polygon_raster", "q_json_extract", "q_bpe_train",
    "q_ngram_jaccard", "q_audio_fingerprint")

  /** Binary values compared by content, nested rows by fields. */
  private def canon(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(canon)
    case s: scala.collection.Seq[_] => s.map(canon)
    case o => o
  }

  /** Output positions of the final global sort's keys, when every key
    * is an output column. */
  private def sortKeys(df: DataFrame): Option[Seq[Int]] = {
    val output = df.queryExecution.analyzed.output.map(_.exprId)
    df.queryExecution.optimizedPlan.collectFirst { case s: Sort if s.global => s }
      .flatMap { s =>
        val ids = s.order.map(_.child).collect { case a: Attribute => a.exprId }
        val pos = ids.map(output.indexOf(_))
        if (ids.size == s.order.size && !pos.contains(-1)) Some(pos) else None
      }
  }

  private def run(name: String): (Seq[Seq[Any]], Option[Seq[Int]]) = {
    val df = SparkEntry.queries(name)(spark, dir)
    (df.collect().toSeq.map(r => canon(r).asInstanceOf[Seq[Any]]), sortKeys(df))
  }

  for (name <- workload) {
    test(s"$name: the same rows with AQE on and off") {
      val (on, keys) = run(name)
      val (off, _) = withConf("spark.sql.adaptive.enabled", "false")(run(name))
      assert(on.size == off.size)
      keys match {
        case Some(k) if off.map(r => k.map(r)).distinct.size == off.size =>
          assert(on == off)
        case other =>
          assert(on.groupBy(identity).view.mapValues(_.size).toMap ==
            off.groupBy(identity).view.mapValues(_.size).toMap)
          other.foreach(k => assert(on.map(r => k.map(r)) == off.map(r => k.map(r))))
      }
    }
  }
}
