package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.Sort

/** Results do not depend on adaptive execution or on the shuffle
  * partition count. Queries run on the benchmark's sf0.001 corpus with
  * AQE on, where [[graft.plans.InPlace]] can run a small result's sort
  * or final aggregate in place of its exchange, and with AQE off, where
  * it cannot; the rows must agree. The benchmark's workload queries and
  * every query whose final plan the rule rewrites at sf0.001 or sf0.1
  * also run with one shuffle partition. Row order must agree too
  * wherever the query's final sort keys are output columns: row for
  * row when those keys are unique, key for key (with the rows compared
  * as a multiset) when they tie.
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

  /** Queries whose final plan [[graft.plans.InPlace]] rewrites at
    * sf0.001 or sf0.1 on `local[4]`, counted from their final adaptive
    * plans. */
  private val rewritten = Seq(
    "q_anchor_text", "q_audio_fingerprint", "q_binary_counter", "q_boolean_comparison",
    "q_bpe_encode", "q_bucketed_join", "q_clustered_scan", "q_community_profile",
    "q_corpus_curation", "q_corpus_split", "q_csv_json_roundtrip",
    "q_database_aggregator", "q_decontaminate", "q_decontaminate_bloom",
    "q_decontaminate_fuzzy", "q_dedup_exact", "q_dedup_simhash", "q_direct_attribute",
    "q_diversity", "q_dwc_archive", "q_elevation_enrich", "q_export_index",
    "q_fingerprint", "q_forest_elevation", "q_geo_extract", "q_geotiff_import",
    "q_global_bins", "q_grid_binning", "q_hierarchy_rollup", "q_holdridge",
    "q_image_phash", "q_image_thumb_dedup", "q_image_thumb_fused",
    "q_importance_resample", "q_interval_join", "q_join_enrich", "q_json_api_agg",
    "q_json_extract", "q_lang_id", "q_lm_fluency", "q_media_features",
    "q_multi_column_extractor", "q_ngram_jaccard", "q_ngram_topk", "q_orc_roundtrip",
    "q_patch_sizes", "q_pii_scrub", "q_pipeline_chain_ref", "q_pipeline_dedup",
    "q_pipeline_export", "q_pipeline_run", "q_polygon_join", "q_quality_classifier",
    "q_quality_filter",
    "q_quality_signals", "q_raster_stats", "q_salted_collect", "q_scatter_analysis",
    "q_series_by_axis", "q_series_extractor", "q_series_matrix", "q_series_ratio",
    "q_spatial_join", "q_statistical_summary", "q_subtree_agg", "q_text_quality",
    "q_token_count", "q_top_ranking", "q_tree_paths", "q_url_normalize", "q_window_agg",
    "q_write_roundtrip", "q_zorder_scan")

  private def run(name: String): (Seq[Seq[Any]], Option[Seq[Int]]) = {
    val df = SparkEntry.queries(name)(spark, dir)
    (df.collect().toSeq.map(r => canon(r).asInstanceOf[Seq[Any]]), sortKeys(df))
  }

  /** The default run of each query, shared by its tests. */
  private val defaults = scala.collection.mutable.Map.empty[String, (Seq[Seq[Any]], Option[Seq[Int]])]

  private def assertSame(name: String, conf: String, value: String): Unit = {
    val (on, keys) = defaults.getOrElseUpdate(name, run(name))
    val (other, _) = withConf(conf, value)(run(name))
    assert(on.size == other.size)
    keys match {
      case Some(k) if other.map(r => k.map(r)).distinct.size == other.size =>
        assert(on == other)
      case ks =>
        assert(on.groupBy(identity).view.mapValues(_.size).toMap ==
          other.groupBy(identity).view.mapValues(_.size).toMap)
        ks.foreach(k => assert(on.map(r => k.map(r)) == other.map(r => k.map(r))))
    }
  }

  for (name <- (workload ++ rewritten).distinct) {
    test(s"$name: the same rows with AQE on and off") {
      assertSame(name, "spark.sql.adaptive.enabled", "false")
    }
    test(s"$name: the same rows with one shuffle partition") {
      assertSame(name, "spark.sql.shuffle.partitions", "1")
    }
  }
}
