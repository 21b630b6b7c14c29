package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.StringSplit
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.catalyst.plans.physical.{
  HashPartitioning, RangePartitioning, RoundRobinPartitioning}
import org.apache.spark.sql.execution.CoalesceExec
import org.apache.spark.sql.execution.adaptive.{
  AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{
  BaseJoinExec, BroadcastHashJoinExec, ShuffledHashJoinExec}

/** SURVEY.md §7.1 as executable regressions: the plan-shape claims
  * (pushdown, pruning, broadcast, shuffle counts) are asserted against
  * executed plans at sf0.001 so a refactor that silently degrades a
  * plan fails the suite, not just the bench.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def executed(df: DataFrame): Seq[SparkPlan] = {
    // collect() (not count()) — count() wraps the plan in a NEW query
    // execution, leaving THIS one's AQE un-finalized (initial plan)
    df.collect()
    nodes(df)
  }

  /** The nodes of `df`'s executed plan, as of its last action. */
  private def nodes(df: DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      // stage boundaries report no children; descend into their plans
      case q: QueryStageExec =>
        q +: walk(q.plan)
      case o => o +: o.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  private def shuffles(plan: Seq[SparkPlan]): Int =
    plan.count(_.isInstanceOf[ShuffleExchangeLike])

  test("text quality scan-shaped: zero shuffles before the final sort") {
    val plan = executed(SparkEntry.queries("q_text_quality")(spark, dir))
    // only the presentation-sort range partitioning may shuffle
    assert(shuffles(plan) <= 1)
  }

  test("star join enrichment broadcasts every dim") {
    val plan = executed(SparkEntry.queries("q_join_enrich")(spark, dir))
    assert(plan.count(_.isInstanceOf[BroadcastHashJoinExec]) == 3)
  }

  test("dwc mapping reads only referenced columns") {
    val plan = executed(SparkEntry.queries("q_dwc_mapping")(spark, dir))
    val lineitemScan = plan.map(_.toString).find(s =>
      s.contains("Scan parquet") && s.contains("lineitem.parquet")).get
    // 7 mapped terms touch 5 lineitem columns; the other 11 must be pruned
    assert(!lineitemScan.contains("l_tax") && !lineitemScan.contains("l_comment"))
    assert(lineitemScan.contains("l_quantity") && lineitemScan.contains("l_shipdate"))
  }

  test("ann query-side predicate pushes into the parquet scan") {
    val plan = executed(SparkEntry.queries("q_ann_cosine")(spark, dir))
    val pushed = plan.map(_.toString).filter(_.contains("PushedFilters"))
    assert(pushed.exists(_.contains("LessThan(vec_id,8)")))
  }

  test("filtered ann pushes the metadata predicate into the corpus scan") {
    val plan = executed(SparkEntry.queries("q_ann_filtered")(spark, dir))
    val pushed = plan.map(_.toString).filter(_.contains("PushedFilters"))
    assert(pushed.exists(_.contains("EqualTo(label,3)")))
  }

  test("asof join is one key shuffle, not a per-row probe join") {
    val plan = executed(SparkEntry.queries("q_asof_join")(spark, dir))
    // union + window on user_id + presentation sort: ≤2 shuffles, and
    // NO nested-loop/cartesian fallback anywhere
    assert(shuffles(plan) <= 2)
    assert(!plan.exists(_.nodeName.toLowerCase.contains("nestedloop")))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("cartesian")))
  }

  test("fuzzy match joins on the blocking key, no cartesian fallback") {
    val plan = executed(SparkEntry.queries("q_fuzzy_match")(spark, dir))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("nestedloop")))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("cartesian")))
  }

  test("aggregations keep map-side partial aggregation") {
    val plan = executed(SparkEntry.queries("q_statistical_summary")(spark, dir))
    val aggs = plan.map(_.toString).filter(_.contains("HashAggregate"))
    assert(aggs.exists(_.contains("partial_")))
  }

  test("repetition signals are map-only: zero shuffles before the sort") {
    val plan = executed(SparkEntry.queries("q_quality_signals")(spark, dir))
    assert(shuffles(plan) <= 1) // presentation sort only — no token explode
    assert(!plan.exists(_.nodeName.contains("Generate"))) // no explode at all
  }

  test("stratified sample: both windows share one stratum shuffle") {
    val plan = executed(SparkEntry.queries("q_stratified_sample")(spark, dir))
    // stratum-key exchange + presentation sort; the count window must
    // NOT add a second stratum shuffle
    assert(shuffles(plan) <= 2)
  }

  test("domain top-k plans a bounded-heap WindowGroupLimit before the shuffle") {
    val plan = executed(SparkEntry.queries("q_domain_topk")(spark, dir))
    assert(plan.exists(_.nodeName.contains("WindowGroupLimit")))
  }

  test("decontamination broadcasts the benchmark side") {
    val plan = executed(SparkEntry.queries("q_decontaminate")(spark, dir))
    assert(plan.exists(_.isInstanceOf[BroadcastHashJoinExec]))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("nestedloop")))
  }

  test("bloom decontamination prefilters in the scan stage before any join") {
    val plan = executed(SparkEntry.queries("q_decontaminate_bloom")(spark, dir))
    val strs = plan.map(_.toString)
    // codegen'd membership probe sits in a Filter, not post-join
    assert(strs.exists(s => s.contains("Filter") && s.contains("might_contain")))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("nestedloop")))
  }

  test("pii scrub is map-only: zero shuffles before the presentation sort") {
    val plan = executed(SparkEntry.queries("q_pii_scrub")(spark, dir))
    assert(shuffles(plan) <= 1) // regex count/replace are per-row projections
    assert(!plan.exists(_.nodeName.contains("Generate")))
  }

  test("dedup apply drops members through a hash anti-join, never a nested loop") {
    val plan = executed(SparkEntry.queries("q_dedup_apply")(spark, dir))
    assert(plan.map(_.toString).exists(s =>
      s.contains("LeftAnti") && (s.contains("HashJoin") || s.contains("hash join"))))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("nestedloop")))
  }

  test("source mix is one source-key shuffle plus the presentation sort") {
    val plan = executed(SparkEntry.queries("q_source_mix")(spark, dir))
    assert(shuffles(plan) <= 2) // window exchange + range sort, nothing else
    assert(!plan.exists(_.nodeName.contains("Generate")))
  }

  test("source upsample is map-only before the presentation sort") {
    val plan = executed(SparkEntry.queries("q_source_upsample")(spark, dir))
    assert(shuffles(plan) <= 1) // only the range sort — no window, no join
  }

  test("span dedup keeps partial aggregation and no pairwise join") {
    val plan = executed(SparkEntry.queries("q_span_dedup")(spark, dir))
    val shown = plan.map(_.simpleString(100)).mkString("\n")
    assert(shown.contains("partial_")) // map-side combine of repeats
    // the dup decision keys on the 128-bit window hashes, never the span text
    assert(shown.contains("key=[__h1") && "keys?=\\[span".r.findFirstIn(shown).isEmpty,
      "dup decision must key on window hashes, not span strings")
    assert(!plan.exists(_.nodeName.toLowerCase.contains("nestedloop")))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("cartesian")))
    // the only join re-derives span text for survivors: one equi-join
    // of the survivor set with the corpus tokens, so the window-hash
    // rows never reach a join. Which side is built is the planner's
    // size call (at this scale it broadcasts the one-row-group corpus)
    val joins = plan.collect { case j: BaseJoinExec => j }
    assert(joins.size <= 1, s"expected at most one join, got ${joins.map(_.nodeName)}")
    joins.foreach { j =>
      assert(j.leftKeys.nonEmpty, s"survivor join must be an equi-join, got ${j.nodeName}")
      val sides = Seq(j.left, j.right).map(_.output.map(_.name))
      assert(sides.exists(_.contains("n_docs")), s"one side must be the survivor set, got $sides")
      assert(!sides.flatten.exists(Set("__h1", "__h2", "__pos")),
        s"window-hash rows must not reach the join, got $sides")
    }
  }

  /** The exchanges whose output `p`'s stage reads. */
  private def feedingExchanges(p: SparkPlan): Seq[SparkPlan] = p.children.flatMap {
    case q: QueryStageExec => Seq(q.plan)
    case e: ShuffleExchangeLike => Seq(e)
    case c => feedingExchanges(c)
  }

  /** Every kernel node reads a round-robin exchange of
    * `defaultParallelism` partitions, so the kernel stage runs that many
    * tasks instead of the single-row-group scan's one split. */
  private def assertKernelSpread(query: String)(isKernel: SparkPlan => Boolean): Unit = {
    val plan = executed(SparkEntry.queries(query)(spark, dir))
    val par = spark.sparkContext.defaultParallelism
    val kernels = plan.filter(isKernel)
    assert(kernels.nonEmpty, s"$query: kernel node not found")
    kernels.foreach { k =>
      val feeds = feedingExchanges(k)
      assert(feeds.nonEmpty && feeds.forall(_.outputPartitioning == RoundRobinPartitioning(par)),
        s"$query: ${k.nodeName} must read a RoundRobinPartitioning($par) exchange, " +
          s"got ${feeds.map(_.outputPartitioning)}")
      assert(k.outputPartitioning.numPartitions == par,
        s"$query: ${k.nodeName} stage runs ${k.outputPartitioning.numPartitions} tasks, not $par")
    }
  }

  test("audio fingerprint decodes on every core, not on the scan's one split") {
    assertKernelSpread("q_audio_fingerprint")(_.nodeName == "MapPartitions")
  }

  test("ngram jaccard shingles on every core, not on the scan's one split") {
    assertKernelSpread("q_ngram_jaccard")(_.simpleString(100).contains("shingle_hashes("))
  }

  test("ngram jaccard pairs through one hash self-join over one shared shingle exchange") {
    val plan = executed(SparkEntry.queries("q_ngram_jaccard")(spark, dir))
    val shown = plan.map(_.simpleString(100)).mkString("\n")
    // no postings arrays: no object aggregate, no collect_list
    assert(!plan.exists(_.isInstanceOf[ObjectHashAggregateExec]), shown)
    assert(!shown.contains("collect_list"), shown)
    val joins = plan.collect { case j: ShuffledHashJoinExec => j }
    assert(joins.size == 1, s"expected one ShuffledHashJoin, got ${joins.size}:\n$shown")
    // one side reads the shingle exchange, the other a reuse of that
    // same exchange: the stream is shuffled once
    val feeds = feedingExchanges(joins.head)
    assert(feeds.size == 2, shown)
    val Seq(l, r) = feeds
    val reuses = Seq((l, r), (r, l)).collect {
      case (e: ShuffleExchangeLike, u: ReusedExchangeExec) if u.child eq e => u
    }
    assert(reuses.size == 1, s"join sides must share one exchange, got " +
      s"${l.nodeName} / ${r.nodeName}:\n$shown")
    // and the shingle kernel runs in one node
    assert(plan.count(_.simpleString(100).contains("shingle_hashes(")) == 1, shown)
  }

  test("ngram jaccard tokenizes once: the scan stage below the round-robin exchange runs no split") {
    val plan = executed(SparkEntry.queries("q_ngram_jaccard")(spark, dir))
    val spreads = plan.collect {
      case e: ShuffleExchangeLike if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
    }
    assert(spreads.nonEmpty, "q_ngram_jaccard: no round-robin exchange")
    def subtree(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(subtree)
    val splitting = spreads.flatMap(e => subtree(e.child))
      .filter(_.expressions.exists(_.exists(_.isInstanceOf[StringSplit])))
    assert(splitting.isEmpty,
      s"split runs in the one-task scan stage: ${splitting.map(_.simpleString(100))}")
  }

  test("ngram top-k is TakeOrdered, not a global window over the corpus") {
    val plan = executed(SparkEntry.queries("q_ngram_topk")(spark, dir))
    assert(plan.exists(_.nodeName.contains("TakeOrderedAndProject")))
  }

  test("spatial join is a cell-keyed hash join, never a nested-loop") {
    val plan = executed(SparkEntry.queries("q_spatial_join")(spark, dir))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("nestedloop")))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("cartesian")))
    assert(plan.exists(_.isInstanceOf[BroadcastHashJoinExec]))
  }

  test("polygon containment join is also cell-blocked — no nested-loop") {
    val plan = executed(SparkEntry.queries("q_polygon_join")(spark, dir))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("nestedloop")))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("cartesian")))
  }

  test("lsh bucketing runs inside whole-stage codegen — no fallback regression") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val lsh = graft.operators.Similarity.lshTopK(
      emb, emb.where(col("vec_id") < 4), "vec_id", "embedding",
      k = 5, nPlanes = 4, dim = 64, nTables = 4)
    val plan = executed(lsh)
    // the sign_buckets projection over the corpus scan must sit in a
    // WholeStageCodegen region (the composed aggregate()-fold form was
    // CodegenFallback: 64 interpreted lambda folds per vector)
    val scanStages = plan.map(_.toString).filter(s =>
      s.contains("sign_buckets") && s.contains("embeddings.parquet"))
    assert(scanStages.nonEmpty)
    assert(scanStages.exists(_.contains("*(")),
      "sign_buckets fell out of whole-stage codegen")
    assert(!plan.exists(_.nodeName.toLowerCase.contains("nestedloop")))
  }

  test("minhash banding shuffles ids only — signatures stay out of the exchange") {
    // the operator, not the gate query (which adds the exact-jaccard
    // verification join on top)
    val plan = executed(graft.operators.Dedup.minhashCandidates(
      Tables.documents(spark, dir), "doc_id", "text"))
    // bucket groupBy + pair distinct + presentation sort; the verify
    // join must broadcast, not shuffle
    assert(shuffles(plan) == 3)
    // no exchange may carry signature-bearing rows: the old shape
    // collected array<struct<doc_id, sig:array<bigint>>> through the
    // bucket shuffle — any struct-typed shuffle attribute is a
    // regression to that
    val shuffleTypes = plan.collect { case s: ShuffleExchangeLike => s }
      .flatMap(_.output.map(_.dataType.simpleString))
    assert(!shuffleTypes.exists(_.contains("struct")))
  }

  test("partitioned-parquet layout prunes partitions for downstream readers") {
    SparkEntry.queries("q_write_roundtrip")(spark, dir).collect() // ensure layout exists
    val out = s"/tmp/graft-roundtrip-${java.lang.Math.abs(dir.hashCode)}"
    val df = graft.sources.Readers.parquet(spark, out)
      .where(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
    val scan = executed(df).map(_.toString).find(_.contains("FileScan")).get
    assert(scan.contains("PartitionFilters") && scan.contains("1-URGENT"))
  }

  test("AQE splits skewed join partitions at runtime (the §5 skew posture)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "40KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "20KB")
      // one pathological key: 50k of 51k rows share k=0
      val fact = spark.range(51000)
        .select(when($"id" < 50000, 0L).otherwise($"id").as("k"), $"id".as("payload"))
      val dim = spark.range(100).select($"id".as("k"), ($"id" * 2).as("attr"))
      // no same-key agg downstream: requiring the join's hash
      // partitioning afterwards would (correctly) veto the skew split
      val joined = fact.join(dim, "k").select(($"payload" + $"attr").as("v"))
      val plan = executed(joined)
      val skewHandled = plan.exists { p =>
        p.toString.contains("isSkewJoin=true") ||
          (p.nodeName.contains("AQEShuffleRead") && p.toString.contains("skewed"))
      }
      assert(skewHandled, "expected AQE to mark the skewed join handled:\n" +
        plan.map(_.nodeName).mkString(", "))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("table profile is one aggregation pass over the scan") {
    val plan = executed(SparkEntry.queries("q_table_profile")(spark, dir))
    val scans = plan.count(p => p.children.isEmpty && p.nodeName.contains("Scan"))
    assert(scans == 1) // every per-column stat comes from a single pass
  }

  test("pq search encodes in codegen and streams only id+codes through the scan join") {
    val plan = executed(SparkEntry.queries("q_ann_pq")(spark, dir))
    // corpus-side encode is the codegen'd expression over the scan
    val enc = plan.map(_.toString).filter(s =>
      s.contains("pq_encode") && s.contains("embeddings.parquet"))
    assert(enc.nonEmpty && enc.exists(_.contains("*(")),
      "pq_encode fell out of whole-stage codegen")
    // the ADC scan join IS a broadcast nested loop by design (compressed-
    // domain brute force) — but its broadcast side must be the bounded
    // query slice, and the streamed side must carry codes, never the
    // raw embedding vectors
    val loops = plan.filter(_.nodeName.toLowerCase.contains("nestedloop"))
    assert(loops.forall(_.nodeName.contains("BroadcastNestedLoop")))
    loops.foreach { l =>
      assert(l.toString.contains("LessThan(vec_id,8)"),
        "pq ADC join broadcast side is not the bounded query slice")
      val streamed = l.children.filterNot(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.BroadcastExchangeLike])
      streamed.foreach(c => assert(
        !c.output.exists(_.name == "embedding"),
        "raw embeddings leaked past the encode stage into the scan join"))
    }
  }

  test("geojson ring-set containment stays a cell-blocked broadcast hash join") {
    val plan = executed(SparkEntry.queries("q_geojson_rings")(spark, dir))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("nestedloop")))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("cartesian")))
    // the ring-set dim (a handful of features) must broadcast — the
    // point side never shuffles for the join
    assert(plan.exists(_.isInstanceOf[BroadcastHashJoinExec]))
    // the multi-ring crossing test runs inside whole-stage codegen
    val crossing = plan.map(_.toString).filter(_.contains("ring_crossings"))
    assert(crossing.nonEmpty && crossing.exists(_.contains("*(")),
      "ring_crossings fell out of whole-stage codegen")
  }

  test("geotiff import keeps map-side partial aggregation over the strip tasks") {
    val plan = executed(SparkEntry.queries("q_geotiff_import")(spark, dir))
    // per-strip decode feeds a partial HashAggregate before the zone
    // exchange — the shape that holds when strips number in the millions
    val aggs = plan.map(_.toString).filter(_.contains("HashAggregate"))
    assert(aggs.exists(_.contains("partial_")))
    assert(shuffles(plan) <= 2) // zone exchange + presentation sort
  }

  test("sub-exhaustive ivf keeps map-only assignment and a broadcast probe join") {
    val plan = executed(SparkEntry.queries("q_ann_ivf_probe")(spark, dir))
    // the ONLY permissible nested loop is the probe stage's
    // queries × codebook broadcast expansion (both sides bounded: the
    // query set by contract, the codebook by the hard maxCentroids
    // cap) — it must be the BROADCAST variant, and nothing
    // corpus-sized may flow through one
    val loops = plan.filter(_.nodeName.toLowerCase.contains("nestedloop"))
    assert(loops.forall(_.nodeName.contains("BroadcastNestedLoop")))
    // every scan under a nested loop must carry the query-slice pushed
    // filter — the full corpus never feeds one
    assert(loops.forall(_.toString.contains("LessThan(vec_id,8)")),
      "corpus-sized input reached a nested loop")
    assert(!plan.exists(_.nodeName.toLowerCase.contains("cartesianproduct")))
    // corpus-side cell assignment is the codegen'd expression over the
    // scan — no crossJoin expansion of corpus × centroids
    val assign = plan.map(_.toString).filter(s =>
      s.contains("nearest_centroid") && s.contains("embeddings.parquet"))
    assert(assign.nonEmpty && assign.exists(_.contains("*(")),
      "nearest_centroid fell out of whole-stage codegen")
    // the probed query set joins the assigned corpus via broadcast
    assert(plan.exists(_.isInstanceOf[BroadcastHashJoinExec]))
  }

  test("persisted ivf index scan prunes unprobed cell partitions") {
    val plan = executed(SparkEntry.queries("q_ann_ivf_index")(spark, dir))
    val indexScan = plan.map(_.toString).find(s =>
      s.contains("Scan parquet") && s.contains("graft-ivf-index")).get
    // the broadcast join on the partition column must inject a
    // dynamic pruning filter — unprobed cell directories never read
    assert(indexScan.contains("dynamicpruning"),
      s"index scan reads all cell partitions:\n$indexScan")
  }

  test("kmeans keeps codegen'd map-only assignment and a broadcast fingerprint join") {
    val plan = executed(SparkEntry.queries("q_kmeans")(spark, dir))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("nestedloop")))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("cartesian")))
    // corpus-side assignment is the codegen'd expression over the scan
    val assign = plan.map(_.toString).filter(s =>
      s.contains("quant_nearest_cell") && s.contains("embeddings.parquet"))
    assert(assign.nonEmpty && assign.exists(_.contains("*(")),
      "quant_nearest_cell fell out of whole-stage codegen")
    // the ≤k-row centroid fingerprint dim joins via broadcast
    assert(plan.exists(_.isInstanceOf[BroadcastHashJoinExec]))
    // one shuffle for the per-cell agg + at most the presentation sort
    assert(shuffles(plan) <= 2, s"unexpected exchanges: ${shuffles(plan)}")
  }

  test("incremental refresh probes the corpus map-side, churn-sized builds only") {
    import spark.implicits._
    // a corpus-dup collision must exist, else AQE's empty-relation
    // propagation erases the probe joins and there is nothing to audit;
    // auto-broadcast off so ONLY the operator's explicit hints can
    // produce broadcast joins (at test scale AQE would mask their loss)
    val autoBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqeBcast = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", autoBcast)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val prev = (1L to 50L).map(i => (i, s"t$i")).toDF("k", "t")
      val next = ((2L to 50L).map(i => (i, s"t$i")) :+ (99L, "t7")).toDF("k", "t")
      val plan = executed(operators.Incremental.refreshActions(prev, next, "k", "t"))
      assert(!plan.exists(_.nodeName.toLowerCase.contains("nestedloop")))
      assert(!plan.exists(_.nodeName.toLowerCase.contains("cartesian")))
      // the corpus anti/semi probes and the dup-flag join all build the
      // churn-sized side — three broadcast hash joins, no corpus shuffle
      assert(plan.count(_.isInstanceOf[BroadcastHashJoinExec]) >= 3,
        "corpus probe degraded from broadcast to a shuffled join")
      // post-diff exchanges are all churn-sized: the upsert-hash
      // distinct feeding the semi-probe broadcast build, the corpus-dup
      // distinct, the window over upserts, and the presentation sort
      assert(shuffles(plan) <= 4, s"unexpected exchanges: ${shuffles(plan)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", autoBcast)
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", aqeBcast)
    }
  }

  test("span scrub: equi-joins throughout, struct-min first occurrence, no window sort") {
    val plan = executed(SparkEntry.queries("q_span_scrub")(spark, dir))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("nestedloop")))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("cartesian")))
    // the corpus-wide first occurrence is a map-side-combinable
    // aggregate, NOT a per-span row_number window (hot-span skew)
    assert(!plan.exists(_.nodeName.contains("Window")))
    assert(plan.map(_.toString).exists(s =>
      s.contains("partial_min") || s.contains("partial_")))
  }

  test("fuzzy decontamination joins on band buckets and shingle keys, no nested loop") {
    val plan = executed(SparkEntry.queries("q_decontaminate_fuzzy")(spark, dir))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("nestedloop")))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("cartesian")))
  }

  test("lm fluency: model fit keeps partial aggregation, scoring via equi-joins only") {
    val plan = executed(SparkEntry.queries("q_lm_fluency")(spark, dir))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("nestedloop")))
    // the only cartesian-shaped nodes allowed are the broadcast of the
    // 1-row vocabulary total
    val carts = plan.filter(_.nodeName.toLowerCase.contains("cartesian"))
    assert(carts.isEmpty)
    val aggs = plan.map(_.toString).filter(_.contains("HashAggregate"))
    assert(aggs.exists(_.contains("partial_")))
  }

  test("bm25 prunes to query-term hits before the posting exchange, " +
      "broadcasts the term stats, and takes a bounded global head") {
    // the (doc, term) posting aggregation must be fed by the
    // hit-filtered scan: the size(__hits)>0 filter applies DIRECTLY
    // over the file scan (below the posting exchange), so only docs
    // containing a query term shuffle — under a 10× vocabulary the
    // exchange stays ∝ matching postings, not ∝ corpus. The posting
    // frame is checkpointed inside bm25Scores (its scan job is
    // separate), so the audit runs on the posting builder itself.
    // With AQE off the plan is the one a multi-split corpus gets; with
    // it on, the one-split sf0.001 corpus lets graft.plans.InPlace run
    // the posting aggregate in the scan's task, with no exchange at all.
    def posting(): Seq[SparkPlan] = executed(graft.operators.Retrieval.postingCounts(
      graft.operators.Retrieval.hitBase(
        Tables.documents(spark, dir), "doc_id", "text", Seq("vector", "stream")), "doc_id"))
    def subtree(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(subtree)
    for ((aqe, exchanges) <- Seq(("false", 1), ("true", 0))) {
      val plan = withConf("spark.sql.adaptive.enabled", aqe)(posting())
      assert(plan.exists(s =>
        s.isInstanceOf[org.apache.spark.sql.execution.FilterExec] &&
          s.toString.contains("size(") &&
          subtree(s).exists(_.nodeName.contains("Scan"))),
        s"AQE $aqe: the query-term hit filter does not sit on the corpus scan")
      assert(shuffles(plan) == exchanges, s"AQE $aqe: posting build must be $exchanges exchange")
    }
    // the gate plan: df/N·avgdl sides enter as broadcasts (dfreq hash
    // join + the one-row stats nested loop); nothing ever sort-merges
    val plan = executed(SparkEntry.queries("q_bm25_topk")(spark, dir))
    assert(plan.count(_.isInstanceOf[BroadcastHashJoinExec]) >= 1)
    assert(!plan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]))
    // the global top-k is TakeOrderedAndProject (per-partition heaps),
    // never a full sort of the scored corpus
    assert(plan.exists(_.nodeName.contains("TakeOrderedAndProject")))
    // df agg + stats agg + pivot agg above the checkpointed postings:
    // the shuffle count is fixed, independent of corpus size
    assert(shuffles(plan) <= 3, s"bm25 shuffle count grew: ${shuffles(plan)}")
  }

  test("hybrid search fuses bounded heads: TakeOrdered lists, broadcast-side fusion") {
    val plan = executed(SparkEntry.queries("q_hybrid_search")(spark, dir))
    // both retrieval arms end in bounded-heap heads before fusion
    assert(plan.count(_.nodeName.contains("TakeOrderedAndProject")) >= 2)
    // the full-outer RRF join runs over two ≤k-row heads — any join
    // strategy is fine, but it must never sort-merge the CORPUS: no
    // corpus-sized exchange may appear above the heads
    assert(!plan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]))
  }

  test("incremental dedup probe: hash joins only, occupancy window on the sliver") {
    val docs = Tables.documents(spark, dir)
    val idx = "/tmp/graft-audit-mhidx"
    graft.operators.Dedup.minhashIndexWrite(docs, "doc_id", "text", idx)
    val plan = executed(graft.operators.Dedup.dedupShardAgainstIndex(
      docs.limit(50), "doc_id", "text", idx))
    // every join in the probe is keyed (band/bucket, doc ids) — a
    // nested-loop anywhere here is a corpus×shard blowup at scale
    assert(!plan.exists(_.nodeName.toLowerCase.contains("nestedloop")))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("cartesian")))
    // the cross-segment occupancy count IS present (a window over the
    // candidate sliver) — removing it silently re-opens the
    // appended-segment hot-bucket hole
    assert(plan.exists(_.nodeName.contains("Window")))
    // best-match per shard doc is the map-combinable struct-min, not a
    // per-doc row_number sort
    assert(plan.map(_.toString).exists(_.contains("partial_min")))
  }

  test("semantic dedup pairs via a cell-keyed equi-join, never a nested loop") {
    val plan = executed(SparkEntry.queries("q_semantic_dedup")(spark, dir))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("nestedloop")))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("cartesian")))
    // the `id_a < id_b` bound rides the cell equi-join as a post
    // condition, not a join strategy downgrade
    assert(plan.exists(p =>
      p.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec] ||
      p.isInstanceOf[org.apache.spark.sql.execution.joins.ShuffledHashJoinExec] ||
      p.isInstanceOf[BroadcastHashJoinExec]))
  }

  test("html extraction is map-only: zero shuffles before the presentation order") {
    val plan = executed(SparkEntry.queries("q_html_extract")(spark, dir))
    // the whole WET stage is per-row column algebra — at 100 TB it
    // must stream through the corpus with no exchange at all except
    // the gate's own output ordering
    assert(shuffles(plan) <= 1)
    assert(!plan.exists(_.nodeName.contains("Generate"))) // no line explode
  }

  test("int8 ann: bounded broadcast expansions only, corpus never shuffles") {
    val plan = executed(SparkEntry.queries("q_ann_int8")(spark, dir))
    // the stats (1 row) and query (≤8 rows) sides ride in as BROADCAST
    // expansions over the corpus scan — the K1 shape; what must never
    // appear is an unbroadcast cartesian or a corpus-keyed exchange
    // beyond the top-k rank partitioning + presentation sort
    assert(!plan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]))
    // stats single-partition agg(s) + top-k rank exchange +
    // presentation sort — nothing corpus-keyed beyond those
    assert(shuffles(plan) <= 4, "int8 search grew unexpected exchanges")
    // the top-k is a bounded heap before the rank exchange, not a
    // full per-query sort of the corpus
    assert(plan.exists(_.nodeName.contains("WindowGroupLimit")))
  }

  test("pagerank iteration: keyed joins and partial aggregation, no nested loop") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val e = docs.select(col("doc_id").as("src"),
      ((col("doc_id") * 7 + 3) % 500).as("dst"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("out_c"))
    val r0 = nodes.withColumn("rank", lit(1L << 20))
    val plan = executed(
      graft.operators.Graph.iterate(e, nodes, outDeg, r0, 157286L, 17L, 20L))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("cartesian")))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("nestedloop")))
    // contributions fold with map-side partial aggregation (sum of
    // shares keyed by dst) — the per-iteration exchange carries
    // partials, not raw edge rows
    assert(plan.map(_.toString).exists(_.contains("partial_sum")))
  }

  test("lpa round: keyed joins and partial aggregation carry the label counts") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val e = docs.select(col("doc_id").as("src"),
      ((col("doc_id") * 7 + 3) % 500).as("dst"))
    val nbrs = e.select(col("src").as("node"), col("dst").as("nbr"))
      .union(e.select(col("dst").as("node"), col("src").as("nbr")))
    val nodes = nbrs.select("node").distinct()
    val l0 = nodes.withColumn("lbl", col("node"))
    val plan = executed(graft.operators.Graph.propagateOnce(nbrs, nodes, l0))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("cartesian")))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("nestedloop")))
    // neighbor-label counts fold map-side before the (node,lbl)
    // exchange, and the per-node argmax folds as a partial min(struct)
    assert(plan.map(_.toString).exists(_.contains("partial_count")))
    assert(plan.map(_.toString).exists(_.contains("partial_min")))
  }

  test("shard shuffle: bucket carries broadcast back, corpus shuffles once per level") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir)
    val plan = executed(graft.operators.Curation.shardShuffle(
      docs, "doc_id", size(split(col("text"), " ")).cast("long"),
      budget = 4096L, seed = 7L))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("nestedloop")))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("cartesian")))
    // per-bucket base offsets join back as a broadcast (buckets-row
    // side) — the corpus itself must never shuffle for this join
    assert(plan.count(_.isInstanceOf[BroadcastHashJoinExec]) >= 1)
    // corpus-sized exchanges: the bucket-window repartition and the
    // presentation sort; the bucket-totals agg and its 1024-row window
    // add two more bounded ones. Anything beyond says the prefix sum
    // degenerated into extra corpus passes.
    assert(shuffles(plan) <= 4, s"expected <= 4 exchanges:\n${plan.mkString("\n")}")
  }

  test("url filter: suffix equi-join only, rules broadcast, no per-rule scan") {
    import org.apache.spark.sql.functions._
    val spark0 = spark
    import spark0.implicits._
    val urls = Tables.documents(spark, dir).select(
      col("doc_id"),
      concat(lit("https://site"), (col("doc_id") % 20).cast("string"),
        lit(".example.com/p/"), col("doc_id").cast("string")).as("url"))
    val rules = Seq((0L, "site3.example.com", Option.empty[String]))
      .toDF("rule_id", "host_suffix", "path_prefix")
    val plan = executed(
      graft.operators.Html.urlFilter(urls, "doc_id", "url", rules))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("nestedloop")))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("cartesian")))
    // both the rule match and the verdict join ride as broadcasts —
    // the corpus never shuffles for either
    assert(plan.count(_.isInstanceOf[BroadcastHashJoinExec]) >= 2)
  }

  test("robots parsing: windows partition by host, never a global ordering pass") {
    import org.apache.spark.sql.functions._
    val hosts = Tables.documents(spark, dir)
      .select((col("doc_id") % 20).as("hn")).distinct()
      .select(
        concat(lit("site"), col("hn").cast("string"), lit(".example.com")).as("host"),
        lit("User-agent: *\nDisallow: /x/\n").as("robots"))
    val df = graft.operators.Html.robotsRules(hosts, "host", "robots")
    // every window in the optimized plan is keyed by host — an empty
    // partition spec would serialize the whole rule table
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    windows.foreach(w =>
      assert(w.partitionSpec.nonEmpty, s"unpartitioned window:\n$w"))
    val plan = executed(df)
    assert(!plan.exists(_.nodeName.toLowerCase.contains("nestedloop")))
  }

  test("forget probe keeps hash joins; the tombstone filter is a broadcast anti-join") {
    val docs = Tables.documents(spark, dir)
    val idx = "/tmp/graft-audit-mhforget"
    graft.operators.Dedup.minhashIndexWrite(docs, "doc_id", "text", idx)
    graft.operators.Dedup.minhashIndexDelete(
      docs.where(org.apache.spark.sql.functions.col("doc_id") % 10 === 7)
        .select("doc_id"), "doc_id", idx)
    val plan = executed(graft.operators.Dedup.dedupShardAgainstIndex(
      docs.limit(50), "doc_id", "text", idx))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("nestedloop")))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("cartesian")))
    // deletion must not change the probe's exchange structure: the
    // tombstone set rides in as broadcast anti-joins (ids-only)
    assert(plan.count(p => p.nodeName.contains("BroadcastHashJoin")) >= 1)
  }

  test("warc reading is one task pass: zero shuffles from container bytes to rows") {
    import org.apache.spark.sql.functions._
    val spark0 = spark
    import spark0.implicits._
    val wdir = s"/tmp/graft-audit-warc"
    val pages = (0L until 40L)
      .map(i => (i, s"https://s$i.example/p", s"<p>page $i body words here</p>"))
      .toDF("doc_id", "url", "html").repartitionByRange(2, col("doc_id"))
    graft.sources.Warc.writeFiles(pages, "url", "html", wdir)
    val plan = executed(graft.sources.Warc.responses(spark, s"$wdir/*.warc.gz"))
    // gunzip + framing + HTTP split all happen inside the per-file
    // task; nothing may force a shuffle before rows exist
    assert(shuffles(plan) == 0)
  }

  test("rfc9309 longest-match verdict: one argmax aggregation, no window, no per-rule scan") {
    import org.apache.spark.sql.functions._
    val spark0 = spark
    import spark0.implicits._
    val urls = Tables.documents(spark, dir).select(
      col("doc_id"),
      concat(lit("https://site"), (col("doc_id") % 20).cast("string"),
        lit(".example.com/private/p"), col("doc_id").cast("string"),
        lit(".pdf")).as("url"))
    val rules = Seq(
      (0L, "site3.example.com", Option("/private/"), false),
      (1L, "site3.example.com", Option("/private/public/"), true),
      (2L, "site3.example.com", Option("/*.pdf$"), false))
      .toDF("rule_id", "host_suffix", "path_prefix", "allow")
    val df = graft.operators.Html.urlFilter(urls, "doc_id", "url", rules)
    // the longest-match precedence folds as max(struct(...)) — a
    // row_number window here would serialize per-URL rule lists
    assert(df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.isEmpty)
    val plan = executed(df)
    assert(!plan.exists(_.nodeName.toLowerCase.contains("nestedloop")))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("cartesian")))
    // rule match and verdict join both broadcast; wildcard compile
    // rides the broadcast side, never a per-rule corpus scan
    assert(plan.count(_.isInstanceOf[BroadcastHashJoinExec]) >= 2)
  }

  test("community profile composition: keyed join + partial agg over checkpointed inputs") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir)
    val labels = docs.select(col("doc_id"), (col("doc_id") % 7).as("community"))
      .localCheckpoint()
    val sig = graft.operators.Curation.repetitionSignals(docs, Seq("doc_id"), "text")
      .localCheckpoint()
    val profile = sig.join(labels, "doc_id")
      .groupBy("community")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words").cast("long")).as("sum_words"))
      .orderBy("community")
    val plan = executed(profile)
    assert(!plan.exists(_.nodeName.toLowerCase.contains("nestedloop")))
    // the aggregate must combine map-side: partial + final HashAggregate
    assert(plan.count(_.nodeName.contains("HashAggregate")) >= 2)
    // join on doc_id, agg on community, presentation sort — never more
    // than three exchanges over the two checkpointed inputs
    assert(shuffles(plan) <= 3)
  }

  test("spanDedupVar: no cartesian anywhere; islands window shuffles once") {
    import org.apache.spark.sql.functions._
    val plan = executed(graft.operators.Dedup.spanDedupVar(
      Tables.documents(spark, dir), "doc_id", "text", minLen = 8))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("nestedloop")))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("cartesian")))
    // window decision (partial+final agg), flagged join, per-doc window,
    // spans groupBy, text join-back, presentation sort — bounded exchange
    // count; the dup aggregation must combine map-side
    assert(plan.count(_.nodeName.contains("HashAggregate")) >= 2)
  }

  test("suffixRanks round is equi-join + range re-rank, never a range join") {
    val plan = executed(graft.operators.Dedup.suffixRanks(
      Tables.documents(spark, dir), "doc_id", "text", rounds = 8))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("nestedloop")))
    assert(!plan.exists(_.nodeName.toLowerCase.contains("cartesian")))
  }

  test("columnRoles is ONE aggregation pass over the table") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, dir).withColumn("footprint",
      concat(lit("POINT("), (col("user_id") % 90).cast("string"), lit(" 1)")))
    val plan = executed(graft.operators.Analysis.columnRoles(
      ev, Seq("event_id", "ts", "event_type", "value", "footprint")))
    // one scan feeds everything: stats, distincts, the WKT flag
    // (match real scan NODES — query-stage wrappers are childless too
    // and their toString prints the whole stage subtree)
    val scans = plan.filter(p =>
      p.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec] &&
      p.toString.contains("events.parquet"))
    assert(scans.size == 1, s"expected one events scan, got ${scans.size}")
  }

  test("url normalization with %-decode and IDN folding stays map-only") {
    import org.apache.spark.sql.functions._
    val urls = Tables.documents(spark, dir).select(
      col("doc_id"),
      concat(lit("HTTP://MüNCHEN.Example.COM:80/q%41%2f%7e/p"),
        col("doc_id").cast("string")).as("url"))
    val plan = executed(urls.select(
      col("doc_id"), graft.operators.Html.urlNormalize(col("url")).as("canon")))
    // the whole canon chain (pct fold, punycode expression) is row-local
    assert(shuffles(plan) == 0)
  }

  // graft.plans.InPlace: a global sort whose input already reads as one
  // partition drops its range exchange and the exchange's sampling job,
  // and an aggregate whose partial half runs in one task drops the hash
  // exchange between its halves; anywhere else the exchange stays.

  private def rangeExchanges(plan: Seq[SparkPlan]): Int = plan.count {
    case e: ShuffleExchangeLike => e.outputPartitioning.isInstanceOf[RangePartitioning]
    case _ => false
  }

  /** A one-file, one-split parquet table of 2,000 rows. */
  private lazy val oneSplit: String = {
    val path = java.nio.file.Files.createTempDirectory("graft-sort-in-place")
      .resolve("t").toString
    spark.range(0, 2000, 1, 1).selectExpr("id", "id % 7 AS k").write.parquet(path)
    path
  }

  test("in place: a sort over a one-split scan runs in one job, no range exchange") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(oneSplit).filter(col("k") =!= 3).orderBy(col("id").desc)
    assert(spark.read.parquet(oneSplit).rdd.getNumPartitions == 1)
    var rows = Array.empty[org.apache.spark.sql.Row]
    assert(jobsDuring { rows = df.collect() } == 1)
    val plan = nodes(df)
    assert(rangeExchanges(plan) == 0 && plan.exists(_.isInstanceOf[CoalesceExec]))
    val ids = rows.map(_.getLong(0)).toSeq
    assert(ids == (0L until 2000L).filter(_ % 7 != 3).reverse)
  }

  /** `SELECT g, count(*) … GROUP BY g ORDER BY g` over 4 map partitions
    * whose aggregate stage grows with `groups`; the read of that stage
    * (its byte size, its partition count after AQE's coalescing) and
    * the plan, after one collect that also checks the rows. */
  private def groupedSort(groups: Int): (Long, Int, Seq[SparkPlan]) = {
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 4L * groups, 1, 4).select((col("id") % groups).as("g"))
      .groupBy("g").count().orderBy("g")
    val rows = df.collect()
    assert(rows.map(_.getLong(0)).toSeq == (0L until groups))
    assert(rows.forall(_.getLong(1) == 4L))
    val plan = nodes(df)
    val read = plan.collect {
      case r: AQEShuffleReadExec if r.child.asInstanceOf[ShuffleQueryStageExec]
          .shuffle.outputPartitioning.isInstanceOf[HashPartitioning] => r
    }
    assert(read.size == 1, plan.mkString("\n"))
    val stage = read.head.child.asInstanceOf[ShuffleQueryStageExec]
    (stage.mapStats.get.bytesByPartitionId.sum, read.head.partitionSpecs.size, plan)
  }

  // 96,000 and 98,000 groups sit on either side of the line at 4 map
  // partitions: AQE packs 2,023,680 B of map output into one partition
  // and splits 2,171,760 B in two. AQE merges a coalesced partition
  // below minPartitionSize (1 MiB) into a neighbour, so the line lies
  // past that setting.
  private val underLine = 96000
  private val overLine = 98000

  test("in place: a sort over an aggregate just under the one-partition line") {
    val minSize = spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    val (bytes, reads, plan) = groupedSort(underLine)
    assert(bytes > minSize && reads == 1)
    assert(rangeExchanges(plan) == 0 && plan.exists(_.isInstanceOf[CoalesceExec]))
    // the aggregate's map stage and the result stage; no sampling job
    assert(jobsDuring(groupedSort(underLine)) == 2)
  }

  test("in place: just over the line the aggregate reads two partitions, the exchange stays") {
    val (under, _, _) = groupedSort(underLine)
    val (bytes, reads, plan) = groupedSort(overLine)
    assert(bytes > under && bytes < under * 11 / 10, s"$bytes vs $under")
    assert(reads > 1)
    assert(rangeExchanges(plan) == 1 && !plan.exists(_.isInstanceOf[CoalesceExec]))
  }

  test("in place: a Generate or a join below the sort keeps the range exchange") {
    import org.apache.spark.sql.functions._
    val t = spark.read.parquet(oneSplit)
    val exploded = t.select(col("id"), explode(array(col("k"), col("k") + 1)).as("e"))
      .orderBy("id", "e")
    val joined = t.join(broadcast(t.select(col("id"), col("k").as("k2"))), "id")
      .orderBy("id")
    for (df <- Seq(exploded, joined)) {
      val plan = executed(df)
      assert(rangeExchanges(plan) == 1 && !plan.exists(_.isInstanceOf[CoalesceExec]))
    }
  }

  test("in place: with AQE off the range exchange stays") {
    import org.apache.spark.sql.functions._
    withConf("spark.sql.adaptive.enabled", "false") {
      val df = spark.read.parquet(oneSplit).orderBy(col("id").desc)
      val plan = executed(df)
      assert(!plan.exists(_.isInstanceOf[AdaptiveSparkPlanExec]))
      assert(rangeExchanges(plan) == 1 && !plan.exists(_.isInstanceOf[CoalesceExec]))
    }
  }

  private def hashExchanges(plan: Seq[SparkPlan]): Int = plan.count {
    case e: ShuffleExchangeLike => e.outputPartitioning.isInstanceOf[HashPartitioning]
    case _ => false
  }

  /** Rows of `df` by content, in order. */
  private def rowsOf(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq.map {
    case b: Array[Byte] => b.toSeq
    case v => v
  })

  for (name <- Seq("q_dedup_exact", "q_json_extract")) {
    test(s"in place: $name runs in one job, no shuffle exchange left") {
      val df = SparkEntry.queries(name)(spark, dir)
      assert(jobsDuring(df.collect()) == 1)
      assert(shuffles(nodes(df)) == 0, nodes(df).mkString("\n"))
      assert(nodes(df).count(_.isInstanceOf[CoalesceExec]) == 2)
    }
  }

  test("in place: q_bpe_train's vocabulary probe runs in one job") {
    Tables.documents(spark, dir)
    // the probe is the only job: the merge loop runs on the driver
    assert(jobsDuring(SparkEntry.queries("q_bpe_train")(spark, dir)) == 1)
  }

  test("in place: an aggregate over four partitions keeps its hash exchange") {
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 2000, 1, 4).select((col("id") % 7).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
    val plan = executed(df)
    assert(hashExchanges(plan) == 1 && !plan.exists(_.isInstanceOf[CoalesceExec]))
    def sorted(rows: Seq[Seq[Any]]) = rows.sortBy(_.head.asInstanceOf[Long])
    assert(sorted(rowsOf(df)) ==
      sorted(withConf("spark.sql.adaptive.enabled", "false")(rowsOf(df))))
  }

  test("in place: an equi-join of a one-split side and a four-partition side keeps its exchanges") {
    import org.apache.spark.sql.functions._
    val four = spark.range(0, 2000, 1, 4).select(col("id"), (col("id") % 5).as("m"))
    val t = spark.read.parquet(oneSplit)
    // a bare scan, and an aggregate in place over the scan, as the one-split side
    val scanJoin = t.join(four, "id").orderBy("id")
    val aggJoin = t.groupBy("k").agg(count(lit(1)).as("n"))
      .join(four.select(col("m").as("k"), col("id")), "k").orderBy("id")
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      for (df <- Seq(scanJoin, aggJoin)) {
        val plan = executed(df)
        assert(plan.exists(_.isInstanceOf[BaseJoinExec]))
        assert(hashExchanges(plan) >= 2, plan.mkString("\n"))
        assert(!plan.exists(_.isInstanceOf[CoalesceExec]))
        val rows = rowsOf(df)
        assert(rows.nonEmpty)
        assert(rows == withConf("spark.sql.adaptive.enabled", "false")(rowsOf(df)))
      }
    }
  }

  test("in place: with AQE off an aggregate over a one-split scan keeps its exchanges") {
    val on = rowsOf(SparkEntry.queries("q_dedup_exact")(spark, dir))
    withConf("spark.sql.adaptive.enabled", "false") {
      val df = SparkEntry.queries("q_dedup_exact")(spark, dir)
      val plan = executed(df)
      assert(!plan.exists(_.isInstanceOf[AdaptiveSparkPlanExec]))
      assert(hashExchanges(plan) == 1 && rangeExchanges(plan) == 1)
      assert(!plan.exists(_.isInstanceOf[CoalesceExec]))
      assert(rowsOf(df) == on)
    }
  }
}
