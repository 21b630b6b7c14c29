package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Aggregations, Chain, Distributions, Events, Formats, Num}
import graft.sources.Writers

/** Config-driven pipeline runner — the engine twin of the reference's
  * services layer (`services/transformer.py:360` `transform_data`,
  * `services/importer.py:30`, `services/exporter.py:29`), where a
  * declarative YAML document names the per-entity sources, transform
  * steps and exports and the services execute every plugin run.
  *
  * Spark-first translation: the spec does NOT drive a per-group
  * driver loop the way the reference does — it is COMPILED, through
  * the same composition discipline as [[graft.operators.Chain]], into
  * ONE lazy Catalyst plan per step graph. Catalyst then sees the whole
  * pipeline at once: filters written as late steps still push into the
  * source scans, unused columns prune end-to-end, and a 10⁸-entity
  * config runs as one shuffle per aggregation instead of 10⁸ queries.
  * Nothing is materialized until an export (or the caller) acts.
  *
  * Spec format: YAML or JSON (YAML is a superset; both parse through
  * the same loader). Shape, mirroring the reference's `transform.yml`
  * trio — `sources` are the loader plugins (`direct_reference`,
  * `join_table`), `steps` the transformer plugins, `exports` the
  * exporter plugins:
  *
  * {{{
  * entity: customer_stats
  * sources:
  *   - name: customers           # direct_reference loader
  *     table: customer
  *   - name: cust_orders         # join_table loader
  *     table: orders
  *     relation: {ref: customers, key: o_custkey, refKey: c_custkey}
  * steps:
  *   - name: big
  *     op: filter                # input defaults to the previous
  *     input: cust_orders        # step (or the first source)
  *     params: {where: "o_totalprice > 1000"}
  *   - name: per_nation
  *     op: aggregate
  *     params:
  *       groupBy: [c_nationkey]
  *       aggs: {n_orders: "count(1)", revenue: "sum(o_totalprice)"}
  * exports:
  *   - name: api
  *     format: parquet           # parquet | jsonapi | dwc_archive
  *     params: {path: out/api}
  * }}}
  *
  * Validation mirrors `chains/chain_validator.py`: the whole spec is
  * checked BEFORE any execution — unknown ops (with the known-op list
  * in the message), references to undefined step/source names,
  * duplicate names, unknown export formats and missing/ill-typed
  * params all fail loudly at compile time, never as a half-written
  * export.
  */
object Pipeline {

  // ---------------------------------------------------------------- model

  final case class RelationSpec(ref: String, key: String, refKey: String)
  final case class SourceSpec(
      name: String, table: String, relation: Option[RelationSpec],
      format: String = "table")
  final case class StepSpec(
      name: String, op: String, input: Option[String],
      params: Map[String, Any])
  final case class ExportSpec(
      name: String, format: String, params: Map[String, Any])
  final case class PipelineSpec(
      entity: String, sources: Seq[SourceSpec], steps: Seq[StepSpec],
      exports: Seq[ExportSpec], mode: String = "batch")

  /** Step operators the compiler knows (the registry the reference
    * keeps in `core/plugins/registry.py`). */
  val knownOps: Set[String] = Set(
    "filter", "select", "aggregate", "join", "sql", "sort", "top_ranking",
    "field_aggregator", "statistical_summary", "binned_distribution",
    "categorical_distribution", "window_agg",
    // training-data curation vocabulary (the engine's LLM-pipeline
    // mandate): the high-traffic J1/Q15/Q12/Q2 operators as chainable
    // spec steps, reusing the gated operator internals verbatim
    "exact_dedup", "quality_filter", "pii_scrub", "stratified_sample",
    "quality_classifier", "html_extract", "html_links", "url_normalize",
    "url_resolve", "lang_id_learned",
    "pagerank", "index_dedup", "fluency_buckets",
    "label_prop", "url_filter", "robots_rules", "anchor_text", "shard_shuffle",
    "minhash_dedup", "span_scrub", "decontaminate", "bpe_count",
    "longest_dup", "suffix_array")

  /** Batch-only steps that aggregate ACROSS the whole corpus (near-dup
    * clustering, span statistics, benchmark-gram sets, merge-table
    * training) — a streaming frame can never hand them the full
    * document set, so the streaming compiler rejects them with the
    * reason rather than just listing the allowed vocabulary. Their
    * incremental twins live in [[graft.streaming.StreamOps]]
    * (rollingIngestStream / minhashCandidateStream /
    * spanScrubStream). */
  private val corpusAggOps: Set[String] =
    Set("minhash_dedup", "span_scrub", "decontaminate", "bpe_count",
      "longest_dup", "suffix_array")

  val knownExports: Set[String] = Set("parquet", "jsonapi", "dwc_archive")

  /** Source formats: `table` resolves through the registry boundary
    * (catalog/parquet), `warc` reads the named path as crawl-archive
    * files ([[graft.sources.Warc.responses]] — (url, status, mime,
    * html) rows, one executor task per file) so a spec can start at
    * the raw CommonCrawl input and chain straight into
    * `html_extract`/`html_links`. */
  val knownSourceFormats: Set[String] = Set("table", "warc")

  // ---------------------------------------------------------------- parse

  /** Parse a YAML/JSON pipeline document (SnakeYAML — YAML 1.2 is a
    * JSON superset, so both syntaxes land here). Driver-side, O(spec):
    * configs are small by construction. */
  def parse(specText: String): PipelineSpec = {
    val root = asMap(
      new org.yaml.snakeyaml.Yaml().load[Any](specText), "pipeline root")
    val entity = reqStr(root, "entity", "pipeline root")
    val sources = seqOfMaps(root, "sources", "pipeline root").map { m =>
      val name = reqStr(m, "name", "source")
      SourceSpec(
        name, reqStr(m, "table", s"source '$name'"),
        m.get("relation").map { r =>
          val rm = asMap(r, s"source '$name' relation")
          RelationSpec(
            reqStr(rm, "ref", s"source '$name' relation"),
            reqStr(rm, "key", s"source '$name' relation"),
            reqStr(rm, "refKey", s"source '$name' relation"))
        },
        m.get("format").map(_.toString).getOrElse("table"))
    }
    val steps = seqOfMaps(root, "steps", "pipeline root").map { m =>
      val name = reqStr(m, "name", "step")
      StepSpec(
        name, reqStr(m, "op", s"step '$name'"),
        m.get("input").map(_.toString),
        m.get("params").map(p => asMap(p, s"step '$name' params"))
          .getOrElse(Map.empty))
    }
    val exports = root.get("exports").map(_ =>
      seqOfMaps(root, "exports", "pipeline root").map { m =>
        val name = reqStr(m, "name", "export")
        ExportSpec(
          name, reqStr(m, "format", s"export '$name'"),
          m.get("params").map(p => asMap(p, s"export '$name' params"))
            .getOrElse(Map.empty))
      }).getOrElse(Seq.empty)
    require(steps.nonEmpty, "pipeline: at least one step is required")
    val mode = root.get("mode").map(_.toString).getOrElse("batch")
    require(mode == "batch" || mode == "streaming",
      s"pipeline '$entity': mode must be batch|streaming, got '$mode'")
    PipelineSpec(entity, sources, steps, exports, mode)
  }

  // ------------------------------------------------------------- validate

  /** Structural validation, spec-only — no DataFrames touched. */
  def validate(spec: PipelineSpec): Unit = {
    val srcNames = spec.sources.map(_.name)
    val stepNames = spec.steps.map(_.name)
    val all = srcNames ++ stepNames
    require(all.distinct.size == all.size,
      s"pipeline '${spec.entity}': duplicate source/step names in $all")
    spec.sources.foreach { s =>
      require(knownSourceFormats.contains(s.format),
        s"pipeline '${spec.entity}': source '${s.name}' uses unknown format " +
          s"'${s.format}' — known formats: " +
          s"${knownSourceFormats.toSeq.sorted.mkString(", ")}")
      s.relation.foreach { r =>
        require(srcNames.takeWhile(_ != s.name).contains(r.ref),
          s"pipeline '${spec.entity}': source '${s.name}' relation " +
            s"references undefined source '${r.ref}' (defined before it: " +
            s"${srcNames.takeWhile(_ != s.name).mkString(", ")})")
      }
    }
    var defined = srcNames.toSet
    spec.steps.foreach { st =>
      require(knownOps.contains(st.op),
        s"pipeline '${spec.entity}': step '${st.name}' uses unknown op " +
          s"'${st.op}' — known ops: ${knownOps.toSeq.sorted.mkString(", ")}")
      st.input.foreach { in =>
        require(defined.contains(in),
          s"pipeline '${spec.entity}': step '${st.name}' references " +
            s"undefined input '$in' — defined names: " +
            s"${defined.toSeq.sorted.mkString(", ")}")
      }
      // @step.field|fn(args) cross-step references (ChainRefs): the
      // referenced step must precede this one, the pipe function must
      // be known, and only expression-vocabulary ops may embed refs
      ChainRefs.validateStep(spec.entity, st.name, st.op, st.params, defined)
      if (st.op == "join") {
        val r = st.params.get("right").map(_.toString)
        require(r.nonEmpty, s"step '${st.name}': join needs param 'right'")
        require(defined.contains(r.get),
          s"pipeline '${spec.entity}': step '${st.name}' joins undefined " +
            s"frame '${r.get}'")
      }
      defined += st.name
    }
    spec.exports.foreach { e =>
      require(knownExports.contains(e.format),
        s"pipeline '${spec.entity}': export '${e.name}' uses unknown " +
          s"format '${e.format}' — known: ${knownExports.toSeq.sorted.mkString(", ")}")
      e.params.get("input").foreach { in =>
        require(defined.contains(in.toString),
          s"pipeline '${spec.entity}': export '${e.name}' references " +
            s"undefined input '$in'")
      }
    }
  }

  // -------------------------------------------------------------- compile

  /** Compile the spec into its lazy frame graph: every source and step
    * name → its DataFrame, all one Catalyst plan family, nothing
    * executed. `resolveTable` maps spec table names to frames (the
    * registry boundary — tests pass the parquet dir, production passes
    * a catalog lookup). */
  def compile(
      spark: SparkSession, spec: PipelineSpec,
      resolveTable: String => DataFrame): Map[String, DataFrame] = {
    validate(spec)
    val sourceCtx = spec.sources.foldLeft(Map.empty[String, DataFrame]) {
      case (ctx, s) =>
        val base = s.format match {
          case "warc" => graft.sources.Warc.responses(spark, s.table)
          case _ => resolveTable(s.table)
        }
        val loaded = s.relation match {
          case None => base // direct_reference
          case Some(r) => // join_table: dataset rows joined to the ref
            base.join(ctx(r.ref), base(r.key) === ctx(r.ref)(r.refKey))
        }
        ctx + (s.name -> loaded)
    }
    val firstInput = spec.sources.headOption.map(_.name)
    // the step graph itself runs through Chain: same composition rule,
    // same duplicate guard, one plan out
    val chainSteps: Seq[(String, Chain.Step)] = spec.steps.zipWithIndex.map {
      case (st, i) =>
        val inputName = st.input
          .orElse(if (i == 0) firstInput else Some(spec.steps(i - 1).name))
          .getOrElse(fail(s"step '${st.name}': no input and no sources"))
        st.name -> { (ctx: Map[String, DataFrame]) =>
          // resolve @refs: params rewritten to __ref_N columns, each a
          // one-row broadcast compiled from the referenced step's plan
          // — the step graph stays ONE lazy plan (see ChainRefs)
          val (params2, in2, refCols) =
            ChainRefs.rewrite(st.params, ctx(inputName), ctx)
          val out = applyOp(st.copy(params = params2), in2, ctx)
          out.drop(refCols.filter(out.columns.contains): _*)
        }
    }
    val seed = sourceCtx.getOrElse(firstInput.getOrElse("input"),
      spark.emptyDataFrame)
    // rebuild the full ctx (Chain returns only the last frame)
    chainSteps.foldLeft(sourceCtx + ("input" -> seed)) {
      case (ctx, (name, f)) => ctx + (name -> f(ctx))
    }
  }

  /** Compile and return the LAST step's frame — the single-result
    * entry the gates use. */
  def result(
      spark: SparkSession, specText: String,
      resolveTable: String => DataFrame): DataFrame = {
    val spec = parse(specText)
    compile(spark, spec, resolveTable)(spec.steps.last.name)
  }

  // ------------------------------------------------------------ streaming

  /** The step vocabulary a STREAMING frame admits: stateless per-row
    * transforms (append mode, no watermark, no state store) — the
    * live-ingest hygiene chain in front of a training-data lake —
    * plus ONE stateful exception: `window_agg`, the watermarked
    * tumbling-window count (the I1/I3 live-dashboard step; state is
    * watermark-bounded). Because an aggregated stream changes the
    * output-mode contract for everything after it, `window_agg` must
    * be the LAST step. Other aggregations/joins stay out of the spec
    * language on purpose (code-level [[graft.streaming.StreamOps]]
    * covers them). */
  val streamingOps: Set[String] = Set(
    "filter", "select", "html_extract", "html_links", "url_normalize",
    "url_resolve", "pii_scrub", "quality_filter", "url_filter",
    "window_agg")

  /** The vocabulary a BATCH side-frame admits inside a streaming spec
    * (rule preparation for `rulesFrom` — small by construction, folded
    * to literals at compile). */
  private val streamingBatchOps: Set[String] = Set(
    "filter", "select", "robots_rules")

  /** Compile a `mode: streaming` spec into ONE `readStream` plan and
    * return the last step's (streaming) frame — the sink is the
    * caller's `writeStream`. The spec declares exactly one `format:
    * warc` source — the landing directory, read incrementally through
    * [[graft.sources.Warc.responseStream]] — plus any number of
    * `table` sources as BATCH side-frames for rule preparation
    * (`robots_rules` → `rulesFrom`; the rule list folds into the
    * stream plan as a literal, the I16 posture). Steps on the
    * streaming frame are restricted to the stateless vocabulary
    * ([[streamingOps]]) and share the batch compiler's operator
    * branches, so batch/stream spec parity holds by shared code
    * (spec-asserted on a replayed landing dir); `url_filter` rides
    * [[graft.streaming.StreamOps.urlFlagStream]] — same verdict
    * algebra as the batch matcher, no join, no state. Exports are
    * rejected loudly (a stream has no one-shot export; choose a sink).
    * Cross-step `@refs` are batch-only (a broadcast compiled from a
    * streaming plan is not a thing). */
  def resultStream(
      spark: SparkSession, specText: String,
      resolveTable: String => DataFrame,
      maxFilesPerTrigger: Int = 16): DataFrame = {
    val spec = parse(specText)
    require(spec.mode == "streaming",
      s"pipeline '${spec.entity}': resultStream needs mode: streaming")
    validate(spec)
    require(spec.exports.isEmpty,
      s"pipeline '${spec.entity}': streaming specs take no exports — " +
        "attach a sink to the returned stream")
    val warcSources = spec.sources.filter(_.format == "warc")
    require(warcSources.size == 1,
      s"pipeline '${spec.entity}': streaming mode needs exactly one " +
        s"'format: warc' source (the landing dir), got ${warcSources.size}")
    require(spec.sources.forall(_.relation.isEmpty),
      s"pipeline '${spec.entity}': streaming sources take no relation joins")
    val ctx0: Map[String, DataFrame] = spec.sources.map { s =>
      s.name -> (s.format match {
        case "warc" => graft.sources.Warc.responseStream(
          spark, s.table, maxFilesPerTrigger)
        case _ => resolveTable(s.table)
      })
    }.toMap
    val out = spec.steps.zipWithIndex.foldLeft(ctx0) { case (ctx, (st, i)) =>
      val inputName = st.input
        .orElse(if (i == 0) Some(warcSources.head.name)
                else Some(spec.steps(i - 1).name))
        .get
      val in = ctxGet(ctx, inputName, s"step '${st.name}'")
      val frame =
        if (!in.isStreaming) {
          require(streamingBatchOps.contains(st.op),
            s"pipeline '${spec.entity}': step '${st.name}' applies op " +
              s"'${st.op}' to the BATCH side-frame '$inputName' — batch " +
              s"steps in a streaming spec are rule preparation only: " +
              s"${streamingBatchOps.toSeq.sorted.mkString(", ")}")
          applyOp(st, in, ctx)
        } else {
          require(!corpusAggOps.contains(st.op),
            s"pipeline '${spec.entity}': step '${st.name}' applies op " +
              s"'${st.op}' to a STREAMING frame — '${st.op}' aggregates " +
              "across the WHOLE corpus (near-dup clusters, span " +
              "statistics, benchmark gram sets and BPE merge tables all " +
              "need the full document set, and the suffix-rank ladder " +
              "behind longest_dup/suffix_array sorts every corpus " +
              "suffix), which an unbounded stream " +
              "never provides; run it in a batch spec, or use the " +
              "incremental twins in graft.streaming.StreamOps " +
              "(index_dedup against a persisted index, span-decision " +
              "appliers, streaming minhash)")
          require(streamingOps.contains(st.op),
            s"pipeline '${spec.entity}': step '${st.name}' applies op " +
              s"'${st.op}' to a STREAMING frame — the stateless streaming " +
              s"vocabulary is: ${streamingOps.toSeq.sorted.mkString(", ")}")
          if (st.op == "window_agg") {
            require(i == spec.steps.length - 1,
              s"pipeline '${spec.entity}': step '${st.name}' — 'window_agg' " +
                "aggregates the stream and must be the LAST step (steps " +
                "after an aggregation would need a different output mode)")
            // the batch branch (Events.tumblingWindowAggregate) on the
            // watermarked stream: window state stays bounded
            val tag = s"step '${st.name}'"
            applyOp(st, in.withWatermark(reqStr(st.params, "ts", tag),
              reqStr(st.params, "watermark", tag)), ctx)
          }
          else if (st.op == "url_filter") applyUrlFilterStream(st, in, ctx)
          else applyOp(st, in, ctx)
        }
      ctx + (st.name -> frame)
    }
    val last = out(spec.steps.last.name)
    require(last.isStreaming,
      s"pipeline '${spec.entity}': the last step must be a streaming " +
        "frame (rule-preparation steps are side inputs, not results)")
    last
  }

  /** The streaming twin of the batch `url_filter` branch: same rules
    * resolution (`rules` literals or `rulesFrom` a BATCH frame), same
    * flag|drop modes, verdicts computed by the in-row literal fold. */
  private def applyUrlFilterStream(
      st: StepSpec, in: DataFrame, ctx: Map[String, DataFrame]): DataFrame = {
    val tag = s"step '${st.name}'"
    val spark = in.sparkSession
    import spark.implicits._
    val rules = st.params.get("rulesFrom") match {
      case Some(ref) =>
        require(!st.params.contains("rules"),
          s"pipeline: $tag: give rules OR rulesFrom, not both")
        val r = ctxGet(ctx, ref.toString, tag)
        require(!r.isStreaming,
          s"pipeline: $tag: rulesFrom must reference a BATCH frame " +
            "(rules fold into the stream plan as literals)")
        r
      case None => seqOfMaps(st.params, "rules", tag).map { m =>
        (m.getOrElse("id", fail(s"$tag: rule needs id")).toString.toLong,
          reqStr(m, "host", tag), m.get("prefix").map(_.toString))
      }.toDF("rule_id", "host_suffix", "path_prefix")
    }
    val id = reqStr(st.params, "id", tag)
    val urlC = reqStr(st.params, "url", tag)
    val flagged = graft.streaming.StreamOps.urlFlagStream(in, id, urlC, rules)
    st.params.getOrElse("mode", "drop").toString match {
      case "flag" =>
        flagged.select(col(id), col("canon"), col("blocked"), col("rule_id"))
      case "drop" =>
        flagged.where(!col("blocked")).drop("canon", "blocked", "rule_id")
      case other => fail(s"$tag: url_filter mode must be flag|drop, got '$other'")
    }
  }

  // ---------------------------------------------------------------- run

  /** Compile and execute every export. Returns (export name, output
    * path). Paths in the spec are joined under `outRoot` so a spec
    * never writes outside the caller's chosen root. */
  def run(
      spark: SparkSession, specText: String,
      resolveTable: String => DataFrame, outRoot: String): Seq[(String, String)] = {
    val spec = parse(specText)
    val ctx = compile(spark, spec, resolveTable)
    spec.exports.map { e =>
      val in = e.params.get("input").map(_.toString)
        .getOrElse(spec.steps.last.name)
      val df = ctx(in)
      val path = s"$outRoot/${reqStr(e.params, "path", s"export '${e.name}'")}"
      e.format match {
        case "parquet" =>
          df.write.mode("overwrite").parquet(path)
        case "jsonapi" =>
          // G2/G7 composition: per-entity detail docs + the index
          // derived from the same frame (never disagrees with what was
          // exported) — `exporters/json_exporter.py`'s layout
          val keys = strSeq(e.params, "entityKeys", s"export '${e.name}'")
          val sortKey = reqStr(e.params, "sortKey", s"export '${e.name}'")
          val topN = e.params.getOrElse("topN", 10).toString.toInt
          val detailCols = df.columns.filterNot(keys.contains)
          val details = Formats.jsonDetailRecords(
            df, keys,
            struct(col(sortKey) +: detailCols.filterNot(_ == sortKey)
              .map(col): _*),
            topN)
          details.select("payload")
            .write.mode("overwrite").text(s"$path/details")
          Formats.exportIndex(details, keys, "n_details", "details")
            .write.mode("overwrite").json(s"$path/index")
        case "dwc_archive" =>
          // G6: headered CSV parts + meta.xml + per-part zips
          Writers.dwcArchiveFull(df, path)
        case other => fail(s"export '${e.name}': unknown format '$other'")
      }
      e.name -> path
    }
  }

  // ------------------------------------------------------------- step ops

  private def applyOp(
      st: StepSpec, in: DataFrame, ctx: Map[String, DataFrame]): DataFrame = {
    val tag = s"step '${st.name}'"
    st.op match {
      case "filter" =>
        in.where(expr(reqStr(st.params, "where", tag)))
      case "select" =>
        in.selectExpr(strSeq(st.params, "columns", tag): _*)
      case "aggregate" =>
        val aggs = mapOfStr(st.params, "aggs", tag)
        require(aggs.nonEmpty, s"$tag: 'aggs' must name at least one aggregate")
        val aggCols = aggs.map { case (t, e) => expr(e).as(t) }.toSeq
        strSeq(st.params, "groupBy", tag) match {
          case Nil => in.agg(aggCols.head, aggCols.tail: _*)
          case keys => in.groupBy(keys.map(col): _*)
            .agg(aggCols.head, aggCols.tail: _*)
        }
      case "join" =>
        val right = ctxGet(ctx, st.params("right").toString, tag)
        val how = st.params.getOrElse("how", "inner").toString
        in.join(right, strSeq(st.params, "on", tag), how)
      case "sort" =>
        in.orderBy(strSeq(st.params, "by", tag).map(expr): _*)
      case "sql" =>
        // ctx frames become temp views under their logical names —
        // the same names the spec author already uses
        val spark = in.sparkSession
        ctx.foreach { case (n, df) =>
          if (n != "input") df.createOrReplaceTempView(n)
        }
        spark.sql(reqStr(st.params, "query", tag))
      case "top_ranking" =>
        Aggregations.topRanking(
          in, reqStr(st.params, "field", tag),
          strSeq(st.params, "groupBy", tag),
          st.params.getOrElse("n", 10).toString.toInt)
      case "field_aggregator" =>
        // each field names its source frame (`source` defaults to the
        // step input) — the multi-source shape of field_aggregator.py
        val specs = seqOfMaps(st.params, "fields", tag).map { f =>
          Aggregations.FieldSpec(
            f.get("source").map(s => ctxGet(ctx, s.toString, tag)).getOrElse(in),
            reqStr(f, "field", tag), reqStr(f, "target", tag),
            reqStr(f, "transformation", tag))
        }
        Aggregations.fieldAggregator(specs, reqStr(st.params, "key", tag))
      case "statistical_summary" =>
        Aggregations.statisticalSummary(
          in, reqStr(st.params, "field", tag),
          strSeq(st.params, "groupBy", tag))
      case "binned_distribution" =>
        Distributions.binnedDistribution(
          in, reqStr(st.params, "field", tag),
          numSeq(st.params, "bins", tag),
          strSeq(st.params, "groupBy", tag))
      case "categorical_distribution" =>
        Distributions.categoricalDistribution(
          in, reqStr(st.params, "field", tag),
          strSeq(st.params, "categories", tag),
          strSeq(st.params, "groupBy", tag))
      case "window_agg" =>
        // tumbling event-time window count (+ optional exact-decimal
        // value sum) — the batch half of the I1/I3 pair; the streaming
        // compiler's branch is withWatermark + THIS SAME operator
        Events.tumblingWindowAggregate(
          in, reqStr(st.params, "ts", tag), reqStr(st.params, "key", tag),
          reqStr(st.params, "window", tag), windowAggValueAggs(st))
      case "exact_dedup" =>
        graft.operators.Dedup.exactDedupKeep(
          in, reqStr(st.params, "id", tag), reqStr(st.params, "text", tag))
      case "quality_filter" =>
        graft.operators.Curation.qualityKeep(
          in, reqStr(st.params, "text", tag),
          num(st.params, "minWords", tag).toInt,
          num(st.params, "minDistinctFrac", tag),
          num(st.params, "maxTopShare", tag))
      case "pii_scrub" =>
        val patterns = seqOfMaps(st.params, "patterns", tag).map { p =>
          (reqStr(p, "name", tag), reqStr(p, "regex", tag),
            reqStr(p, "replace", tag))
        }
        graft.operators.Curation.piiScrubText(
          in, reqStr(st.params, "text", tag), patterns)
      case "stratified_sample" =>
        graft.operators.Curation.stratifiedSample(
          in, strSeq(st.params, "strata", tag),
          reqStr(st.params, "id", tag), num(st.params, "frac", tag))
      case "html_extract" =>
        // the L9 WET stage in place: the html column becomes its
        // extracted text, so downstream curation steps see plain text
        graft.operators.Html.htmlExtractText(
          in, reqStr(st.params, "html", tag),
          st.params.getOrElse("minWords", 3).toString.toInt)
      case "html_links" =>
        // L10: one row per outbound anchor — feeds a pagerank step
        graft.operators.Html.htmlLinks(
          in, reqStr(st.params, "id", tag), reqStr(st.params, "html", tag))
      case "url_normalize" =>
        // L11 in place: the url column becomes its canonical form,
        // plus the extracted domain key as a new column
        val u = reqStr(st.params, "url", tag)
        in.withColumn(u, graft.operators.Html.urlNormalize(col(u)))
          .withColumn(st.params.getOrElse("hostColumn", "host").toString,
            graft.operators.Html.urlHost(col(u)))
      case "url_resolve" =>
        // L17 in place: the href column becomes its RFC 3986
        // resolution against the base-URL column (relative links are
        // most real intra-site edges — resolve BEFORE url_normalize)
        val href = reqStr(st.params, "href", tag)
        in.withColumn(href, graft.operators.Html.urlResolve(
          col(reqStr(st.params, "base", tag)), col(href)))
      case "lang_id_learned" =>
        // L18 as a spec step (the quality_classifier posture: the fit
        // runs as a bounded iterative job at graph-BUILD time; the
        // returned plan is the stateless argmax over the fitted
        // literals). Trains on the `train` predicate rows against the
        // `lang` label column, annotates EVERY row with lang_pred.
        val textC = reqStr(st.params, "text", tag)
        val buckets = st.params.getOrElse("buckets", 1024).toString.toInt
        val (langs, ws) = graft.operators.Classifier.langIdFit(
          in, reqStr(st.params, "id", tag), textC,
          reqStr(st.params, "lang", tag),
          expr(reqStr(st.params, "train", tag)),
          buckets = buckets,
          epochs = st.params.getOrElse("epochs", 8).toString.toInt)
        in.withColumn("lang_pred", graft.operators.Classifier
          .langIdServe(col(textC), langs, ws, buckets).getField("lang_pred"))
      case "pagerank" =>
        // S1: the step input IS the edge list
        graft.operators.Graph.pageRank(
          in, reqStr(st.params, "src", tag), reqStr(st.params, "dst", tag),
          iters = st.params.getOrElse("iters", 3).toString.toInt)
      case "label_prop" =>
        // S3: community labels over the step input's edge list
        graft.operators.Graph.labelPropagation(
          in, reqStr(st.params, "src", tag), reqStr(st.params, "dst", tag),
          iters = st.params.getOrElse("iters", 3).toString.toInt)
      case "robots_rules" =>
        // L15/L16: per-host robots.txt bodies → (rule_id, host_suffix,
        // path_prefix, allow) — the rule SOURCE for a url_filter step
        // (reference it via `rulesFrom`)
        graft.operators.Html.robotsRules(
          in, reqStr(st.params, "host", tag), reqStr(st.params, "robots", tag))
      case "url_filter" =>
        // L14/L16: compliance cut; rules either ride in the spec as
        // [{id, host, prefix?}] (blocklist mode) or reference another
        // frame via `rulesFrom` (e.g. a robots_rules step — its
        // `allow` column switches longest-match mode on); mode 'drop'
        // (default) keeps clean rows — the curation shape — 'flag'
        // returns the verdicts
        val id = reqStr(st.params, "id", tag)
        val spark = in.sparkSession
        import spark.implicits._
        val rules = st.params.get("rulesFrom") match {
          case Some(ref) =>
            require(!st.params.contains("rules"),
              s"pipeline: $tag: give rules OR rulesFrom, not both")
            ctxGet(ctx, ref.toString, tag)
          case None => seqOfMaps(st.params, "rules", tag).map { m =>
            (m.getOrElse("id", fail(s"$tag: rule needs id")).toString.toLong,
              reqStr(m, "host", tag), m.get("prefix").map(_.toString))
          }.toDF("rule_id", "host_suffix", "path_prefix")
        }
        val urlC = reqStr(st.params, "url", tag)
        val verdicts = graft.operators.Html.urlFilter(in, id, urlC, rules)
        st.params.getOrElse("mode", "drop").toString match {
          case "flag" => verdicts
          // verdicts are per-(id, canon) — anti-join on BOTH so a
          // blocked URL never drops a clean sibling row of the same
          // id (link tables repeat doc_id per link)
          case "drop" => in
            .withColumn("__canon", graft.operators.Html.urlNormalize(col(urlC)))
            .join(verdicts.where(col("blocked"))
              .select(col(id), col("canon").as("__canon")),
              Seq(id, "__canon"), "left_anti")
            .drop("__canon")
          case other => fail(s"$tag: url_filter mode must be flag|drop, got '$other'")
        }
      case "anchor_text" =>
        // L13: top-k anchor terms per resolved target over link rows
        graft.operators.Html.anchorTerms(
          in, reqStr(st.params, "target", tag), reqStr(st.params, "anchor", tag),
          k = st.params.getOrElse("k", 3).toString.toInt)
      case "shard_shuffle" =>
        // Q20: deterministic epoch shuffle + shard layout; `tokens` is
        // a SQL expression for the per-row token count
        graft.operators.Curation.shardShuffle(
          in, reqStr(st.params, "id", tag),
          expr(reqStr(st.params, "tokens", tag)).cast("long"),
          budget = reqStr(st.params, "budget", tag).toLong,
          seed = st.params.getOrElse("seed", 0L).toString.toLong)
      case "index_dedup" =>
        // J14/J16: probe the step input against a persisted minhash
        // index; mode 'drop' (default) keeps novel docs — the rolling
        // curation shape — 'flag' returns the verdicts themselves
        val id = reqStr(st.params, "id", tag)
        val flagged = graft.operators.Dedup.dedupShardAgainstIndex(
          in, id, reqStr(st.params, "text", tag),
          reqStr(st.params, "path", tag),
          minJaccard = st.params.get("minJaccard")
            .map(_.toString.toDouble).getOrElse(0.5))
        st.params.getOrElse("mode", "drop").toString match {
          case "flag" => flagged
          case "drop" => in.join(
            flagged.select(col("doc_id").as(id)), Seq(id), "left_anti")
          case other => fail(s"$tag: index_dedup mode must be flag|drop, got '$other'")
        }
      case "minhash_dedup" =>
        // J2→J6→J11 as ONE spec step: LSH candidate pairs, EXACT
        // shingle-jaccard verification on candidates only, connected
        // components, canonical keep. Candidates are approximate but
        // verdicts exact (the standard two-phase near-dup pipeline).
        // RECALL PRECONDITION: a pair at jaccard s collides in some
        // band with probability 1-(1-s^(numHashes/bands))^bands — at
        // the defaults (64/16, rows-per-band 4) that is ~0.64 at
        // s=0.5 and >0.99 at s≥0.75. The exact-pair oracle gate holds
        // because the gate corpus's planted near-dups sit well above
        // minJaccard; a corpus with borderline-jaccard pairs needs
        // numHashes/bands sized so collision probability at its
        // minimum target jaccard is ~1 (more bands of fewer rows).
        // The clustering is a bounded iterative job at
        // graph-BUILD time (the connectedComponents exception, like the
        // classifier fits below); the returned keep/flag plan is lazy.
        val id = reqStr(st.params, "id", tag)
        val textC = reqStr(st.params, "text", tag)
        val minJ = st.params.get("minJaccard")
          .map(_.toString.toDouble).getOrElse(0.5)
        val shingleN = st.params.getOrElse("shingleN", 3).toString.toInt
        val numHashes = st.params.getOrElse("numHashes", 64).toString.toInt
        val bands = st.params.getOrElse("bands", 16).toString.toInt
        val maxBucket = st.params.getOrElse("maxBucket", 1000).toString.toInt
        val D = graft.operators.Dedup
        // ONE checkpointed shingle frame feeds banding and both sides
        // of the exact verify (the q_dedup_minhash composition shape)
        val shf = D.shingleFrame(in, id, textC, shingleN).localCheckpoint(true)
        val cand = D.minhashCandidatePairsFromSig(
          shf.select(col("doc_id"),
            D.minhashSignature(col("sh"), numHashes).as("sig")),
          numHashes, bands, maxBucket)
        val inter = size(array_intersect(col("sha"), col("shb"))).cast("double")
        val exact = cand
          .join(shf.select(col("doc_id").as("id_a"),
            col("sh").as("sha"), col("n_sh").as("na")), "id_a")
          .join(shf.select(col("doc_id").as("id_b"),
            col("sh").as("shb"), col("n_sh").as("nb")), "id_b")
          .where(inter / (col("na") + col("nb") - inter).cast("double") >= minJ)
          .select(col("id_a"), col("id_b"))
        val clusters = D.connectedComponents(exact, "id_a", "id_b")
        st.params.getOrElse("mode", "drop").toString match {
          case "flag" => clusters
          case "drop" => D.keepCanonical(in, clusters, id)
          case other => fail(s"$tag: minhash_dedup mode must be flag|drop, got '$other'")
        }
      case "span_scrub" =>
        // J12 / J12-var in place: the text column becomes its scrubbed
        // rebuild (non-first duplicated-span occurrences cut; `mode:
        // variable` protects first-occurrence coverage as contiguous
        // regions — the Lee et al. endpoint)
        val id = reqStr(st.params, "id", tag)
        val textC = reqStr(st.params, "text", tag)
        val spanLen = st.params.getOrElse("spanLen", 8).toString.toInt
        val minDocs = st.params.getOrElse("minDocs", 2).toString.toInt
        val scrub = (st.params.getOrElse("mode", "fixed").toString match {
          case "fixed" =>
            graft.operators.Dedup.spanScrub(in, id, textC, spanLen, minDocs)
          case "variable" =>
            graft.operators.Dedup.spanScrubVar(in, id, textC, spanLen, minDocs)
          case other =>
            fail(s"$tag: span_scrub mode must be fixed|variable, got '$other'")
        }).select(col("doc_id").as(id), col("text_clean").as(textC))
        in.drop(textC).join(scrub, Seq(id))
      case "decontaminate" =>
        // Q6 as a step: drop (or flag) rows sharing any exact n-gram
        // with the benchmark frame named by `benchFrom` (a source/step
        // in the spec — the rulesFrom posture)
        val id = reqStr(st.params, "id", tag)
        val textC = reqStr(st.params, "text", tag)
        val bench = ctxGet(ctx, reqStr(st.params, "benchFrom", tag), tag)
        val n = st.params.getOrElse("n", 5).toString.toInt
        val flagged = graft.operators.Curation.decontaminate(
          in, bench, id, textC, n)
        st.params.getOrElse("mode", "drop").toString match {
          case "flag" => flagged
          case "drop" => in.join(
            flagged.select(col(id)), Seq(id), "left_anti")
          case other => fail(s"$tag: decontaminate mode must be flag|drop, got '$other'")
        }
      case "bpe_count" =>
        // L7 as a step: annotate every row with its BPE subword token
        // budget (n_words, n_tokens) so downstream token-budget steps
        // (shard_shuffle `tokens`, aggregates) consume the counts a
        // trainer actually sees, not whitespace counts. The merge-table
        // fit is a bounded job at graph-BUILD time (the
        // quality_classifier posture); the returned plan is the lazy
        // broadcast-join encode.
        val id = reqStr(st.params, "id", tag)
        val textC = reqStr(st.params, "text", tag)
        val merges = st.params.getOrElse("merges", 8).toString.toInt
        in.join(graft.operators.Bpe.encodeCounts(in, id, textC,
          graft.operators.Bpe.train(in, textC, merges)), Seq(id))
      case "longest_dup" =>
        // J17c as a step: per-document longest-duplicated-substring
        // report from the suffix-rank ladder — the diagnostic that
        // tunes span_scrub's spanLen/minDocs from config (its dup_len
        // distribution says where the duplication mass sits). `rounds`
        // must satisfy 2^rounds ≥ max doc tokens; the operator checks
        // loudly rather than comparing only a prefix.
        graft.operators.Dedup.longestDuplicate(
          in, reqStr(st.params, "id", tag), reqStr(st.params, "text", tag),
          rounds = st.params.getOrElse("rounds", 8).toString.toInt)
      case "suffix_array" =>
        // J17a as a step: corpus-global per-position suffix ranks
        // (doc_id, pos, srank) — equal ranks ⇔ equal suffixes
        graft.operators.Dedup.suffixRanks(
          in, reqStr(st.params, "id", tag), reqStr(st.params, "text", tag),
          rounds = st.params.getOrElse("rounds", 8).toString.toInt)
      case "fluency_buckets" =>
        // L12: the CCNet selection step — `ref` is the SQL predicate
        // naming the clean reference slice; emits candidates with
        // fluency + head/middle/tail bucket
        graft.operators.TextAnalysis.fluencyBuckets(
          in, reqStr(st.params, "id", tag), reqStr(st.params, "text", tag),
          expr(reqStr(st.params, "ref", tag)))
      case "quality_classifier" =>
        // the Q18 learned filter as a spec step: fit on the step input
        // (`label` = the seed predicate, a SQL boolean expression),
        // then keep the WILD rows the model scores seed-like. The fit
        // is a bounded iterative job at graph-BUILD time (epochs ×
        // one map pass + a B+1-row collect — the stats-collection
        // exception to the one-lazy-plan rule, like AQE's runtime
        // stats); the returned plan is the lazy stateless scoring
        // expression over the input, original columns preserved.
        val labelEx = expr(reqStr(st.params, "label", tag))
        val textC = reqStr(st.params, "text", tag)
        val buckets = st.params.getOrElse("buckets", 64).toString.toInt
        val epochs = st.params.getOrElse("epochs", 4).toString.toInt
        val w = graft.operators.Classifier.fit(
          in, reqStr(st.params, "id", tag), textC, labelEx, buckets, epochs)
        val p = graft.operators.Classifier.probS(
          graft.operators.Classifier.scoreExpr(col(textC), w, buckets))
        in.where(!labelEx && p * lit(2L) >= lit(graft.operators.Classifier.S))
      case other =>
        fail(s"$tag: unknown op '$other'") // unreachable after validate
    }
  }

  // ------------------------------------------------------------- helpers

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"pipeline: $msg")

  private def ctxGet(
      ctx: Map[String, DataFrame], name: String, tag: String): DataFrame =
    ctx.getOrElse(name, fail(
      s"$tag: references undefined frame '$name' — defined: " +
        ctx.keys.toSeq.sorted.mkString(", ")))

  private def asMap(v: Any, where: String): Map[String, Any] = v match {
    case m: java.util.Map[_, _] =>
      import scala.jdk.CollectionConverters._
      m.asScala.map { case (k, vv) => k.toString -> vv }.toMap
    case m: Map[_, _] => m.map { case (k, vv) => k.toString -> vv }
    case other => fail(s"$where: expected a mapping, got $other")
  }

  private def asSeq(v: Any, where: String): Seq[Any] = v match {
    case l: java.util.List[_] =>
      import scala.jdk.CollectionConverters._
      l.asScala.toSeq
    case s: Seq[_] => s
    case other => fail(s"$where: expected a list, got $other")
  }

  private def seqOfMaps(
      params: Map[String, Any], key: String, where: String): Seq[Map[String, Any]] =
    params.get(key) match {
      case Some(v) => asSeq(v, s"$where '$key'").map(asMap(_, s"$where '$key'"))
      case None => fail(s"$where: missing required list '$key'")
    }

  /** `window_agg`'s optional `value` column → exact-decimal sum aggs
    * (shared by the batch case and the streaming branch). */
  private def windowAggValueAggs(st: StepSpec): Seq[Column] =
    st.params.get("value").map(_.toString) match {
      case Some(v) => Seq(Num.dsum(col(v)).as("value_sum"))
      case None => Nil
    }

  private def reqStr(params: Map[String, Any], key: String, where: String): String =
    params.get(key) match {
      case Some(s: String) => s
      case Some(other) => fail(s"$where: param '$key' must be a string, got $other")
      case None => fail(s"$where: missing required param '$key'")
    }

  private def strSeq(
      params: Map[String, Any], key: String, where: String): Seq[String] =
    params.get(key).map(asSeq(_, s"$where '$key'").map(_.toString))
      .getOrElse(Seq.empty)

  private def num(params: Map[String, Any], key: String, where: String): Double =
    params.get(key) match {
      case Some(n: Number) => n.doubleValue()
      case Some(other) => fail(s"$where: param '$key' must be a number, got $other")
      case None => fail(s"$where: missing required numeric param '$key'")
    }

  private def numSeq(
      params: Map[String, Any], key: String, where: String): Seq[Double] =
    params.get(key) match {
      case Some(v) => asSeq(v, s"$where '$key'").map {
        case n: Number => n.doubleValue()
        case other => fail(s"$where: '$key' entries must be numbers, got $other")
      }
      case None => fail(s"$where: missing required list '$key'")
    }

  private def mapOfStr(
      params: Map[String, Any], key: String, where: String): Map[String, String] =
    params.get(key) match {
      case Some(v) => asMap(v, s"$where '$key'").map { case (k, vv) => k -> vv.toString }
      case None => fail(s"$where: missing required map '$key'")
    }
}
