package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables
import org.apache.spark.sql.functions._
import graft.plans.Pipeline

/** Batch 8: the config-driven pipeline runner (SURVEY.md §2 R) — the
  * engine twin of the reference's services layer, where every run is
  * driven by a declarative YAML document (`services/transformer.py`,
  * `services/exporter.py`). The gates feed a literal YAML spec through
  * [[graft.plans.Pipeline]] and verify the compiled Catalyst plan's
  * rows against plain SQL.
  */
object PipelineQueries {

  /** Flagship spec: join_table loader + filter + exact-decimal
    * aggregate + projection + sort, all declared in YAML. */
  private val revenueSpec = """
entity: nation_orders
sources:
  - name: customers
    table: customer
  - name: cust_orders
    table: orders
    relation: {ref: customers, key: o_custkey, refKey: c_custkey}
steps:
  - name: finished
    op: filter
    input: cust_orders
    params: {where: "o_orderstatus = 'F'"}
  - name: by_nation
    op: aggregate
    params:
      groupBy: [c_nationkey]
      aggs:
        n_orders: "count(1)"
        revenue: "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)"
  - name: result
    op: select
    params:
      columns: ["c_nationkey AS nation_key", "n_orders", "revenue"]
  - name: ordered
    op: sort
    params: {by: [nation_key]}
"""

  /** Export spec: the same pipeline shortened, exported as parquet —
    * the gate reads the EXPORTED files back and aggregates them, so
    * spec-driven export layout and type round-tripping sit on the
    * verified path (the oracle aggregates the source directly). */
  private val exportSpec = """
entity: nation_orders_export
sources:
  - name: customers
    table: customer
  - name: cust_orders
    table: orders
    relation: {ref: customers, key: o_custkey, refKey: c_custkey}
steps:
  - name: by_segment
    op: aggregate
    input: cust_orders
    params:
      groupBy: [c_mktsegment]
      aggs:
        n_orders: "count(1)"
        revenue: "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)"
exports:
  - name: api
    format: parquet
    params: {path: by_segment}
"""

  /** Chain-reference spec (`reference_resolver.py` semantics): step
    * params embed `@step.field|fn(args)` references to earlier step
    * and source outputs — a guarded exactly-one-row scalar pickup
    * (`@szstats.max_sz|int`), aggregating pipes over a multi-row
    * source (`@parts.p_size|sum`, `|length`), and array pipes over a
    * one-row collected list (`@brands.blist|last`, `|length`). Each
    * compiles to a one-row broadcast cross-joined into the consuming
    * step, so the whole chain is still ONE lazy plan. */
  private val chainRefSpec = """
entity: chain_ref
sources:
  - name: parts
    table: part
  - name: li
    table: lineitem
steps:
  - name: szstats
    op: aggregate
    input: parts
    params:
      groupBy: []
      aggs: {max_sz: "max(p_size)"}
  - name: brands
    op: aggregate
    input: parts
    params:
      groupBy: []
      aggs: {blist: "sort_array(collect_set(p_brand))"}
  - name: tagged
    op: filter
    input: li
    params: {where: "l_partkey % 100 < @szstats.max_sz|int AND l_quantity > 25"}
  - name: out
    op: aggregate
    params:
      groupBy: [l_returnflag]
      aggs:
        n: "count(1)"
        qty: "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)"
        n_parts: "CAST(MAX(@parts.p_partkey|length) AS BIGINT)"
        sz_sum: "CAST(MAX(@parts.p_size|sum) AS BIGINT)"
        n_brands: "CAST(MAX(@brands.blist|length) AS BIGINT)"
        top_brand: "MAX(@brands.blist|last)"
  - name: ordered
    op: sort
    params: {by: [l_returnflag]}
"""

  /** Curation spec — a config-driven TRAINING-DATA pipeline (the
    * engine's actual mandate) chaining the gated curation internals:
    * exact dedup (J1 apply) → Gopher quality filter (Q15) → a select
    * step that INJECTS deterministic PII (the corpus has none — the
    * Q12 gate's pattern) → fused PII scrub (Q12) → deterministic
    * stratified sample (Q2). One lazy plan; the oracle replays every
    * stage in plain SQL, so a defect in any bridge changes rows. */
  private val curateSpec = """
entity: curate
sources: [{name: d, table: documents}]
steps:
  - name: dedup
    op: exact_dedup
    input: d
    params: {id: doc_id, text: text}
  - name: quality
    op: quality_filter
    params: {text: text, minWords: 30, minDistinctFrac: 0.35, maxTopShare: 0.12}
  - name: seeded
    op: select
    params:
      columns:
        - "doc_id"
        - "source"
        - "concat(text, ' contact user', cast(doc_id AS string), '@example.com') AS text"
  - name: scrubbed
    op: pii_scrub
    params:
      text: text
      patterns:
        - {name: emails, regex: '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', replace: "<EMAIL>"}
  - name: sampled
    op: stratified_sample
    params: {strata: [source], id: doc_id, frac: 0.5}
  - name: ordered
    op: sort
    params: {by: [doc_id]}
"""

  /** Web-compliance spec: the L11→L14 front end as chainable steps —
    * the URL synthesis is the q_url_filter grid verbatim, so its
    * oracle replays this spec too. */
  private val webSpec = """
entity: webfilter
sources: [{name: d, table: documents}]
steps:
  - name: urls
    op: select
    input: d
    params:
      columns:
        - "doc_id"
        - "concat(CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END, '://',
                  CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END,
                  'Site', CAST(doc_id % 20 AS STRING), '.Example.COM',
                  CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END,
                  CASE WHEN doc_id % 4 = 0 THEN '' ELSE concat('/Path/', CAST(doc_id AS STRING)) END,
                  CASE WHEN doc_id % 5 = 0 THEN concat('#Frag', CAST(doc_id AS STRING)) ELSE '' END) AS url"
  - name: canon
    op: url_normalize
    params: {url: url}
  - name: verdicts
    op: url_filter
    params:
      id: doc_id
      url: url
      mode: flag
      rules:
        - {id: 0, host: site3.example.com}
        - {id: 1, host: site7.example.com}
        - {id: 2, host: example.net}
        - {id: 3, host: site5.example.com, prefix: /Path/1}
  - name: ordered
    op: sort
    params: {by: [doc_id]}
"""

  private def resolver(s: SparkSession, dir: String): String => DataFrame =
    name => Tables(s, dir, name)

  val queries: Seq[Query] = Seq(
    // R1 gate — YAML spec in, one Catalyst plan out: loader relation
    // join + filter + aggregate + select + sort, rows gated against
    // plain SQL. A compiler defect anywhere (wrong join key, lost
    // filter, mis-parsed agg expr) changes rows.
    Query("q_pipeline_run", """
      SELECT c_nationkey AS nation_key, COUNT(1) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_orderstatus = 'F'
      GROUP BY 1 ORDER BY 1""", { (s, dir) =>
      Pipeline.result(s, revenueSpec, resolver(s, dir))
    }),
    // R2 gate — the EXPORT path: the spec's parquet export executes
    // into a scratch dir and the gate re-reads the exported files;
    // layout or type damage in the exporter changes rows.
    Query("q_pipeline_export", """
      SELECT c_mktsegment, COUNT(1) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1 ORDER BY 1""", { (s, dir) =>
      val out = Query.scratchPath("pipeline", dir)
      val paths = Pipeline.run(s, exportSpec, resolver(s, dir), out)
      s.read.parquet(paths.head._2).orderBy("c_mktsegment")
    }),
    // R3 gate — chain references: the oracle recomputes every
    // referenced scalar in plain SQL CTEs, so a resolver defect
    // (wrong step, wrong pipe semantics, silent multi-row pickup,
    // broken array indexing) changes a value and fails the hash.
    Query("q_pipeline_chain_ref", """
      WITH szstats AS (SELECT max(p_size) AS max_sz FROM part),
           brands AS (SELECT list_sort(list(DISTINCT p_brand)) AS blist FROM part),
           pstats AS (SELECT CAST(count(1) AS BIGINT) AS n_parts,
                             CAST(sum(p_size) AS BIGINT) AS sz_sum FROM part),
           tagged AS (SELECT l.* FROM lineitem l, szstats
                      WHERE l_partkey % 100 < CAST(max_sz AS BIGINT)
                        AND l_quantity > 25)
      SELECT l_returnflag, COUNT(1) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty,
             (SELECT n_parts FROM pstats) AS n_parts,
             (SELECT sz_sum FROM pstats) AS sz_sum,
             (SELECT CAST(len(blist) AS BIGINT) FROM brands) AS n_brands,
             (SELECT blist[-1] FROM brands) AS top_brand
      FROM tagged GROUP BY 1 ORDER BY 1""", { (s, dir) =>
      Pipeline.result(s, chainRefSpec, resolver(s, dir))
    }),
    // R4 gate — the spec-driven curation chain: every stage (dedup
    // keep-row, quality keep, PII injection+scrub, stratified cut)
    // re-derived by the oracle from the raw table, full text
    // row-hashed.
    Query("q_pipeline_curate", """
      WITH dedup AS (
        SELECT doc_id, source, text FROM (
          SELECT doc_id, source, text,
                 ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS drn
          FROM documents) t WHERE drn = 1),
      w AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_words,
               unnest(string_split(text, ' ')) AS word
        FROM dedup),
      wc AS (SELECT doc_id, n_words, word, COUNT(*) AS c FROM w GROUP BY 1, 2, 3),
      sig AS (
        SELECT doc_id, n_words, CAST(COUNT(*) AS INT) AS n_distinct, MAX(c) AS top
        FROM wc GROUP BY 1, 2),
      kept AS (
        SELECT d.doc_id, d.source, d.text
        FROM dedup d JOIN sig s USING (doc_id)
        WHERE s.n_words >= 30
          AND CAST(s.n_distinct AS DOUBLE) / s.n_words >= 0.35
          AND CAST(s.top AS DOUBLE) / s.n_words <= 0.12),
      seeded AS (
        SELECT doc_id, source,
               text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' AS text
        FROM kept),
      scrub AS (
        SELECT doc_id, source,
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g') AS text
        FROM seeded),
      samp AS (
        SELECT doc_id, source, text, rn FROM (
          SELECT doc_id, source, text,
                 ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY source) AS cnt
          FROM scrub) t
        WHERE rn <= GREATEST(1, CAST(CEIL(cnt * 0.5) AS BIGINT)))
      SELECT doc_id, source, text, CAST(rn AS INT) AS rn
      FROM samp ORDER BY doc_id""", { (s, dir) =>
      Pipeline.result(s, curateSpec, resolver(s, dir))
    }),
    // R5 gate — the web-compliance chain as ONE spec: synthesize messy
    // URLs → url_normalize in place (idempotence makes the later
    // re-normalize inside url_filter a no-op, spec-held) → blocklist
    // verdicts in flag mode; the oracle re-derives canon/host/verdict
    // from the raw table, so a step-bridge defect changes rows.
    Query("q_pipeline_web", TextQueries.urlFilterOracle, { (s, dir) =>
      Pipeline.result(s, webSpec, resolver(s, dir))
    }),
    // R7 gate — the FULL compliance chain as one spec: per-host
    // robots.txt bodies parse through a robots_rules step, the rule
    // frame feeds a url_filter step via `rulesFrom` (longest-match
    // mode switches on automatically from the allow column) — raw
    // crawler-politeness config to per-URL verdicts in one plan. Same
    // synthesis grid as q_robots_allow, so its oracle (which
    // enumerates expected verdicts semantically, replaying neither
    // parser nor matcher) serves this composition too.
    Query("q_pipeline_robots", TextQueries.robotsAllowOracle, { (s, dir) =>
      val spec = """
entity: robots_compliance
sources: [{name: urls, table: urls}, {name: hosts, table: hosts}]
steps:
  - name: rules
    op: robots_rules
    input: hosts
    params: {host: host, robots: robots}
  - name: verdicts
    op: url_filter
    input: urls
    params: {id: doc_id, url: url, mode: flag, rulesFrom: rules}
"""
      Pipeline.result(s, spec, {
        case "urls" => TextQueries.robotsAllowUrls(s, dir)
        case "hosts" => TextQueries.robotsAllowHosts(s, dir)
        case other => throw new IllegalStateException(s"unexpected table $other")
      })
    }),
    // R8 gate — the TRAINING-DATA HYGIENE chain as ONE spec (the
    // round-13 verdict's missing config-driven surface): near-dup
    // clustering (LSH candidates, exact verification, components,
    // canonical keep), benchmark decontamination against a src0
    // bench frame, then a parquet EXPORT the gate re-reads. The oracle
    // re-derives survivors from exact inverted-index jaccard pairs +
    // a recursive min-label closure + an exact 5-gram bench join — so
    // a defect in any step bridge, the cluster apply, the benchFrom
    // resolution, or the export layout changes rows.
    Query("q_pipeline_dedup", s"""
      WITH RECURSIVE s AS (
        SELECT doc_id,
          ${OracleSql.shingles3} AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
              WHERE source <> 'src0')
        WHERE len(toks) >= 3),
      ex AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS gram FROM s),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common,
               MAX(a.n_sh) AS na, MAX(b.n_sh) AS nb
        FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      good AS (
        SELECT id_a, id_b FROM pairs
        WHERE CAST(n_common AS DOUBLE) / CAST(na + nb - n_common AS DOUBLE) >= 0.5),
      sym AS (SELECT id_a AS src, id_b AS dst FROM good
              UNION SELECT id_b AS src, id_a AS dst FROM good),
      reach(node, lab) AS (
        SELECT DISTINCT src AS node, src AS lab FROM sym
        UNION
        SELECT s2.src, r.lab FROM sym s2 JOIN reach r ON s2.dst = r.node),
      cc AS (SELECT node, MIN(lab) AS component FROM reach GROUP BY node),
      surv AS (
        SELECT d.doc_id, d.text, d.source, d.n_chars FROM documents d
        WHERE d.source <> 'src0'
          AND d.doc_id NOT IN (SELECT node FROM cc WHERE node <> component)),
      bg AS (
        SELECT DISTINCT gram FROM (
          SELECT unnest(list_distinct(list_transform(
            range(1, len(string_split(text, ' ')) - 3),
            i -> array_to_string(string_split(text, ' ')[i:i + 4], ' ')))) AS gram
          FROM documents
          WHERE source = 'src0' AND len(string_split(text, ' ')) >= 5)),
      dirty AS (
        SELECT DISTINCT doc_id FROM (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(
                   range(1, len(string_split(text, ' ')) - 3),
                   i -> array_to_string(string_split(text, ' ')[i:i + 4], ' ')))) AS gram
          FROM surv WHERE len(string_split(text, ' ')) >= 5) t
        JOIN bg USING (gram))
      SELECT doc_id, source, n_chars FROM surv
      WHERE doc_id NOT IN (SELECT doc_id FROM dirty)
      ORDER BY doc_id""", { (s, dir) =>
      val out = Query.scratchPath("pdedup", dir)
      val spec = """
entity: corpus_hygiene
sources: [{name: docs, table: documents}]
steps:
  - name: bench
    op: filter
    input: docs
    params: {where: "source = 'src0'"}
  - name: corpus
    op: filter
    input: docs
    params: {where: "source <> 'src0'"}
  - name: near_dup
    op: minhash_dedup
    input: corpus
    params: {id: doc_id, text: text, minJaccard: 0.5}
  - name: decon
    op: decontaminate
    params: {id: doc_id, text: text, benchFrom: bench, n: 5}
  - name: cols
    op: select
    params: {columns: [doc_id, source, n_chars]}
exports:
  - name: clean
    format: parquet
    params: {path: clean}
"""
      val paths = Pipeline.run(s, spec, resolver(s, dir), out)
      s.read.parquet(paths.head._2).orderBy("doc_id")
    }),
    // R9 gate — the variable-length span scrub as a spec step (text
    // rewritten IN PLACE): chains the q_span_scrub_var oracle verbatim,
    // so the step bridge (in-place column replacement, id mapping) is
    // the only new code under the hash.
    Query("q_pipeline_scrub", s"""
      SELECT doc_id, text_clean AS text FROM (
        ${DedupQueries.spanScrubVarOracle}
      ) ORDER BY doc_id""", { (s, dir) =>
      val spec = """
entity: span_hygiene
sources: [{name: docs, table: documents}]
steps:
  - name: scrubbed
    op: span_scrub
    params: {id: doc_id, text: text, spanLen: 8, mode: variable}
  - name: cols
    op: select
    params: {columns: [doc_id, text]}
  - name: ordered
    op: sort
    params: {by: [doc_id]}
"""
      Pipeline.result(s, spec, resolver(s, dir))
    }),
    // R10 gate (r15) — the J17c longest-duplicated-substring report
    // producible from CONFIG (the registry posture): the spec step is
    // the only new code under the hash; the oracle is the J17c
    // independent-formulation oracle verbatim. This is the diagnostic
    // a pipeline author runs to choose span_scrub's spanLen/minDocs.
    Query("q_pipeline_longest_dup", DedupQueries.longestDupOracle, { (s, dir) =>
      val spec = """
entity: dup_diagnostic
sources: [{name: docs, table: documents}]
steps:
  - name: report
    op: longest_dup
    params: {id: doc_id, text: text, rounds: 8}
"""
      Pipeline.result(s, spec, resolver(s, dir))
    }),
    // R6 gate — the crawl front end as ONE spec, starting at the
    // CONTAINER: real multi-member .warc.gz files land on disk, a
    // `format: warc` source parses them (never touching the table
    // registry) and html_extract runs in place — container bytes →
    // training text under one hash. The oracle replays page synthesis
    // + extraction from `documents` and never sees a WARC byte, so a
    // source-format defect, a spec-bridge defect, or an extraction
    // drift moves a row.
    Query("q_pipeline_warc", s"""${OracleSql.warcReplayCtes}
      SELECT doc_id, url,
        CAST(200 AS INT) AS http_status,
        'text/html; charset=utf-8' AS mime,
        ${OracleSql.extractedText} AS html
      FROM t2 ORDER BY doc_id""", { (s, dir) =>
      val path = Query.scratchPath("pwarc", dir)
      val pages = Tables.documents(s, dir)
        .select(col("doc_id"), TextQueries.crawlUrl.as("url"),
          TextQueries.synthHtml.as("html"))
        .repartition(8, pmod(col("doc_id"), lit(8)))
        .sortWithinPartitions("doc_id")
      graft.sources.Warc.writeFiles(pages, "url", "html", path)
      val spec = s"""
entity: crawl
sources: [{name: crawl, table: "$path/*.warc.gz", format: warc}]
steps:
  - name: wet
    op: html_extract
    params: {html: html}
"""
      Pipeline.result(s, spec,
          t => throw new IllegalStateException(s"warc source resolved table $t"))
        .select(
          regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
          col("url"), col("http_status"), col("mime"), col("html"))
        .orderBy("doc_id")
    }),
  )
}
