package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HTML → training-text extraction (the WET-extraction stage a web
  * corpus pipeline runs before ANY of the curation/dedup operators —
  * CommonCrawl's WARC→WET step, trafilatura/jusText's line-density
  * heuristic; ref has no counterpart, this is LLM-pipeline surface).
  *
  * Everything is pure codegen'd column algebra — regexp_replace /
  * split / higher-order functions — so the pass is map-only: at 100 TB
  * it streams through the corpus with ZERO shuffle, and the regex
  * vocabulary is held to the RE2 ∩ java.util.regex dialect (the Q12
  * contract) so the DuckDB oracle replays it byte-for-byte.
  *
  * Pipeline per document:
  *   1. drop `<script>`/`<style>` BLOCKS (non-greedy `(?is)`, so a
  *      literal "</p>" inside a script never fabricates a line break);
  *   2. block-level close tags + `<br>` become newlines → lines;
  *   3. per line: count `<a` anchors, strip all tags, decode the six
  *      common HTML entities (`&amp;` LAST — the standard chained-
  *      unescape order), collapse runs of spaces/tabs;
  *   4. boilerplate cut: keep a line iff it has ≥ `minWords` words AND
  *      link density ≤ 1/2 — expressed as `2·links ≤ words`, integer
  *      arithmetic so the decision is exact on every engine (nav bars
  *      and footers are mostly anchors; body text is not).
  *
  * The per-line regex work runs ONCE per line: the struct-building
  * `transform` is kept in its own projection (CollapseProject leaves a
  * non-cheap expression referenced 5× in place), and the keep/count
  * consumers only touch struct fields.
  */
object Html {

  /** Six-entity chained unescape; `&amp;` decoded last so escaped
    * entities (`&amp;lt;`) come out as their literal text — the
    * standard order for replace-chain unescaping. */
  private def unescape(c: Column): Column = {
    val pre = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ")
    val partial = pre.foldLeft(c) { case (acc, (e, r)) => regexp_replace(acc, e, r) }
    regexp_replace(partial, "&amp;", "&")
  }

  private val blockStrip = "(?is)<(?:script|style)[^>]*>.*?</(?:script|style)>"
  private val lineBreaks = "(?i)</(?:p|div|li|h[1-6]|tr|td|table|ul|ol|title)>|<br[^>]*>"
  private val anchorPat  = "(?i)<a[ >]"
  private val tagPat     = "<[^>]*>"

  /** Per-line (txt, links, words) structs for an HTML column — the
    * shared body of [[htmlExtract]] and [[htmlExtractText]]. */
  private def lineStructs(html: Column): Column = {
    val lined = regexp_replace(
      regexp_replace(html, blockStrip, " "), lineBreaks, "\n")
    // one struct per line, regex chain evaluated once per line
    val base = transform(split(lined, "\n"), ln => {
      val txt = trim(regexp_replace(
        unescape(regexp_replace(ln, tagPat, " ")), "[ \t]+", " "))
      struct(
        txt.as("txt"),
        regexp_count(ln, lit(anchorPat)).cast("long").as("links"))
    })
    transform(base, s => struct(
      s.getField("txt").as("txt"),
      s.getField("links").as("links"),
      when(s.getField("txt") === "", lit(0L))
        .otherwise(size(split(s.getField("txt"), " ")).cast("long")).as("words")))
  }

  private def keepPredFor(minWords: Int)(s: Column): Column =
    s.getField("words") >= minWords &&
      s.getField("links") * 2 <= s.getField("words")

  /** The extraction applied IN PLACE: the html column replaced by its
    * extracted text, every other column preserved — the chainable
    * pipeline-step shape (the piiScrubText convention), feeding the
    * downstream curation vocabulary whose operators expect plain
    * text. Still map-only. */
  def htmlExtractText(df: DataFrame, htmlCol: String,
                      minWords: Int = 3): DataFrame =
    df.withColumn(htmlCol,
      array_join(transform(filter(lineStructs(col(htmlCol)),
        keepPredFor(minWords) _), (s: Column) => s.getField("txt")), "\n"))

  /** Outbound links with their anchor text — the edge SOURCE for the
    * link-graph authority pass ([[Graph.pageRank]]): WARC → (WET text
    * via [[htmlExtract]]) + (link graph via this) is the full
    * web-corpus front end. One row per `<a href="...">` in document
    * order: (id, link_no, href, anchor) — anchors get the same tag
    * strip / entity decode / whitespace collapse as extracted lines.
    * Map-only (rows ∝ links); double-quoted hrefs only, per the
    * RE2 ∩ Java dialect contract (no backreferences to support other
    * quoting). */
  def htmlLinks(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val pat = "(?is)<a\\s[^>]*href=\"([^\"]*)\"[^>]*>(.*?)</a>"
    val links = zip_with(
      regexp_extract_all(col(htmlCol), lit(pat), lit(1)),
      regexp_extract_all(col(htmlCol), lit(pat), lit(2)),
      (h, a) => struct(
        h.as("href"),
        trim(regexp_replace(
          unescape(regexp_replace(a, tagPat, " ")), "[ \t]+", " ")).as("anchor")))
    df.select(col(idCol), posexplode(links).as(Seq("__p", "__l")))
      .select(col(idCol), (col("__p") + 1).as("link_no"),
        col("__l.href").as("href"), col("__l.anchor").as("anchor"))
  }

  /** Percent-encoding normalization of a path+query string (RFC 3986
    * §2.3 + §6.2.2): `%XX` escapes of UNRESERVED octets
    * (ALPHA / DIGIT / `-` `.` `_` `~`) decode to the literal
    * character (`%41` → `A`), every other well-formed escape
    * normalizes to UPPERCASE hex (`%2f` → `%2F` — reserved octets
    * must stay encoded or the path structure changes), and a
    * malformed `%` sequence passes through byte-identically (crawl
    * URLs are full of them; a normalizer must not corrupt). Pure
    * higher-order column algebra — split on `%`, one `aggregate`
    * fold, `unhex` for the decode — so the pass stays map-only and
    * codegen-adjacent; idempotent by construction (decoded output
    * contains no decodable escapes, uppercased hex is a fixed
    * point). */
  private[graft] def pctNormalize(s: Column): Column = {
    val parts = split(s, "%", -1)
    val folded = aggregate(
      slice(parts, lit(2), size(parts)), element_at(parts, 1),
      (acc: Column, p: Column) => {
        val hex = upper(p.substr(lit(1), lit(2)))
        val tail = p.substr(lit(3), length(p))
        val code = conv(hex, 16, 10).cast("int")
        val unreserved =
          (code >= 0x41 && code <= 0x5A) || (code >= 0x61 && code <= 0x7A) ||
            (code >= 0x30 && code <= 0x39) ||
            code.isin(0x2D, 0x2E, 0x5F, 0x7E)
        concat(acc,
          when(!hex.rlike("^[0-9A-F]{2}$"), concat(lit("%"), p))
            .when(unreserved, concat(unhex(hex).cast("string"), tail))
            .otherwise(concat(lit("%"), hex, tail)))
      })
    when(size(parts) === 1, s).otherwise(folded)
  }

  /** Canonical URL — the dedup/join key a crawl frontier and a
    * URL-level dedup pass group by (two fetches of `HTTP://WWW.X.COM:80
    * /a#top` and `http://x.com/a` are the same page). Pure chained
    * regex/string algebra in the RE2 ∩ Java dialect: trim → strip
    * fragment → lowercase the scheme://host[:port] prefix → drop the
    * default port (:80 http / :443 https) → drop a leading `www.` →
    * fold a NON-ASCII host to its punycode form ([[graft.functions
    * .IdnAscii]] — the ASCII common case never leaves column
    * algebra) → percent-normalize the path+query
    * ([[pctNormalize]]) → ensure a non-empty path. Deliberately NOT
    * full RFC 3986 dot-segment resolution (iterative — not one-pass
    * column algebra); crawl pipelines apply this same pragmatic
    * subset. */
  def urlNormalize(url: Column): Column =
    graft.functions.UrlKernels.url_normalize(url)

  /** RFC 3986 §5.2 reference resolution — the step the link graph was
    * missing: most intra-site links on real pages are RELATIVE
    * (`img/a.png`, `../up`, `//cdn.example.net/x`, `?page=2`), and a
    * link extractor that passes them through loses the majority of
    * real edges feeding PageRank/HITS/anchor-text. Resolves `ref`
    * against the absolute `base` (the page's own URL): scheme-present
    * refs pass through (dot-segments still removed, per the
    * non-strict-transformer note in §5.2.2), `//authority` takes the
    * base scheme, rooted paths replace the base path, `?query`/
    * `#fragment`-only refs graft onto the base, and relative paths
    * MERGE (§5.2.3: base path up to its last '/') then fold through
    * [[removeDotSegments]]. Pure string algebra, map-only — chain
    * [[urlNormalize]] on the result for the canonical key. A base
    * without a scheme://host prefix cannot anchor resolution; the ref
    * passes through untouched (loud would kill whole crawl partitions
    * on one malformed metadata row — the L11 pass-through posture). */
  def urlResolve(base: Column, ref: Column): Column =
    graft.functions.UrlKernels.url_resolve(base, ref)

  /** Lowercased host of an absolute URL ('' for relative hrefs) — the
    * domain key per-domain quality/topk/mixing operators group by.
    * Deliberately NOT IDN-folded (rule lists and domain keys are
    * ASCII in practice; the canonical DEDUP key — [[urlNormalize]]'s
    * output — is where punycode folding lives). */
  def urlHost(url: Column): Column =
    lower(regexp_extract(trim(url), "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*).*", 1))

  /** Extract per-document training text + extraction stats from a raw
    * HTML column. Output: (id, content, n_lines, n_kept, n_links,
    * n_words) — `content` is the kept lines joined by '\n'. */
  def htmlExtract(df: DataFrame, idCol: String, htmlCol: String,
                  minWords: Int = 3): DataFrame = {
    def keepPred(s: Column): Column = keepPredFor(minWords)(s)

    df.select(col(idCol), lineStructs(col(htmlCol)).as("__ls"))
      .select(
        col(idCol),
        array_join(transform(filter(col("__ls"), keepPred _),
          (s: Column) => s.getField("txt")), "\n").as("content"),
        size(filter(col("__ls"),
          (s: Column) => s.getField("words") > 0)).cast("long").as("n_lines"),
        size(filter(col("__ls"), keepPred _)).cast("long").as("n_kept"),
        aggregate(col("__ls"), lit(0L),
          (a: Column, s: Column) => a + s.getField("links")).as("n_links"),
        aggregate(filter(col("__ls"), keepPred _), lit(0L),
          (a: Column, s: Column) => a + s.getField("words")).as("n_words"))
  }

  /** L14 — blocklist URL filtering (the first cut every web-corpus
    * pipeline applies: adult/spam domain blocklists plus per-site path
    * rules — RefinedWeb §3.1, CCNet's URL filtering). Rules are a
    * DataFrame (rule_id, host_suffix, path_prefix nullable): a rule
    * matches a URL when its host equals the suffix or ends with
    * "." + suffix (label-boundary suffix semantics), and — when
    * path_prefix is set — the canonical path starts with it.
    *
    * Scale shape: the host explodes into its label-boundary suffixes
    * (≤ label count per row, a small constant) and matches rules by
    * EQUI-join on the suffix — never a LIKE/regex scan per rule, so a
    * multi-million-rule blocklist joins in one exchange (or
    * broadcasts when small; Spark picks by size). Two verdict modes,
    * selected by the rules schema: without an `allow` column every
    * rule blocks and the verdict folds as a map-combinable
    * min(rule_id) per URL (rule_id NULL when unblocked); WITH an
    * `allow` boolean column (what [[robotsRules]] emits) the verdict
    * is RFC 9309 longest-match — the matching rule with the longest
    * pattern decides, Allow beats Disallow on an exact-length tie,
    * and `path_prefix` may carry `*` wildcards and a trailing `$`
    * anchor (§2.2.3). Output: (id, canon, blocked, rule_id) —
    * rule_id is the DECIDING rule in allow mode (also when it
    * allows), NULL only when no rule matched. */
  /** RFC 9309 §2.2.3 path pattern → regex in the RE2 ∩ Java shared
    * dialect: literal segments between `*`s are `\Q…\E`-quoted, `*`
    * becomes `.*`, a TRAILING `$` anchors the end (elsewhere `$` is a
    * literal path octet, quoted). Plain prefixes (no `*`, no trailing
    * `$`) never reach this — the matcher keeps them on the
    * `startsWith` fast path. Patterns containing the two-octet
    * sequence `\E` are outside the quoting profile (unheard of in a
    * URL path; they would unbalance `\Q…\E` on any engine). */
  private[graft] def robotsPatternRegex(pat: Column): Column = {
    val anchored = pat.endsWith("$")
    val core = when(anchored, pat.substr(lit(1), length(pat) - 1)).otherwise(pat)
    val quoted = transform(split(core, "\\*", -1),
      s => when(s === "", lit("")).otherwise(concat(lit("\\Q"), s, lit("\\E"))))
    concat(lit("^"), array_join(quoted, ".*"),
      when(anchored, lit("$")).otherwise(lit("")))
  }

  /** Core match pass shared by both verdict modes: URLs normalize,
    * hosts explode into label-boundary suffixes, rules join by
    * EQUI-key, then the path predicate runs per matched row —
    * `startsWith` for plain prefixes (the overwhelmingly common case,
    * no regex in the hot loop), the compiled RFC 9309 wildcard regex
    * otherwise. The regex COLUMN is computed rules-side (∝ rules, not
    * corpus) before the join. */
  private def urlRuleMatches(base: DataFrame, rules: DataFrame): DataFrame = {
    val parts = split(col("host"), "\\.")
    val sufs = transform(sequence(lit(0), size(parts) - 1),
      i => array_join(slice(parts, i + 1, size(parts)), "."))
    val wild = col("path_prefix").contains("*") ||
      col("path_prefix").endsWith("$")
    // rule patterns percent-normalize with the SAME fold as the URL
    // path (which arrives through urlNormalize): RFC 9309 §2.2.2
    // compares percent-encoded octets in decoded form, and a raw rule
    // '/%7Eadmin/' must match the canonical path '/~admin/'. Decoding
    // cannot mint wildcards (* and $ are sub-delims — not unreserved,
    // so their escapes stay encoded), hence `wild` reads the raw text.
    // Wildcard compilation is ALLOW-MODE ONLY: `*`/`$` are RFC 9309
    // pattern syntax, which only robots-shaped rule frames speak — a
    // plain blocklist prefix that happens to contain `*` or end in `$`
    // stays a literal prefix (its octets match literally).
    // Both computed rules-side: ∝ rules, never corpus.
    val allowMode = rules.columns.contains("allow")
    val rulesN = rules
      .withColumn("__pp",
        when(col("path_prefix").isNotNull, pctNormalize(col("path_prefix"))))
      .withColumn("__rx", when(lit(allowMode) && col("__pp").isNotNull && wild,
        robotsPatternRegex(col("__pp"))))
    base
      .withColumn("suffix", explode(sufs))
      .join(rulesN, col("suffix") === col("host_suffix"))
      .where(col("__pp").isNull ||
        when(col("__rx").isNull, col("path").startsWith(col("__pp")))
          .otherwise(regexp_like(col("path"), col("__rx"))))
  }

  def urlFilter(df: DataFrame, idCol: String, urlCol: String,
                rules: DataFrame): DataFrame = {
    val base = df.select(
      col(idCol),
      urlNormalize(col(urlCol)).as("canon"),
      urlHost(col(urlCol)).as("host"))
      .withColumn("path",
        regexp_extract(col("canon"), "^[a-z][a-z0-9+.-]*://[^/]*(/.*)$", 1))
    val matched = urlRuleMatches(base, rules)
    // verdicts key on (id, canon), not id alone: with a non-unique
    // id column (e.g. per-link rows keyed by doc_id) an id-keyed
    // verdict would mark every sibling URL of one blocked row
    val hits =
      if (!rules.columns.contains("allow"))
        // blocklist mode: every rule is a block; min(rule_id) attributes
        matched.groupBy(col(idCol), col("canon"))
          .agg(min(col("rule_id")).as("rule_id"), lit(true).as("__blk"))
      else
        // RFC 9309 longest-match mode (§2.2.2): among matching rules
        // the LONGEST pattern decides — measured on the PERCENT-
        // NORMALIZED pattern (`__pp`), the same string the matcher
        // compares, so two rules differing only in escaping rank by
        // their decoded forms; Allow wins an exact-length tie; smaller
        // rule_id breaks a full tie deterministically. The argmax is
        // one map-combinable max(struct(...)) — no window, no second
        // pass.
        matched.groupBy(col(idCol), col("canon"))
          .agg(max(struct(
            coalesce(length(col("__pp")), lit(0)).as("spec"),
            col("allow").as("allow"),
            (-col("rule_id")).as("nrid"))).as("w"))
          .select(col(idCol), col("canon"),
            (-col("w.nrid")).as("rule_id"), (!col("w.allow")).as("__blk"))
    base.join(hits, Seq(idCol, "canon"), "left")
      .select(col(idCol), col("canon"),
        coalesce(col("__blk"), lit(false)).as("blocked"), col("rule_id"))
      .orderBy(col(idCol), col("canon"))
  }

  /** L15 — robots.txt → rules (RFC 9309): the compliance source every
    * polite crawler parses before fetching. Input: one robots.txt
    * body per host. A `Disallow:`/`Allow:` line yields a (host,
    * pattern, allow) rule iff the group it belongs to — the run of
    * consecutive `User-agent:` lines nearest above it (RFC 9309 §2.1:
    * a UA run shares one rule group) — names `*` (per-bot groups are
    * ignored; this engine crawls as `*`). Patterns pass through with
    * their `*` wildcards and trailing `$` anchors intact —
    * [[urlFilter]] compiles and applies them with §2.2.2
    * longest-match precedence (Allow wins an exact-length tie).
    * Empty values (allow-all `Disallow:` / no-op `Allow:`), comments
    * and non-field lines drop. Output (rule_id, host_suffix,
    * path_prefix, allow) feeds [[urlFilter]] directly — the `allow`
    * column is what switches it into longest-match mode; `rule_id`
    * is the first 15 md5 hex digits of `host:line_no` —
    * deterministic, engine-replayable, no global ordering pass. (Note
    * [[urlFilter]]'s suffix semantics are a superset of strict
    * per-authority robots scope; feed exact-host URL tables or accept
    * subdomain inheritance.)
    *
    * Shape: lines posexplode (rows ∝ robots lines, KB per host), two
    * per-host windows (bounded by FILE size, never corpus size) to
    * resolve UA runs and carry the governing run forward, then one
    * (host, run) equi-join of rule lines against star-runs —
    * no range join, no global window. */
  def robotsRules(df: DataFrame, hostCol: String, robotsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fieldPat = "(?i)^\\s*(user-agent|disallow|allow)\\s*:\\s*(\\S*)\\s*$"
    val lines = df.select(
      col(hostCol).as("host"),
      posexplode(split(col(robotsCol), "\n")).as(Seq("line_no", "line")))
      .withColumn("line", regexp_replace(col("line"), "#.*", ""))
      .withColumn("field", lower(regexp_extract(col("line"), fieldPat, 1)))
      .withColumn("value", regexp_extract(col("line"), fieldPat, 2))
      .where(col("field") =!= "")
    val byLine = Window.partitionBy("host").orderBy("line_no")
    val carry = byLine.rowsBetween(Window.unboundedPreceding, 0)
    // run head: a UA line not directly preceded (among FIELD lines)
    // by another UA line starts a new group
    val runs = lines
      .withColumn("prev_field", lag("field", 1).over(byLine))
      .withColumn("run_head",
        when(col("field") === "user-agent" && (
          col("prev_field").isNull || col("prev_field") =!= "user-agent"),
          col("line_no")))
      .withColumn("run_id", last("run_head", ignoreNulls = true).over(carry))
    // star groups: (host, run) where any UA line of the run names *
    val starRuns = runs
      .where(col("field") === "user-agent" && col("value") === "*")
      .select(col("host"), col("run_id")).distinct()
    runs
      .where(col("field").isin("disallow", "allow") && col("value") =!= "")
      .join(starRuns, Seq("host", "run_id"), "leftsemi")
      .select(
        expr("CAST(CONV(substring(md5(concat(host, ':', CAST(line_no AS STRING))), 1, 15), 16, 10) AS BIGINT)")
          .as("rule_id"),
        col("host").as("host_suffix"), col("value").as("path_prefix"),
        (col("field") === "allow").as("allow"))
  }

  /** L13 — anchor-text aggregation: the classic web-retrieval signal
    * (what OTHER pages call a page describes it better than the page
    * itself — Brin & Page 1998 §2.2; web corpora also use it as a
    * per-URL quality/topic prior). Input is a [[htmlLinks]]-shaped
    * link table with a RESOLVED target column; output is the top-`k`
    * anchor terms per target: (target, term, cnt, rank).
    *
    * Shape: one keyed partial-agg exchange on (target, term) — the hot
    * static-nav terms ("home", "terms") combine map-side, so the hot
    * key cost is ∝ partitions, not rows — then a (cnt DESC, term ASC)
    * row_number per target whose `rank <= k` filter Spark rewrites to
    * a WindowGroupLimit: each shuffle side keeps only k rows per
    * target before the final sort. Nothing is corpus-proportional
    * after the first agg; at 100 TB the term table is ∝ distinct
    * (target, term), orders of magnitude smaller than the link list. */
  def anchorTerms(links: DataFrame, targetCol: String, anchorCol: String,
                  k: Int): DataFrame = {
    require(k >= 1)
    import org.apache.spark.sql.expressions.Window
    val terms = links
      .select(col(targetCol).as("target"),
        explode(split(lower(col(anchorCol)), " ")).as("term"))
      .where(col("term") =!= "")
    terms.groupBy("target", "term").agg(count(lit(1)).as("cnt"))
      .withColumn("rank",
        row_number().over(Window.partitionBy("target")
          .orderBy(col("cnt").desc, col("term"))).cast("int"))
      .where(col("rank") <= k)
  }
}
