package graft.queries

/** Oracle SQL fragments that queries in more than one module repeat,
  * each stated once. Nothing here reads a query module, so a module may
  * use these while it initializes. */
private[queries] object OracleSql {

  /** The page of [[TextQueries.synthHtml]] as a DuckDB expression over
    * `documents`' doc_id and text. */
  val htmlPage: String = """'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
          || '</title><style>body { color: #222; }</style>'
          || '<script>if (1 < 2 && 3 > 1) { var x = "</p>"; }</script></head><body>'
          || '<div id="nav"><a href="/">Home</a> <a href="/about">About</a>'
          || CASE WHEN doc_id % 3 = 0 THEN '<a href="/faq">FAQ</a>' ELSE '' END
          || '</div><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>' || text
          || ' Tom &amp; Jerry say 1 &lt; 2 &quot;ok&quot; it&#39;s fine A&nbsp;B</p>'
          || '<p>Figure ' || CAST(doc_id % 7 AS VARCHAR)
          || '</p><div class="footer"><a href="/terms">Terms</a> <a href="/privacy">Privacy</a> 2026</div></body></html>'"""

  /** The crawl URL the W-family gates give each synthesized page. */
  val warcUrl: String = """'https://site' || CAST(doc_id % 20 AS VARCHAR)
            || '.example.com/doc/' || CAST(doc_id AS VARCHAR)"""

  /** Html.htmlExtract's text cleanup of `x`: tags to spaces, the six
    * entities decoded with &amp; last, space/tab runs collapsed. */
  def stripTags(x: String): String = raw"""regexp_replace(
            replace(replace(replace(replace(replace(replace(
              regexp_replace($x, '<[^>]*>', ' ', 'g'),
              '&lt;','<'),'&gt;','>'),'&quot;','"'),'&#39;',''''),'&nbsp;',' '),'&amp;','&'),
            '[ \t]+', ' ', 'g')"""

  /** The L9 extraction over `h`(keys, html): block strip and line split
    * (`lined`), per-line cleaned text and link count (`t1`), then word
    * counts (`t2`, the line structs in `ls`). */
  def lineCtes(keys: String): String = raw"""
      lined AS (
        SELECT $keys, regexp_replace(regexp_replace(html,
            '(?is)<(?:script|style)[^>]*>.*?</(?:script|style)>', ' ', 'g'),
            '(?i)</(?:p|div|li|h[1-6]|tr|td|table|ul|ol|title)>|<br[^>]*>', chr(10), 'g') AS s
        FROM h),
      t1 AS (
        SELECT $keys, list_transform(string_split(s, chr(10)), ln -> struct_pack(
          txt := trim(${stripTags("ln")}),
          links := CAST(len(regexp_extract_all(ln, '(?i)<a[ >]')) AS BIGINT))) AS a
        FROM lined),
      t2 AS (
        SELECT $keys, list_transform(a, s -> struct_pack(
          txt := s.txt, links := s.links,
          words := CASE WHEN s.txt = '' THEN CAST(0 AS BIGINT)
                        ELSE CAST(len(string_split(s.txt, ' ')) AS BIGINT) END)) AS ls
        FROM t1)"""

  /** The lines the extraction keeps: ≥ 3 words and 2·links ≤ words. */
  private val keptLines = "list_filter(ls, s -> s.words >= 3 AND s.links * 2 <= s.words)"

  /** The extracted text: the kept lines joined by newlines. */
  val extractedText: String = s"""array_to_string(list_transform(
          $keptLines,
          s -> s.txt), chr(10))"""

  /** htmlExtract's output columns over `t2`. */
  val extractCols: String = s"""
        $extractedText AS content,
        CAST(len(list_filter(ls, s -> s.words > 0)) AS BIGINT) AS n_lines,
        CAST(len($keptLines) AS BIGINT) AS n_kept,
        CAST(coalesce(list_sum(list_transform(ls, s -> s.links)), 0) AS BIGINT) AS n_links,
        CAST(coalesce(list_sum(list_transform(
          $keptLines,
          s -> s.words)), 0) AS BIGINT) AS n_words"""

  /** The W-family replay: each doc's crawl URL and page (`h`), then the
    * extraction CTEs. */
  val warcReplayCtes: String = s"""      WITH h AS (
        SELECT doc_id,
          $warcUrl AS url,
          $htmlPage
          AS html
        FROM documents),${lineCtes("doc_id, url")}"""

  /** A doc's distinct word 3-shingles over its token list `toks`. */
  val shingles3: String = """list_distinct(list_transform(generate_series(1, len(toks) - 2),
            i -> array_to_string(toks[i:i+2], ' ')))"""

  /** The Q4 greedy pack of `d`(source, doc_id, sz) into 256-token bins
    * in doc_id order per source, and the per-bin counts. */
  val packBins: String = """
      b AS (
        SELECT source, doc_id, sz,
               CAST(FLOOR(COALESCE(SUM(sz) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256.0) AS BIGINT) AS bin
        FROM d)
      SELECT source, bin, COUNT(*) AS n_docs, CAST(SUM(sz) AS BIGINT) AS tokens
      FROM b GROUP BY source, bin ORDER BY source, bin"""
}
