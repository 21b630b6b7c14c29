package graft

import graft.operators.Html
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

/** Unit coverage for the HTML → training-text extraction operator
  * (the gate replays the same pipeline against DuckDB; this spec pins
  * the line-level semantics on hand-built cases).
  */
class HtmlSpec extends SparkSpec {
  import spark.implicits._

  /** The pure-column-algebra formulation of [[Html.urlNormalize]] — the
    * bit-equal reference the fuzz test below pins the
    * [[graft.functions.UrlKernels]] transcription against. */
  def urlNormalizeHof(url: Column): Column = {
    val noFrag = regexp_replace(trim(url), "(?s)#.*", "")
    val prefix = lower(regexp_extract(noFrag, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*).*", 1))
    val rest = Html.pctNormalize(
      regexp_extract(noFrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*(.*)", 1))
    val noPort = regexp_replace(
      regexp_replace(prefix, "^(http://[^/:]*):80$", "$1"),
      "^(https://[^/:]*):443$", "$1")
    val noWww = regexp_replace(noPort, "^(https?://)www\\.", "$1")
    // IDN host folding, gated so ASCII hosts stay in pure column
    // algebra and the expression only runs on the rare non-ASCII row
    val scheme = regexp_extract(noWww, "^([a-z][a-z0-9+.-]*://)", 1)
    val hostPart = regexp_extract(noWww, "^[a-z][a-z0-9+.-]*://([^:/]*)", 1)
    val portPart = regexp_extract(noWww, "^[a-z][a-z0-9+.-]*://[^:/]*(.*)$", 1)
    val asciiHost = when(hostPart.rlike("^[\\x00-\\x7F]*$"), hostPart)
      .otherwise(graft.functions.IdnAscii(hostPart))
    val canonPrefix = concat(scheme, asciiHost, portPart)
    // a URL with no scheme://host prefix passes through untouched
    // (relative href — resolution needs the base URL, not a rewrite)
    when(prefix === "", trim(url))
      .otherwise(concat(canonPrefix, when(rest === "", lit("/")).otherwise(rest)))
  }

  /** RFC 3986 §5.2.4 remove_dot_segments for an ABSOLUTE path (the
    * only shape [[Html.urlResolve]] produces — http(s) base paths always
    * start at '/'): one `aggregate` fold over the '/'-split segments —
    * `.` drops, `..` pops (never past the root sentinel, matching the
    * RFC's silent discard of excess `..`), anything else (empty
    * double-slash segments included) appends; a trailing `.`/`..`
    * re-appends the empty segment the RFC leaves behind ('/a/b/..' →
    * '/a/'). Pure column algebra — map-only, no iteration beyond the
    * per-row fold. */
  def removeDotSegments(p: Column): Column = {
    val segs = split(p, "/", -1)
    val folded = aggregate(segs, typedLit(Seq.empty[String]),
      (acc: Column, s: Column) =>
        when(s === ".", acc)
          .when(s === "..",
            when(size(acc) > 1, slice(acc, lit(1), size(acc) - 1)).otherwise(acc))
          .otherwise(concat(acc, array(s))))
    val lastSeg = element_at(segs, -1)
    array_join(
      when(lastSeg.isin(".", ".."), concat(folded, array(lit(""))))
        .otherwise(folded), "/")
  }

  /** The pure-column-algebra formulation of [[Html.urlResolve]] — the
    * bit-equal reference the fuzz test below pins the
    * [[graft.functions.UrlKernels]] transcription against. */
  def urlResolveHof(base: Column, ref: Column): Column = {
    val b = trim(base)
    val r = trim(ref)
    val bScheme = regexp_extract(b, "^([a-zA-Z][a-zA-Z0-9+.-]*)://.*", 1)
    val bAuth = regexp_extract(b, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*).*", 1)
    val bPath = regexp_extract(b, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*).*", 1)
    val bQuery = regexp_extract(b, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*[^?#]*(\\?[^#]*)?.*", 1)
    val prefix = concat(lower(bScheme), lit("://"), bAuth)
    // ref split: path part vs the ?query#frag tail (dot-segment
    // removal must never touch the query)
    val rPath = regexp_extract(r, "^([^?#]*).*", 1)
    val rTail = regexp_extract(r, "^[^?#]*(.*)$", 1)
    val hasScheme = r.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*:")
    // §5.2.3 merge: base path up to and including its last '/' (an
    // empty base path merges at the root)
    val baseDir = when(bPath === "", lit("/"))
      .otherwise(regexp_replace(bPath, "[^/]*$", ""))
    val rSchemePath = regexp_extract(r, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*).*", 1)
    val rSchemePre = regexp_extract(r, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*).*", 1)
    when(bScheme === "", r) // unanchorable base: pass through
      .when(r === "", concat(prefix, bPath, bQuery))
      .when(r.startsWith("#"), concat(prefix, bPath, bQuery, r))
      .when(hasScheme && rSchemePre =!= "",
        concat(rSchemePre, removeDotSegments(rSchemePath), rTail))
      .when(hasScheme, r) // non-hierarchical (mailto:, javascript:)
      .when(r.startsWith("//"),
        concat(lower(bScheme), lit(":"),
          regexp_extract(r, "^(//[^/?#]*).*", 1),
          removeDotSegments(regexp_extract(r, "^//[^/?#]*([^?#]*).*", 1)), rTail))
      .when(r.startsWith("/"), concat(prefix, removeDotSegments(rPath), rTail))
      .when(r.startsWith("?"), concat(prefix, bPath, r))
      .otherwise(concat(prefix,
        removeDotSegments(concat(baseDir, rPath)), rTail))
  }

  private def extract(html: String): Row =
    Html.htmlExtract(Seq((1L, html)).toDF("id", "html"), "id", "html")
      .collect().head

  test("url kernels are bit-equal to the column algebra, incl. fuzz") {
    // hand-built shapes covering every branch of both functions
    val hand = Seq(
      "https://Site3.Example.COM:443/Path/3#Frag",
      "HTTP://WWW.x.COM:80/a#top", "http://x.com", "http://x.com/",
      "  http://pad.example/x  ", "ftp://h:21/q", "not a url", "",
      "http://MüNCHEN.Example.COM/x", "https://www.h/%41%2f%7e%zz",
      "http://h/%", "http://h/%%", "http://h/a%4", "http://h/a%zz1",
      "http://h/a?q=%2f#f", "relative/path", "//cdn.example.net/x",
      "/rooted/../a/./b", "?query=1", "#fragonly", "mailto:a@b",
      "javascript:void(0)", "http://h\nx/y", "http://h/a\nb?c",
      "https://h/a/b/../../../c", "http://h/a/b/..", "http://h/a/b/.",
      "x://y", "http://h:8080/p", "a%7Eb", "%41", "http://h/?")
    val fuzz = {
      val rnd = new scala.util.Random(20260818)
      val alphabet =
        "ab:/.%#?~zA4F \n\tü漢-_&=+ü%2f%41%ZZwww.httphttps0123456789".toCharArray
      (0 until 4000).map { _ =>
        val len = rnd.nextInt(40)
        new String(Array.fill(len)(alphabet(rnd.nextInt(alphabet.length))))
      }
    }
    val urls = (hand ++ fuzz).toDF("u")
    val normChk = urls.select(col("u"),
      Html.urlNormalize(col("u")).as("k"),
      urlNormalizeHof(col("u")).as("ref"))
      .collect()
    normChk.foreach { r =>
      assert(Option(r.getString(1)) === Option(r.getString(2)),
        s"urlNormalize mismatch on ${r.getString(0)}") }
    // resolve: pair fuzz strings as (base, ref); also real-ish bases
    val bases = Seq("https://site1.example.com/a/b/c?q=1",
      "http://h", "http://h/", "nix", "", "http://h/x\ny/z?q") ++
      fuzz.take(500)
    val refs = Seq("", "#f", "?q=2", "/r", "//other.h/p", "d/e", "../up",
      "./here", "../../../..", "mailto:x", "ftp://f/p", "a%2fb#c",
      "x\ny?z") ++ fuzz.slice(500, 1000)
    val pairs = (for (b <- bases; r <- refs) yield (b, r)).toDF("b", "r")
    val resChk = pairs.select(col("b"), col("r"),
      Html.urlResolve(col("b"), col("r")).as("k"),
      urlResolveHof(col("b"), col("r")).as("ref"))
      .collect()
    resChk.foreach { r =>
      assert(Option(r.getString(2)) === Option(r.getString(3)),
        s"urlResolve mismatch on base=${r.getString(0)} ref=${r.getString(1)}") }
    // null propagation matches the algebra
    val nulls = Seq((null: String, "x"), ("http://h", null: String),
      (null: String, null: String)).toDF("b", "r")
    nulls.select(Html.urlResolve(col("b"), col("r")).as("k"),
      urlResolveHof(col("b"), col("r")).as("ref"),
      Html.urlNormalize(col("b")).as("nk"),
      urlNormalizeHof(col("b")).as("nref")).collect().foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1))
      assert(r.isNullAt(2) === r.isNullAt(3))
    }
  }

  test("script and style blocks vanish, even when they contain closing tags") {
    val r = extract(
      "<html><head><style>p { a: 1; }</style>" +
        "<script>var s = \"</p> fake line\";</script></head>" +
        "<body><p>real body text here</p></body></html>")
    assert(r.getAs[String]("content") === "real body text here")
    assert(r.getAs[Long]("n_kept") === 1L)
  }

  test("nav and footer link bars are cut by integer link density, body kept") {
    val r = extract(
      "<div><a href=\"/\">Home</a> <a href=\"/a\">About</a></div>" +
        "<p>one two three four five</p>" +
        "<div><a href=\"/t\">Terms</a> <a href=\"/p\">Privacy</a> 2026</div>")
    assert(r.getAs[String]("content") === "one two three four five")
    assert(r.getAs[Long]("n_lines") === 3L)
    assert(r.getAs[Long]("n_kept") === 1L)
    assert(r.getAs[Long]("n_links") === 4L)
    assert(r.getAs[Long]("n_words") === 5L)
  }

  test("a line with links is kept when text dominates (2*links <= words)") {
    val r = extract("<p>read the <a href=\"/d\">docs</a> for much more detail</p>")
    assert(r.getAs[Long]("n_kept") === 1L)
    assert(r.getAs[String]("content") === "read the docs for much more detail")
  }

  test("entities decode in the standard chained order, &amp; last") {
    val r = extract("<p>x &amp;lt; stays literal but 1 &lt; 2 and Tom &amp; Jerry decode</p>")
    assert(r.getAs[String]("content") ===
      "x &lt; stays literal but 1 < 2 and Tom & Jerry decode")
  }

  test("short headings fall to minWords; empty lines never count") {
    val r = extract("<h1>Title</h1><p>a proper paragraph of text</p><div>  </div>")
    assert(r.getAs[Long]("n_lines") === 2L)
    assert(r.getAs[Long]("n_kept") === 1L)
  }

  test("br tags break lines and nbsp becomes a plain space") {
    val r = extract("<p>first half line<br/>second half A&nbsp;B line</p>")
    assert(r.getAs[String]("content") === "first half line\nsecond half A B line")
    assert(r.getAs[Long]("n_kept") === 2L)
  }

  test("link extraction keeps document order and cleans anchor text") {
    val rows = Html.htmlLinks(
      Seq((1L, "<div><a href=\"/a\">First &amp; Co</a> text " +
        "<a class=\"x\" href=\"/b\"><b>Second</b> link</a></div>" +
        "<p>no links here</p>"))
        .toDF("id", "html"), "id", "html")
      .collect().map(r => (r.getInt(1), r.getString(2), r.getString(3)))
    assert(rows.toSeq === Seq((1, "/a", "First & Co"), (2, "/b", "Second link")))
  }

  test("url normalization: case, www, default ports, fragments, empty paths") {
    val cases = Seq(
      ("HTTP://WWW.Example.COM:80#top", "http://example.com/"),
      ("https://Example.com:443/A/B#x", "https://example.com/A/B"),
      ("https://example.com:8443/a", "https://example.com:8443/a"), // non-default port kept
      ("http://www.example.com/Path", "http://example.com/Path"),   // path case preserved
      ("  http://example.com  ", "http://example.com/"),
      ("/relative/path#frag", "/relative/path#frag"))               // passthrough
    val got = Html.urlNormalize(col("u"))
    val rows = cases.map(_._1).toDF("u").select(got.as("c"))
      .collect().map(_.getString(0))
    rows.zip(cases).foreach { case (gotC, (in, want)) =>
      assert(gotC === want, s"normalize($in)")
    }
    val hosts = cases.map(_._1).toDF("u")
      .select(Html.urlHost(col("u")).as("h")).collect().map(_.getString(0))
    assert(hosts.toSeq === Seq("www.example.com", "example.com",
      "example.com", "www.example.com", "example.com", ""))
  }

  test("url normalization: percent-escapes and IDN hosts") {
    val cases = Seq(
      // unreserved octets decode; reserved stay encoded but uppercase
      ("https://example.com/q%41%62%2f%3a", "https://example.com/qAb%2F%3A"),
      ("https://example.com/a?x=%7e%2D", "https://example.com/a?x=~-"),
      // malformed escapes pass through byte-identically
      ("https://example.com/a%zz%4", "https://example.com/a%zz%4"),
      ("https://example.com/100%", "https://example.com/100%"),
      // IDN host folds to punycode; ASCII hosts untouched
      ("https://MüNCHEN.example.com/a", "https://xn--mnchen-3ya.example.com/a"),
      ("https://www.münchen.example.com:443/a", "https://xn--mnchen-3ya.example.com/a"),
      ("https://xn--mnchen-3ya.example.com/a", "https://xn--mnchen-3ya.example.com/a"))
    val rows = cases.map(_._1).toDF("u")
      .select(Html.urlNormalize(col("u")).as("c")).collect().map(_.getString(0))
    rows.zip(cases).foreach { case (gotC, (in, want)) =>
      assert(gotC === want, s"normalize($in)")
    }
  }

  test("url normalization is idempotent over the synthesis grid") {
    // canonical forms must be fixed points — a second pass that still
    // rewrites would make the dedup key unstable across re-crawls
    val d = col("id")
    val url = concat(
      when(d % 2 === 0, lit("HTTP")).otherwise(lit("https")), lit("://"),
      when(d % 3 === 0, lit("WWW.")).otherwise(lit("")),
      when(d % 11 === 0, lit("MüNCHEN.Example.COM"))
        .otherwise(concat(lit("Site"), (d % 20).cast("string"), lit(".Example.COM"))),
      when(d % 2 === 0, lit(":80")).otherwise(lit(":443")),
      when(d % 4 === 0, lit("")).otherwise(concat(lit("/Path/"), d.cast("string"))),
      when(d % 7 === 1, lit("/q%41%2f%7e%zz")).otherwise(lit("")),
      when(d % 5 === 0, concat(lit("#Frag"), d.cast("string"))).otherwise(lit("")))
    val bad = (0L until 500L).toDF("id")
      .select(Html.urlNormalize(url).as("c1"))
      .select(col("c1"), Html.urlNormalize(col("c1")).as("c2"))
      .where(col("c1") =!= col("c2")).count()
    assert(bad === 0L)
  }

  test("robots rules: star groups only, UA runs share rules, comments and empties drop") {
    val robots =
      """# welcome
        |User-agent: Googlebot
        |Disallow: /google-only/
        |User-agent: *
        |User-agent: Bingbot
        |Disallow: /private/
        |Disallow: /tmp/ # inline comment
        |Disallow:
        |noise line
        |Disallow: /late/
        |""".stripMargin
    val df = Seq(
      ("a.com", robots),
      ("b.com", "User-agent: Googlebot\nDisallow: /x/\n"), // no * group
      ("c.com", "Disallow: /orphan/\nUser-agent: *\nDisallow: /ok/\n"))
      .toDF("host", "robots")
    val got = Html.robotsRules(df, "host", "robots")
      .collect().map(r => (r.getString(1), r.getString(2))).toSet
    // a.com: the */Bingbot run governs /private/, /tmp/ and /late/
    // (no new UA starts in between); the Googlebot rule, the empty
    // Disallow and b.com's bot-specific rule all drop; c.com's
    // pre-group orphan drops, /ok/ survives
    assert(got === Set(
      ("a.com", "/private/"), ("a.com", "/tmp/"), ("a.com", "/late/"),
      ("c.com", "/ok/")))
    // rule ids are distinct and deterministic
    val ids = Html.robotsRules(df, "host", "robots")
      .collect().map(_.getLong(0))
    assert(ids.distinct.length === ids.length)
    assert(ids.toSet === Html.robotsRules(df.repartition(5), "host", "robots")
      .collect().map(_.getLong(0)).toSet)
  }

  test("robots rules feed the url filter end to end") {
    val df = Seq(("shop.example", "User-agent: *\nDisallow: /cart/\n"))
      .toDF("host", "robots")
    val rules = Html.robotsRules(df, "host", "robots")
    val urls = Seq(
      (1L, "https://shop.example/cart/123"),
      (2L, "https://shop.example/item/9")).toDF("id", "url")
    val got = Html.urlFilter(urls, "id", "url", rules)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got === Map(1L -> true, 2L -> false))
  }

  test("url filter: label-boundary suffix semantics and path-prefix rules") {
    val urls = Seq(
      (1L, "https://bad.example.com/x"),        // suffix of rule 0
      (2L, "https://notbad.example.com/x"),     // NOT a label-boundary match
      (3L, "https://sub.bad.example.com/y"),    // deeper suffix still matches
      (4L, "https://ok.example.com/ads/banner"),// path rule
      (5L, "https://ok.example.com/site"),      // same host, other path
      (6L, "HTTPS://BAD.Example.COM:443/z#f"))  // matches after normalization
      .toDF("id", "url")
    val rules = Seq(
      (0L, "bad.example.com", Option.empty[String]),
      (1L, "ok.example.com", Some("/ads/")))
      .toDF("rule_id", "host_suffix", "path_prefix")
    val got = Html.urlFilter(urls, "id", "url", rules)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(2), if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(got(1L) === ((true, 0L)))
    assert(got(2L) === ((false, -1L)))
    assert(got(3L) === ((true, 0L)))
    assert(got(4L) === ((true, 1L)))
    assert(got(5L) === ((false, -1L)))
    assert(got(6L) === ((true, 0L)))
  }

  test("RFC 9309 allow/wildcard longest-match verdicts") {
    val robots = Seq(("h.example",
      "User-agent: *\nDisallow: /private/\nAllow: /private/public/\n" +
        "Disallow: /*.pdf$\nAllow: /docs/*/view\nDisallow: /tie/\nAllow: /tie/\n"))
      .toDF("host", "robots")
    val rules = Html.robotsRules(robots, "host", "robots")
    assert(rules.where(col("allow")).count() === 3)
    val urls = Seq(
      (0L, "https://h.example/private/x"),        // disallow prefix
      (1L, "https://h.example/private/public/y"), // longer Allow overrides
      (2L, "https://h.example/report.pdf"),       // '*' wildcard + '$' anchor
      (3L, "https://h.example/report.pdf?x=1"),   // '$' anchor must miss
      (4L, "https://h.example/docs/a/view"),      // mid-wildcard allow
      (5L, "https://h.example/docs/a/edit"),      // no rule matches
      (6L, "https://h.example/tie/t"),            // exact-length tie → Allow
      (7L, "https://h.example/private/file.pdf")) // longest pattern (Disallow) wins
      .toDF("id", "url")
    val got = Html.urlFilter(urls, "id", "url", rules)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got === Map(0L -> true, 1L -> false, 2L -> true, 3L -> false,
      4L -> false, 5L -> false, 6L -> false, 7L -> true))
  }

  test("percent-escaped rule patterns match the normalized canonical path") {
    // urlNormalize decodes unreserved escapes (%7E -> ~) and
    // uppercases the rest (%2f -> %2F); a raw rule written with
    // escapes must still match (RFC 9309 compares decoded forms)
    val rules = Seq(
      (0L, "h.example", Some("/%7Eadmin/")),   // decodes to /~admin/
      (1L, "h.example", Some("/a%2fb/")))      // reserved: normalizes to /a%2Fb/
      .toDF("rule_id", "host_suffix", "path_prefix")
    val urls = Seq(
      (0L, "https://h.example/~admin/panel"),    // literal form of rule 0
      (1L, "https://h.example/%7Eadmin/panel"),  // escaped form, same page
      (2L, "https://h.example/a%2Fb/x"),         // rule 1, canonical case
      (3L, "https://h.example/a%2fb/x"),         // rule 1, lowercase hex
      (4L, "https://h.example/admin/panel"))     // no rule
      .toDF("id", "url")
    val got = Html.urlFilter(urls, "id", "url", rules)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got === Map(0L -> true, 1L -> true, 2L -> true, 3L -> true,
      4L -> false))
  }

  test("url filter verdicts are per-URL under a non-unique id column") {
    // link tables repeat doc_id per link: one blocked URL must not
    // mark its clean siblings blocked (verdicts key on (id, canon))
    val urls = Seq(
      (1L, "https://bad.example.com/x"),
      (1L, "https://clean.example.org/y"),
      (1L, "https://clean.example.org/z"),
      (2L, "https://clean.example.org/w")).toDF("id", "url")
    val rules = Seq((0L, "bad.example.com", Option.empty[String]))
      .toDF("rule_id", "host_suffix", "path_prefix")
    val got = Html.urlFilter(urls, "id", "url", rules)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getBoolean(2)).toMap
    assert(got((1L, "https://bad.example.com/x")) === true)
    assert(got((1L, "https://clean.example.org/y")) === false)
    assert(got((1L, "https://clean.example.org/z")) === false)
    assert(got((2L, "https://clean.example.org/w")) === false)
  }

  test("anchor terms aggregate per target with (count desc, term) rank") {
    // three pages link to /x with anchors; one links to /y
    val links = Seq(
      ("https://a.com/x", "Great Search Engine"),
      ("https://a.com/x", "great engine"),
      ("https://a.com/x", "search"),
      ("https://a.com/y", "other page")).toDF("target", "anchor")
    val got = Html.anchorTerms(links, "target", "anchor", k = 2)
      .orderBy("target", "rank")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
    // /x counts: engine 2, great 2, search 2 -> rank by term asc
    assert(got.toSeq === Seq(
      ("https://a.com/x", "engine", 2L, 1),
      ("https://a.com/x", "great", 2L, 2),
      ("https://a.com/y", "other", 1L, 1),
      ("https://a.com/y", "page", 1L, 2)))
  }

  test("anchor term rank filter compiles to a window group limit") {
    val links = (0L until 100L).map(i =>
      (s"https://h${i % 5}.com/", s"word${i % 7} word${i % 3}"))
      .toDF("target", "anchor")
    val plan = Html.anchorTerms(links, "target", "anchor", k = 3)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"top-k per target must push the limit below the window:\n$plan")
  }

  test("RFC 3986 resolution: every reference class against a pathed base") {
    val base = "https://h.example/dir/sub/page.html?k=1"
    val cases = Seq(
      "https://other.org/abs"    -> "https://other.org/abs",
      "HTTP://Other.org/A/../b"  -> "HTTP://Other.org/b", // dots removed even with scheme
      "//cdn.net/lib.js"         -> "https://cdn.net/lib.js",
      "/rooted/x"                -> "https://h.example/rooted/x",
      "img/a.png"                -> "https://h.example/dir/sub/img/a.png",
      "../up/b"                  -> "https://h.example/dir/up/b",
      "./here/c"                 -> "https://h.example/dir/sub/here/c",
      "a/../../../z"             -> "https://h.example/z", // excess .. stops at root
      "a/./b/../c"               -> "https://h.example/dir/sub/a/c",
      "trail/.."                 -> "https://h.example/dir/sub/", // RFC trailing slash
      "?q=2"                     -> "https://h.example/dir/sub/page.html?q=2",
      "#frag"                    -> "https://h.example/dir/sub/page.html?k=1#frag",
      ""                         -> "https://h.example/dir/sub/page.html?k=1",
      "mailto:x@y.z"             -> "mailto:x@y.z")
    val got = cases.map(_._1).zipWithIndex
      .map { case (h, i) => (i.toLong, h) }.toDF("id", "href")
      .select(col("id"), Html.urlResolve(lit(base), col("href")).as("r"))
      .orderBy("id").collect().map(_.getString(1))
    cases.zip(got).foreach { case ((href, want), g) =>
      assert(g === want, s"resolving '$href'") }
    // a base with no scheme cannot anchor: ref passes through
    val pass = Seq((1L, "img/x.png")).toDF("id", "href")
      .select(Html.urlResolve(lit("not a url"), col("href")))
      .collect().head.getString(0)
    assert(pass === "img/x.png")
  }

  test("longest-match specificity is measured on the DECODED pattern") {
    // raw '/%7Eadmin/' decodes to '/~admin/' (len 8); the Allow
    // '/~admin/x' (len 9) is the longer DECODED pattern and must win —
    // raw-length ranking would invert this (10 > 9)
    val rules = Seq(
      (0L, "h.example", Some("/%7Eadmin/"), false),
      (1L, "h.example", Some("/~admin/x"), true))
      .toDF("rule_id", "host_suffix", "path_prefix", "allow")
    val got = Html.urlFilter(
      Seq((0L, "https://h.example/~admin/x1")).toDF("id", "url"),
      "id", "url", rules).collect().head
    assert(got.getBoolean(2) === false && got.getLong(3) === 1L)
  }

  test("blocklist-mode prefixes are literal: '*' and '$' are path octets") {
    // without an `allow` column a rule is a plain prefix — '/price$'
    // must match the literal octets, not compile to an anchored regex
    val rules = Seq(
      (0L, "h.example", Some("/price$")),
      (1L, "h.example", Some("/a*b/")))
      .toDF("rule_id", "host_suffix", "path_prefix")
    val urls = Seq(
      (0L, "https://h.example/price$list"),  // literal prefix match
      (1L, "https://h.example/price"),       // would match anchored-regex; must NOT
      (2L, "https://h.example/a*b/x"),       // literal '*' match
      (3L, "https://h.example/aXb/x"))       // wildcard would match; must NOT
      .toDF("id", "url")
    val got = Html.urlFilter(urls, "id", "url", rules)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got === Map(0L -> true, 1L -> false, 2L -> true, 3L -> false))
  }

  test("the web front end composes: extract links, rank the graph they form") {
    // four pages: everyone links to page 0 (the hub), page 0 links to 1
    val pages = (0L to 3L).map { i =>
      val tgt = if (i == 0L) 1L else 0L
      (i, s"""<p>page $i body text</p><a href="/page/$tgt">go</a>""")
    }
    val links = Html.htmlLinks(pages.toDF("id", "html"), "id", "html")
    val edges = links.select(col("id").as("src"),
      regexp_extract(col("href"), "/page/(\\d+)", 1).cast("long").as("dst"))
    val ranks = graft.operators.Graph.pageRank(edges, "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks(0L) > ranks(1L) && ranks(1L) > ranks(2L))
    assert(ranks(2L) === ranks(3L))
  }
}
