package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, size, split}
import graft.streaming.StreamOps
import graft.streaming.StreamOps.UserEvent

/** SURVEY.md §2 I3 — Structured Streaming driven through MemoryStream:
  * the same transforms a production caller would attach to
  * `readStream` (kafka/files), exercised incrementally. Each stateless
  * parity test runs the batch operator itself on the stream and
  * compares with the batch operator on a static frame.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Watermarked hourly event counts with an exact decimal value sum. */
  private def eventCounts(df: DataFrame): DataFrame =
    graft.operators.Events.tumblingWindowAggregate(
      df.withWatermark("ts", "10 minutes"), "ts", "event_type", "1 hour",
      Seq(graft.operators.Num.dsum(col("value")).as("value_sum")))

  test("windowed aggregate over a stream accumulates per hour window") {
    val input = MemoryStream[(Timestamp, String, Double)](spark)
    val agg = eventCounts(input.toDF.toDF("ts", "event_type", "value"))
    val q = agg.writeStream.format("memory").queryName("win_counts")
      .outputMode("update").start()
    try {
      input.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:55:00"), "click", 2.0),
        (ts("2024-01-01 11:05:00"), "click", 4.0))
      q.processAllAvailable()
      val rows = spark.table("win_counts")
        .selectExpr("window.start", "event_type", "n_events", "value_sum")
        .collect().map(r => (r.getTimestamp(0), r.getLong(2), r.getDouble(3)))
      assert(rows.toSet == Set(
        (ts("2024-01-01 10:00:00"), 2L, 3.0),
        (ts("2024-01-01 11:00:00"), 1L, 4.0)))
    } finally q.stop()
  }

  test("watermark drops events later than the threshold") {
    val input = MemoryStream[(Timestamp, String, Double)](spark)
    val agg = eventCounts(input.toDF.toDF("ts", "event_type", "value"))
    val q = agg.writeStream.format("memory").queryName("win_wm")
      .outputMode("update").start()
    try {
      input.addData((ts("2024-01-01 12:00:00"), "click", 1.0))
      q.processAllAvailable() // watermark advances to 11:50
      input.addData((ts("2024-01-01 09:00:00"), "click", 100.0)) // > 10 min late
      q.processAllAvailable()
      val hours = spark.table("win_wm").selectExpr("window.start").collect()
        .map(_.getTimestamp(0)).toSet
      assert(hours == Set(ts("2024-01-01 12:00:00"))) // late row never emitted
    } finally q.stop()
  }

  test("stream-stream interval join reduces to the batch as-of result") {
    import org.apache.spark.sql.functions._
    val states = Seq(
      (1L, ts("2024-01-01 10:00:00"), 10.0),
      (1L, ts("2024-01-01 10:30:00"), 30.0),
      (2L, ts("2024-01-01 10:10:00"), 99.0))
    val events = Seq(
      (1L, ts("2024-01-01 10:15:00"), "a"), // after state 10.0
      (1L, ts("2024-01-01 10:45:00"), "b"), // after 30.0 (both in bound)
      (2L, ts("2024-01-01 10:20:00"), "c"))
    val sIn = MemoryStream[(Long, Timestamp, Double)](spark)
    val eIn = MemoryStream[(Long, Timestamp, String)](spark)
    val joined = StreamOps.intervalStreamJoin(
      eIn.toDF.toDF("user_id", "ets", "etype"),
      sIn.toDF.toDF("user_id", "sts", "sval"),
      "user_id", "ets", "sts", "10 seconds", boundSeconds = 3600L)
    val q = joined.writeStream.format("memory").queryName("asof_parity")
      .outputMode("append").start()
    try {
      sIn.addData(states: _*)
      eIn.addData(events: _*)
      q.processAllAvailable()
      // reduce the bounded interval matches to the LATEST state ≤ event
      val streaming = spark.table("asof_parity")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("user_id", "ets").orderBy(col("sts").desc)))
        .where(col("rn") === 1)
        .select("user_id", "ets", "sval")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1)) -> r.getDouble(2)).toMap
      val batch = graft.operators.Events.asofJoin(
          events.toDF("user_id", "ts", "etype"),
          states.toDF("user_id", "ts", "sval"),
          "user_id", "ts", Seq("sval"))
        .collect().map(r => (r.getLong(0), r.getTimestamp(1)) -> r.getDouble(3)).toMap
      assert(streaming == batch)
      assert(batch((1L, ts("2024-01-01 10:45:00"))) == 30.0)
    } finally q.stop()
  }

  test("mapGroupsWithState keeps running per-user aggregates across batches") {
    val input = MemoryStream[UserEvent](spark)
    val q = StreamOps.runningUserAgg(input.toDS())
      .writeStream.format("memory").queryName("user_agg")
      .outputMode("update").start()
    try {
      input.addData(UserEvent(1L, ts("2024-01-01 10:00:00"), 1.0))
      q.processAllAvailable()
      input.addData(
        UserEvent(1L, ts("2024-01-01 10:01:00"), 2.0),
        UserEvent(2L, ts("2024-01-01 10:02:00"), 5.0))
      q.processAllAvailable()
      // memory sink in update mode appends each update; take the latest per user
      val last = spark.table("user_agg").groupBy("user_id")
        .agg(org.apache.spark.sql.functions.max("n_events").as("n"),
          org.apache.spark.sql.functions.max("value_sum").as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(last == Set((1L, 2L, 3.0), (2L, 1L, 5.0)))
    } finally q.stop()
  }

  test("streaming cluster tagging matches the batch k-means assignment row-for-row") {
    // codebook fit OFFLINE on the batch corpus; the stream then tags
    // each embedding with the codegen'd assignment expression the
    // batch clustering operators use
    val corpus = (0 until 40).map { i =>
      val c = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Array(c + (i % 5) * 0.01f, -c))
    }
    val batchDf = corpus.toDF("vec_id", "embedding")
    val cb = graft.operators.Clustering.kmeansCodebook(
      batchDf, "vec_id", "embedding", stride = 3, iters = 1)
    val input = MemoryStream[(Long, Array[Float])](spark)
    val tagged = input.toDF.toDF("vec_id", "embedding")
      .withColumn("cell", graft.functions.GraftFunctions.quant_nearest_cell(
        col("embedding"), cb, graft.operators.Clustering.DefaultScale))
    val q = tagged.writeStream.format("memory").queryName("cluster_tags")
      .outputMode("append").start()
    try {
      input.addData(corpus.take(25): _*)
      q.processAllAvailable()
      input.addData(corpus.drop(25): _*)
      q.processAllAvailable()
      val got = spark.table("cluster_tags").select("vec_id", "cell")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      // the batch operator fits its own codebook and assigns every row
      // (frac = 1 keeps each cell whole)
      val batch = graft.operators.Clustering.clusterSample(
          batchDf, "vec_id", "embedding", stride = 3, iters = 1, frac = 1.0)
        .select("vec_id", "cell")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got == batch)
      assert(got.size == 40) // every row tagged
    } finally q.stop()
  }

  test("streaming geofence tagging matches the batch ring containment row-for-row") {
    // a Polygon with a hole + a two-part MultiPolygon as the static
    // ring-set dim; the stream-static join is stateless append-mode
    val doc = """{"type":"FeatureCollection","features":[
      {"type":"Feature","properties":{"name":"withHole"},"geometry":{"type":"Polygon",
       "coordinates":[[[0.0,0.0],[10.0,0.0],[10.0,10.0],[0.0,10.0],[0.0,0.0]],
                      [[3.0,3.0],[7.0,3.0],[7.0,7.0],[3.0,7.0],[3.0,3.0]]]}},
      {"type":"Feature","properties":{"name":"twoParts"},"geometry":{"type":"MultiPolygon",
       "coordinates":[[[[20.0,0.0],[26.0,0.0],[26.0,6.0],[20.0,6.0],[20.0,0.0]]],
                      [[[30.0,0.0],[34.0,0.0],[34.0,4.0],[30.0,4.0],[30.0,0.0]]]]}}]}"""
      .replaceAll("\n\\s*", "")
    val rings = graft.sources.GeoJson.featureRings(
      Seq(doc).toDF("doc"), "doc", "name").cache()
    val pts = Seq(
      (1L, 1.2, 1.2),   // withHole interior
      (2L, 5.0, 5.0),   // inside the hole → no tag
      (3L, 21.3, 1.1),  // twoParts part 1
      (4L, 33.2, 3.3),  // twoParts part 2
      (5L, 50.0, 50.0)) // nowhere
    val input = MemoryStream[(Long, Double, Double)](spark)
    val tagged = graft.operators.Geo.tagPointsInRingSet(
      input.toDF.toDF("pt_id", "lon", "lat"), rings,
      "lon", "lat", "feature_key", "xs", "ys", cellDeg = 5.0)
    val q = tagged.writeStream.format("memory").queryName("geo_tags")
      .outputMode("append").start()
    try {
      input.addData(pts.take(2): _*)
      q.processAllAvailable()
      input.addData(pts.drop(2): _*) // second micro-batch: same dim
      q.processAllAvailable()
      val got = spark.table("geo_tags").select("pt_id", "feature_key")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val batch = graft.operators.Geo.tagPointsInRingSet(
        pts.toDF("pt_id", "lon", "lat"), rings,
        "lon", "lat", "feature_key", "xs", "ys", cellDeg = 5.0)
        .select("pt_id", "feature_key")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == batch)
      assert(got == Set((1L, "withHole"), (3L, "twoParts"), (4L, "twoParts")))
    } finally q.stop()
  }

  test("streaming quality filter matches the batch Gopher gate row-for-row") {
    val docs = Seq(
      (1L, (1 to 40).map(i => s"w$i").mkString(" ")),          // diverse → keep
      (2L, "short doc"),                                        // too short
      (3L, Array.fill(50)("same").mkString(" ")),               // dominated
      (4L, ((1 to 30).map(i => s"u$i") ++ Seq("x", "x")).mkString(" ")))
    val input = MemoryStream[(Long, String)](spark)
    val filtered = graft.operators.Curation.qualityFilterUnordered(
      input.toDF.toDF("doc_id", "text"), "doc_id", "text",
      minWords = 20, minDistinctFrac = 0.3, maxTopShare = 0.2)
    val q = filtered.writeStream.format("memory").queryName("qfilter_out")
      .outputMode("append").start()
    try {
      input.addData(docs.take(2): _*)
      q.processAllAvailable()
      input.addData(docs.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("qfilter_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3))).toSet
      val batch = graft.operators.Curation.qualityFilter(
        docs.toDF("doc_id", "text"), "doc_id", "text", 20, 0.3, 0.2)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3))).toSet
      assert(got == batch)
      assert(got.map(_._1) == Set(1L, 4L))
    } finally q.stop()
  }

  test("streaming HTML extraction matches the batch WET stage row-for-row") {
    val pages = Seq(
      (1L, "<html><head><style>p{x}</style></head><body>" +
        "<div><a href=\"/\">Home</a> <a href=\"/a\">About</a></div>" +
        "<p>genuine article text with many words</p>" +
        "<div><a href=\"/t\">Terms</a> <a href=\"/p\">Priv</a> 2026</div></body></html>"),
      (2L, "<p>first block of words here</p><script>var x = \"</p>\";</script>" +
        "<p>Tom &amp; Jerry say 1 &lt; 2 today</p>"))
    val input = MemoryStream[(Long, String)](spark)
    val extracted = graft.operators.Html.htmlExtract(
      input.toDF.toDF("doc_id", "html"), "doc_id", "html")
    val q = extracted.writeStream.format("memory").queryName("html_out")
      .outputMode("append").start()
    try {
      input.addData(pages.take(1): _*)
      q.processAllAvailable()
      input.addData(pages.drop(1): _*)
      q.processAllAvailable()
      val got = spark.table("html_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSet
      val batch = graft.operators.Html.htmlExtract(
        pages.toDF("doc_id", "html"), "doc_id", "html")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSet
      assert(got == batch)
      assert(got.map(_._1) == Set(1L, 2L))
      assert(got.find(_._1 == 2L).get._2 ===
        "first block of words here\nTom & Jerry say 1 < 2 today")
    } finally q.stop()
  }

  test("streaming importance tagger matches the batch resample weights and keeps") {
    val corpus = Seq(
      (1L, "spark shuffle exchange partition spark shuffle", true),
      (2L, "spark catalyst optimizer rules and codegen stages", true),
      (10L, "spark shuffle exchange partition spark shuffle exactly", false),
      (11L, "cooking pasta with tomatoes and fresh basil leaves", false),
      (12L, "one", false) // dropped: no bigram evidence
    )
    val df = corpus.toDF("doc_id", "text", "tgt")
    val cap = 2000000L
    val batch = graft.operators.Importance
      .resample(df, "doc_id", "text", org.apache.spark.sql.functions.col("tgt"), buckets = 64, cap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // offline fit: the ratio table the stream tagger serves from
    val ratios = graft.operators.Importance.ratioTable(
        graft.operators.Importance.gramStream(
          df, "doc_id", "text", org.apache.spark.sql.functions.col("tgt"), 64), 64, 1L << 20)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val input = MemoryStream[(Long, String)](spark)
    val tagged = StreamOps.importanceTagStream(
      input.toDF.toDF("doc_id", "text"), "doc_id", "text",
      ratios, defaultQ = 0L, cap = cap)
    val q = tagged.writeStream.format("memory").queryName("dsir_out")
      .outputMode("append").start()
    try {
      input.addData(corpus.collect { case (id, t, tgt) if !tgt => (id, t) }: _*)
      q.processAllAvailable()
      val got = spark.table("dsir_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(got == batch)
      assert(got.map(_._1) == Set(10L, 11L))
    } finally q.stop()
  }

  test("streaming curation scrub matches the batch scrub row-for-row") {
    val pats = Seq(
      ("emails", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      ("ips", "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b", "<IP>"))
    val docs = Seq(
      (1L, "mail a@b.com from 10.0.0.1 says hi"),
      (2L, "clean text only"),
      (3L, "double c@d.org e@f.net"))
    // the caller projects its word count next to the scrub
    def withWords(df: DataFrame) =
      df.withColumn("n_words", size(split(col("scrubbed"), " ")))
    val input = MemoryStream[(Long, String)](spark)
    val scrubbed = withWords(graft.operators.Curation.piiScrubUnordered(
      input.toDF.toDF("doc_id", "text"), "doc_id", "text", pats))
    val q = scrubbed.writeStream.format("memory").queryName("scrub_out")
      .outputMode("append").start()
    try {
      input.addData(docs.take(1): _*)
      q.processAllAvailable()
      input.addData(docs.drop(1): _*)
      q.processAllAvailable()
      val got = spark.table("scrub_out")
        .select("doc_id", "n_emails", "n_ips", "scrubbed", "n_words")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          r.getString(3), r.getInt(4))).toSet
      val batch = withWords(graft.operators.Curation.piiScrub(
          docs.toDF("doc_id", "text"), "doc_id", "text", pats))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          r.getString(3), r.getInt(4))).toSet
      assert(got == batch)
      assert(got.contains((1L, 1, 1, "mail <EMAIL> from <IP> says hi", 6)))
      assert(got.contains((3L, 2, 0, "double <EMAIL> <EMAIL>", 3)))
    } finally q.stop()
  }

  test("streaming url filter matches the batch blocklist verdicts row for row") {
    val urls = (0L until 200L).map { i =>
      (i, s"HTTP://WWW.Site${i % 10}.Example.COM:80/Path/$i#frag")
    }
    val rules = Seq(
      (0L, "site3.example.com", Option.empty[String]),
      (1L, "site7.example.com", Some("/Path/1")))
      .toDF("rule_id", "host_suffix", "path_prefix")
    val batch = graft.operators.Html.urlFilter(
      urls.toDF("id", "url"), "id", "url", rules)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    val q = StreamOps.urlFlagStream(
        input.toDF.toDF("id", "url"), "id", "url", rules)
      .select("id", "canon", "blocked", "rule_id")
      .writeStream.format("memory").queryName("uf_out")
      .outputMode("append").start()
    try {
      val (a, b) = urls.splitAt(100)
      input.addData(a)
      q.processAllAvailable()
      input.addData(b)
      q.processAllAvailable()
      val stream = spark.table("uf_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
      assert(stream === batch && batch.exists(_._3))
    } finally q.stop()
  }

  test("streaming url filter in allow mode matches the batch longest-match verdicts") {
    // the L16 grid: Disallow prefix + Allow override + wildcard/$ +
    // a full tie Allow must win — compiled into the literal fold
    val body = Seq(
      "User-agent: *",
      "Disallow: /private/", "Allow: /private/public/",
      "Disallow: /*.pdf$", "Allow: /docs/*/view",
      "Disallow: /tie/", "Allow: /tie/").mkString("\n") + "\n"
    val hosts = (0L until 6L)
      .map(h => (s"site$h.example.com", body)).toDF("host", "robots")
    val rules = graft.operators.Html.robotsRules(hosts, "host", "robots")
    val urls = (0L until 120L).map { i =>
      val path = (i % 6) match {
        case 0 => s"/private/x$i"
        case 1 => s"/private/public/y$i"
        case 2 => s"/report$i.pdf"
        case 3 => s"/docs/a$i/view"
        case 4 => s"/tie/t$i"
        case _ => s"/open/$i"
      }
      (i, s"https://site${i % 6}.example.com$path")
    }
    val batch = graft.operators.Html.urlFilter(
      urls.toDF("id", "url"), "id", "url", rules)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    val q = StreamOps.urlFlagStream(
        input.toDF.toDF("id", "url"), "id", "url", rules)
      .select("id", "canon", "blocked", "rule_id")
      .writeStream.format("memory").queryName("uf_allow_out")
      .outputMode("append").start()
    try {
      input.addData(urls)
      q.processAllAvailable()
      val stream = spark.table("uf_allow_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
      assert(stream === batch)
      // the grid really exercises both verdicts and the tie rule
      val byPath = stream.groupBy(t => t._1 % 6)
      assert(byPath(0L).forall(_._3), "plain Disallow must block")
      assert(byPath(1L).forall(!_._3), "longer Allow must override")
      assert(byPath(2L).forall(_._3), "wildcard $-anchored Disallow must block")
      assert(byPath(3L).forall(!_._3), "wildcard Allow must override")
      assert(byPath(4L).forall(!_._3), "a full-length tie goes to Allow")
      assert(byPath(5L).forall(!_._3), "unmatched paths pass")
    } finally q.stop()
  }

  test("streaming url filter refuses an over-bound rule list loudly") {
    val rules = (0L until 50L).map(i => (i, s"h$i.com", Option.empty[String]))
      .toDF("rule_id", "host_suffix", "path_prefix")
    val e = intercept[IllegalArgumentException] {
      StreamOps.urlFlagStream(
        Seq((1L, "https://a.com/")).toDF("id", "url"), "id", "url",
        rules, maxRules = 10)
    }
    assert(e.getMessage.contains("literal bound"))
  }
}
