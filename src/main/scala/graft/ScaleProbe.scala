package graft

import org.apache.spark.sql.functions._

/** ENGINE-ONLY endurance sweep for scales the DuckDB oracle cannot
  * follow (sf100+): each probe runs a top-cost operator at full scale
  * and asserts an ORACLE-FREE invariant — row-count conservation,
  * fused≡unfused parity, idempotence, probe-invariant compaction,
  * planted-signal recovery — then prints one JSON line with the wall
  * time. A failed invariant throws (the probe run exits non-zero);
  * the JSON lines land in SCALE.md.
  *
  * Usage: runMain graft.ScaleProbe <sfDir> [onlyCsv]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    val spark = SparkEntry.session("graft-scaleprobe")
    import spark.implicits._

    var failures = 0
    def probe(name: String)(body: => String): Unit =
      if (only.forall(_.contains(name))) {
        val t0 = System.nanoTime()
        val detail =
          try body
          catch { case e: Throwable =>
            failures += 1
            s"FAILED: ${e.getMessage.take(300)}"
          }
        val sec = (System.nanoTime() - t0) / 1e9
        // detail may be an exception message — escape it so the
        // SCALE.md-committed line stays one valid JSON object
        println(f"""{"probe":"$name","sec":$sec%.1f,"detail":${Verify.q(detail)}}""")
      }

    def docs = Tables.documents(spark, sfDir)
    def emb = Tables.embeddings(spark, sfDir)

    // 1. fused ≡ unfused thumbnail dedup: the two-codec chain and the
    //    single-decode fast path must mine the IDENTICAL pair set.
    probe("thumb_fused_parity") {
      val a = SparkEntry.queries("q_image_thumb_dedup")(spark, sfDir)
      val b = SparkEntry.queries("q_image_thumb_fused")(spark, sfDir)
      val extra = a.exceptAll(b).count(); val missing = b.exceptAll(a).count()
      require(extra == 0 && missing == 0, s"pair sets differ: +$extra -$missing")
      s"pairs=${b.count()} identical"
    }

    // 2. span-scrub token conservation: kept + removed == source tokens,
    //    for EVERY document (no row-level slack hiding in aggregates).
    probe("span_scrub_conservation") {
      val out = graft.operators.Dedup.spanScrub(docs, "doc_id", "text", spanLen = 8)
      val toks = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      val bad = out.join(toks, "doc_id")
        .where(col("n_kept") + col("n_removed") =!= col("n")).count()
      require(bad == 0, s"$bad docs violate kept+removed==tokens")
      s"docs=${out.count()} all conserve"
    }

    // 3. exact-dedup conservation: cluster sizes partition the corpus.
    probe("exact_dedup_conservation") {
      val d = graft.operators.Dedup.exactDuplicates(docs, "doc_id", "text")
      val total = d.agg(sum("n_docs")).head().getLong(0)
      val n = docs.count()
      require(total == n, s"sum(n_docs)=$total != corpus $n")
      s"clusters=${d.count()} cover $n docs"
    }

    // 4. suffix-array sanity at scale: one rank per position, ranks in
    //    [1, n], and equal ranks ⇔ positions with equal next-token rank
    //    chains is the gate's job — here the cheap global invariants.
    probe("suffix_ranks") {
      val sr = graft.operators.Dedup.suffixRanks(docs, "doc_id", "text", rounds = 8)
      val nToks = docs.agg(sum(size(split(col("text"), " ")))).head().getLong(0)
      val st = sr.agg(count(lit(1)), min("srank"), max("srank")).head()
      require(st.getLong(0) == nToks, s"rows ${st.getLong(0)} != tokens $nToks")
      require(st.getLong(1) >= 1L && st.getLong(2) <= nToks,
        s"rank range [${st.getLong(1)}, ${st.getLong(2)}] outside [1, $nToks]")
      s"positions=$nToks rank_max=${st.getLong(2)}"
    }

    // 5. exhaustive-probe IVF == brute force: with nProbe covering every
    //    cell the pruned scan must return the exact top-k.
    probe("ivf_exhaustive_exact") {
      val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
      val queries = emb.where(col("vec_id") < 8)
      val ivf = graft.operators.Similarity.ivfTopK(
        emb, queries, "vec_id", "embedding",
        k = 10, centroidStride = maxId / 8 + 1, nProbe = 8)
      val bf = graft.operators.Similarity.bruteForceTopK(
        emb, queries, "vec_id", "embedding", k = 10)
      val diff = ivf.exceptAll(bf).count() + bf.exceptAll(ivf).count()
      require(diff == 0, s"$diff rows differ from brute force")
      s"queries=8 k=10 exact"
    }

    // 6. minhash index lifecycle: probe verdicts are COMPACTION-INVARIANT
    //    (the maintenance rewrite must never move a dedup decision).
    probe("minhash_compaction_invariant") {
      val dir = s"/tmp/graft-sp-idx-${math.abs(sfDir.hashCode)}"
      val corpus = docs.where(pmod(col("doc_id"), lit(100)) =!= 7)
      val shard = docs.where(pmod(col("doc_id"), lit(100)) === 7)
      graft.operators.Dedup.minhashIndexWrite(corpus, "doc_id", "text", dir)
      val before = graft.operators.Dedup
        .dedupShardAgainstIndex(shard, "doc_id", "text", dir)
        .localCheckpoint(true)
      graft.operators.Dedup.minhashIndexCompact(spark, dir)
      val after = graft.operators.Dedup
        .dedupShardAgainstIndex(shard, "doc_id", "text", dir)
      val diff = before.exceptAll(after).count() + after.exceptAll(before).count()
      require(diff == 0, s"$diff probe verdicts moved across compaction")
      s"shard=${shard.count()} verdicts compaction-invariant"
    }

    // 7. URL normalization idempotence at scale: normalize ∘ normalize
    //    == normalize over synthesized messy URLs.
    probe("url_normalize_idempotent") {
      val urls = docs.select(col("doc_id"),
        concat(lit("HTTPS://Site"), (col("doc_id") % 97).cast("string"),
          lit(".Example.COM:443/a/../b/%7Euser/?b=2&a=1#frag")).as("url"))
      val norm = graft.operators.Html.urlNormalize(col("url"))
      val once = urls.select(col("doc_id"), norm.as("url"))
      val bad = once
        .where(graft.operators.Html.urlNormalize(col("url")) =!= col("url"))
        .count()
      require(bad == 0, s"$bad urls not idempotent")
      s"urls=${urls.count()} idempotent"
    }

    // 8. learned language ID recovers every planted label held-out —
    //    the training loop's end-to-end signal at full corpus scale.
    probe("lang_id_recovery") {
      val out = SparkEntry.queries("q_lang_id_learned")(spark, sfDir)
      val wrong = out.where(col("lang") =!= col("lang_pred")).count()
      val n = out.count()
      require(wrong == 0, s"$wrong/$n held-out docs mispredicted")
      s"held_out=$n accuracy=1.0"
    }

    // 9. WARC container offset arithmetic at scale: the index tiles
    //    every file exactly (offset_i = offset_{i-1} + length_{i-1},
    //    last record ends at the physical file size), and a sparse
    //    positioned seek-read decodes records whose URLs match the
    //    index rows — the cdx-style range-fetch contract a 100 TB
    //    crawl relies on.
    probe("warc_index_seek") {
      import org.apache.spark.sql.expressions.Window
      val path = s"/tmp/graft-sp-warc-${math.abs(sfDir.hashCode)}"
      val url = concat(lit("https://s"), (col("doc_id") % 50).cast("string"),
        lit(".example.com/doc/"), col("doc_id").cast("string"))
      val pages = docs.select(col("doc_id"), url.as("url"),
        concat(lit("<html><body><p>"), col("text"),
          lit("</p></body></html>")).as("html"))
        .repartition(32, pmod(col("doc_id"), lit(32)))
        .sortWithinPartitions("doc_id")
      graft.sources.Warc.writeFiles(pages, "url", "html", path)
      val idx = graft.sources.Warc.index(spark, s"$path/*.warc.gz")
        .localCheckpoint(true)
      val n = idx.count()
      val w = Window.partitionBy("file").orderBy("record_no")
      val badTile = idx.withColumn("__expect",
          coalesce(lag(col("offset") + col("length"), 1).over(w), lit(0L)))
        .where(col("offset") =!= col("__expect")).count()
      require(badTile == 0, s"$badTile records break offset contiguity")
      val sizes = spark.read.format("binaryFile").load(s"$path/*.warc.gz")
        .select(col("path").as("file"), col("length").as("fsize"))
      val badEnd = idx.groupBy("file")
        .agg(max(col("offset") + col("length")).as("end"))
        .join(sizes, "file").where(col("end") =!= col("fsize")).count()
      require(badEnd == 0, s"$badEnd files whose last record misses the file size")
      val sample = idx.where(pmod(xxhash64(col("url")), lit(101L)) === 0)
        .localCheckpoint(true)
      val sampled = sample.count()
      val badSeek = graft.sources.Warc.readRecords(sample)
        .select(col("file"), col("record_no"), col("url").as("got_url"))
        .join(sample.select(col("file"), col("record_no"), col("url")),
          Seq("file", "record_no"))
        .where(col("got_url") =!= col("url")).count()
      require(badSeek == 0, s"$badSeek seek-reads decoded the wrong record")
      s"records=$n tiled, $sampled positioned seek-reads exact"
    }

    // 10. robots/RFC 9309 compliance at scale: verdict conservation
    //     (one verdict per URL; blocked + allowed == total), verdict
    //     attribution (every blocked URL names a real rule), and drop
    //     IDEMPOTENCE (re-filtering the survivors removes nothing) —
    //     the composition a curation pipeline chains on.
    probe("robots_verdict_idempotent") {
      val hosts = graft.queries.TextQueries.robotsAllowHosts(spark, sfDir)
      val urls = graft.queries.TextQueries.robotsAllowUrls(spark, sfDir)
        .localCheckpoint(true)
      val rules = graft.operators.Html.robotsRules(hosts, "host", "robots")
        .localCheckpoint(true)
      val verdicts = graft.operators.Html
        .urlFilter(urls, "doc_id", "url", rules).localCheckpoint(true)
      val nUrls = urls.count()
      val nV = verdicts.count()
      require(nV == nUrls, s"verdicts $nV != urls $nUrls (conservation)")
      val phantom = verdicts.where(col("blocked"))
        .join(rules.select(col("rule_id")), Seq("rule_id"), "left_anti").count()
      require(phantom == 0, s"$phantom blocked URLs cite a nonexistent rule")
      val keep = urls.join(
        verdicts.where(col("blocked")).select(col("doc_id")),
        Seq("doc_id"), "left_anti").localCheckpoint(true)
      val second = graft.operators.Html.urlFilter(keep, "doc_id", "url", rules)
        .where(col("blocked")).count()
      require(second == 0, s"re-filtering survivors blocked $second more rows")
      s"urls=$nUrls verdicts conserve, drop idempotent"
    }

    // 11. PageRank mass bounds at scale: every rank >= the damping
    //     base, and total mass stays within [N*base, N*scale] — the
    //     conservation envelope integer floor division and damping
    //     leak permit (a join/agg defect that duplicates or drops
    //     rank mass breaks the envelope long before it changes top-k
    //     orderings visibly).
    probe("pagerank_mass") {
      val nDocs = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
      val d = col("doc_id")
      val edges = docs.select(d.as("src"),
          explode(array((d * 2 + 1) % nDocs, (d * 3 + 7) % nDocs,
            (d + 1) % nDocs)).as("dst"))
        .where(col("src") =!= col("dst"))
      val scale = 1L << 20
      val ranks = graft.operators.Graph
        .pageRank(edges, "src", "dst", iters = 3, scale = scale)
        .localCheckpoint(true)
      val nNodes = ranks.count()
      val base = Math.floorDiv(3L * scale, 20L) // (1-d)·scale at d=17/20
      val st = ranks.agg(min("rank"), sum("rank")).head()
      require(st.getLong(0) >= base,
        s"min rank ${st.getLong(0)} below the damping base $base")
      val mass = st.getLong(1)
      require(mass >= base * nNodes && mass <= scale * nNodes,
        s"total mass $mass outside [${base * nNodes}, ${scale * nNodes}]")
      s"nodes=$nNodes mass=$mass in envelope"
    }

    // 12. longest-duplicate report vs the J17b span family (round-14
    //     verdict task 3) — SOUND cross-checks only, each one a
    //     direction that is a theorem, not a data artifact:
    //     (a) certification is row-level REAL: the certifying
    //         (src_doc, src_pos) really holds dup_text, for every doc
    //         with dup_len > 0;
    //     (b) exactly one report row per doc, dup span inside the doc;
    //     (c) every doc holding a J17b maximal span (minLen=8) reports
    //         dup_len >= 8 (a flagged window IS a duplicated run);
    //     (d) every CROSS-doc dup_len >= 8 implies a J17b span of
    //         length >= dup_len in that doc (the whole duplicate's
    //         windows are shared by two docs, so its island covers it).
    //     Equality of dup_len with the max island length is NOT
    //     asserted: islands are unions of windows duplicated against
    //     possibly DIFFERENT sources, so an island can exceed the
    //     longest single duplicated substring by construction.
    probe("longest_dup_vs_spans") {
      val report = graft.operators.Dedup
        .longestDuplicate(docs, "doc_id", "text", rounds = 8)
        .localCheckpoint(true)
      val nDocs = docs.count()
      val nRows = report.count()
      require(nRows == nDocs, s"report rows $nRows != docs $nDocs")
      val toks = docs.select(col("doc_id"),
        split(col("text"), " ").as("toks"))
      val badBounds = report.join(toks, "doc_id")
        .where(col("dup_len") > 0 &&
          (col("dup_pos") + col("dup_len") > size(col("toks")) ||
           col("dup_pos") < 0)).count()
      require(badBounds == 0, s"$badBounds reports point outside their doc")
      val badCert = report.where(col("dup_len") > 0)
        .join(toks.select(col("doc_id").as("src_doc"), col("toks").as("stoks")),
          "src_doc")
        .where(array_join(slice(col("stoks"),
            (col("src_pos") + 1).cast("int"), col("dup_len").cast("int")), " ")
          =!= col("dup_text")).count()
      require(badCert == 0, s"$badCert certifying sources don't hold dup_text")
      val spans = graft.operators.Dedup
        .spanDedupVar(docs, "doc_id", "text", minLen = 8, minDocs = 2)
        .groupBy("doc_id").agg(max(col("span_len")).as("max_island"))
        .localCheckpoint(true)
      val missed = spans.join(report, "doc_id")
        .where(col("dup_len") < 8).count()
      require(missed == 0,
        s"$missed docs hold a J17b span but report dup_len < 8")
      val uncovered = report
        .where(col("dup_len") >= 8 && col("src_doc") =!= col("doc_id"))
        .join(spans, Seq("doc_id"), "left")
        .where(col("max_island").isNull || col("max_island") < col("dup_len"))
        .count()
      require(uncovered == 0,
        s"$uncovered cross-doc duplicates exceed their doc's island cover")
      val dup8 = report.where(col("dup_len") >= 8).count()
      s"docs=$nDocs dup_len>=8 on $dup8, certs row-exact, span family consistent"
    }

    println(s"""{"scale_probe_failures":$failures}""")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
