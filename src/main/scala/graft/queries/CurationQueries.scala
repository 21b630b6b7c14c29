package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Curation

/** Batch 6: corpus-curation operators (SURVEY.md §2 Q) on `documents`. */
object CurationQueries {

  /** 80/10/10 — shared by the query and its oracle so the thresholds
    * can never fork. */
  private val corpusSplits =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** (minWords, minDistinctFrac, maxTopShare) for q_quality_filter —
    * shared by the query and its oracle predicate. */
  private[queries] val qualityThresholds = (30, 0.35, 0.12)

  /** Every adjacent word pair of `text`, one row each. */
  private val bigrams: String = """unnest(list_transform(range(1, len(string_split(text, ' '))),
            i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]))"""

  /** The Q1 signals computation as a composable SELECT (no ORDER BY)
    * — q_quality_signals wraps it with a sort, q_quality_filter with
    * the threshold predicate. */
  private[queries] lazy val qualitySignalsSql: String = s"""
      WITH w AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_words,
               unnest(string_split(text, ' ')) AS word
        FROM documents),
      wc AS (SELECT doc_id, n_words, word, COUNT(*) AS c FROM w GROUP BY 1, 2, 3),
      tops AS (
        SELECT doc_id, n_words,
               CAST(COUNT(*) AS INT) AS n_distinct,
               MAX(c) AS top_word,
               CAST(SUM(len(word) * c) AS BIGINT) AS char_sum
        FROM wc GROUP BY 1, 2),
      bg AS (
        SELECT doc_id,
               $bigrams
               AS bigram
        FROM documents WHERE len(string_split(text, ' ')) >= 2),
      bgc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
      bgt AS (SELECT doc_id, MAX(c) AS top_bigram FROM bgc GROUP BY 1)
      SELECT t.doc_id AS doc_id, CAST(t.n_words AS INT) AS n_words,
             CAST(t.n_distinct AS DOUBLE) / t.n_words AS distinct_word_frac,
             CAST(t.top_word AS DOUBLE) / t.n_words AS top_word_share,
             CAST(b.top_bigram AS DOUBLE) / (t.n_words - 1) AS top_bigram_share,
             CAST(t.char_sum AS DOUBLE) / t.n_words AS mean_word_len
      FROM tops t LEFT JOIN bgt b ON t.doc_id = b.doc_id"""

  /** (src0, src1, default) token budgets for q_source_mix — shared by
    * the query and its oracle CASE. */
  private val mixBudgets = (100L, 100000L, 400L)

  /** Epoch weights for q_source_upsample — src0 runs 2.5 epochs, src1
    * drops out, everything else [[upsampleDefault]]; shared with the
    * oracle CASE. */
  private val upsampleWeights = Map("src0" -> 2.5, "src1" -> 0.0)
  private val upsampleDefault = 1.0

  /** The oracle's copy-count CASE: floor(w) + md5-threshold extra copy,
    * from the SAME `%08x` literals the operator derives — including
    * the default branch, so neither side can fork. */
  private def upsampleCopiesSql: String = {
    def branch(w: Double): String = {
      val base = math.floor(w).toLong
      val thr = Curation.upsampleThresholdHex(w)
      s"$base + (CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '$thr' " +
        "THEN 1 ELSE 0 END)"
    }
    val whens = upsampleWeights.toSeq.sortBy(_._1).map { case (s, w) =>
      s"WHEN source = '$s' THEN ${branch(w)}"
    }.mkString(" ")
    s"CASE $whens ELSE ${branch(upsampleDefault)} END"
  }

  /** (name, regex, replacement) for [[Curation.piiScrub]] — shared
    * verbatim with the oracle SQL; RE2 ∩ java.util.regex dialect only
    * (DuckDB is RE2, Spark is java.util.regex). */
  private val piiPatterns = Seq(
    ("emails", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phones", "\\b555-[0-9]{4}\\b", "<PHONE>"),
    ("ips", "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b", "<IP>"))

  /** Q18 oracle — the ENTIRE training loop unrolled: epoch k's CTEs
    * recompute margins under w_{k-1}, hard-sigmoid errors (nonneg
    * clamp then `>> 2` — exact floor/4), per-bucket gradient sums and
    * the clipped floor-division update (nonnegative-offset trick:
    * `(g + OFF*4n) // 4n - OFF` — truncation equals floor because the
    * numerator is nonnegative, matching Math.floorDiv on the Spark
    * driver bit-for-bit). Integer arithmetic end to end — no doubles
    * to drift. Constants mirror Classifier: S=2^20, clip ±2S, B=64,
    * intercept bucket 64, 4 epochs, label source='src0'. */
  private def classifierOracleSql: String = {
    val B = 64; val epochs = 4
    val s = graft.operators.Classifier.S          // 1048576
    val off = s / 4 + 1                           // |g|/(4n) <= S/4
    val clamp = (m: String) =>
      s"(GREATEST(CAST(0 AS BIGINT), LEAST(CAST(${4 * s} AS BIGINT), $m + ${2 * s})) >> 2)"
    val head = s"""
      WITH tok AS (
        SELECT doc_id, (source = 'src0') AS y,
               unnest(string_split(text, ' ')) AS t
        FROM documents),
      fb AS (
        SELECT DISTINCT doc_id, y,
               CAST(CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT) % $B AS INT)
                 AS bucket
        FROM tok
        UNION ALL
        SELECT doc_id, (source = 'src0') AS y, $B AS bucket FROM documents),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      w0 AS (SELECT CAST(range AS INT) AS bucket, CAST(0 AS BIGINT) AS w
             FROM range(${B + 1}))"""
    val rounds = (1 to epochs).map { k =>
      val p = k - 1
      s""",
      m$k AS (
        SELECT f.doc_id, f.y, CAST(SUM(w.w) AS BIGINT) AS m
        FROM fb f JOIN w$p w USING (bucket) GROUP BY f.doc_id, f.y),
      e$k AS (
        SELECT doc_id,
               ${clamp("m")} - CASE WHEN y THEN $s ELSE 0 END AS e
        FROM m$k),
      g$k AS (
        SELECT f.bucket, CAST(SUM(e.e) AS BIGINT) AS g
        FROM fb f JOIN e$k e USING (doc_id) GROUP BY f.bucket),
      w$k AS (
        SELECT w.bucket,
               GREATEST(CAST(${-2 * s} AS BIGINT), LEAST(CAST(${2 * s} AS BIGINT),
                 w.w - (((COALESCE(g.g, 0) + $off * (4 * nn.n)) // (4 * nn.n))
                        - $off))) AS w
        FROM w$p w LEFT JOIN g$k g USING (bucket) CROSS JOIN nn)"""
    }.mkString
    head + rounds + s""",
      ms AS (
        SELECT f.doc_id, f.y, CAST(SUM(w.w) AS BIGINT) AS margin
        FROM fb f JOIN w$epochs w USING (bucket) GROUP BY f.doc_id, f.y)
      SELECT doc_id, margin,
             ${clamp("margin")} AS score,
             2 * ${clamp("margin")} >= $s AS kept
      FROM ms WHERE NOT y ORDER BY doc_id"""
  }

  /** The exact top-100 bigrams: q_ngram_topk, and q_ngram_sketch_topk
    * while its sketch stays below capacity. */
  private val ngramTopKOracle: String = s"""
      WITH c AS (
        SELECT bigram AS ngram, COUNT(*) AS cnt FROM (
          SELECT $bigrams AS bigram
          FROM documents WHERE len(string_split(text, ' ')) >= 2) g
        GROUP BY 1)
      SELECT ngram, cnt,
             CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, ngram) AS INT) AS rank
      FROM c ORDER BY cnt DESC, ngram LIMIT 100"""

  val queries: Seq[Query] = Seq(
    // max word multiplicity via token unnest + group; Spark computes the
    // same number as the longest run of the per-row sorted array
    Query("q_quality_signals", s"$qualitySignalsSql ORDER BY doc_id", { (s, dir) =>
      Curation.repetitionSignals(Tables.documents(s, dir), Seq("doc_id"), "text")
    }),
    // Q16 — DSIR importance resampling: src0 is the target domain,
    // every other source is the raw corpus being selected from;
    // row-level gate over (doc_id, weight, kept) — any drift in the
    // hashed-bucket stats, the quantized ratio, the weight sum or the
    // integer keep decision changes rows
    // Q16 — full replay: hashed buckets, smoothed quantized ratios
    // (integer products cast to double for ONE division, the §7.5.15
    // grid trick), exact weight sums, integer cross-multiplied keep.
    // CASE keeps the weight*2^32 product inside the weight<cap branch
    // (DuckDB errors on BIGINT overflow where Spark would wrap).
    Query("q_importance_resample", """
      WITH tok AS (
        SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
      g AS (
        SELECT doc_id, (source = 'src0') AS tgt,
               unnest(list_transform(range(1, len(toks)),
                 i -> toks[i] || ' ' || toks[i+1])) AS gram
        FROM tok WHERE len(toks) >= 2),
      gb AS (
        SELECT doc_id, tgt,
               CAST(CAST(('0x' || substring(md5(gram), 1, 8)) AS BIGINT) % 64 AS INT)
                 AS bucket
        FROM g),
      st AS (
        SELECT bucket,
               CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS t,
               CAST(SUM(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS s
        FROM gb GROUP BY bucket),
      tt AS (
        SELECT CAST(SUM(t) AS BIGINT) AS tt, CAST(SUM(s) AS BIGINT) AS ss FROM st),
      q AS (
        SELECT bucket,
               CAST(floor(
                 CAST((2*t+1)*(2*ss+64) AS DOUBLE) /
                 CAST((2*s+1)*(2*tt+64) AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) AS q
        FROM st CROSS JOIN tt),
      fw AS (
        SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS f
        FROM gb WHERE NOT tgt GROUP BY doc_id, bucket),
      w AS (
        SELECT doc_id, CAST(SUM(f * q) AS BIGINT) AS weight
        FROM fw JOIN q USING (bucket) GROUP BY doc_id)
      SELECT doc_id, weight,
             CASE WHEN weight >= 268435456 THEN TRUE
                  ELSE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) * 268435456 < weight * 4294967296 END AS kept
      FROM w ORDER BY doc_id""", { (s, dir) =>
      graft.operators.Importance.resample(
        Tables.documents(s, dir), "doc_id", "text",
        col("source") === "src0", buckets = 64, cap = 1L << 28)
    }),
    // Q18 — the LEARNED quality filter: hashed-BoW hard-sigmoid
    // logistic unit, full-batch GD, ZERO floating point anywhere —
    // fit on src0 as the curated seed, score + cut the wild side.
    // The oracle replays the whole training loop epoch-by-epoch in
    // unrolled CTEs, so a drift in any margin, gradient sum, floor
    // division or clip on ANY epoch moves a weight and fails the hash.
    Query("q_quality_classifier", classifierOracleSql, { (s, dir) =>
      graft.operators.Classifier.trainAndScore(
        Tables.documents(s, dir), "doc_id", "text",
        col("source") === "src0", buckets = 64, epochs = 4)
    }),
    // Q15 — the Gopher-threshold keep decision over the Q1 signals:
    // the oracle wraps the shared signals body in the identical
    // threshold predicate, so a drift in either the signals or the cut
    // changes the survivor rows
    Query("q_quality_filter", s"""
      SELECT doc_id, n_words, distinct_word_frac, top_word_share
      FROM ($qualitySignalsSql)
      WHERE n_words >= ${qualityThresholds._1}
        AND distinct_word_frac >= ${qualityThresholds._2}
        AND top_word_share <= ${qualityThresholds._3}
      ORDER BY doc_id""", { (s, dir) =>
      Curation.qualityFilter(
        Tables.documents(s, dir), "doc_id", "text",
        minWords = qualityThresholds._1,
        minDistinctFrac = qualityThresholds._2,
        maxTopShare = qualityThresholds._3)
    }),
    Query("q_stratified_sample", """
      SELECT source, doc_id, CAST(rn AS INT) AS rn FROM (
        SELECT source, doc_id,
               ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS cnt
        FROM documents) t
      WHERE rn <= GREATEST(1, CAST(CEIL(cnt * 0.2) AS BIGINT))
      ORDER BY source, doc_id""", { (s, dir) =>
      Curation.stratifiedSample(
        Tables.documents(s, dir).select("doc_id", "source"),
        Seq("source"), "doc_id", frac = 0.2)
    }),
    Query("q_domain_topk", """
      SELECT source, doc_id, n_chars, CAST(rank AS INT) AS rank FROM (
        SELECT source, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY n_chars DESC, doc_id) AS rank
        FROM documents) t
      WHERE rank <= 3 ORDER BY source, rank""", { (s, dir) =>
      Curation.domainTopK(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "source", "n_chars", "doc_id", k = 3)
    }),
    Query("q_token_pack", s"""
      WITH d AS (
        SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS sz
        FROM documents),${OracleSql.packBins}""", { (s, dir) =>
      Curation.packSequences(
        Tables.documents(s, dir), "source", "doc_id",
        size(split(col("text"), " ")).cast("long"), budget = 256L)
    }),
    // Q20 — deterministic epoch shuffle + token-budget shard layout:
    // row-level gate (doc_id, n_tokens, tok_offset, shard_id) — the
    // two-level distributed prefix sum must equal the oracle's ONE
    // global running-sum window exactly; a bucket boundary error, a
    // tie-break drift or an off-by-one in the carry shifts an offset.
    Query("q_shard_shuffle", """
      WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               ((((doc_id + 7) % 2147483648 + 2147483648) % 2147483648)
                 * 2654435761) % 2147483648 AS hkey
        FROM documents),
      o AS (
        SELECT doc_id, n_tokens,
          CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY hkey, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
        FROM t)
      SELECT doc_id, n_tokens, tok_offset, tok_offset // 4096 AS shard_id
      FROM o ORDER BY doc_id""", { (s, dir) =>
      Curation.shardShuffle(
        Tables.documents(s, dir), "doc_id",
        size(split(col("text"), " ")).cast("long"),
        budget = 4096L, seed = 7L)
    }),
    // Q21 — C4-style blocklist-term cut: exact-token verdicts with
    // distinct-hit counts and alphabetical first-term attribution;
    // row-level gate — a tokenization or dedup-before-join drift
    // changes n_hits, a join defect changes verdicts
    // distinct-word explode + exact-token join, the same dedup-first
    // shape; left join preserves unblocked rows
    Query("q_term_filter", """
      WITH w AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        FROM documents),
      t AS (SELECT * FROM (VALUES ('spark'), ('window'), ('zz_missing')) AS t(term)),
      m AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits, MIN(w) AS first_term
        FROM w JOIN t ON w = term GROUP BY doc_id)
      SELECT d.doc_id, m.n_hits IS NOT NULL AS blocked,
             COALESCE(m.n_hits, 0) AS n_hits, m.first_term
      FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
      ORDER BY d.doc_id""", { (s, dir) =>
      import s.implicits._
      val terms = Seq("spark", "window", "zz_missing").toDF("term")
      Curation.termFilter(Tables.documents(s, dir), "doc_id", "text", terms)
    }),
    Query("q_ngram_topk", ngramTopKOracle, { (s, dir) =>
      Curation.ngramTopK(Tables.documents(s, dir), "text", n = 2, k = 100)
    }),
    // Q10 gate — the MG sketch against the EXACT top-k oracle
    // verbatim (K3's "exact at verify scales" pattern): capacity is
    // sized from a distinct-estimate pre-pass (1.5× margin, pow-2) so
    // the sketch stays in its exact regime at ANY verify scale — the
    // fixed capacity 4096 silently left it when the sf1 clone's
    // vocabulary hit ~9.3k distinct bigrams. No decrement ever fires,
    // so any sketch/merge regression breaks the row hash; the
    // fixed-capacity production path's MG bound is spec-held.
    Query("q_ngram_sketch_topk", ngramTopKOracle, { (s, dir) =>
      Curation.ngramTopKSketchAuto(
        Tables.documents(s, dir), "text", n = 2, k = 100)
    }),
    // decontamination: src0 docs stand in for the benchmark set
    Query("q_decontaminate", """
      WITH g AS (
        SELECT doc_id, source,
               unnest(list_distinct(list_transform(
                 range(1, len(string_split(text, ' ')) - 3),
                 i -> array_to_string(string_split(text, ' ')[i:i + 4], ' ')))) AS gram
        FROM documents WHERE len(string_split(text, ' ')) >= 5)
      SELECT t.doc_id, COUNT(*) AS n_shared_ngrams
      FROM (SELECT * FROM g WHERE source <> 'src0') t
      JOIN (SELECT DISTINCT gram FROM g WHERE source = 'src0') b USING (gram)
      GROUP BY t.doc_id ORDER BY t.doc_id""", { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Curation.decontaminate(
        docs.where(col("source") =!= "src0"),
        docs.where(col("source") === "src0"),
        "doc_id", "text", n = 5)
    }),
    // Q17 — fuzzy decontamination: train docs minhash-matched against
    // the src0 benchmark set, exact-verified on candidates. The oracle
    // enumerates ALL exact train×bench jaccard >= 0.5 pairs with an
    // UNBLOCKED inverted index, so an LSH recall miss at the threshold
    // deletes a row and the hash fails (the J2 contract, cross-table).
    Query("q_decontaminate_fuzzy", """
      WITH g0 AS (
        SELECT doc_id, source, list_distinct(list_transform(
          range(1, len(string_split(text, ' ')) - 1),
          i -> array_to_string(string_split(text, ' ')[i:i + 2], ' '))) AS grams
        FROM documents WHERE len(string_split(text, ' ')) >= 3),
      g AS (SELECT doc_id, source, len(grams) AS n, unnest(grams) AS gram FROM g0),
      t AS (SELECT * FROM g WHERE source <> 'src0'),
      b AS (SELECT * FROM g WHERE source = 'src0'),
      pairs AS (
        SELECT t.doc_id AS doc_id, b.doc_id AS bench_id,
               COUNT(*) AS c, ANY_VALUE(t.n) AS nt, ANY_VALUE(b.n) AS nb
        FROM t JOIN b USING (gram) GROUP BY 1, 2),
      scored AS (
        SELECT doc_id, bench_id,
               CAST(c AS DOUBLE) / CAST(nt + nb - c AS DOUBLE) AS jaccard
        FROM pairs
        WHERE CAST(c AS DOUBLE) / CAST(nt + nb - c AS DOUBLE) >= 0.5)
      SELECT doc_id,
             -(MAX(struct_pack(j := jaccard, nbid := -bench_id)).nbid) AS bench_id,
             MAX(struct_pack(j := jaccard, nbid := -bench_id)).j AS jaccard
      FROM scored GROUP BY doc_id ORDER BY doc_id""", { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Curation.fuzzyDecontaminate(
        docs.where(col("source") =!= "src0"),
        docs.where(col("source") === "src0"),
        "doc_id", "text", shingleN = 3, minJaccard = 0.5)
    }),
    // Q11 — the Bloom scale path gated on EXACT-join parity: filter
    // false negatives are impossible and survivors re-verify exactly,
    // so any bloom build/probe defect shows up as missing rows against
    // the oracle's plain exact join. Blocking scenario: train split
    // decontaminated against the held-out test split (q_corpus_split's
    // assignment), the case where the bench side outgrows a broadcast.
    Query("q_decontaminate_bloom", s"""
      WITH sp AS (
        SELECT doc_id, text, $splitCaseSql AS split FROM documents),
      g AS (
        SELECT doc_id, split,
               unnest(list_distinct(list_transform(
                 range(1, len(string_split(text, ' ')) - 3),
                 i -> array_to_string(string_split(text, ' ')[i:i + 4], ' ')))) AS gram
        FROM sp WHERE len(string_split(text, ' ')) >= 5)
      SELECT t.doc_id, COUNT(*) AS n_shared_ngrams
      FROM (SELECT * FROM g WHERE split = 'train') t
      JOIN (SELECT DISTINCT gram FROM g WHERE split = 'test') b USING (gram)
      GROUP BY t.doc_id ORDER BY t.doc_id""", { (s, dir) =>
      val docs = Curation.assignSplits(
        Tables.documents(s, dir), "doc_id", corpusSplits)
      Curation.decontaminateBloom(
        docs.where(col("split") === "train"),
        docs.where(col("split") === "test"),
        "doc_id", "text", n = 5)
    }),
    // Q12 — PII redaction: the corpus has no digits/addresses, so the
    // query INJECTS deterministic doc_id-derived PII (the M1 pattern:
    // synthesize real bytes, then run the real decoder), scrubs it
    // with the shared RE2∩Java regexes, and the oracle replays both
    // injection and scrub — counts AND the full redacted text are
    // row-hashed.
    // sequential replay: each count runs on the text as it stands when
    // that pattern fires, mirroring piiScrub's counts == markers
    // reconciliation contract
    Query("q_pii_scrub", s"""
      WITH inj AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                    || ' or call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' AS t0
        FROM documents),
      s1 AS (SELECT doc_id, t0,
               regexp_replace(t0, '${piiPatterns(0)._2}', '${piiPatterns(0)._3}', 'g') AS t1
             FROM inj),
      s2 AS (SELECT doc_id, t0, t1,
               regexp_replace(t1, '${piiPatterns(1)._2}', '${piiPatterns(1)._3}', 'g') AS t2
             FROM s1)
      SELECT doc_id,
             CAST(len(regexp_extract_all(t0, '${piiPatterns(0)._2}')) AS INT) AS n_emails,
             CAST(len(regexp_extract_all(t1, '${piiPatterns(1)._2}')) AS INT) AS n_phones,
             CAST(len(regexp_extract_all(t2, '${piiPatterns(2)._2}')) AS INT) AS n_ips,
             regexp_replace(t2, '${piiPatterns(2)._2}', '${piiPatterns(2)._3}', 'g') AS scrubbed
      FROM s2 ORDER BY doc_id""", { (s, dir) =>
      val injected = Tables.documents(s, dir).select(
        col("doc_id"),
        concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
          lit(" or call 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" from 10."), (col("doc_id") % 256).cast("string"), lit(".0.1")
        ).as("text"))
      // fused one-scan scrub; identical to the sequential form here
      // because the injected matches are mutually disjoint (PiiScrubSpec
      // holds the parity), so the sequential oracle replay still gates it
      Curation.piiScrubFused(injected, "doc_id", "text", piiPatterns)
    }),
    // Q13 — token-budget source mixing: per-source budgets from the
    // shared CASE (src0 squeezed, src1 roomy, default 400), md5-order
    // cut; row-level gate — any ordering/budget/cutoff drift changes
    // rows.
    Query("q_source_mix", s"""
      WITH d AS (
        SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CASE WHEN source = 'src0' THEN ${mixBudgets._1}
                    WHEN source = 'src1' THEN ${mixBudgets._2}
                    ELSE ${mixBudgets._3} END AS budget
        FROM documents),
      r AS (
        SELECT source, doc_id, n_tokens, budget,
               CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                 AS tokens_before
        FROM d)
      SELECT source, doc_id, n_tokens, tokens_before
      FROM r WHERE tokens_before < budget
      ORDER BY source, doc_id""", { (s, dir) =>
      val budget = when(col("source") === "src0", lit(mixBudgets._1))
        .when(col("source") === "src1", lit(mixBudgets._2))
        .otherwise(lit(mixBudgets._3))
      Curation.tokenBudgetMix(
        Tables.documents(s, dir), "source", "doc_id",
        size(split(col("text"), " ")).cast("long"), budget)
    }),
    // Q14 — epoch upsampling: src0 runs 2.5 epochs, src1 is dropped,
    // everything else 1 epoch; row-level gate over (source, doc_id,
    // epoch) — any threshold/copy-count drift changes rows.
    Query("q_source_upsample", s"""
      WITH c AS (
        SELECT source, doc_id, $upsampleCopiesSql AS copies
        FROM documents),
      e AS (
        SELECT source, doc_id, CAST(unnest(range(1, copies + 1)) AS BIGINT) AS epoch
        FROM c WHERE copies >= 1)
      SELECT source, doc_id, epoch FROM e
      ORDER BY source, doc_id, epoch""", { (s, dir) =>
      Curation.sourceUpsample(
        Tables.documents(s, dir).select("source", "doc_id"),
        "source", "doc_id", upsampleWeights, upsampleDefault)
    }),
    Query("q_tfidf_terms", """
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
      n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
      s AS (SELECT doc_id, term, tf, df, CAST(tf * n AS DOUBLE) / df AS score
            FROM tf JOIN dfq USING (term) CROSS JOIN n)
      SELECT doc_id, term, tf, df, score, CAST(rank AS INT) AS rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        FROM s) t
      WHERE rank <= 3 ORDER BY doc_id, rank""", { (s, dir) =>
      Curation.tfidfTopTerms(Tables.documents(s, dir), "doc_id", "text", k = 3)
    }),
    // context-window chunking: 32-token chunks, 8-token overlap
    Query("q_chunk_docs", """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      c AS (SELECT doc_id, toks, len(toks) AS n,
              unnest(range(0, (GREATEST(len(toks) - 8, 1) + 23) // 24)) AS i
            FROM t)
      SELECT doc_id, CAST(i AS INT) AS chunk_idx,
             array_to_string(toks[i * 24 + 1 : i * 24 + 32], ' ') AS chunk_text,
             CAST(LEAST(32, n - i * 24) AS INT) AS n_chunk_tokens
      FROM c ORDER BY doc_id, chunk_idx""", { (s, dir) =>
      Curation.chunkDocuments(
        Tables.documents(s, dir), "doc_id", "text", chunkSize = 32, overlap = 8)
    }),
    // Q9 — deterministic hash-split; row-level gate (doc_id, split):
    // the oracle recomputes the identical md5-prefix CASE, so any
    // threshold or hashing drift flips row hashes.
    Query("q_corpus_split", s"""
      SELECT doc_id, $splitCaseSql AS split, n_chars
      FROM documents ORDER BY doc_id""", { (s, dir) =>
      Curation.assignSplits(
          Tables.documents(s, dir).select("doc_id", "n_chars"), "doc_id", corpusSplits)
        .select("doc_id", "split", "n_chars")
        .orderBy("doc_id")
    }),
  )

  /** The oracle's CASE over the SAME `%08x` thresholds the operator
    * derives (md5 hex is lowercase in both engines, so the lexicographic
    * range comparison is engine-portable). */
  private def splitCaseSql: String = {
    val th = Curation.splitThresholds(corpusSplits.map(_._2))
    val whens = corpusSplits.init.zip(th).map { case ((nm, _), t) =>
      s"WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '$t' THEN '$nm'"
    }.mkString(" ")
    s"CASE $whens ELSE '${corpusSplits.last._1}' END"
  }
}
