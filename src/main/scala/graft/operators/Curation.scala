package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for large-scale training-data pipelines:
  * repetition-based quality signals (the Gopher filter family),
  * deterministic stratified sampling, per-domain top-k selection and
  * token-budget sequence packing.
  *
  * Scale posture: `repetitionSignals` is per-row column algebra (no
  * shuffle — the 100 TB shape is a map-only pass over the corpus);
  * sampling/top-k are single-window ops (one shuffle on the stratum
  * key, bounded-heap `WindowGroupLimit` for top-k); packing is one
  * running-sum window over (group, order).
  */
object Curation {

  /** Max element multiplicity of an array — sort + longest-run, no
    * explode, no shuffle. (An explode→groupBy would shuffle every token
    * in the corpus; at 100 TB that is the difference between a map-only
    * scan and a trillion-row exchange.) Default path is the native
    * codegen'd [[graft.functions.MaxMultiplicity]]; the HOF fold below
    * is the bit-equal reference implementation (CurationSpec). */
  private def maxMultiplicity(arr: Column): Column =
    graft.functions.HashFunctions.max_multiplicity(arr)

  private[graft] def maxMultiplicityHof(arr: Column): Column =
    aggregate(
      sort_array(arr),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("mx")),
      (acc, w) => {
        val run = when(w === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(w.as("prev"), run.as("run"),
          greatest(acc.getField("mx"), run).as("mx"))
      },
      acc => acc.getField("mx"))

  /** Gopher-style repetition signals per document (ref quality-filter
    * analogue of `transformers/` per-entity stats; public spec: Rae et
    * al. 2021 "Scaling Language Models" table A1): distinct-word
    * fraction, top word / top bigram share, mean word length. All
    * fractions are exact integer-ratio doubles → engine-portable.
    *
    * All five integer counts come from ONE compiled pass
    * ([[graft.functions.RepetitionStats]]); the previous composed form
    * needed four CodegenFallback higher-order functions per document
    * (an interpreted lambda per token) plus two sort-based
    * multiplicity passes. [[repetitionSignalsHof]] keeps that column
    * algebra as the bit-equal reference (CurationSpec). */
  def repetitionSignals(df: DataFrame, idCols: Seq[String], textCol: String): DataFrame =
    repetitionSignalsUnordered(df, idCols, textCol).orderBy(idCols.map(col): _*)

  private def repetitionSignalsUnordered(
      df: DataFrame, idCols: Seq[String], textCol: String): DataFrame = {
    val st = col("__st")
    val n = st.getField("n_words")
    df.withColumn("__st",
        graft.functions.HashFunctions.repetition_stats(split(col(textCol), " ")))
      .select(
        idCols.map(col) ++ Seq(
          n.as("n_words"),
          (st.getField("n_distinct").cast("double") / n).as("distinct_word_frac"),
          (st.getField("top_word").cast("double") / n).as("top_word_share"),
          when(n >= 2, st.getField("top_bigram").cast("double") / (n - 1))
            .as("top_bigram_share"),
          (st.getField("char_sum").cast("double") / n).as("mean_word_len")): _*)
  }

  /** The composed column-algebra form of [[repetitionSignals]] — the
    * bit-equal reference implementation (HOF folds + sort-based
    * multiplicities), kept for the parity spec. */
  private[graft] def repetitionSignalsHof(
      df: DataFrame, idCols: Seq[String], textCol: String): DataFrame = {
    // Materialize the token array FIRST: lambda bodies referencing the
    // split(...) expression re-evaluate it once per array element
    // (lambdas don't cache subexpressions) — an O(L²) re-split per doc.
    // Behind a bound column reference each signal is one O(L log L) pass.
    val words = col("__words")
    val n = size(words)
    // bigram i = zip(words, words[2:]) — no per-element indexed lookup
    val bigrams = zip_with(words, slice(words, lit(2), n - 1),
      (a, b) => when(b.isNotNull, concat_ws(" ", a, b)))
    df.withColumn("__words", split(col(textCol), " "))
      .select(
        idCols.map(col) ++ Seq(
          n.as("n_words"),
          (size(array_distinct(words)).cast("double") / n).as("distinct_word_frac"),
          (maxMultiplicity(words).cast("double") / n).as("top_word_share"),
          when(n >= 2,
            maxMultiplicity(filter(bigrams, _.isNotNull)).cast("double") / (n - 1))
            .as("top_bigram_share"),
          (aggregate(words, lit(0L), (acc, w) => acc + length(w)).cast("double") / n)
            .as("mean_word_len")): _*)
      .orderBy(idCols.map(col): _*)
  }

  /** `%08x` md5-prefix threshold for the FRACTIONAL part of an
    * upsampling weight (see [[sourceUpsample]]) — exposed so a gate
    * oracle can embed the SAME literal. */
  private[graft] def upsampleThresholdHex(w: Double): String =
    hexThreshold(w - math.floor(w))

  /** `%08x` hex literal for a probability p ∈ [0, 1] against an
    * 8-hex-digit md5 prefix — THE shared scale-and-format step for
    * every md5-threshold trick in this file. Clamped to 0xFFFFFFFF:
    * p within one ulp of 1.0 can round to exactly 2^32, whose `%08x`
    * is NINE digits and lexicographically tiny against an 8-digit
    * prefix (the fraction would silently collapse from ~100% to
    * ~6%). */
  private def hexThreshold(p: Double): String =
    f"${math.max(0L, math.min((p * 4294967296.0).toLong, 0xFFFFFFFFL))}%08x"

  /** Cumulative-weight hex thresholds for [[assignSplits]]: the first
    * 8 md5 hex digits are uniform over [0, 2³²), so split i owns the
    * lexicographic range [t_{i−1}, t_i) of `%08x`-formatted
    * `floor(cum_i · 2³²)`. Exposed so a gate oracle can embed the SAME
    * literals (threshold derivation must never fork between engines). */
  private[graft] def splitThresholds(weights: Seq[Double]): Seq[String] = {
    require(weights.forall(_ > 0), "assignSplits: weights must be > 0")
    require(math.abs(weights.sum - 1.0) < 1e-9,
      s"assignSplits: weights must sum to 1, got ${weights.sum}")
    weights.scanLeft(0.0)(_ + _).tail.init
      .map(hexThreshold)
  }

  /** Deterministic train/val/test corpus split: rows assign to the
    * named splits by the first 8 hex digits of `md5(id)` against the
    * cumulative-weight thresholds — reshuffle-stable, engine-portable
    * (md5 hex is identical everywhere; `rand(seed)` is not: it is
    * partition-dependent, so a repartition would silently reassign
    * rows). Map-only: one codegen'd projection over the corpus, zero
    * shuffle — the 100 TB shape for the split step of a training-data
    * pipeline. */
  def assignSplits(
      df: DataFrame, idCol: String, splits: Seq[(String, Double)]): DataFrame = {
    require(splits.size >= 2, "assignSplits: need at least 2 splits")
    val thresholds = splitThresholds(splits.map(_._2))
    val h = substring(md5(col(idCol).cast("string")), 1, 8)
    var assigned = when(h < thresholds.head, lit(splits.head._1))
    for (((name, _), th) <- splits.tail.init.zip(thresholds.tail))
      assigned = assigned.when(h < th, lit(name))
    df.withColumn("split", assigned.otherwise(lit(splits.last._1)))
  }

  /** Deterministic stratified sample: within each stratum keep
    * `ceil(frac · stratum_size)` rows ordered by `md5(id)` — a
    * reshuffle-stable, engine-portable pseudo-random order (md5 is
    * identical everywhere, unlike xxhash64/random()). One shuffle on
    * the stratum key; both windows share its partitioning. */
  def stratifiedSample(
      df: DataFrame, strataCols: Seq[String], idCol: String, frac: Double): DataFrame = {
    val part = Window.partitionBy(strataCols.map(col): _*)
    val w = part.orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("rn", row_number().over(w))
      .withColumn("__cnt", count(lit(1)).over(part))
      .where(col("rn") <= greatest(lit(1L), ceil(col("__cnt") * lit(frac)).cast("long")))
      .drop("__cnt")
      .orderBy((strataCols :+ idCol).map(col): _*)
  }

  /** Top-k rows per domain by a score column (quality-ranked corpus
    * trim). `row_number <= k` plans as Partial+Final `WindowGroupLimit`
    * — a bounded heap BEFORE the shuffle, so only k·domains rows move. */
  def domainTopK(
      df: DataFrame, domainCol: String, scoreCol: String, tieCol: String,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col(domainCol))
      .orderBy(col(scoreCol).desc, col(tieCol))
    df.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .orderBy(col(domainCol), col("rank"))
  }

  /** Word n-grams over a token-array column as strings
    * (engine-portable — hashed variants live in
    * [[graft.functions.HashFunctions]]). Default path is the native
    * codegen'd [[graft.functions.StringNgrams]] (one compiled pass,
    * total on short inputs); the HOF below is the bit-equal reference
    * for ≥ n tokens (CurationSpec). */
  private def ngramsFromTokens(toks: Column, n: Int): Column =
    graft.functions.HashFunctions.string_ngrams(toks, n)

  /** The composed reference form: a CodegenFallback lambda per gram,
    * each slicing a window copy; `toks` must be a bound column, not a
    * `split(...)` expression — a lambda body referencing an expression
    * re-evaluates it per element (O(L²) re-split per doc). Partial on
    * short inputs (`sequence(0, negative)` descends into a slice(0)
    * error), so callers pre-filter `size >= n`. */
  private[graft] def ngramsFromTokensHof(toks: Column, n: Int): Column =
    transform(sequence(lit(0), size(toks) - n),
      i => concat_ws(" ", slice(toks, i + lit(1), lit(n))))

  /** Corpus-level top-k n-grams by frequency. explode→partial-agg
    * shuffle (map-side combine collapses the heavy hitters before the
    * exchange), then `TakeOrdered` top-k — never a single-partition
    * global window; the rank is attached after the k-row cut. */
  def ngramTopK(df: DataFrame, textCol: String, n: Int, k: Int): DataFrame = {
    val counts = df
      .withColumn("__toks", split(col(textCol), " "))
      .select(explode(ngramsFromTokens(col("__toks"), n)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram")).limit(k)
    counts.withColumn("rank",
      row_number().over(Window.orderBy(col("cnt").desc, col("ngram"))))
  }

  /** Q10 — corpus top-k n-grams via the mergeable Misra-Gries sketch
    * ([[graft.functions.HeavyHitters]]): per-row n-gram arrays fold
    * into fixed-`capacity` counter maps (map-only over the corpus, no
    * token explode), one ≤capacity sketch per partition merges
    * associatively, and the final array unpacks to (ngram, est, rank).
    * The 100 TB twin of [[ngramTopK]]: the exact path's exchange is
    * vocabulary-sized; this one's is `capacity` rows total.
    * MG guarantee: `true − N/capacity ≤ est ≤ true`, every term with
    * `true > N/capacity` present; estimates are EXACT whenever the
    * distinct-term count stays ≤ capacity. */
  def ngramTopKSketch(
      df: DataFrame, textCol: String, n: Int, k: Int, capacity: Int): DataFrame = {
    val sketch = df
      .withColumn("__toks", split(col(textCol), " "))
      .where(size(col("__toks")) >= n)
      .agg(graft.functions.HashFunctions.heavy_hitters(
        ngramsFromTokens(col("__toks"), n), capacity).as("sk"))
      .select(explode(slice(col("sk"), 1, k)).as("e"))
    sketch.select(
      col("e.term").as("ngram"), col("e.est").as("cnt"),
      row_number().over(
        Window.orderBy(col("e.est").desc, col("e.term"))).as("rank"))
  }

  /** Q10 gate wiring — [[ngramTopKSketch]] with `capacity` sized from a
    * distinct-estimate pre-pass so the sketch stays in its EXACT regime
    * (distinct terms ≤ capacity) at any verify scale: one map-only HLL
    * pass over the gram stream (exchange = one sketch per partition, one
    * bounded number to the driver — the IVF-codebook collect shape),
    * then capacity = next pow-2 ≥ max(minCapacity, 1.5 × estimate)
    * (HLL's default ±5% rel-sd is far inside the 1.5× margin). The
    * corpus vocabulary grew past the old fixed 4096 between sf0.1 and
    * sf1, silently leaving the exact regime; production keeps a FIXED
    * capacity and takes the `est ∈ [true − N/capacity, true]` bound
    * (spec-held in CurationSpec). */
  def ngramTopKSketchAuto(
      df: DataFrame, textCol: String, n: Int, k: Int,
      minCapacity: Int = 4096): DataFrame = {
    val est = df
      .withColumn("__toks", split(col(textCol), " "))
      .where(size(col("__toks")) >= n)
      .select(explode(ngramsFromTokens(col("__toks"), n)).as("__g"))
      .agg(approx_count_distinct(col("__g")).as("d"))
      .head().getLong(0)
    val want = math.max(minCapacity.toLong, (est * 3 + 1) / 2)
    val capacity = java.lang.Long.highestOneBit(math.max(1L, want * 2 - 1))
    require(capacity <= (1L << 24),
      s"ngramTopKSketchAuto: derived capacity $capacity exceeds 2^24 — " +
        s"vocabulary estimate $est is beyond the exact-gate regime; use " +
        "ngramTopKSketch with a fixed capacity and the MG error bound")
    ngramTopKSketch(df, textCol, n, k, capacity.toInt)
  }

  /** Benchmark decontamination: flag corpus docs sharing any word
    * n-gram with a benchmark set (the standard pre-training hygiene
    * pass). Distinct n-grams explode on both sides; the bench side
    * (tiny) broadcasts into the join, so the corpus side is a map-only
    * scan — no corpus shuffle until the per-doc count, which only sees
    * MATCHING grams. */
  def decontaminate(
      train: DataFrame, bench: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val benchGrams = docGrams(bench, textCol, n).select("gram").distinct()
    docGrams(train, textCol, n, col(idCol))
      .join(broadcast(benchGrams), "gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_ngrams"))
      .orderBy(col(idCol))
  }

  /** Q17 — FUZZY benchmark decontamination: flag corpus docs whose
    * n-gram Jaccard similarity to ANY benchmark doc reaches
    * `minJaccard`, reporting the most-similar benchmark doc. Exact
    * n-gram containment (Q6/Q11) misses lightly-edited benchmark
    * copies (reworded prompt, shuffled whitespace); near-duplicate
    * matching is the hygiene pass production pipelines layer on top
    * (Brown et al. 2020 §C dedups eval overlaps fuzzily; Touvron et
    * al. 2023 use minhash against eval sets).
    *
    * Shape: MinHash/LSH across the TWO tables — band both sides
    * (exchange ∝ 16 longs/doc, the J2 posture), join train×bench on
    * (band, bucket) for candidates, then EXACT-verify each candidate
    * pair on its distinct-shingle sets (`array_intersect` on the two
    * hash arrays — candidates only, never all pairs). Per train doc
    * the best (max jaccard, min bench_id) match survives. The gate's
    * oracle enumerates exact train×bench jaccard ≥ threshold pairs
    * UNBLOCKED (inverted index), so any banding recall miss at the
    * threshold deletes a row and fails the hash — same contract as
    * the J2 gate. */
  def fuzzyDecontaminate(
      train: DataFrame, bench: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      maxBucket: Int = 1000, minJaccard: Double = 0.5): DataFrame = {
    // Signature frames materialize once each (banding + the verify
    // join read them; see minhashCandidates for the economics).
    val shT = Dedup.shingleFrame(train, idCol, textCol, shingleN).localCheckpoint(true)
    val shB = Dedup.shingleFrame(bench, idCol, textCol, shingleN).localCheckpoint(true)
    val bbT = Dedup.bandedBuckets(
      shT.select(col("doc_id"), Dedup.minhashSignature(col("sh"), numHashes).as("sig")),
      numHashes, bands)
    val bbB = Dedup.bandedBuckets(
      shB.select(col("doc_id"), Dedup.minhashSignature(col("sh"), numHashes).as("sig")),
      numHashes, bands)
    // Hot-bucket cap mirrors J2: a boilerplate train bucket admits
    // |bucket|×|bench-bucket| pairs, so train buckets over `maxBucket`
    // drop before the candidate join (same documented trade as J2 —
    // boilerplate mega-buckets belong to exact dedup, not fuzzy
    // matching; the bench side is the small curated one and stays
    // uncapped).
    val hot = bbT.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__c")).where(col("__c") > maxBucket)
      .select(col("band"), col("bucket"))
    val cand = bbT.join(hot, Seq("band", "bucket"), "left_anti")
      .select(col("doc_id").as("doc_id"), col("band"), col("bucket"))
      .join(bbB.select(col("doc_id").as("bench_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select(col("doc_id"), col("bench_id"))
      .distinct()
    val scored = cand
      .join(shT.select(col("doc_id"), col("sh").as("sh_t"), col("n_sh").as("nt")), "doc_id")
      .join(shB.select(col("doc_id").as("bench_id"), col("sh").as("sh_b"), col("n_sh").as("nb")),
        "bench_id")
      .select(col("doc_id"), col("bench_id"),
        (size(array_intersect(col("sh_t"), col("sh_b"))).cast("double") /
          (col("nt") + col("nb") -
            size(array_intersect(col("sh_t"), col("sh_b")))).cast("double"))
          .as("jaccard"))
      .where(col("jaccard") >= minJaccard)
    // Best match per train doc = (max jaccard, min bench_id), folded
    // as ONE map-combinable min(struct(-jaccard, bench_id)): jaccard
    // is our own positive double (sign-flip is exact), while bench_id
    // stays un-negated so ANY orderable id type works — negating the
    // id would silently null-cast non-numeric ids.
    scored
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("jaccard")).as("nj"), col("bench_id"))).as("best"))
      .select(
        col("doc_id"),
        col("best.bench_id").as("bench_id"),
        (-col("best.nj")).as("jaccard"))
      .orderBy("doc_id")
  }

  /** Per-doc distinct word n-grams (the shared tokenize→shingle step of
    * the decontamination family). Map-only: explode of a per-row array. */
  private def docGrams(d: DataFrame, textCol: String, n: Int, cols: Column*): DataFrame = d
    .withColumn("__toks", split(col(textCol), " "))
    .where(size(col("__toks")) >= n)
    .select(cols :+ explode(array_distinct(ngramsFromTokens(col("__toks"), n))).as("gram"): _*)

  /** Bloom-prefiltered decontamination — the scale path of
    * [[decontaminate]] for when the benchmark/held-out side is itself
    * too large to broadcast as a hash relation (e.g. decontaminating
    * the train split against the full test split of the same corpus:
    * at 100 TB the held-out grams are billions of rows, far past
    * `autoBroadcastJoinThreshold`, but a FIXED `numBits`-bit Bloom
    * filter over them is megabytes). Shape: (1) distributed
    * Bloom build over bench grams via Spark's own mergeable
    * `BloomFilterAggregate` — partial filters merge map-side, ONE
    * bounded blob (numBits/8 bytes by construction, NOT data-sized)
    * reaches the driver, same bounded-collect posture as the IVF
    * codebook; (2) a codegen'd `might_contain` prefilter on the train
    * gram scan — map-only, drops ~all non-matching grams before any
    * exchange; (3) the exact verify join runs ONLY on survivors, so
    * the shuffle carries true matches + the filter's false-positive
    * sliver instead of every gram in the corpus. Bloom filters have no
    * false negatives and survivors are re-verified exactly, so the
    * result is IDENTICAL to [[decontaminate]] — the oracle replays the
    * exact join without modeling the filter. */
  def decontaminateBloom(
      train: DataFrame, bench: DataFrame, idCol: String, textCol: String,
      n: Int, expectedGrams: Long = 1L << 20, numBits: Long = 1L << 23): DataFrame = {
    // Spark's BloomFilterAggregate silently CLAMPS its arguments to the
    // session caps (Math.min against the runtime-bloom conf limits); a
    // clamped filter degrades the false-positive rate without warning —
    // exactly the "prefilter becomes a no-op" failure this operator
    // exists to prevent — so over-cap requests fail loudly instead.
    val conf = train.sparkSession.conf
    val maxItems = conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
    val maxBits = conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    require(expectedGrams <= maxItems && numBits <= maxBits,
      s"decontaminateBloom: expectedGrams=$expectedGrams / numBits=$numBits exceed the " +
        s"session caps ($maxItems items / $maxBits bits) — BloomFilterAggregate would " +
        "silently clamp them; raise spark.sql.optimizer.runtime.bloomFilter.maxNumItems/" +
        "maxNumBits to build a filter this size")
    // the bloom build inserts straight from the raw gram stream — no
    // distinct() shuffle: inserts are idempotent, so duplicates cost a
    // hash each, and the ONE distinct shuffle of the bench side is
    // saved for the verify join that actually needs set semantics
    val benchGrams = docGrams(bench, textCol, n).select("gram").distinct()
    val blobRow = docGrams(bench, textCol, n)
      .agg(graft.functions.HashFunctions.bloom_filter_agg(
        xxhash64(col("gram")), expectedGrams, numBits).as("bf"))
      .head()
    if (blobRow.isNullAt(0)) {
      // empty bench side: no gram can match; keep the output schema
      return train.select(col(idCol), lit(0L).as("n_shared_ngrams")).limit(0)
    }
    val bits = blobRow.getAs[Array[Byte]](0)
    val candidates = docGrams(train, textCol, n, col(idCol))
      .where(graft.functions.HashFunctions.might_contain(lit(bits), xxhash64(col("gram"))))
    candidates
      .join(benchGrams, "gram") // exact verify on the surviving sliver only
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_ngrams"))
      .orderBy(col(idCol))
  }

  /** PII scrubbing — the redaction pass every public curation pipeline
    * runs before training (C4 and Dolma both regex-scrub emails /
    * phone numbers / IP addresses). Patterns apply sequentially in
    * the given order, and each pattern is counted on the text AS IT
    * STANDS when that pattern runs — so `n_<name>` is exactly the
    * number of `<repl>` markers that pattern wrote, and counts always
    * reconcile with the redaction markers in `scrubbed` (counting on
    * the original text would over-report when an earlier pattern
    * consumes an overlapping match, e.g. a phone-shaped substring
    * inside an email local part). Pure codegen'd string expressions
    * (`regexp_count` / `regexp_replace`) — a map-only corpus pass,
    * zero shuffle: the 100 TB shape. Patterns must stay in the RE2 ∩
    * java.util.regex common dialect (no backreferences/lookaround) so
    * an external engine can replay them verbatim. */
  def piiScrub(
      df: DataFrame, idCol: String, textCol: String,
      patterns: Seq[(String, String, String)]): DataFrame =
    piiScrubUnordered(df, idCol, textCol, patterns).orderBy(col(idCol))

  /** [[piiScrub]] without the presentation sort — the form an
    * unbounded stream can run (sorting is unsupported in append
    * streams; the scrub itself is stateless per row). */
  def piiScrubUnordered(
      df: DataFrame, idCol: String, textCol: String,
      patterns: Seq[(String, String, String)]): DataFrame = {
    require(patterns.nonEmpty, "piiScrub: need at least one pattern")
    // stage i holds the text after patterns 0..i-1; each count runs
    // against its own stage (withColumn projections collapse, so this
    // stays one codegen'd map stage)
    var d = df.withColumn("__s0", col(textCol))
    patterns.zipWithIndex.foreach { case ((name, re, repl), i) =>
      d = d
        .withColumn(s"n_$name", regexp_count(col(s"__s$i"), lit(re)))
        .withColumn(s"__s${i + 1}", regexp_replace(col(s"__s$i"), lit(re), lit(repl)))
    }
    d.select(
      (col(idCol) +: patterns.map { case (nm, _, _) => col(s"n_$nm") }) :+
        col(s"__s${patterns.size}").as("scrubbed"): _*)
  }

  /** [[piiScrub]] in ONE compiled scan ([[graft.functions.PiiScrubAll]]:
    * ordered alternation, per-branch markers and counts from the same
    * pass) instead of 2·P regex scans + P−1 intermediate strings.
    * Identical output wherever no two patterns' matches overlap (every
    * real corpus; PiiScrubSpec holds parity with the sequential form) —
    * on overlaps the fused scan redacts in strict position order. Same
    * map-only zero-shuffle shape; ~4× fewer java-regex passes is the
    * whole win, and on a 100 TB corpus the scrub IS its per-row
    * constant. */
  def piiScrubFused(
      df: DataFrame, idCol: String, textCol: String,
      patterns: Seq[(String, String, String)]): DataFrame = {
    require(patterns.nonEmpty, "piiScrubFused: need at least one pattern")
    val struct = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.PiiScrubAll(
        org.apache.spark.sql.graft.ColumnBridge.expression(col(textCol)),
        patterns))
    df.select(col(idCol), struct.as("__pii"))
      .select(
        (col(idCol) +:
          patterns.map { case (nm, _, _) => col(s"__pii.n_$nm").as(s"n_$nm") }) :+
          col("__pii.scrubbed").as("scrubbed"): _*)
      .orderBy(col(idCol))
  }

  /** Quality FILTER — the keep decision a pipeline ships from the Q1
    * signals (Rae et al. 2021 table A1 applies hard thresholds per
    * document): keep docs with enough words, enough lexical diversity
    * and no dominating word. Returns the SURVIVORS with their
    * signals — the quality twin of the J11 cleaned-corpus
    * materialization. Same map-only shape as [[repetitionSignals]];
    * the filter is one codegen'd predicate over its output. */
  def qualityFilter(
      df: DataFrame, idCol: String, textCol: String,
      minWords: Int, minDistinctFrac: Double, maxTopShare: Double): DataFrame =
    qualityFilterUnordered(df, idCol, textCol, minWords, minDistinctFrac, maxTopShare)
      .orderBy(col(idCol))

  /** [[qualityFilter]] without the presentation sort — the form an
    * unbounded stream can run (stateless per row, append mode). */
  def qualityFilterUnordered(
      df: DataFrame, idCol: String, textCol: String,
      minWords: Int, minDistinctFrac: Double, maxTopShare: Double): DataFrame =
    // Filter FIRST through the single-pass GopherKeep expression, then
    // project the signals for survivors only. Filtering on the signal
    // COLUMNS pushes the substituted predicate below the project, and
    // FilterExec has no subexpression elimination — five stats passes
    // per row (3.4× at sf1). This shape runs exactly one stats pass
    // per row plus one per survivor, same rows (GopherKeep compares
    // with the identical IEEE fraction arithmetic).
    repetitionSignalsUnordered(
        qualityKeep(df, textCol, minWords, minDistinctFrac, maxTopShare),
        Seq(idCol), textCol)
      .select(col(idCol), col("n_words"), col("distinct_word_frac"),
        col("top_word_share"))

  /** [[qualityFilter]]'s KEEP decision applied to the corpus rows
    * themselves (all columns intact) — the form a config-driven
    * curation pipeline chains between other steps. Map-only, one
    * codegen'd stats pass per row (the same fused `GopherKeep`
    * predicate as the gate). */
  def qualityKeep(
      df: DataFrame, textCol: String,
      minWords: Int, minDistinctFrac: Double, maxTopShare: Double): DataFrame =
    df.where(org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.GopherKeep(
        org.apache.spark.sql.graft.ColumnBridge.expression(
          split(col(textCol), " ")),
        minWords, minDistinctFrac, maxTopShare)))

  /** [[piiScrubFused]] applied IN PLACE: the text column replaced by
    * its scrubbed form, every other column untouched — the pipeline
    * step shape (the gate variant projects counts instead). Same
    * map-only single-scan plan. */
  def piiScrubText(
      df: DataFrame, textCol: String,
      patterns: Seq[(String, String, String)]): DataFrame = {
    require(patterns.nonEmpty, "piiScrubText: need at least one pattern")
    val scrub = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.PiiScrubAll(
        org.apache.spark.sql.graft.ColumnBridge.expression(col(textCol)),
        patterns))
    df.withColumn(textCol, scrub.getField("scrubbed"))
  }

  /** Token-budget source MIXING — the data-mixture step of a training
    * run (public recipe family: GPT-3 / The Pile / DoReMi publish
    * per-source sampling weights): each source keeps documents in the
    * deterministic md5(id) order until its token budget is exhausted.
    * A doc is kept iff the tokens BEFORE it (same order) are under the
    * source's budget, so the boundary doc is included and every
    * non-empty budget yields ≥ 1 doc. Reshuffle-stable and
    * engine-portable for the same reason as [[stratifiedSample]]
    * (md5 order, not rand()). One shuffle on the source key; the
    * running sum and the cut share its partitioning — the
    * [[packSequences]] window shape. */
  def tokenBudgetMix(
      df: DataFrame, sourceCol: String, idCol: String, tokens: Column,
      budget: Column): DataFrame = {
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("n_tokens", tokens.cast("long"))
      .withColumn("tokens_before",
        coalesce(
          sum(col("n_tokens")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .where(col("tokens_before") < budget)
      .select(col(sourceCol), col(idCol), col("n_tokens"), col("tokens_before"))
      .orderBy(col(sourceCol), col(idCol))
  }

  /** Epoch UPSAMPLING — the other half of data mixing (The Pile and
    * GPT-3 both run hot sources for >1 epoch): every doc of source s
    * appears `floor(w_s)` times, plus one extra copy for a
    * deterministic `frac(w_s)` fraction of docs — chosen by the same
    * md5-prefix threshold trick as [[assignSplits]], so the fraction
    * is map-only, reshuffle-stable and engine-portable (no window, no
    * shuffle at all before the presentation sort). Output carries an
    * `epoch` ordinal (1..copies) so downstream packing can interleave
    * epochs. Weights must be ≥ 0; weight 0 drops the source. */
  def sourceUpsample(
      df: DataFrame, sourceCol: String, idCol: String,
      weights: Map[String, Double], defaultWeight: Double = 1.0): DataFrame = {
    // fail fast with the operator's own message: floor(Inf).toLong or a
    // giant finite weight would otherwise surface as Spark's opaque
    // array-size error deep inside explode(sequence(...))
    val maxEpochs = 1e4
    def ok(w: Double) = w >= 0 && w <= maxEpochs // rejects NaN/Inf too
    require(ok(defaultWeight) && weights.values.forall(ok),
      s"sourceUpsample: weights must be finite and in [0, $maxEpochs]")
    val thresholdHex = Curation.upsampleThresholdHex _
    def caseOver[T](f: Double => T, lift: T => Column): Column =
      weights.foldLeft(null: Column) { case (acc, (s, w)) =>
        val c = lift(f(w))
        if (acc == null) when(col(sourceCol) === s, c)
        else acc.when(col(sourceCol) === s, c)
      } match {
        case null => lift(f(defaultWeight))
        case c => c.otherwise(lift(f(defaultWeight)))
      }
    val base = caseOver(w => math.floor(w).toLong, (v: Long) => lit(v))
    val thr = caseOver(thresholdHex, (v: String) => lit(v))
    val h = substring(md5(col(idCol).cast("string")), 1, 8)
    val copies = base + when(h < thr, lit(1L)).otherwise(lit(0L))
    df.withColumn("__copies", copies)
      .where(col("__copies") >= 1L)
      .select(col(sourceCol), col(idCol),
        explode(sequence(lit(1L), col("__copies"))).as("epoch"))
      .orderBy(col(sourceCol), col(idCol), col("epoch"))
  }

  /** Per-document top-k terms by tf·idf. The idf factor is the
    * RATIONAL form N/df so the score is one IEEE division of exact
    * integers — bit-identical on any engine (ln-based idf differs in
    * the last ulp across libm implementations and can flip ranks).
    * Shapes: tokenize→per-doc tf (one shuffle on (doc,term)), term df
    * (one shuffle on term), join back on term, bounded-heap
    * `WindowGroupLimit` top-k per doc. */
  def tfidfTopTerms(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val total = df.select(countDistinct(col(idCol))).first().getLong(0)
    val tokens = df.select(col(idCol), explode(split(col(textCol), " ")).as("term"))
    val tf = tokens.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tokens.select(col(idCol), col("term")).distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "term")
      .withColumn("score", (col("tf") * lit(total)).cast("double") / col("df").cast("double"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score"), col("rank"))
      .orderBy(col(idCol), col("rank"))
  }

  /** Fixed-size token chunking with overlap — the context-window prep
    * step before packing/tokenization: chunk i covers tokens
    * `[i·stride, i·stride + chunkSize)` with `stride = chunkSize −
    * overlap`; every doc yields ≥ 1 chunk. Map-only (one explode per
    * doc, no shuffle) — output rows ∝ corpus tokens / stride. */
  def chunkDocuments(
      df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize, "need 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    val toks = col("__toks")
    val n = size(toks)
    // integer ceil((n - overlap) / stride), min 1 — DIV keeps it exact
    val nChunks = expr(
      s"CAST((GREATEST(size(__toks) - $overlap, 1) + ${stride - 1}) DIV $stride AS INT)")
    df.withColumn("__toks", split(col(textCol), " "))
      .select(col(idCol), toks, n.as("__n"),
        posexplode(sequence(lit(0), nChunks - 1)))
      .select(
        col(idCol),
        col("pos").as("chunk_idx"),
        concat_ws(" ", slice(toks, col("pos") * stride + 1, lit(chunkSize)))
          .as("chunk_text"),
        least(lit(chunkSize), col("__n") - col("pos") * stride).as("n_chunk_tokens"))
      .orderBy(col(idCol), col("chunk_idx"))
  }

  /** Token-budget sequence packing: stream rows per group in `orderCol`
    * order, a row opens bin `floor(tokens_before / budget)` — the
    * deterministic streaming pack used to batch documents into
    * fixed-token training sequences. Returns per-(group, bin) stats.
    * One window + one partial-agg groupBy, both on the group key. */
  def packSequences(
      df: DataFrame, groupCol: String, orderCol: String, sizeExpr: Column,
      budget: Long): DataFrame = {
    val before = Window.partitionBy(col(groupCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__sz", sizeExpr)
      .withColumn("bin",
        floor(coalesce(sum(col("__sz")).over(before), lit(0L)) / budget))
      .groupBy(col(groupCol), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__sz")).as("tokens"))
      .orderBy(col(groupCol), col("bin"))
  }

  /** Q21 — blocklist-term document filter (the C4 "bad words" cut,
    * Raffel 2020 §2.2: drop any page containing a listed term; also
    * the compliance backstop for takedown term lists). Terms are a
    * DATAFRAME (`term` column) — at production scale a multi-thousand
    *-row list that must NOT become a per-term regex alternation over
    * the corpus: each document explodes to its DISTINCT words once
    * (array_distinct in-row first, so a hot word costs one probe, not
    * its multiplicity), equi-joins the term list, and folds to a
    * per-doc verdict — (id, n_hits distinct terms hit, first_term
    * alphabetically, the deterministic attribution). One exchange ∝
    * distinct (doc, word) pairs; the term side broadcasts when small
    * (Spark sizes it). Matching is exact-token (the C4 rule), not
    * substring — pair with [[graft.operators.Dedup]] span ops for
    * phrase lists. */
  def termFilter(
      df: DataFrame, idCol: String, textCol: String,
      terms: DataFrame): DataFrame = {
    val hits = df
      .select(col(idCol),
        explode(array_distinct(split(col(textCol), " "))).as("__w"))
      .join(terms.select(col("term").as("__w")), "__w")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hits"), min("__w").as("first_term"))
    df.join(hits, Seq(idCol), "left")
      .select(col(idCol),
        col("n_hits").isNotNull.as("blocked"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("first_term"))
      .orderBy(idCol)
  }

  /** Q20 — deterministic epoch shuffle + token-budget shard layout:
    * order the corpus by a seeded hash of the id (the reproducible
    * "global shuffle" every training run needs — same seed, same
    * order, any cluster size), then assign each document the shard
    * holding its starting token offset (shard = tokens-before div
    * `budget`) — the writer-side contract of fixed-token training
    * shards (GPT-3/Pile-style sharded epochs). Output: (id, n_tokens,
    * tok_offset, shard_id), where `tok_offset` is the document's global start
    * position in the shuffled token stream.
    *
    * The global running sum is NOT a single-partition window (the
    * naive ORDER BY over the corpus — one reducer at 100 TB). The
    * shuffle key's top bits split the keyspace into `buckets`
    * order-preserving ranges: per-bucket token totals (one partial
    * agg, `buckets` rows) prefix-sum in a window over bucket ids only,
    * broadcast back, and each bucket computes its INTERNAL running sum
    * in parallel — the classic two-level scan: exchange cost is one
    * keyed repartition by bucket plus a `buckets`-row side plan, and
    * no task ever sees more than ~1/buckets of the corpus.
    *
    * Seeded key: (((id + seed) mod 2^31) · 2654435761) mod 2^31 — the
    * pre-multiply reduction bounds the product by 2^31 · 2654435761
    * ≈ 5.7e18 < 2^63, so the arithmetic is int64-exact at ANY id
    * (the unreduced form overflows silently past |id + seed| ≈
    * 3.47e9, where Spark wraps and DuckDB raises); replayable in any
    * engine; ties broken by id (exact total order,
    * partition-count-free). */
  def shardShuffle(
      df: DataFrame, idCol: String, sizeExpr: Column,
      budget: Long, seed: Long = 0L, buckets: Int = 1024): DataFrame = {
    require(budget > 0 && buckets > 0)
    val key = (pmod(col(idCol) + lit(seed), lit(2147483648L)) *
      lit(2654435761L)) % lit(2147483648L)
    // order-preserving range id; integer `div` — Spark's `/` is double
    val b = expr(s"(__key * $buckets) div 2147483648")
    val rows = df.select(
      col(idCol), sizeExpr.as("n_tokens"), key.as("__key"))
      .withColumn("__b", b)
    val bucketBase = rows.groupBy("__b").agg(sum("n_tokens").as("__bt"))
      .withColumn("__base",
        coalesce(sum(col("__bt")).over(
          Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .drop("__bt")
    val inBucket = Window.partitionBy("__b").orderBy(col("__key"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    rows
      .join(broadcast(bucketBase), "__b")
      .withColumn("tok_offset",
        col("__base") + coalesce(sum(col("n_tokens")).over(inBucket), lit(0L)))
      .withColumn("shard_id", expr(s"tok_offset div $budget"))
      .select(col(idCol), col("n_tokens"), col("tok_offset"), col("shard_id"))
      .orderBy(idCol)
  }
}
