package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Q18 — a LEARNED document-quality classifier: hashed bag-of-words
  * features + a hard-sigmoid logistic unit trained by full-batch
  * gradient descent, then served as one stateless scoring expression.
  * This is the "quality classifier" stage of a production LLM data
  * pipeline (GPT-3's WebText-vs-CommonCrawl LR filter, Brown et al.
  * 2020 §A; fineweb-edu's learned quality scorer): fit on a small
  * curated seed (label 1) vs the wild corpus (label 0), then keep the
  * wild documents the model scores as seed-like. It complements the
  * engine's HEURISTIC filters (Q15 Gopher thresholds, Q1 signals) and
  * the distribution-matching sampler (Q16 DSIR) with a trained
  * discriminative cut.
  *
  * Exact-arithmetic contract (the repo's cross-engine determinism
  * rule, taken one step further than Q16/L8): there is NO floating
  * point anywhere — features are md5-hashed token buckets, the model
  * is an integer weight vector at grid scale `S = 2^20`, the logistic
  * is the hard sigmoid `pS(m) = (clamp(m + 2S, 0, 4S)) >> 2` (exact:
  * the clamped numerator is nonnegative, so the shift IS floor
  * division by 4 in any engine), the per-epoch update is
  * `w_b <- clamp(w_b - floorDiv(g_b, 4n), ±2S)` with floorDiv spelled
  * via a nonnegative-offset trick so Spark's `div`, DuckDB's `//` and
  * Java's Math.floorDiv all agree, and the keep decision is the
  * integer comparison `2·pS >= S` (p >= 0.5). A DuckDB oracle replays
  * the ENTIRE training loop epoch-by-epoch in unrolled CTEs and must
  * reproduce every margin bit-exactly.
  *
  * Plan economics (the 100 TB shape): the corpus tokenizes ONCE into a
  * checkpointed slim frame `(id, y, barr)` — one row per document, an
  * int-array of its distinct feature buckets (≤ min(|doc|, B+1),
  * intercept bucket B appended). Each epoch is ONE map pass over that
  * frame: the margin is a codegen'd `aggregate` over the bucket array
  * against a broadcast weight-array LITERAL (array element_at — O(1)
  * per lookup, no join, no shuffle on document keys), and the gradient
  * is `explode(barr) -> groupBy(bucket) -> sum(e)` whose exchange is
  * ≤ partitions × (B+1) partial rows — bytes ∝ the bucket count, never
  * the corpus. The per-epoch driver collect is exactly B+1 rows
  * (bounded by `require`, the codebook-collect house style). Scoring
  * is a pure per-row expression — [[scoreExpr]] — reusable verbatim on
  * unbounded streams (stateless, no state store).
  *
  * Overflow bounds (all documented, all inside BIGINT): |w| ≤ 2S=2^21,
  * |margin| ≤ (B+1)·2S ≤ 2^33 at B=4096; |e| ≤ S; |g| ≤ n·S and the
  * offset numerator ≤ 5nS — safe for n up to 2^40 documents.
  */
object Classifier {

  /** Grid scale: integer weights represent w/S reals. */
  val S: Long = 1L << 20

  /** Weight clip: |w| ≤ 2S (keeps every margin term in the hard
    * sigmoid's dynamic range and every product inside BIGINT). */
  val Clip: Long = 2 * S

  /** md5-derived feature bucket of one token — identical in any engine
    * with md5 (the Q16 idiom). */
  def tokenBucket(tok: Column, buckets: Int): Column =
    (conv(substring(md5(tok), 1, 8), 16, 10).cast("long") % buckets).cast("int")

  /** The slim per-document feature frame `(id, y, barr)`: distinct
    * hashed buckets of the whitespace tokens, intercept bucket
    * `buckets` appended (every document has it, so zero-token rows
    * still carry the bias feature). One tokenize pass; fixed-width
    * output ∝ documents. */
  private[graft] def featureFrame(
      df: DataFrame, idCol: String, textCol: String, labelPred: Column,
      buckets: Int): DataFrame =
    df.select(
      col(idCol).as("__id"),
      labelPred.cast("boolean").as("__y"),
      graft.functions.CharGramBuckets
        .word_token_buckets(col(textCol), buckets).as("__barr"))

  /** Margin of one document under integer weights: Σ_{b ∈ barr} w_b —
    * the native codegen'd [[graft.functions.BucketMargin]] kernel (no
    * join, no interpreted lambda; the serve path of a 100 TB corpus is
    * this expression). HashExpressionsSpec's `marginColHof` is the
    * pure-functions formulation kept as the bit-equal reference. */
  private def marginCol(barr: Column, w: Array[Long]): Column =
    graft.functions.HashFunctions.bucket_margin(barr, w)

  /** Hard-sigmoid probability at grid scale: (clamp(m+2S,0,4S)) >> 2.
    * The clamped numerator is nonnegative, so the arithmetic shift is
    * exact floor division by 4 in Spark, DuckDB and the JVM alike. */
  private[graft] def probS(m: Column): Column =
    shiftright(greatest(lit(0L), least(lit(4 * S), m + lit(2 * S))), 2)

  /** Fit integer weights (size buckets+1; index `buckets` = bias) by
    * `epochs` rounds of full-batch GD over ALL rows of `df` (label =
    * `labelPred`). Each epoch: one map pass + one ≤(B+1)-row exchange
    * + one (B+1)-row driver collect. */
  def fit(
      df: DataFrame, idCol: String, textCol: String, labelPred: Column,
      buckets: Int = 64, epochs: Int = 4): Array[Long] = {
    // ONE tokenize pass; everything downstream re-reads the slim
    // checkpointed frame (id, y, barr) — executor-resident.
    // Repartitioned first so the epoch jobs use the whole cluster
    // even off a few-file parquet scan (see langIdCore's note).
    val feat = featureFrame(df, idCol, textCol, labelPred, buckets)
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint(true)
    try fitOnFeatures(feat, buckets, epochs) finally feat.unpersist()
  }

  /** The GD loop over a MATERIALIZED feature frame `(__id, __y,
    * __barr)` — shared by the BoW quality fit ([[fit]], `lrNum = 1`)
    * and each one-vs-rest round of [[langIdLearned]] (which re-labels
    * the same checkpointed frame per class instead of re-tokenizing,
    * and takes a larger integer step — a K-class margin race needs
    * weights to reach the sigmoid's dynamic range in few epochs).
    * `lrNum` is the integer learning-rate NUMERATOR: the update is
    * `w_b <- clamp(w_b - floorDiv(g_b · lrNum, 4n), ±Clip)` — still
    * zero-float, still bit-replayable (overflow bound: |g·lrNum| ≤
    * n·S·lrNum, inside BIGINT for n ≤ 2^37 at lrNum ≤ 16). */
  private[graft] def fitOnFeatures(
      feat: DataFrame, buckets: Int, epochs: Int, lrNum: Long = 1L): Array[Long] = {
    require(buckets >= 1 && buckets <= 4096,
      s"classifier: need 1..4096 buckets, got $buckets")
    require(epochs >= 1 && epochs <= 64,
      s"classifier: need 1..64 epochs, got $epochs")
    require(lrNum >= 1 && lrNum <= 16,
      s"classifier: need 1..16 lrNum, got $lrNum")
    val n = feat.count()
    require(n >= 1, "classifier: empty training corpus")
    val w = Array.fill(buckets + 1)(0L)
    for (_ <- 1 to epochs) {
      val e = (probS(marginCol(col("__barr"), w)) -
        when(col("__y"), lit(S)).otherwise(lit(0L))).as("__e")
      // gradient: explode the bucket array against the per-doc error;
      // partial aggregation collapses to ≤ B+1 rows per partition
      // before the ONE tiny exchange. Driver collect = B+1 rows.
      val grads = feat.select(e, explode(col("__barr")).as("__b"))
        .groupBy(col("__b")).agg(sum(col("__e")).as("__g"))
        .collect()
      // buckets with no occurrences have g = 0 and stay put on both
      // engines.
      grads.foreach { r =>
        val b = r.getInt(0); val g = r.getLong(1)
        val d = Math.floorDiv(g * lrNum, 4L * n)
        w(b) = Math.max(-Clip, Math.min(Clip, w(b) - d))
      }
    }
    w
  }

  /** The stateless scoring expression for FITTED weights: margin,
    * reusable verbatim on batch frames and unbounded streams (pure
    * per-row compute — tokenize, hash, distinct, fold; no join, no
    * state). */
  def scoreExpr(textCol: Column, w: Array[Long], buckets: Int): Column =
    marginCol(
      graft.functions.CharGramBuckets.word_token_buckets(textCol, buckets),
      w)

  /** Hashed CHARACTER-n-gram bucket array of a text column — the
    * fastText-style feature set (Joulin et al. 2016 §2.1: subword
    * n-grams carry the orthographic signal language ID needs, where
    * word tokens fragment on morphology). Distinct md5-hashed buckets
    * of every n-char window, intercept bucket appended; texts shorter
    * than `n` carry only the intercept. Pure column algebra (one
    * sequence + transform fold), map-only. */
  private[graft] def charGramBuckets(
      textCol: Column, buckets: Int, n: Int): Column =
    coalesce( // null text carries only the intercept, like the algebra
      graft.functions.CharGramBuckets.char_gram_buckets(textCol, buckets, n),
      typedlit(Seq(buckets)))

  /** L18 — LEARNED language identification: one-vs-rest hard-sigmoid
    * logistic units over hashed char-n-gram features (the CCNet
    * front-door step is a fastText language classifier — Wenzek 2020
    * §3.1; this is that shape under the repo's zero-float contract).
    * Trains one binary unit per distinct `langCol` value on the
    * `trainPred` rows (labels come from the corpus — the held-out
    * complement is scored), serving the argmax margin with ties to the
    * lexicographically smaller language. Returns `(id, lang, lang_pred,
    * margin)` for the held-out rows, ordered by id.
    *
    * Scale shape: the corpus featurizes ONCE into a checkpointed slim
    * frame shared by every class's fit (K · epochs map passes, each
    * with a ≤(B+1)-row exchange and collect — never a corpus-sized
    * move); serving is one map pass folding K weight LITERALS per row.
    * The class set is a bounded driver collect (≤64, loud). */
  def langIdLearned(
      df: DataFrame, idCol: String, textCol: String, langCol: String,
      trainPred: Column, buckets: Int = 1024, epochs: Int = 8,
      gramN: Int = 3, lrNum: Long = 8L): DataFrame = {
    val (feat, langs, weights) =
      langIdCore(df, idCol, textCol, langCol, trainPred, buckets, epochs,
        gramN, lrNum)
    val best = langBestExpr(col("__barr"), langs, weights)
    feat.where(!col("__train"))
      .select(
        col("__id").as(idCol), col("__lang").as("lang"),
        best.getField("lang_pred").as("lang_pred"),
        best.getField("margin").as("margin"))
      .orderBy(idCol)
  }

  /** Fit-only entry: the (sorted langs, aligned weights) pair for
    * offline training → online serving (feed [[langIdServe]]). */
  def langIdFit(
      df: DataFrame, idCol: String, textCol: String, langCol: String,
      trainPred: Column, buckets: Int = 1024, epochs: Int = 8,
      gramN: Int = 3, lrNum: Long = 8L): (Seq[String], Seq[Array[Long]]) = {
    val (_, langs, weights) =
      langIdCore(df, idCol, textCol, langCol, trainPred, buckets, epochs,
        gramN, lrNum)
    (langs, weights)
  }

  private def langIdCore(
      df: DataFrame, idCol: String, textCol: String, langCol: String,
      trainPred: Column, buckets: Int, epochs: Int, gramN: Int,
      lrNum: Long): (DataFrame, Seq[String], Seq[Array[Long]]) = {
    val rawLangs = df.select(col(langCol).cast("string")).distinct()
      .limit(66).collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    require(!rawLangs.exists(l => l == null || l.isEmpty),
      s"langIdLearned: column '$langCol' has null/empty language labels — " +
        "every training row needs a concrete label (filter or impute " +
        "missing labels upstream; a null label can never match a class)")
    val langs = rawLangs.sorted.toSeq
    require(langs.nonEmpty && langs.length <= 64,
      s"langIdLearned: need 1..64 distinct languages, got ${langs.length}+")
    // ONE featurize pass shared by all K fits and the serve; NOT
    // unpersisted — the returned lazy frame still reads the checkpoint
    // blocks; ContextCleaner reclaims them when the frame goes out of
    // scope (the minhash signature-frame posture). Repartitioned to
    // the cluster's parallelism BEFORE the checkpoint: the K·epochs
    // gradient jobs inherit the checkpoint's partitioning, and a
    // few-file parquet corpus would otherwise pin the entire training
    // loop to a few cores (measured 8× at sf10); gradient sums are
    // order-independent integers, so the result is bit-identical
    // (spec-held determinism across repartitioned input).
    val feat = graft.Prof.timed("langid featurize")(df.select(
      col(idCol).as("__id"),
      col(langCol).cast("string").as("__lang"),
      trainPred.cast("boolean").as("__train"),
      charGramBuckets(col(textCol), buckets, gramN).as("__barr"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint(true))
    val train = feat.where(col("__train"))
    val weights = fitLangsOnFeatures(train, langs, buckets, epochs, lrNum)
    (feat, langs, weights)
  }

  /** All K one-vs-rest units trained in ONE pass per epoch: each
    * epoch computes the K per-class errors side by side (the margin
    * folds share the row's bucket array), explodes the array ONCE,
    * and aggregates K gradient sums per bucket in a single ≤(B+1)-row
    * exchange — `epochs` jobs total instead of `K·epochs`. Per-class
    * arithmetic is INDEPENDENT (each unit sees only its own weights
    * and label), so the weights are bit-identical to K sequential
    * [[fitOnFeatures]] runs (spec-held) — this is a job-count
    * optimization, not a model change: at toy scale the sequential
    * form was 5× job floor, at cluster scale it was K corpus scans
    * per epoch instead of one. */
  private def fitLangsOnFeatures(
      feat: DataFrame, langs: Seq[String], buckets: Int, epochs: Int,
      lrNum: Long): Seq[Array[Long]] = {
    require(buckets >= 1 && buckets <= 4096,
      s"classifier: need 1..4096 buckets, got $buckets")
    require(epochs >= 1 && epochs <= 64,
      s"classifier: need 1..64 epochs, got $epochs")
    require(lrNum >= 1 && lrNum <= 16,
      s"classifier: need 1..16 lrNum, got $lrNum")
    val n = graft.Prof.timed("langid count")(feat.count())
    require(n >= 1, "classifier: empty training corpus")
    val ws = langs.map(_ => Array.fill(buckets + 1)(0L))
    for (ep <- 1 to epochs) {
      val errCols = langs.zipWithIndex.map { case (l, i) =>
        (probS(marginCol(col("__barr"), ws(i))) -
          when(col("__lang") === l, lit(S)).otherwise(lit(0L))).as(s"__e$i")
      }
      val gradCols = langs.indices.map(i => sum(col(s"__e$i")).as(s"__g$i"))
      val grads = graft.Prof.timed(s"langid epoch $ep")(feat
        .select(errCols :+ explode(col("__barr")).as("__b"): _*)
        .groupBy(col("__b"))
        .agg(gradCols.head, gradCols.tail: _*)
        .collect())
      grads.foreach { r =>
        val b = r.getInt(0)
        langs.indices.foreach { i =>
          val d = Math.floorDiv(r.getLong(1 + i) * lrNum, 4L * n)
          ws(i)(b) = Math.max(-Clip, Math.min(Clip, ws(i)(b) - d))
        }
      }
    }
    ws
  }

  /** The stateless serving expression for FITTED one-vs-rest language
    * weights: argmax margin as one max over (margin, -classIndex)
    * structs — ties go to the smaller index = lexicographically
    * smaller language. Input is the materialized bucket array (project
    * [[charGramBuckets]] once; the K folds then reuse it). Returns a
    * `(lang_pred, margin)` struct — pure per-row compute, reusable
    * verbatim on unbounded streams (the I12/I13 fitted-literal
    * posture). */
  def langBestExpr(
      barr: Column, langs: Seq[String], weights: Seq[Array[Long]]): Column = {
    require(langs.length == weights.length && langs == langs.sorted,
      "langBestExpr: weights must align with the SORTED language list")
    val cands = weights.zipWithIndex.map { case (w, i) =>
      struct(marginCol(barr, w).as("m"), lit(-i).as("ni"))
    }
    val best = array_max(array(cands: _*))
    struct(
      element_at(typedlit(langs), -best.getField("ni") + lit(1))
        .as("lang_pred"),
      best.getField("m").as("margin"))
  }

  /** [[langBestExpr]] over a text column's [[charGramBuckets]] — the
    * one serve column for [[langIdFit]]'s weights, on a batch frame
    * (the spec compiler's `lang_id_learned` step) or an unbounded
    * stream alike. */
  def langIdServe(
      textCol: Column, langs: Seq[String], weights: Seq[Array[Long]],
      buckets: Int, gramN: Int = 3): Column =
    langBestExpr(charGramBuckets(textCol, buckets, gramN), langs, weights)

  /** Fit on ALL documents (seed = `labelPred` rows), then score and
    * cut the WILD side (`NOT labelPred`): `(id, margin, score, kept)`
    * per candidate, `kept = p >= 0.5`, ordered by id. The gate shape:
    * train + serve in one call, scoring as one map-only pass. */
  def trainAndScore(
      df: DataFrame, idCol: String, textCol: String, labelPred: Column,
      buckets: Int = 64, epochs: Int = 4): DataFrame = {
    val w = fit(df, idCol, textCol, labelPred, buckets, epochs)
    score(df.where(!labelPred), idCol, textCol, w, buckets).orderBy(idCol)
  }

  /** The serving half of [[trainAndScore]]: `(id, margin, score,
    * kept)` per row under FITTED weights, without the presentation
    * sort — so the same function scores a batch frame or an unbounded
    * stream (train offline, serve online; stateless append mode). */
  def score(
      df: DataFrame, idCol: String, textCol: String,
      weights: Array[Long], buckets: Int): DataFrame = {
    require(weights.length == buckets + 1,
      s"classifier score: need ${buckets + 1} weights (incl. bias), " +
        s"got ${weights.length}")
    df.select(col(idCol), scoreExpr(col(textCol), weights, buckets).as("margin"))
      .select(
        col(idCol), col("margin"),
        probS(col("margin")).as("score"),
        (probS(col("margin")) * lit(2L) >= lit(S)).as("kept"))
  }
}
