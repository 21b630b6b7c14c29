package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style data selection via hashed n-gram importance resampling
  * (Xie et al. 2023, "Data Selection for Language Models via
  * Importance Resampling" — the domain-targeting step of an LLM data
  * pipeline: pick raw-corpus documents that look like a small target
  * domain).
  *
  * Shape (the paper's, re-expressed Spark-first): word bigrams hash
  * into `buckets` buckets (md5-derived — engine-portable,
  * reshuffle-stable); one pass over the gram stream builds the
  * per-bucket target/source occurrence counts (aggregate ∝ buckets,
  * a bounded broadcast side); each candidate document scores
  * `weight = Σ_b f_db · q_b` where `f_db` is its gram count in bucket
  * b; documents keep with probability ∝ weight via a deterministic
  * md5 threshold. Corpus work is one gram-stream shuffle keyed
  * (doc, bucket) plus map-side broadcast joins — nothing global, no
  * driver-side data.
  *
  * Exact-arithmetic contract (this repo's cross-engine determinism
  * rule — no libm): the paper's per-bucket LOG likelihood ratio is
  * replaced by the quantized LINEAR ratio
  * `q_b = floor(((2t_b+1)(2S+B)) / ((2s_b+1)(2T+B)) · grid + 0.5)`
  * (add-half smoothing; ONE correctly-rounded IEEE division per
  * bucket, then the §7.5.15 integer-grid trick) — monotone in the
  * same per-bucket evidence and exactly replayable in any engine,
  * where `ln` would drift in the last ulp and flip keep decisions.
  * The keep decision is pure integer arithmetic:
  * `weight ≥ cap`, or `u·cap < weight·2³²` with
  * `u = md5-prefix(id) ∈ [0, 2³²)` — keep probability
  * min(1, weight/cap) with zero float comparisons. `cap ≤ 2³¹` keeps
  * every product inside a long (Spark would wrap silently on
  * overflow where DuckDB errors — both stay exact below the bound;
  * the CASE guards the `weight ≥ cap` branch from the product).
  *
  * Documents with fewer than two tokens carry no bigram evidence and
  * are dropped (the paper scores on n-gram features only).
  */
object Importance {

  /** (bucket, q) quantized-ratio table from a tagged gram stream
    * (`__tgt`, `bucket` columns) — the FIT artifact; ≤ `buckets` rows,
    * reusable offline (batch resample) and online (the streaming
    * tagger folds it into a literal map). */
  private[graft] def ratioTable(
      grams: DataFrame, buckets: Int, grid: Long): DataFrame = {
    val stats = grams.groupBy("bucket").agg(
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("t"),
      sum(when(col("__tgt"), 0L).otherwise(1L)).as("s"))
    val tot = stats.agg(sum(col("t")).as("tt"), sum(col("s")).as("ss"))
    val b = lit(buckets.toLong)
    stats.crossJoin(broadcast(tot)).select(
      col("bucket"),
      floor(
        ((lit(2L) * col("t") + lit(1L)) * (lit(2L) * col("ss") + b)).cast("double") /
          ((lit(2L) * col("s") + lit(1L)) * (lit(2L) * col("tt") + b)).cast("double") *
          lit(grid.toDouble) + lit(0.5)).cast("long").as("q"))
  }

  /** The tagged gram stream behind [[resample]]/[[ratioTable]]. */
  private[graft] def gramStream(
      df: DataFrame, idCol: String, textCol: String, targetPred: Column,
      buckets: Int): DataFrame = df
    .withColumn("__toks", split(col(textCol), " "))
    .where(size(col("__toks")) >= 2)
    // fused bigram bucketing: one digest per window straight off the
    // text bytes — the string_ngrams + md5-hex + conv chain built and
    // parsed a gram string per window (spec-held bit parity)
    .select(col(idCol), targetPred.as("__tgt"),
      explode(graft.functions.CharGramBuckets
        .ngram_buckets(col(textCol), buckets, 2)).as("bucket"))

  /** Resample the documents where `targetPred` is FALSE (the raw
    * corpus) toward the distribution of the documents where it is
    * TRUE (the target domain). Returns `(idCol, weight, kept)` for
    * every candidate with bigram evidence, ordered by id. */
  def resample(
      df: DataFrame, idCol: String, textCol: String, targetPred: Column,
      buckets: Int = 64, grid: Long = 1L << 20, cap: Long): DataFrame = {
    require(buckets >= 1 && buckets <= 4096,
      s"importanceResample: need 1..4096 buckets, got $buckets")
    require(cap >= 1 && cap <= (1L << 31),
      s"importanceResample: need 1 <= cap <= 2^31, got $cap")
    // The tagged gram stream feeds TWO consumers (the ratio fit and
    // the per-doc weight aggregation); without materialization the
    // corpus split/ngram/hash pass runs twice — the shared-checkpoint
    // economics of minhashCandidates apply verbatim. The gram STRING
    // is dead once bucketed, so only (id, __tgt, bucket) materializes
    // — a fixed-width sliver of the corpus. Executor-resident.
    val grams = gramStream(df, idCol, textCol, targetPred, buckets)
      .select(col(idCol), col("__tgt"), col("bucket"))
      .localCheckpoint(true)
    val ratios = ratioTable(grams, buckets, grid)
    val weights = grams.where(!col("__tgt"))
      .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("f"))
      .join(broadcast(ratios), "bucket")
      .groupBy(col(idCol)).agg(sum(col("f") * col("q")).as("weight"))
    weights.select(col(idCol), col("weight"),
        kept(col(idCol), col("weight"), cap).as("kept"))
      .orderBy(col(idCol))
  }

  /** The keep decision of [[resample]] and of the streaming tagger
    * ([[graft.streaming.StreamOps.importanceTagStream]]): `weight ≥
    * cap`, or `u·cap < weight·2³²` with `u = md5-prefix(id)`. */
  private[graft] def kept(id: Column, weight: Column, cap: Long): Column = {
    val u = conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long")
    when(weight >= cap, lit(true))
      .otherwise(u * lit(cap) < weight * lit(1L << 32))
  }
}
