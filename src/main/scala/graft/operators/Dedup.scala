package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Deduplication suite for LLM training-data pipelines (SURVEY.md §2 J):
  * exact hashing, MinHash+LSH, SimHash, n-gram Jaccard, embedding
  * cosine. Everything is expressed as Catalyst column pipelines +
  * key-partitioned joins so the candidate space is always bucketed —
  * never an unblocked N² cross join — which is what makes these run on
  * a 100 TB corpus:
  *
  *  - exact: one hash-groupBy (map-side partial agg, single shuffle).
  *  - MinHash/LSH: shuffle only (band, bucket) pairs; candidate pairs
  *    come from within-bucket expansion, |pairs| ≪ N².
  *  - SimHash: 16-bit chunk pigeonhole (4 chunks ⇒ every pair with
  *    hamming ≤ 3 shares a chunk) — same bucketing shape as LSH.
  *  - Jaccard / embedding cosine: blocked self-join on a caller-chosen
  *    key (source, label, or an LSH bucket from the ops above).
  */
object Dedup {

  /** Word n-gram shingles of a text column. Assumes ≥ n tokens; callers
    * filter shorter docs out (`size(split(text,' ')) >= n`) so the
    * DuckDB oracle can mirror the same predicate. */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    transform(sequence(lit(0), size(toks) - n),
      i => concat_ws(" ", slice(toks, i + lit(1), lit(n))))
  }

  /** J1 — exact dedup: one row per distinct text hash with cluster size
    * and the canonical (min) id to keep. Single shuffle. */
  def exactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))
      .orderBy("text_hash")

  /** J1 APPLY — the corpus with only the canonical (min-id) row of
    * each exact-duplicate cluster kept, all columns intact: ONE
    * shuffle on the text hash (row_number, not a self-join back
    * through [[exactDuplicates]] — that shape scans and shuffles the
    * corpus twice). The md5 partition key keeps the exchange key
    * fixed-width regardless of document length. */
  def exactDedupKeep(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col(textCol).cast("binary"))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** MinHash signature: for hash function h, min over shingles of
    * xxhash64(shingle, h) — the classic permutation-free MinHash
    * family (ref behavior: niamoto has no dedup; this follows the
    * standard Broder construction).
    *
    * Shaped as ONE fold over the shingle array (per shingle: 64
    * hashes, elementwise-min into the accumulator). The transposed
    * form — transform over hash ids with array_min inside — re-evals
    * the whole shingle-construction expression once per hash id
    * (lambda bodies don't cache subexpressions), which measured 60×
    * slower. Each shingle's BYTES are hashed once (`xxhash64(s)`);
    * the per-function members chain a cheap long-hash on top
    * (`xxhash64(hs, h)`) instead of re-hashing the string 64× —
    * an equally uniform family, ~10× less hashing work.
    *
    * Default path is the native codegen'd expression
    * ([[graft.functions.MinHashSignature]] — one fused primitive
    * loop); the pure-functions formulation, `minhashSignatureHof`,
    * is the test-side reference implementation (bit-equal, asserted in
    * HashExpressionsSpec). */
  def minhashSignature(sh: Column, numHashes: Int): Column =
    graft.functions.HashFunctions.minhash_sig(sh, numHashes)

  /** J2 — MinHash + LSH candidate pairs. Signatures are split into
    * `bands` bands of numHashes/bands rows; docs sharing any band
    * bucket become a candidate pair, scored by the fraction of equal
    * minhashes (the unbiased Jaccard estimate). Only (band, bucket)
    * keys shuffle; within-bucket pair expansion is quadratic per
    * bucket, so skewy mega-buckets are capped at `maxBucket` (dropping
    * a bucket of identical boilerplate docs is the standard move at
    * corpus scale — they are caught by exact dedup first). */
  /** (doc_id, sig) minhash-signature frame — shared by the batch
    * candidate miner and the streaming bucket processor. */
  private[graft] def signatureFrame(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int): DataFrame =
    shingleFrame(df, idCol, textCol, shingleN)
      .select(col("doc_id"), minhashSignature(col("sh"), numHashes).as("sig"))

  /** (doc_id, sh, n_sh) distinct-shingle-hash frame — the shared
    * upstream of BOTH the minhash signature builder and the exact
    * jaccard pair miner. Composed gates compute (and checkpoint)
    * this once so the corpus is parsed and shingled a single time. */
  private[graft] def shingleFrame(
      df: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame = {
    val toks = split(col(textCol), " ")
    df.where(size(toks) >= shingleN)
      .select(
        col(idCol).as("doc_id"),
        graft.functions.HashFunctions.shingle_hashes(toks, shingleN).as("sh"))
      .withColumn("n_sh", size(col("sh")))
  }

  /** Banded (doc_id, band, bucket) rows from a signature frame.
    * The exchange carries ONLY these three columns — never the
    * signature. The earlier form exploded the full 64-long sig into
    * every band (a `bands`× duplication of the corpus's signature
    * mass through the exchange) and sort_array'd structs containing
    * arrays; ids-only banding shrinks that shuffle ~30× and the
    * signatures re-enter once via a verify join. This is the shape
    * that survives 100 TB: exchange ∝ 16 longs/doc, not 16×64. */
  private[graft] def bandedBuckets(
      sigDf: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    sigDf.select(
        col("doc_id"),
        explode(transform(sequence(lit(0), lit(bands - 1)), b =>
          struct(
            b.as("band"),
            xxhash64(slice(col("sig"), b * lit(r) + lit(1), lit(r))).as("bucket")))).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Reports capped buckets through [[CapMetrics]]; the drop metric
    * needs the AQE setting [[graft.GraftSession]] declares. */
  def minhashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      maxBucket: Int = 1000): DataFrame = {
    // The signature frame feeds THREE consumers (banding + both sides
    // of the verify join); Spark has no common-subplan reuse across
    // different join keys, so without materialization the O(tokens ×
    // numHashes) signature pass runs three times — the dominant cost
    // at scale (measured 27 s → 13 s at sf1). One eager
    // localCheckpoint computes it once; blocks are ContextCleaner-
    // collected when the frame goes out of scope. Size ∝ docs ×
    // numHashes longs (0.5 KB/doc) — executor-resident, never driver.
    val sigDf = signatureFrame(df, idCol, textCol, shingleN, numHashes)
      .localCheckpoint(true)
    minhashCandidatesFromSig(sigDf, numHashes, bands, maxBucket)
      .orderBy("id_a", "id_b")
  }

  /** Candidate mining from a MATERIALIZED signature frame, unsorted —
    * the composition entry (gates that join the candidates downstream
    * re-sort once at the end; an interior orderBy would pay a range-
    * sampling job + a sort exchange that the join then destroys). */
  private[graft] def minhashCandidatesFromSig(
      sigDf: DataFrame, numHashes: Int, bands: Int, maxBucket: Int): DataFrame =
    estimateJaccard(
      minhashCandidatePairsFromSig(sigDf, numHashes, bands, maxBucket),
      sigDf, numHashes)

  /** Ids-only candidate pairs from a signature frame — callers that
    * intersect the candidate set with another pair source first (the
    * J2 gate) score ONLY the survivors via [[estimateJaccard]],
    * instead of paying the two signature joins over every candidate. */
  private[graft] def minhashCandidatePairsFromSig(
      sigDf: DataFrame, numHashes: Int, bands: Int, maxBucket: Int): DataFrame = {
    val buckets = bandedBuckets(sigDf, numHashes, bands)
      .groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(col("doc_id"))).as("members"))
      .where(size(col("members")) > 1)
    // the cap drop is LOUD: dropped buckets/pairs ride the plan's own
    // pass as an observed metric and WARN at completion (CapMetrics)
    CapMetrics.observeDrops(buckets, "minhash",
        size(col("members")) > maxBucket,
        size(col("members")).cast("long") * (size(col("members")) - 1) / 2)
      .where(size(col("members")) <= maxBucket)
      // FLAT pair expansion (posexplode + slice-explode), not a nested
      // transform/slice/flatten: higher-order functions run off the
      // codegen path and the nested shape materializes the whole L²
      // pair array per bucket before exploding — measured 1.4× slower
      // at sf0.1 (same rows; the interleaved A/B lives in git history,
      // round 12)
      .select(posexplode(col("members")).as(Seq("__i", "id_a")), col("members"))
      .select(col("id_a"), explode(
        slice(col("members"), col("__i") + lit(2), size(col("members")))).as("id_b"))
      .distinct() // dedup pairs BEFORE the (wider) verify join
  }

  /** Attach the minhash jaccard estimate to (id_a, id_b) pairs. */
  private[graft] def estimateJaccard(
      pairs: DataFrame, sigDf: DataFrame, numHashes: Int): DataFrame =
    pairs
      .join(sigDf.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigDf.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(
        pairs.columns.map(col) :+
          (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
            eq => eq)).cast(DoubleType) / lit(numHashes.toDouble)).as("est_jaccard"): _*)

  /** J14 — build the PERSISTED minhash index of a corpus: the
    * rolling-ingestion artifact. Two parquet tables under `path`:
    * `bands` — the ids-only (doc_id, band, bucket) rows of
    * [[bandedBuckets]], each carrying its SEGMENT-local bucket
    * occupancy so a probe can pre-drop buckets a single write already
    * made hot without re-aggregating the index — and `shingles` — the
    * (doc_id, sh, n_sh) hashed-shingle arrays that exact verification
    * joins against. Cost ∝ corpus, paid ONCE; every later shard probe
    * ([[dedupShardAgainstIndex]]) reads these files and NEVER touches
    * the corpus text again (at lake scale, bucket both tables by
    * doc_id so the verify join co-locates). Grow the index with
    * [[minhashIndexAppend]] as novel shards are accepted. Tombstones,
    * crash recovery, compaction and reuse are [[IndexStore]]'s. */
  def minhashIndexWrite(
      corpus: DataFrame, idCol: String, textCol: String, path: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16): Unit = {
    minhashStore(corpus.sparkSession, path).reset()
    writeIndexSegment(corpus, idCol, textCol, path, shingleN, numHashes,
      bands, SaveMode.Overwrite)
  }

  private def minhashStore(spark: SparkSession, path: String): IndexStore =
    new IndexStore(spark, path, Seq("bands", "shingles"))

  /** [[minhashIndexWrite]] iff `path` does not already hold the index
    * of exactly this corpus — the production artifact posture: an
    * index is built ONCE and amortized across every later probe, so a
    * query that would otherwise charge the one-time build to each run
    * (a per-window benchmark, a restarted probe job) reuses the
    * persisted artifact instead. Identity is a corpus fingerprint
    * (row count + an order-free XOR fold of per-id hashes, plus the
    * index parameters) held in [[IndexStore.ensure]]'s marker —
    * DELIBERATELY ids-only and one column-pruned agg to check, never a
    * text scan (at 100 TB the text column IS the corpus): a caller
    * whose TEXT can change under a fixed id set must own that
    * invalidation by deleting the path — the fingerprint cannot see
    * it. A fingerprint mismatch or missing marker rebuilds from
    * scratch; probes against a reused artifact are byte-equivalent to
    * a fresh build. */
  def minhashIndexEnsure(
      corpus: DataFrame, idCol: String, textCol: String, path: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16): Unit = {
    // order-free id-set fold: XOR of per-id hashes — never overflows
    // (ANSI mode makes a sum of full-range xxhash64 values throw),
    // order-insensitive, and any single id change flips the fold
    val row = corpus.agg(
      count(lit(1)),
      // coalesce: bit_xor over ZERO rows is NULL (an empty corpus is
      // legal — a filtered-away shard must not crash the ensure)
      coalesce(expr(s"bit_xor(xxhash64(`$idCol`))"), lit(0L))).head()
    val fp = s"${row.getLong(0)}:${row.getLong(1)}:" +
      s"$shingleN:$numHashes:$bands"
    minhashStore(corpus.sparkSession, path).ensure(fp)(
      minhashIndexWrite(corpus, idCol, textCol, path, shingleN, numHashes, bands))
  }

  /** J14 — grow a [[minhashIndexWrite]] artifact with a newly accepted
    * shard (the post-probe half of rolling ingestion: probe, keep the
    * novel docs, fold them into the index so the NEXT shard dedups
    * against them too). Pure parquet appends — cost ∝ shard, the
    * existing segments are never read or rewritten. Each segment
    * carries its own local occupancy; [[dedupShardAgainstIndex]]
    * reconciles the GLOBAL count per candidate bucket at probe time
    * over the candidate sliver only, so a bucket that crosses
    * `maxBucket` across segments still drops (spec-asserted equal to a
    * full index rebuild). */
  def minhashIndexAppend(
      shard: DataFrame, idCol: String, textCol: String, path: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16): Unit =
    minhashStore(shard.sparkSession, path).append(
      writeIndexSegment(shard, idCol, textCol, path, shingleN, numHashes,
        bands, SaveMode.Append))

  /** J16 — forget documents from a [[minhashIndexWrite]] artifact (the
    * right-to-be-forgotten path a 100 TB ingest lake must serve):
    * [[IndexStore.tombstone]]s the ids, so they stop matching on the
    * next [[dedupShardAgainstIndex]] and leave physically at the next
    * [[minhashIndexCompact]]; a later [[minhashIndexEnsure]] rebuilds
    * from the corpus it is given. Stored segment-local occupancy stays
    * stale until compaction — counts can only be too HIGH, so the
    * pre-exchange hot drop is conservative (the same at-least-once
    * contract as retried appends: over-dropping a hot bucket, never a
    * wrong match). */
  def minhashIndexDelete(ids: DataFrame, idCol: String, path: String): Unit =
    minhashStore(ids.sparkSession, path)
      .tombstone(ids.select(col(idCol).cast("long").as("doc_id")))

  /** J14 — fold an appended index back into ONE segment: rewrite
    * `bands` with GLOBAL occupancy (so every hot bucket is again
    * droppable BEFORE the probe's exchange, not at the sliver window)
    * and compact the shingle segments. Cost ∝ the index — the ids-only
    * band rows and hashed-shingle arrays, a small fraction of corpus
    * text — so this is the periodic maintenance job between cheap
    * per-shard appends, not part of the ingest path. The rewrite goes
    * through [[IndexStore.compactPrepare]]'s crash-safe swap (never
    * reads and overwrites the same files in one plan, and never
    * materializes the index in executor memory). Probe results are
    * unchanged by compaction (spec-asserted) — only WHERE the hot-drop
    * happens moves. Compaction is ALSO the repair path for at-least-once
    * appends: a retried streaming micro-batch
    * ([[graft.streaming.StreamOps.rollingIngestStream]]) can append
    * the same shard twice, inflating occupancy counts (duplicates can
    * only OVER-drop — conservative, never wrong matches); the rewrite
    * collapses duplicate rows per doc before rebuilding counts, so
    * post-compact verdicts equal a cleanly built index
    * (spec-asserted). */
  def minhashIndexCompact(spark: SparkSession, path: String): Unit =
    minhashIndexCompactPrepare(spark, path)()

  /** [[minhashIndexCompact]] split at its natural barrier (guide §2.6;
    * the split and its commit contract are [[IndexStore.compactPrepare]]'s). */
  def minhashIndexCompactPrepare(spark: SparkSession, path: String): () => Unit = {
    val store = minhashStore(spark, path)
    store.compactPrepare(
      "bands" -> { bands =>
        val ids = store.live(
          bands.select(col("doc_id"), col("band"), col("bucket")).distinct(), "doc_id")
        ids.join(
          ids.groupBy(col("band"), col("bucket"))
            .agg(count(lit(1)).as("n_bucket")),
          Seq("band", "bucket")).write
      },
      "shingles" -> (sh => store.live(sh.dropDuplicates("doc_id"), "doc_id").write))
  }

  private def writeIndexSegment(
      df: DataFrame, idCol: String, textCol: String, path: String,
      shingleN: Int, numHashes: Int, bands: Int, mode: SaveMode): Unit = {
    val shf = shingleFrame(df, idCol, textCol, shingleN).localCheckpoint(true)
    val bb = bandedBuckets(
      shf.select(col("doc_id"), minhashSignature(col("sh"), numHashes).as("sig")),
      numHashes, bands)
    // segment-local occupancy via a count window over the SAME
    // (band, bucket) exchange the rows already need — a groupBy+join
    // ran the signature/banding pipeline twice (no common-subplan
    // reuse across join sides) and paid a second exchange
    bb.withColumn("n_bucket",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bucket"))))
      .write.mode(mode).parquet(s"$path/bands")
    shf.write.mode(mode).parquet(s"$path/shingles")
  }

  /** J14 — probe an incoming shard against a [[minhashIndexWrite]]
    * artifact: per-shard cost ∝ shard (+ the candidate sliver of the
    * index), the corpus is NEVER rescanned. Shard shingles/signatures
    * compute in one checkpointed pass; band buckets equi-join the
    * index's `bands` with a two-level hot-bucket defense (the J2/Q17
    * contract): buckets a single segment already made hot drop BEFORE
    * the exchange via their stored local occupancy (the skew guard —
    * a mega-duplicate cluster never shuffles), and buckets hot only
    * ACROSS [[minhashIndexAppend]] segments drop after it via a
    * count window over the candidate sliver — costed by the sliver,
    * never the index (and sharing the join's (band,bucket)
    * partitioning when that join shuffles). Candidates
    * verify EXACTLY against the index's `shingles`, and the best
    * corpus match per shard doc folds as the map-combinable
    * `min(struct(-jaccard, id))` (the Q17 pattern). Returns flagged
    * shard docs `(doc_id, match_id, jaccard)`, unsorted — callers
    * compose (e.g. anti-join to keep novel docs) and sort once. */
  def dedupShardAgainstIndex(
      shard: DataFrame, idCol: String, textCol: String, path: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      maxBucket: Int = 1000, minJaccard: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = shard.sparkSession
    val store = minhashStore(spark, path)
    store.recover() // a crashed compaction rolls here
    val shf = shingleFrame(shard, idCol, textCol, shingleN).localCheckpoint(true)
    // the band-bucket frame feeds TWO consumers (the sliver's semi
    // join and the candidate join); without materialization the
    // O(shingles × numHashes) signature pass runs twice (no
    // common-subplan reuse across join sides — the minhashCandidates
    // lesson). persist(), not another eager checkpoint: lazy, so no
    // extra job at shard scale, and the frame is 3 ints × 16 rows per
    // doc — executor-memory-trivial; ContextCleaner reclaims it when
    // the probe's frame goes out of scope.
    val bb = bandedBuckets(
      shf.select(col("doc_id"), minhashSignature(col("sh"), numHashes).as("sig")),
      numHashes, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // tombstoned docs (minhashIndexDelete) leave the match space NOW,
    // before the sliver window, so n_glob counts live rows only; the
    // stored n_bucket pre-drop can only be conservatively high until
    // the next compaction purges the rows physically
    val idx = store.live(
      spark.read.parquet(s"$path/bands").where(col("n_bucket") <= maxBucket),
      "doc_id")
    val sliver = idx
      .select(col("doc_id").as("match_id"), col("band"), col("bucket"))
      .join(bb.select(col("band"), col("bucket")).distinct(),
        Seq("band", "bucket"), "leftsemi")
      .withColumn("n_glob",
        count(lit(1)).over(Window.partitionBy(col("band"), col("bucket"))))
      .where(col("n_glob") <= maxBucket)
    val cand = bb
      .join(sliver.select(col("match_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select(col("doc_id"), col("match_id"))
      .distinct()
    val corpusSh = store.live(spark.read.parquet(s"$path/shingles"), "doc_id")
      .select(col("doc_id").as("match_id"), col("sh").as("sh_b"), col("n_sh").as("nb"))
    cand
      .join(shf.select(col("doc_id"), col("sh"), col("n_sh")), "doc_id")
      .join(corpusSh, "match_id")
      .select(col("doc_id"), col("match_id"),
        (size(array_intersect(col("sh"), col("sh_b"))).cast("double") /
          (col("n_sh") + col("nb") -
            size(array_intersect(col("sh"), col("sh_b")))).cast("double"))
          .as("jaccard"))
      .where(col("jaccard") >= minJaccard)
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("jaccard")).as("nj"), col("match_id"))).as("best"))
      .select(col("doc_id"), col("best.match_id").as("match_id"),
        (-col("best.nj")).as("jaccard"))
  }

  /** 64-bit SimHash of the token stream: bit b votes +1/−1 by the
    * parity of xxhash64(token, b); the fingerprint folds the vote
    * signs MSB-first (acc·2 + bit — avoids per-column shift limits). */
  def simhash(text: Column): Column =
    graft.functions.HashFunctions.simhash64(split(text, " "))

  /** J3 — SimHash candidate pairs via 16-bit chunk pigeonhole: the
    * 64-bit fingerprint splits into 4 chunks, so any pair within
    * hamming distance 3 shares at least one exact chunk — bucketing by
    * (chunk_idx, chunk_value) finds all such pairs with one shuffle.
    * Emits every bucket-collision pair with its exact hamming
    * distance; pass `maxHamming` to filter. */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 64, maxBucket: Int = 1000): DataFrame = {
    mineHammingPairs(
      df.select(col(idCol).as("doc_id"), simhash(col(textCol)).as("__s"))
        .select(
          col("doc_id"),
          shiftrightunsigned(col("__s"), 32).as("hi"),
          col("__s").bitwiseAND(lit(0xFFFFFFFFL)).as("lo")),
      maxHamming, maxBucket)
  }

  /** J3v — SimHash pairs over the ENGINE-PORTABLE md5 fingerprint
    * ([[graft.functions.SimHashMd5]]; its pure-functions reference,
    * `simhashMd5HiLo`, is in HashExpressionsSpec): identical mining
    * shape and guarantees as [[simhashPairs]], but the fingerprint is
    * bit-reproducible in any engine with an md5 primitive — this is
    * the variant the DuckDB oracle gate verifies end-to-end (pair
    * list + exact hamming).
    * Production pipelines keep the cheaper native xxhash fingerprint;
    * both paths share `mineHammingPairs`, so the gate exercises the
    * real mining logic. */
  def simhashPairsMd5(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    mineHammingPairs(
      df.select(
          col(idCol).as("doc_id"),
          graft.functions.HashFunctions.simhash_md5(split(col(textCol), " ")).as("__s"))
        .select(
          col("doc_id"),
          shiftrightunsigned(col("__s"), 32).as("hi"),
          col("__s").bitwiseAND(lit(0xFFFFFFFFL)).as("lo")),
      maxHamming, maxBucket)
  }

  /** Shared pigeonhole miner over (doc_id, hi, lo) 32-bit fingerprint
    * halves: 4 × 16-bit chunks bucket the corpus (one shuffle of
    * (chunk, ckey, id, hi, lo) rows); within-bucket expansion emits
    * pairs with exact hamming = popcount(hi⊕hi) + popcount(lo⊕lo).
    * Any pair within hamming ≤ 3 shares a chunk — guaranteed recall
    * at the default threshold. */
  /** The shared 16-bit chunk explosion behind every hamming miner —
    * batch ([[mineHammingPairs]]) and stream
    * ([[graft.streaming.StreamOps.fingerprintPairStream]]) bucket with
    * the SAME expressions by construction (the J2/J8 shared-signature
    * posture). Output: (doc_id, hi, lo, chunk, ckey). */
  private[graft] def hammingChunks(simDf: DataFrame): DataFrame =
    simDf.select(
      col("doc_id"), col("hi"), col("lo"),
      explode(array(
        struct(lit(0).as("chunk"),
          shiftright(col("hi"), 16).bitwiseAND(lit(0xFFFFL)).as("ckey")),
        struct(lit(1).as("chunk"), col("hi").bitwiseAND(lit(0xFFFFL)).as("ckey")),
        struct(lit(2).as("chunk"),
          shiftright(col("lo"), 16).bitwiseAND(lit(0xFFFFL)).as("ckey")),
        struct(lit(3).as("chunk"), col("lo").bitwiseAND(lit(0xFFFFL)).as("ckey"))))
        .as("cb"))
      .select(col("doc_id"), col("hi"), col("lo"),
        col("cb.chunk").as("chunk"), col("cb.ckey").as("ckey"))

  /** Reports capped buckets through [[CapMetrics]], as
    * [[minhashCandidates]] does. */
  private[graft] def mineHammingPairs(
      simDf: DataFrame, maxHamming: Int, maxBucket: Int): DataFrame = {
    val chunked = hammingChunks(simDf)
      .select(col("doc_id"), col("hi"), col("lo"),
        struct(col("chunk"), col("ckey")).as("cb"))
    val buckets = chunked
      .groupBy(col("cb.chunk"), col("cb.ckey"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("hi"), col("lo"))))
        .as("members"))
      .where(size(col("members")) > 1)
    // loud cap drop: see CapMetrics (observed metric + WARN line)
    CapMetrics.observeDrops(buckets, "hamming",
        size(col("members")) > maxBucket,
        size(col("members")).cast("long") * (size(col("members")) - 1) / 2)
      .where(size(col("members")) <= maxBucket)
      // flat posexplode + slice-explode pair expansion — see the
      // minhash miner's note; the exact popcount filter runs on the
      // flat pair stream, identical rows
      .select(posexplode(col("members")).as(Seq("__i", "a")), col("members"))
      .select(col("a"), explode(
        slice(col("members"), col("__i") + lit(2), size(col("members")))).as("b"))
      .select(
        col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        (bit_count(col("a.hi").bitwiseXOR(col("b.hi"))) +
          bit_count(col("a.lo").bitwiseXOR(col("b.lo"))))
          .cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("id_a", "id_b")
  }

  /** J4 — exact word-n-gram Jaccard similarity over pairs blocked by
    * `blockCol` (a metadata key or an LSH bucket from J2/J3 — never an
    * unblocked cross join). The split + shingle-hash kernel is the
    * CPU-bound part, and fused into the scan stage it runs as many
    * tasks as the scan has splits — ONE for a single-row-group file —
    * so the three used columns are repartitioned across the cluster
    * first (the langIdCore posture); the pair mining after it is
    * partition-independent. The final `orderBy` runs in place: while
    * AQE reads the pair aggregate's map output as one partition (as
    * it does through sf0.1), [[graft.plans.InPlace]] replaces the
    * sort's range exchange, and its sampling job, with a one-partition
    * coalesce. The pair aggregate itself keeps its exchange: its input
    * is the shingle self-join, not one task's output. */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String, blockCol: String,
      n: Int = 3, minJaccard: Double = 0.1): DataFrame = {
    // Inverted-index formulation: explode distinct shingle hashes and
    // self-join on (block, shingle), so |A∩B| is a pair-count over
    // MATCHING shingles only — pairs sharing no shingle (jaccard 0,
    // i.e. almost all of them) never materialize. The naive
    // block-cross-join + per-pair array_union walked every candidate
    // pair and was 40× slower at sf0.1; this is also the shape that
    // survives 100 TB (shuffle ∝ corpus shingle count, join output ∝
    // true near-dup mass). Shingles hash to longs via xxhash64
    // (collision p≈|shingles|²/2⁶⁴ — negligible). Why the join is a
    // shuffled hash join: see [[ngramJaccardFromShingles]].
    val s = df
      .select(col(idCol).as("doc_id"), col(blockCol).as("block"), col(textCol).as("__text"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism) // CPU-bound kernel: don't inherit the scan's few partitions
      .select(
        col("doc_id"), col("block"),
        graft.functions.HashFunctions
          .shingle_hashes(split(col("__text"), " "), n).as("sh"))
      .withColumn("n_sh", size(col("sh")))
    ngramJaccardFromShingles(s, minJaccard).orderBy("id_a", "id_b")
  }

  /** Exact-jaccard inverted-index miner over a prepared (doc_id,
    * block, sh, n_sh) frame, unsorted — the composition entry (see
    * [[minhashCandidatesFromSig]] for why interior sorts are skipped;
    * gates additionally share ONE checkpointed [[shingleFrame]]
    * between this and the signature builder, so the corpus text is
    * split and hashed exactly once).
    *
    * Pairs come from a shuffled hash self-join of the exploded
    * (doc_id, block, n_sh, shingle) stream on (block, shingle) with
    * `a.doc_id < b.doc_id`. Both sides are the same plan, so AQE reuses
    * ONE exchange: the stream is shuffled once and `shingle_hashes`
    * runs once. A `collect_list` postings form (group per shingle,
    * expand each sorted array into pairs) spent 60% of its executor
    * CPU at sf0.1 in the object aggregate: its sort fallback, list
    * buffers and their serialization, whatever the fallback
    * threshold. Against it this join cut the dedup benchmark's task
    * CPU per warm pass by 37% (4 cores, 15 GB). A sort-merge join, or AQE's broadcast
    * pick, of the same self-join measured no faster than the postings
    * form; only the hash join pays.
    *
    * Memory bound: a shuffled hash join does not spill. Each task
    * holds its whole partition of the exploded shingle stream as the
    * hash table's build side, which grows linearly with the corpus's
    * (doc, shingle) rows per shuffle partition: 18 MiB per task at
    * sf0.1 and 80 MiB at sf1 (q_ngram_jaccard, 4 partitions). A corpus
    * whose partition outgrows executor memory needs more shuffle
    * partitions.
    *
    * Per-shingle pair mass is quadratic in posting length (one join
    * key); exactness forbids a bucket cap here — the capped
    * production paths for boilerplate-heavy corpora are minhash /
    * simhash (J2/J3), this operator is the exact verifier run behind
    * them. A doc_id that appears in two input rows never pairs with
    * itself (strict `<`, as in the DuckDB oracle). */
  private[graft] def ngramJaccardFromShingles(
      s: DataFrame, minJaccard: Double): DataFrame = {
    // explode_outer, then drop the rows with no shingle (a doc of fewer
    // than n tokens): a plain explode, or a token-count filter on the
    // text, is a predicate the optimizer pushes below the repartition
    // that spreads the shingle kernel — re-running split or the kernel
    // serially in the scan stage. A filter on the generator's output
    // cannot move below the Generate.
    val ex = s.select(
        col("doc_id"), col("block"), col("n_sh"), explode_outer(col("sh")).as("shingle"))
      .where(col("shingle").isNotNull)
    ex.as("a")
      .join(ex.as("b").hint("shuffle_hash"),
        col("a.block") === col("b.block") && col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(
        count(lit(1)).as("n_common"),
        first(col("a.n_sh")).as("na"), first(col("b.n_sh")).as("nb"))
      .select(
        col("id_a"), col("id_b"),
        (col("n_common").cast(DoubleType) /
          (col("na") + col("nb") - col("n_common")).cast(DoubleType)).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** J11 — APPLY a dedup clustering to the corpus: drop every
    * non-canonical cluster member (`node != component` in the
    * [[connectedComponents]] output — the component label IS the
    * minimum member id, so the representative survives by
    * construction) and keep un-clustered docs untouched. One anti-join
    * on ids (the dropped-member list ∝ duplicate mass, exchanged as
    * bare ids) — the cleaned-corpus materialization step a pipeline
    * actually ships after J1–J6 decide who stays. */
  def keepCanonical(
      docs: DataFrame, clusters: DataFrame, idCol: String): DataFrame =
    docs.join(
      clusters.where(col("node") =!= col("component"))
        .select(col("node").as(idCol)),
      Seq(idCol), "left_anti")

  /** J10 — SPAN-level exact dedup: every duplicated `spanLen`-token
    * window that appears in ≥ `minDocs` distinct documents, with its
    * doc count and total occurrence count. Substring granularity is
    * the gap the doc-level J1–J6 family leaves open: two documents can
    * be <50% similar overall yet share a verbatim boilerplate passage
    * that doc-level minhash never flags (public spec: Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better", which
    * dedups 50-token spans). That paper builds a single-node suffix
    * array; the Spark-first shape is windowed shingles + two-level
    * partial aggregation: explode the per-row window array (map-only),
    * `groupBy(span, doc)` then `groupBy(span)` — map-side combine
    * collapses within-partition repeats before the ONE shuffle on the
    * span key, and only spans surviving the HAVING materialize in the
    * result. Shuffle ∝ distinct (span, doc) pairs — the same posture
    * as the J4 inverted index, no pairwise comparison anywhere.
    *
    * Span identity travels as a 128-BIT HASH, never the string (the
    * same posture as [[spanScrub]], same fused one-pass window kernel):
    * every aggregation key shrinks from a ~spanLen-word string to two
    * longs, and the span STRING the report needs is re-derived for
    * SURVIVORS ONLY by slicing the corpus at each span's first
    * occurrence — non-surviving spans (the overwhelming mass) never
    * ship their text anywhere (guide §2.3 / §8: decide with small
    * rows, attach the heavy bytes once). Cross-span collisions are
    * ~2⁻¹²⁸ per pair — the certainty-at-scale argument spanScrub's
    * contract already carries. */
  def spanDedup(
      df: DataFrame, idCol: String, textCol: String,
      spanLen: Int, minDocs: Int = 2): DataFrame = {
    require(spanLen >= 1, "spanDedup: spanLen must be >= 1")
    require(minDocs >= 2, "spanDedup: minDocs must be >= 2 (cross-doc duplicates)")
    val base = spanBase(df, idCol, textCol)
    val occ = spanOccurrences(base, spanLen).toDF("__id", "__pos", "__h1", "__h2")
    // doc count, occurrence count AND the first occurrence in one
    // two-level partial agg; the struct-min is the corpus-wide first
    // occurrence (lexicographic order resolves by doc first; (id, mp)
    // is unique within a span group, so min_by has no tie and equals
    // min(struct)). Either first-occ form puts this level on a
    // SortAggregate (struct-typed agg buffer — same as spanScrub's);
    // the sorted mass is one row per distinct (span, doc), already
    // combined map-side, and min_by measured no worse than min(struct)
    // on the same-window A/B
    val survivors = occ
      .groupBy(col("__h1"), col("__h2"), col("__id"))
      .agg(count(lit(1)).as("__occ"), min(col("__pos")).as("__mp"))
      .groupBy(col("__h1"), col("__h2"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__occ")).as("n_occ"),
        min_by(struct(col("__id"), col("__mp")),
          struct(col("__id"), col("__mp"))).as("__f"))
      .where(col("n_docs") >= minDocs)
      .select(col("__f.__id").as("doc_id"), col("__f.__mp").as("__fpos"),
        col("n_docs"), col("n_occ"))
    // survivors only: slice the span text out of its first-occurrence
    // doc (AQE broadcasts the survivor side when it is small; at scale
    // this joins flagged spans ≪ corpus, never the window mass)
    base.join(survivors, "doc_id")
      .select(
        concat_ws(" ",
          slice(col("toks"), col("__fpos") + lit(1), lit(spanLen))).as("span"),
        col("n_docs"), col("n_occ"))
      .orderBy(col("span"))
  }

  /** `(doc_id, toks)`: the token frame the span family windows over. */
  private def spanBase(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))

  /** `(doc_id, pos, h1, h2)`: one row per `len`-token window of every
    * doc of a [[spanBase]] frame with at least `len` tokens. The span
    * string is hashed to (h1, h2) and never materialized, so every
    * downstream key is fixed-width. */
  private def spanOccurrences(base: DataFrame, len: Int): DataFrame =
    base.where(size(col("toks")) >= len)
      // fused window hashing: token byte slices stream into one XXH64
      // pass per window — bit-equal to the string_ngrams + xxhash64
      // chain (spec-held parity), no window-string materialization
      .select(col("doc_id"), posexplode(
        graft.functions.SpanWindowHashes.span_window_hashes(col("toks"), len)))
      .toDF("doc_id", "pos", "hs")
      .select(col("doc_id"), col("pos"),
        col("hs.h1").as("h1"), col("hs.h2").as("h2"))

  /** `(h1, h2, fdoc, fpos)`: every window of `occ` found in ≥ `minDocs`
    * docs, with its corpus-wide first occurrence. Dup decision AND
    * first occurrence in ONE two-level partial agg: per (span, doc)
    * keep the doc's min pos, then per span count docs + take the
    * struct-min (= the global min, since lexicographic struct order
    * resolves by doc first). The round-14 shape joined occ against the
    * dup set and re-aggregated the flagged mass for the first
    * occurrence — two more flagged-mass exchanges and a join for the
    * same rows (guide §2.4). */
  private def firstOccurrences(occ: DataFrame, minDocs: Int): DataFrame =
    occ
      .groupBy(col("h1"), col("h2"), col("doc_id"))
      .agg(min(col("pos")).as("__mp"))
      .groupBy(col("h1"), col("h2"))
      .agg(count(lit(1)).as("n_docs"),
        min(struct(col("doc_id"), col("__mp"))).as("f"))
      .where(col("n_docs") >= minDocs)
      .select(col("h1"), col("h2"),
        col("f.doc_id").as("fdoc"), col("f.__mp").as("fpos"))

  /** J12 — span-level dedup APPLIED: rewrite every document with its
    * duplicated-span occurrences REMOVED, keeping only the corpus-wide
    * first occurrence of each flagged span (the Lee et al. 2021
    * materialization step behind [[spanDedup]]'s detection — their
    * pipeline cuts all-but-one copy of each duplicated 50-token
    * substring before training). A span is flagged when it appears in
    * ≥ `minDocs` distinct documents (same criterion as J10); every
    * token covered by a NON-first occurrence of any flagged span is
    * dropped, and the survivors re-join in position order.
    *
    * Plan economics: window occurrences explode once (codegen'd
    * StringNgrams, map-only); the dup decision is the J10 two-level
    * partial agg (shuffle ∝ distinct (span, doc)); the corpus-wide
    * first occurrence is `min(struct(doc_id, pos))` per span — a plain
    * aggregate with map-side combine, chosen over a
    * `row_number().over(partitionBy(span))` window because a hot
    * boilerplate span would funnel its whole occurrence list through
    * one sorting window partition, while the struct-min reduces it
    * map-side. Covered positions fan out ≤ spanLen× the flagged
    * occurrence mass, the keep decision is one ids-only anti-join, and
    * the rebuild is one groupBy(doc) with an in-group position sort —
    * every shuffle ∝ tokens or ∝ flagged mass, no pairwise work.
    *
    * Span identity travels as a 128-BIT HASH, never the string: the
    * output is rebuilt text (the span string is internal), so every
    * groupBy/join key shrinks from a ~spanLen-word string to two
    * longs — the xxhash64 pair makes cross-span collisions ~2⁻¹²⁸ per
    * pair (vs certain at 100 TB for a single 64-bit hash). The
    * occurrence frame is deliberately NOT materialized: its two
    * consumers re-run the codegen'd explode over the columnar scan,
    * which measures ~2× cheaper at sf10 than checkpointing the
    * ~tokens×28-byte frame (explode is compute-light; the
    * materialization is write-heavy). */
  def spanScrub(
      df: DataFrame, idCol: String, textCol: String,
      spanLen: Int, minDocs: Int = 2): DataFrame = {
    require(spanLen >= 1, "spanScrub: spanLen must be >= 1")
    require(minDocs >= 2, "spanScrub: minDocs must be >= 2 (cross-doc duplicates)")
    val base = spanBase(df, idCol, textCol)
    val occ = spanOccurrences(base, spanLen)
    val grp = firstOccurrences(occ, minDocs)
    val cover = occ.join(grp, Seq("h1", "h2"))
      .where(!(col("doc_id") === col("fdoc") && col("pos") === col("fpos")))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(spanLen - 1))).as("tpos"))
      .distinct()
    spanCoverRebuild(base, cover)
  }

  /** Rebuild documents with covered token positions cut — the shared
    * tail of [[spanScrub]] and the streaming span-decision applier
    * ([[graft.streaming.StreamOps.applySpanDecisions]]). `base` is
    * `(doc_id, toks)`, `cover` is distinct `(doc_id, tpos)` to remove. */
  private[graft] def spanCoverRebuild(
      base: DataFrame, cover: DataFrame): DataFrame = {
    // per-doc SORTED cover array (exchange ∝ cover mass), then one
    // merge-walk kernel per document — the round-14 shape posexploded
    // EVERY corpus token into a (doc, tpos) anti-join exchange and
    // re-assembled docs with collect_list + sort_array; the corpus
    // tokens now never shuffle at all (guide §2.3/§2.4).
    val covA = cover.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("tpos").cast("long"))).as("__cov"))
    base.join(covA, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        graft.functions.SpanScrubApply.span_scrub_apply(
          col("toks"),
          coalesce(col("__cov"), typedlit(Seq.empty[Long]))).as("__s"),
        size(col("toks")).as("__n"))
      .select(
        col("doc_id"),
        col("__s.text_clean").as("text_clean"),
        col("__s.n_kept").as("n_kept"),
        (col("__n") - col("__s.n_kept")).cast("long").as("n_removed"))
      .orderBy("doc_id")
  }

  /** J12-var — VARIABLE-LENGTH span dedup APPLIED (the Lee et al. 2021
    * materialization a pipeline actually ships): rewrite every document
    * with its duplicated regions removed, PROTECTING the corpus-wide
    * first occurrence of each flagged window as a contiguous region.
    * The window decision is [[spanDedupVar]]'s (minLen-token windows in
    * ≥ minDocs distinct docs — covered-set-equivalent to the
    * suffix-array formulation, SuffixArraySpec); the keep decision is
    * J12's corpus-wide first occurrence per window; the removal set is
    *
    *   cover(non-first occurrences) MINUS cover(first occurrences)
    *
    * The subtraction is what makes this the variable-length semantics.
    * Fixed-window [[spanScrub]] cuts every token covered by ANY
    * non-first flagged window, so when two OVERLAPPING windows have
    * their first occurrences in DIFFERENT documents, the supposedly
    * kept copy gets fragmented: the doc holding window A's first
    * occurrence still loses A's interior tokens to overlapping window
    * B's non-first coverage (SpanScrubVarSpec constructs the over-cut).
    * Protecting first-occurrence coverage keeps exactly one contiguous
    * copy of every maximal duplicated region; non-first copies are cut
    * whole — per-doc removal regions are [[spanDedupVar]]'s maximal
    * islands minus the protected runs.
    *
    * Plan economics: identical to [[spanScrub]] (two-level partial agg
    * on 128-bit window hashes, struct-min first occurrence, coverage
    * fan-out ≤ minLen × flagged mass) plus ONE extra ids-only anti-join
    * for the protection set — every exchange key fixed-width, no
    * pairwise work anywhere. Output matches spanScrub:
    * (doc_id, text_clean, n_kept, n_removed). */
  def spanScrubVar(
      df: DataFrame, idCol: String, textCol: String,
      minLen: Int, minDocs: Int = 2): DataFrame = {
    require(minLen >= 2, "spanScrubVar: minLen must be >= 2")
    require(minDocs >= 2, "spanScrubVar: minDocs must be >= 2 (cross-doc duplicates)")
    val base = spanBase(df, idCol, textCol)
    val occ = spanOccurrences(base, minLen)
    val tagged = occ.join(firstOccurrences(occ, minDocs), Seq("h1", "h2"))
    val isFirst = col("doc_id") === col("fdoc") && col("pos") === col("fpos")
    // ONE coverage pass: explode every flagged occurrence with its
    // first/non-first tag, then a single (doc_id, tpos) partial agg
    // keeps the positions some non-first window covers that NO first
    // occurrence protects. Computing the two covers separately (two
    // explode+distinct shuffles + an anti-join — the round-14 shape)
    // doubled the fan-out exchange for the same set.
    val cut = tagged
      .select(col("doc_id"), isFirst.as("__pf"),
        explode(sequence(col("pos"), col("pos") + lit(minLen - 1))).as("tpos"))
      .groupBy(col("doc_id"), col("tpos"))
      .agg(max(col("__pf")).as("__anyFirst"))
      .where(!col("__anyFirst"))
      .select(col("doc_id"), col("tpos"))
    spanCoverRebuild(base, cut)
  }

  /** Distributed DENSE RANK over arbitrary key columns, attached
    * DIRECTLY to every input row — the building block [[suffixRanks]]
    * iterates. A global `dense_rank().over(Window.orderBy(...))`
    * funnels every row through ONE sorting task; this shape stays
    * distributed: the rows are range-partitioned and sorted by the
    * keys (equal keys land in one partition; partitions are
    * range-ordered, and AQE coalescing only merges ADJACENT reducer
    * partitions, so the concatenated partition order IS the global key
    * order), one job counts the distinct keys per partition, and a
    * lazy mapPartitionsWithIndex numbers the rows with the
    * prefix-summed offsets — no driver materialization beyond one long
    * per partition. Returns the ranked frame plus the TOTAL
    * distinct-key count (= the max rank), which the ladder's
    * early-stop reads for free instead of running a separate max(r)
    * aggregation job.
    *
    * vs the round-14 `denseRankMap` shape (distinct → range sort →
    * zipWithIndex → join back on the keys): the distinct exchange
    * (≈ n rows once suffix ranks are near-distinct), the join-back
    * exchange of the full input, the eager zipWithIndex job, AND the
    * per-round early-stop aggregation all disappear — per doubling
    * round the n-row exchanges drop 4 → 3 and the actions drop 3 → 1,
    * because the SORTED rows themselves are what gets pinned: the
    * counting job doubles as the level's materialization (the persist
    * fills during it), and rank assignment is a lazy per-partition
    * counter replayed over the pinned blocks on every read (an O(1)
    * map per row — far cheaper than the join-back it replaces). The
    * pinned level carries the (r1, r2) key columns alongside
    * (doc_id, pos) — ~⅓ more bytes per level than pinning ranks alone,
    * the price of one action per level instead of three (guide §1,
    * §2.3–2.4). The rank VALUES are identical: dense ranks 1..d in
    * ascending key order, independent of where the range sampler draws
    * boundaries. Returns the pinned level projected to
    * (doc_id, pos, r), the TOTAL distinct-key count (= max rank),
    * which the ladder's early-stop reads for free, and the cumulative
    * distinct-count offsets at every partition edge — the EXACT range
    * boundaries of this level's rank column, which the next round's
    * re-sort routes by instead of paying a range-sampling job
    * ([[graft.functions.RankRoute]]; partition sizes are preserved
    * because the paired frame carries one row per (doc, pos) with r1 =
    * this level's rank — the identical distribution). */
  private def pinRanked(
      df: DataFrame, keys: Seq[String], label: String,
      route: Option[Array[Long]] = None): (PinnedFrame, Long, Array[Long]) = {
    import org.apache.spark.sql.catalyst.InternalRow
    val spark = df.sparkSession
    val keyCols = keys.map(col)
    val sorted = route match {
      case Some(edges) =>
        // computed rank routing: partition index = rank bucket, no
        // sampling job; equal keys still land in one partition (equal
        // (r1, r2) ⇒ equal r1 ⇒ one bucket) and partition order is
        // rank order — both invariants the numbering below needs
        val p = edges.length - 1
        val pre = graft.functions.RankRoute.preimages(p)
        df.repartition(p,
            graft.functions.RankRoute.rank_route(col(keys.head), edges, pre))
          .sortWithinPartitions(keyCols: _*)
      case None =>
        df.repartitionByRange(keyCols: _*)
          .sortWithinPartitions(keyCols: _*)
    }
    val inSchema = sorted.schema
    val outSchema = org.apache.spark.sql.types.StructType(
      inSchema.fields :+ org.apache.spark.sql.types.StructField(
        "r", org.apache.spark.sql.types.LongType, nullable = false))
    val keyIdx = keys.map(inSchema.fieldIndex).toArray
    val types = inSchema.fields.map(_.dataType)
    val width = inSchema.length
    // key comparison on internal values (UTF8String/Long equals);
    // `prev` always holds a COPY in the counting pass — the sort
    // iterator reuses row buffers, so holding a live reference across
    // next() is corruption (the pinned replay below reads stable
    // cached rows, where copies are unnecessary)
    def sameKeys(a: InternalRow, b: InternalRow): Boolean = {
      var i = 0
      while (i < keyIdx.length) {
        val f = keyIdx(i)
        val av = a.get(f, types(f)); val bv = b.get(f, types(f))
        val same = if (av == null) bv == null else av.equals(bv)
        if (!same) return false
        i += 1
      }
      true
    }
    val rdd = graft.Prof.timed(s"$label toRdd")(sorted.queryExecution.toRdd).map(_.copy())
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE action: counting the per-partition distinct keys pulls every
    // row through the persist, so this job IS the materialization
    val counts = graft.Prof.timed(s"$label count")(rdd.mapPartitions { it =>
      var cnt = 0L
      var prev: InternalRow = null
      while (it.hasNext) {
        val r = it.next()
        if (prev == null || !sameKeys(prev, r)) { cnt += 1; prev = r }
      }
      Iterator.single(cnt)
    }.collect())
    graft.Prof.timed(s"$label clean")(
      org.apache.spark.graft.ShuffleBridge.cleanAllShuffles(rdd))
    val offsets = counts.scanLeft(0L)(_ + _)
    val ranked = rdd.mapPartitionsWithIndex { (pid, it) =>
      var rank = offsets(pid)
      var prev: InternalRow = null
      it.map { r =>
        if (prev == null || !sameKeys(prev, r)) { rank += 1; prev = r }
        val vals = new Array[Any](width + 1)
        var i = 0
        while (i < width) { vals(i) = r.get(i, types(i)); i += 1 }
        vals(width) = rank
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          vals): InternalRow
      }
    }
    val frame = org.apache.spark.sql.graft.ColumnBridge
      .internalCreateDataFrame(spark, ranked, outSchema)
      .select(col("doc_id"), col("pos"), col("r"))
    (new PinnedFrame(frame, rdd), counts.sum, offsets)
  }

  /** J17a — distributed SUFFIX-ARRAY ranks by prefix doubling
    * (Manber–Myers). For every (doc, pos) the rank of the doc's suffix
    * starting at pos, ordered corpus-globally — equal ranks ⇔ equal
    * suffixes. This is the index structure behind Lee et al. 2021's
    * variable-length duplicate-substring dedup (their artifact builds
    * a single-node suffix array over the concatenated corpus; ours
    * ranks per-document suffixes so spans never cross doc boundaries,
    * which is also their semantics — they separate docs with sentinel
    * bytes).
    *
    * Shape per round (k = 1, 2, 4, …): one equi-join pairing each
    * suffix's rank with the rank k positions later (computed as a
    * SHIFT-join — `(doc, pos−k)` against `(doc, pos)` — so it is an
    * equi-join, never a range join), then one distributed dense
    * re-rank over the (r, r_next) pairs via [[denseRankAttach]]. Total
    * work O(n log L) for max doc length L — the standard
    * prefix-doubling bound; every stage is shuffle-on-key, nothing
    * driver-side. Rounds stop early once all ranks are distinct
    * (dense ranks are then a fixpoint: re-ranking distinct dense
    * values reproduces them), so the `rounds` parameter is the
    * ORACLE-ALIGNMENT bound, not the engine's cost: the result equals
    * exactly `rounds` unrolled iterations, and the engine requires
    * 2^rounds ≥ max doc length loudly rather than returning ranks
    * that compare only a prefix. */
  def suffixRanks(
      df: DataFrame, idCol: String, textCol: String,
      rounds: Int = 8): DataFrame = {
    val (levels, _, _) =
      suffixRankLevels(df, idCol, textCol, rounds, retainLevels = false)
    // only the final level is still pinned; its blocks back the
    // returned frame and release when it goes out of scope
    // (ContextCleaner — the minhash signature posture).
    levels.last.frame.select(col("doc_id"), col("pos"), col("r").as("srank"))
  }

  /** One materialized rung of the prefix-doubling ladder: `frame` is a
    * flat LogicalRDD over explicitly pinned executor blocks;
    * `release()` drops those blocks DETERMINISTICALLY. ContextCleaner
    * only reclaims checkpoint blocks when a driver GC collects the
    * frame reference — with a large heap none may come for many
    * rounds, and 9 lingering n-row checkpoints spill ~9× the corpus to
    * executor disk (measured 42 GB at sf100). Round 13's stopgap was a
    * `System.gc()` per round; the explicit handle makes reclamation
    * independent of heap pressure on shared drivers. */
  private[graft] final class PinnedFrame(
      val frame: DataFrame, rdd: org.apache.spark.rdd.RDD[_]) {
    def release(): Unit = rdd.unpersist(blocking = false)
  }

  /** Materialize a frame into pinned executor blocks and hand back the
    * explicit release handle. The CATALYST plan is truncated by the
    * LogicalRDD wrapper (the doubling loop references each round twice,
    * so without truncation the plan doubles per lap — measured OOM in
    * plan stringification alone at 20 rounds); the RDD lineage stays
    * intact, so an evicted block recomputes through ordinary retry
    * instead of failing the job the way a localCheckpoint would (and
    * release() stays silent — unpersisting a locally-checkpointed RDD
    * logs a cannot-recompute WARN per round). MEMORY_AND_DISK: a
    * pressure-evicted round spills rather than drops. Rows copy out of
    * the scan's reused buffers before caching; the frame stays in
    * InternalRow-land (no external-Row encoder pass on downstream
    * consumption — the connectedComponents posture). */
  private def pinFrame(df: DataFrame, label: String = "pin"): PinnedFrame = {
    val schema = df.schema
    val rdd = graft.Prof.timed(s"$label toRdd")(df.queryExecution.toRdd).map(_.copy())
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.Prof.timed(s"$label count")(rdd.count())
    // the round's SHUFFLE files exist only to recompute the blocks
    // just pinned — release them NOW, deterministically (ContextCleaner
    // reclaims only on a driver GC; nine rounds of ~270M-row exchanges
    // exhausted the probe box's DISK at sf100 before any GC came, and
    // the public RDD.cleanShuffleDependencies stops at the topmost
    // shuffle, leaving the 3-4 exchanges beneath each round alive). A
    // lost pinned block recomputes through ordinary lineage recovery —
    // stage retry re-creates missing shuffle files.
    graft.Prof.timed(s"$label clean")(
      org.apache.spark.graft.ShuffleBridge.cleanAllShuffles(rdd))
    new PinnedFrame(
      org.apache.spark.sql.graft.ColumnBridge
        .internalCreateDataFrame(df.sparkSession, rdd, schema),
      rdd)
  }

  /** The prefix-doubling ladder shared by [[suffixRanks]] (J17a — final
    * ranks only) and [[longestDuplicate]] (J17c — the LCP halving walks
    * every level). Level i's frame is (doc_id, pos, r) with equal ranks
    * ⇔ equal depth-2^i prefixes (rank-0 sentinel padding past doc end).
    *
    * `retainLevels = false` returns ONLY the final level and releases
    * each superseded level's blocks the moment its successor is
    * materialized — executor footprint stays at ~2 levels regardless
    * of round count. `retainLevels = true` keeps the whole ladder
    * pinned (log L levels of n rows, disk-backed — the standard
    * suffix-array LCP structure, cf. Lee et al. 2021's log L rank
    * arrays); the CALLER owns release() of every returned level.
    * Returns (levels in depth order, n positions, max doc length). */
  private[graft] def suffixRankLevels(
      df: DataFrame, idCol: String, textCol: String, rounds: Int,
      retainLevels: Boolean): (Vector[PinnedFrame], Long, Long) = {
    require(rounds >= 1 && rounds <= 30,
      s"suffixRanks: rounds must be in [1,30], got $rounds")
    val base = df
      .select(col(idCol).as("doc_id"), posexplode(split(col(textCol), " ")))
      .toDF("doc_id", "pos", "tok")
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
      .persist()
    val stats = graft.Prof.timed("ladder stats")(
      base.agg(count(lit(1)), max(col("pos"))).head())
    val n = stats.getLong(0)
    val maxLen = if (stats.isNullAt(1)) 0L else stats.getLong(1) + 1L
    require(maxLen <= (1L << rounds),
      s"suffixRanks: longest document has $maxLen tokens but 2^$rounds = " +
        s"${1L << rounds} — ranks would compare only a prefix; raise `rounds`")
    val (l0, d0, off0) = pinRanked(base, Seq("tok"), "ladder L0")
    var cur = l0
    var edges = off0
    base.unpersist()
    var levels = Vector(cur)
    var j = 0
    // two value-identical early stops (both are fixpoints, spec-held by
    // the rounds=8 ≡ rounds=20 equality): all ranks distinct, or the
    // comparison depth 2^j already covers the longest document — equal
    // ranks then mean fully-equal suffixes, which no further round can
    // separate. The second matters when callers over-provision `rounds`
    // for oracle alignment: short-doc corpora stop at ceil(log2 L).
    // The distinct-key count pinRanked already computed IS the max
    // rank, so the check costs no job.
    var done = (n > 0 && d0 == n) || (1L >= maxLen)
    while (j < rounds && !done) {
      val k = 1L << j
      val cf = cur.frame
      // rank pairing as ONE union + (doc, pos) aggregation instead of a
      // self-join: both union sides are map scans of the same pinned
      // level, so the pairing costs one 2n-row exchange where the join
      // shape paid two n-row exchanges plus their sort-merge sorts
      // (guide §2.3–2.4). Equivalence to the left join: every position
      // contributes its tag-0 row, the tag-1 row at (doc, pos) is the
      // rank from pos+k and exists iff pos+k is inside the doc, and
      // missing tag-1 folds to the rank-0 sentinel exactly like the
      // join's null coalesce.
      val paired = cf
        .select(col("doc_id"), col("pos"), col("r"), lit(0).as("__t"))
        .unionAll(cf.where(col("pos") >= k).select(
          col("doc_id"), (col("pos") - k).as("pos"), col("r"), lit(1).as("__t")))
        .groupBy(col("doc_id"), col("pos"))
        .agg(
          max(when(col("__t") === 0, col("r"))).as("__r1"),
          coalesce(max(when(col("__t") === 1, col("r"))), lit(0L)).as("__r2"))
      // rounds >= 1 route by the previous level's EXACT rank edges —
      // no range-sampling job (RankRoute; only L0, whose string keys
      // have no precomputed distribution, pays the one-time sample)
      val (next, d, offN) = pinRanked(
        paired, Seq("__r1", "__r2"), s"ladder L${j + 1}", route = Some(edges))
      edges = offN
      // the previous round's blocks are unreferenced the moment `next`
      // is materialized (pinRanked ran its counting job) — release NOW
      if (!retainLevels) cur.release()
      cur = next
      levels = if (retainLevels) levels :+ cur else Vector(cur)
      j += 1
      if ((1L << j) >= maxLen) done = true // comparison depth covers max doc
      else if (j < rounds && n > 0) // all-distinct ⇒ fixpoint; skip last lap
        done = d == n
    }
    (levels, n, maxLen)
  }

  /** Annotates every (doc_id, pos, r) row of a pinned ladder level with
    * its rank group's occupancy and the group's two struct-min members,
    * with NO exchange: equal ranks are a contiguous run inside one
    * range partition of the level (see the call site for why), so a
    * streaming buffered-run scan suffices. Output columns:
    * (doc_id, pos, r, cnt, f1 struct, f2 struct — null when cnt = 1).
    * Equivalent to groupBy(r){count, min(struct), second-min(struct)}
    * joined back on r.
    *
    * Memory: O(1) per partition, never O(group). The round-15 shape
    * buffered each run in a heap ArrayBuffer — the sort-merge join it
    * replaced buffered the same run in Spark's SPILLABLE
    * ExternalAppendOnlyUnsafeRowArray, so a degenerate corpus whose
    * hot suffix class never separates (identical boilerplate suffixes
    * across millions of docs) degraded from slow to OOM (round-15
    * verdict). Now TWO lockstep iterators over the same pinned
    * partition (zipPartitions of the level's RDD with itself — each
    * side re-reads the persisted blocks independently): a stats
    * cursor runs one run AHEAD holding only (count, two struct-min
    * members), and the emit cursor replays the same rows attaching
    * the finished stats — no row of the group is ever retained
    * (guide §5). SuffixArraySpec pins the hot-rank corpus. */
  private[graft] def rankGroupAnnotate(fin: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types._
    val spark = fin.sparkSession
    val dt = fin.schema("doc_id").dataType
    val memberType = StructType(Seq(
      StructField("doc_id", dt, nullable = false),
      StructField("pos", LongType, nullable = false)))
    val outSchema = StructType(Seq(
      StructField("doc_id", dt, nullable = false),
      StructField("pos", LongType, nullable = false),
      StructField("r", LongType, nullable = false),
      StructField("cnt", LongType, nullable = false),
      StructField("f1", memberType, nullable = false),
      StructField("f2", memberType, nullable = true)))
    val docOrd = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(dt)
    // (doc, pos) lexicographic — the struct-min ordering of the
    // aggregation shape this replaces
    def less(ad: Any, ap: Long, bd: Any, bp: Long): Boolean = {
      val c = docOrd.compare(ad, bd)
      if (c != 0) c < 0 else ap < bp
    }
    val base = fin.queryExecution.toRdd
    val rdd = base.zipPartitions(base) { (statsIt, emitIt) =>
      new Iterator[InternalRow] {
        // `pending` holds the first row of the NEXT run (copied — the
        // scan iterator reuses row buffers); the stats cursor owns at
        // most three copied rows at any time (pending + two mins)
        private var pending: InternalRow =
          if (statsIt.hasNext) statsIt.next().copy() else null
        private var curR = 0L
        private var cnt = 0L
        private var emitted = 0L
        private var f1s: GenericInternalRow = null
        private var f2s: GenericInternalRow = null
        private def nextRunStats(): Unit = {
          curR = pending.getLong(2)
          cnt = 1L
          var m1 = pending
          var m2: InternalRow = null
          pending = null
          var more = true
          while (more && statsIt.hasNext) {
            val c = statsIt.next()
            if (c.getLong(2) == curR) {
              cnt += 1
              val d = c.get(0, dt); val p = c.getLong(1)
              // copy only when the row becomes one of the two mins
              if (less(d, p, m1.get(0, dt), m1.getLong(1))) {
                m2 = m1; m1 = c.copy()
              } else if (m2 == null ||
                less(d, p, m2.get(0, dt), m2.getLong(1))) m2 = c.copy()
            } else { pending = c.copy(); more = false }
          }
          f1s = new GenericInternalRow(
            Array[Any](m1.get(0, dt), m1.getLong(1)))
          f2s = if (m2 == null) null
            else new GenericInternalRow(
              Array[Any](m2.get(0, dt), m2.getLong(1)))
          emitted = 0L
        }
        def hasNext: Boolean = emitted < cnt || pending != null
        def next(): InternalRow = {
          if (emitted == cnt) nextRunStats()
          // the emit cursor replays the same partition one run behind
          // the stats cursor; hasNext() first — codegen iterators fill
          // their buffer there — and copy() because buffers are reused
          if (!emitIt.hasNext) throw new IllegalStateException(
            "rankGroupAnnotate: emit cursor exhausted before stats cursor")
          val row = emitIt.next().copy()
          emitted += 1
          new GenericInternalRow(Array[Any](
            row.get(0, dt), row.getLong(1), curR, cnt, f1s, f2s)): InternalRow
        }
      }
    }
    org.apache.spark.sql.graft.ColumnBridge
      .internalCreateDataFrame(spark, rdd, outSchema)
  }

  /** J17c — per-document LONGEST DUPLICATED SUBSTRING report from the
    * suffix-rank ladder (the number Lee et al. 2021 publish, and the
    * natural threshold-tuning diagnostic for [[spanDedupVar]]): for
    * every document, the length of the longest token run that also
    * occurs at some OTHER (doc, pos) in the corpus (within-doc repeats
    * included — the paper's criterion), the smallest position of such a
    * run, and a certifying other occurrence.
    *
    * Algorithm: final suffix ranks order the distinct suffixes; the
    * longest duplicate through position p is
    * max(full-suffix-length if p's rank has ≥ 2 members,
    *     LCP with the predecessor rank's representative,
    *     LCP with the successor's) — the classic adjacent-suffix LCP
    * property (non-adjacent groups never beat adjacent ones in sorted
    * order). Rank adjacency is an EQUI-join (ranks are dense: r ↔ r+1),
    * never a corpus-global ordering window; each adjacent LCP computes
    * by RANK-PAIR HALVING down the retained ladder — at level i (depth
    * 2^i), equal ranks at the advanced offsets add 2^i and advance;
    * offsets past a doc's end miss the level join and compare unequal
    * (the rank-0 sentinel semantics). Two equi-joins against an n-row
    * level per rung ⇒ the whole report is O(n log L) shuffle-on-key
    * work; the ladder's log L pinned levels (disk-backed) are the
    * standard suffix-array LCP memory shape, released deterministically
    * once the report is materialized.
    *
    * Attribution is deterministic: among the candidate certifying
    * occurrences (struct-min same-rank other, predecessor rep,
    * successor rep) achieving the max, the struct-min (doc, pos); per
    * doc, the smallest position achieving the doc max. Docs with no
    * duplicated run report dup_len 0 at pos 0 with null source. */
  def longestDuplicate(
      df: DataFrame, idCol: String, textCol: String,
      rounds: Int = 8): DataFrame = {
    val (levels, _, _) =
      suffixRankLevels(df, idCol, textCol, rounds, retainLevels = true)
    val fin = levels.last.frame // (doc_id, pos, r)
    val base = df.select(
      col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
    // rank-group stats (occupancy + the two struct-min members — the
    // second is the deterministic "other occurrence" when a position IS
    // the min), attached to every position with ZERO exchange: pinRanked
    // range-partitions and sorts each level by its key pair, and r is
    // the dense rank OF that pair, so every rank group is a contiguous
    // run inside one partition (AQE only coalesces ADJACENT range
    // partitions — the invariant pinRanked's numbering already relies
    // on). One buffered-run scan per partition replaces the round-14
    // shape's two n-row groupBy exchanges + join-back + pinned grp frame
    // (guide §2.4). Left LAZY: recomputing it is a map over the pinned
    // final level, so its two consumers (walk reps, per-position report)
    // cost no extra shuffle or pin action.
    val ann = rankGroupAnnotate(fin)
    // doc lengths from the final level itself (max position + 1) — the
    // partial-aggregated exchange carries one row per doc, where the
    // round-14 shape re-scanned the corpus and re-split every text just
    // to take size(toks) (guide §2.3: aggregate before you shuffle).
    val lengths = fin.groupBy(col("doc_id"))
      .agg((max(col("pos")) + 1L).as("__dl"))
    val reps = ann
      .where(col("doc_id") === col("f1.doc_id") && col("pos") === col("f1.pos"))
      .select(col("r"), col("f1.doc_id").as("rd"), col("f1.pos").as("rp"))
    // adjacent representative pairs, keyed by the LOWER rank. The
    // halving walk is PINNED every THREE rungs and the superseded
    // pin's blocks + shuffles released — the ladder-build posture one
    // stage downstream. Left lazy end-to-end (the round-14 shape), all
    // ~2·log L rungs' n-row exchanges chain in ONE job and their
    // files coexist until it ends: the exact disk-accumulation class
    // ShuffleBridge exists to prevent (at sf100, 9 rungs × 2 n-row
    // exchanges over 270M positions — the same monotonic climb the
    // ladder build aborted on). Batching three rungs per pin cuts the
    // walk's materialization actions to ~⅓ while bounding the live
    // exchange files to one pinned rung + ≤3 lazy rungs' exchanges
    // (measured: 2/pin → 3/pin saved ~1 s at sf0.1 with the same
    // bounded-disk posture). A ladder level is dead the moment the
    // batch that consumed it is pinned, so every level but the final
    // one — which the per-position report still reads — releases
    // inside the loop too, holding the executor footprint to ~4 rungs
    // + 4 levels throughout.
    var pairs: PinnedFrame = null
    var chain = reps
      .join(reps.select((col("r") - 1).as("r"),
        col("rd").as("db"), col("rp").as("pb")), Seq("r"))
      .select(col("r"), col("rd").as("da"), col("rp").as("pa"),
        col("db"), col("pb"), lit(0L).as("lcp"), lit(0L).as("off"))
    var sincePin = 0
    var consumed = List.empty[Int]
    for (i <- levels.indices.reverse) {
      val li = levels(i).frame
      val kk = 1L << i
      val la = li.select(
        col("doc_id").as("__ad"), col("pos").as("__ap"), col("r").as("__ar"))
      val lb = li.select(
        col("doc_id").as("__bd"), col("pos").as("__bp"), col("r").as("__br"))
      val j1 = chain.join(la,
        chain("da") === la("__ad") &&
          (chain("pa") + chain("off")) === la("__ap"), "left")
      val j2 = j1.join(lb,
        j1("db") === lb("__bd") && (j1("pb") + j1("off")) === lb("__bp"), "left")
      val eq = col("__ar").isNotNull && col("__br").isNotNull &&
        col("__ar") === col("__br")
      chain = j2.select(col("r"), col("da"), col("pa"), col("db"), col("pb"),
        when(eq, col("lcp") + kk).otherwise(col("lcp")).as("lcp"),
        when(eq, col("off") + kk).otherwise(col("off")).as("off"))
      sincePin += 1
      consumed ::= i
      if (sincePin == 3 || i == 0) {
        val next = pinFrame(chain, s"walk rung$i")
        if (pairs != null) pairs.release()
        consumed.foreach(ii => if (ii != levels.size - 1) levels(ii).release())
        consumed = Nil
        sincePin = 0
        pairs = next
        chain = pairs.frame
      }
    }
    // the two adjacency views of the final rung (LCP with the rank
    // below via r, with the rank above via r+1) fold into ONE frame
    // keyed by r — one union + groupBy over ~2·groups rows replaces a
    // second n-row join pass against the per-position side (§2.4).
    val adjC = pairs.frame.select(col("r"), col("lcp").as("ln"),
        struct(col("db").as("doc_id"), col("pb").as("pos")).as("nsrc"),
        lit(null).cast("long").as("lp"),
        when(lit(false), struct(col("da").as("doc_id"), col("pa").as("pos")))
          .as("psrc"))
      .unionAll(pairs.frame.select((col("r") + 1).as("r"),
        lit(null).cast("long").as("ln"),
        when(lit(false), struct(col("db").as("doc_id"), col("pb").as("pos")))
          .as("nsrc"),
        col("lcp").as("lp"),
        struct(col("da").as("doc_id"), col("pa").as("pos")).as("psrc")))
      .groupBy(col("r"))
      .agg(max(col("ln")).as("ln"), max(col("nsrc")).as("nsrc"),
        max(col("lp")).as("lp"), max(col("psrc")).as("psrc"))
    // per-position candidates: group stats ride along from `ann`
    // (partition-local), so the only per-position joins left are doc
    // length (a plain equi-join on doc_id, one row per doc — AQE
    // broadcasts it when the doc table is small; at scale it is an
    // ordinary shuffled equi-join, which is correct there too) and the
    // fused walk-adjacency frame.
    val per = ann
      .join(lengths, Seq("doc_id"))
      .withColumn("slen", col("__dl") - col("pos"))
      .join(adjC, Seq("r"), "left")
      .select(col("doc_id"), col("pos"),
        array(
          struct(
            when(col("cnt") >= 2, col("slen")).otherwise(lit(0L)).as("l"),
            when(col("doc_id") === col("f1.doc_id") &&
              col("pos") === col("f1.pos"), col("f2"))
              .otherwise(col("f1")).as("s")),
          struct(coalesce(col("ln"), lit(0L)).as("l"), col("nsrc").as("s")),
          struct(coalesce(col("lp"), lit(0L)).as("l"), col("psrc").as("s")))
          .as("cands"))
      .select(col("doc_id"), col("pos"), col("cands"),
        array_max(transform(col("cands"), c => c.getField("l"))).as("d"))
      .select(col("doc_id"), col("pos"), col("d"),
        array_min(transform(
          filter(col("cands"),
            c => c.getField("l") === col("d") && col("d") > 0),
          c => c.getField("s"))).as("src"))
    val perDoc = per.groupBy(col("doc_id"))
      .agg(max(struct(col("d").as("l"), (-col("pos")).as("np"),
        col("src").as("s"))).as("b"))
    val report = perDoc.join(base, Seq("doc_id"))
      .select(col("doc_id"),
        col("b.l").as("dup_len"), (-col("b.np")).as("dup_pos"),
        col("b.s.doc_id").as("src_doc"), col("b.s.pos").as("src_pos"),
        array_join(slice(col("toks"), (-col("b.np") + 1).cast("int"),
          col("b.l").cast("int")), " ").as("dup_text"))
    // materialize BEFORE releasing what the plan still reads from:
    // the final ladder level (withLen) and the walk's final rung
    // (adjN/adjP) — every earlier level/rung already released in-loop
    val pinned = graft.Prof.timed("report checkpoint")(report.localCheckpoint(true))
    levels.last.release()
    pairs.release()
    pinned.orderBy("doc_id")
  }

  /** J17b — VARIABLE-LENGTH duplicated-span detection (Lee et al. 2021
    * semantics): per document, every MAXIMAL contiguous region whose
    * tokens all lie inside some `minLen`-token window duplicated
    * across ≥ `minDocs` documents — reported with its true start,
    * length, and text, NOT fragmented into fixed windows. A 60-token
    * boilerplate block comes back as ONE row of span_len 60 (J10's
    * fixed-window report shows 53 overlapping 8-gram rows that cannot
    * express the extent), and a boilerplate copy with an internal edit
    * comes back as its two maximal unedited segments with their exact
    * lengths. The covered-position set is provably identical to the
    * suffix-array formulation for threshold `minLen` (a position is in
    * a duplicated substring of length ≥ minLen iff one of the ≤ minLen
    * windows containing it is duplicated — SuffixArraySpec holds the
    * equivalence against a literal suffix-array reference), so this
    * computes the paper's removal regions with ONE window shuffle
    * instead of log-many global sorts.
    *
    * Shape: the J12 duplicated-window decision (two-level partial agg
    * on 128-bit span hashes, shuffle ∝ distinct (span, doc)), then a
    * per-document gaps-and-islands merge — `lag` + running sum over a
    * window PARTITIONED BY doc, so the sort is bounded by doc length,
    * never corpus-global. Output rows ∝ flagged regions. */
  def spanDedupVar(
      df: DataFrame, idCol: String, textCol: String,
      minLen: Int, minDocs: Int = 2): DataFrame = {
    require(minLen >= 2, "spanDedupVar: minLen must be >= 2")
    require(minDocs >= 2, "spanDedupVar: minDocs must be >= 2 (cross-doc duplicates)")
    import org.apache.spark.sql.expressions.Window
    val base = spanBase(df, idCol, textCol)
    val occ = spanOccurrences(base, minLen)
      .withColumn("pos", col("pos").cast("long"))
    val dup = occ
      .groupBy(col("h1"), col("h2"), col("doc_id")).agg(count(lit(1)).as("__o"))
      .groupBy(col("h1"), col("h2")).agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= minDocs)
      .select(col("h1"), col("h2"))
    val flagged = occ.join(dup, Seq("h1", "h2")).select("doc_id", "pos")
    // islands: same-length intervals [pos, pos+minLen) merge whenever
    // they overlap or touch — break exactly when the gap exceeds minLen
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val spans = flagged
      .withColumn("__brk",
        when(col("pos") - lag("pos", 1).over(w) > minLen, lit(1)).otherwise(lit(0)))
      .withColumn("__g", sum(col("__brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("__g"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(minLen.toLong) - min(col("pos"))).as("span_len"))
    spans.join(base, Seq("doc_id"))
      .select(col("doc_id"), col("span_start"), col("span_len"),
        array_join(slice(col("toks"),
          (col("span_start") + 1).cast("int"), col("span_len").cast("int")),
          " ").as("span_text"))
      .orderBy("doc_id", "span_start")
  }

  /** J6 — near-dup CLUSTERING: connected components over candidate-pair
    * edges (the step after J1–J5: pairwise signals → document clusters →
    * one canonical doc kept per cluster). Each round does min-label
    * propagation over the edges AND a pointer-jumping compression
    * (`label ← label(label)`), so labels spread exponentially along
    * paths — fixpoint in O(log diameter) rounds, not O(diameter): a
    * 10⁶-long degenerate chain converges in ~20 rounds instead of 10⁶
    * (near-dup clusters are shallow stars anyway and finish in 2–3).
    * Every round is shuffle-joins + a groupBy on node id; each round's
    * frame persists and releases after, so lineage stays flat.
    * Convergence is a per-round scalar count (Pregel-style driver
    * check — O(1) driver data); non-convergence within `maxIter`
    * fails loudly rather than returning wrong clusters.
    *
    * The loop runs under the caller's session conf and changes none
    * of it: the symmetric edge table is partitioned once on the join
    * key and persisted, so the big edge side is exchanged once, not
    * once per round, and AQE sizes each round's small shuffles.
    *
    * Small-graph fast path (the same shape as Spark's own
    * size-adaptive broadcast decision): a `limit(threshold+1)` probe
    * collects the edge list when it fits under `driverThreshold` rows
    * (default 10⁶ ≈ 32 MB of boxed id pairs — BOUNDED, loud in the
    * scaladoc, never data-proportional) and solves union–find on the
    * driver. Duplicate-pair edge sets are a tiny fraction of the
    * corpus even at 100 TB, but when they do exceed the bound the
    * probe costs one short-circuiting job and the distributed loop
    * runs unchanged. The fast path's output is a LocalRelation, so
    * every downstream join against it broadcasts for free.
    *
    * Returns (node, component) with component = min node id reachable.
    */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25, driverThreshold: Int = 1000000): DataFrame = {
    val spark = edges.sparkSession
    if (driverThreshold > 0) {
      val probe = edges
        .select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .limit(driverThreshold + 1)
        .collect()
      if (probe.length <= driverThreshold) {
        // Union–find with the MIN reachable id as each root (matching
        // the distributed loop's label semantics), path-halving finds.
        val parent = new java.util.HashMap[Any, Any]()
        def find(x0: Any): Any = {
          var x = x0
          var p = parent.get(x)
          while (p != x) {
            val gp = parent.get(p)
            parent.put(x, gp); x = gp; p = parent.get(x)
          }
          x
        }
        def lt(a: Any, b: Any): Boolean =
          a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
        probe.foreach { r =>
          val a = r.get(0); val b = r.get(1)
          if (!parent.containsKey(a)) parent.put(a, a)
          if (!parent.containsKey(b)) parent.put(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) {
            if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
        val dt = edges.schema(srcCol).dataType
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node", dt, nullable = false),
          org.apache.spark.sql.types.StructField("component", dt, nullable = false)))
        val out = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size())
        val it = parent.keySet().iterator()
        while (it.hasNext) {
          val n = it.next()
          out.add(org.apache.spark.sql.Row(n, find(n)))
        }
        return spark.createDataFrame(out, schema).orderBy("node")
      }
    }
    // Symmetric closure PLUS a self-loop per node. The self-loop does
    // two jobs at once: (a) the neighbor-min join needs no left-join /
    // coalesce fallback (every node meets at least its own label), and
    // (b) the row where dst == src delivers the node's OWN round-start
    // label into the same aggregation — so propagation and the `prev`
    // needed for the convergence check come out of ONE join+groupBy
    // instead of the former two joins.
    // Duplicate edges are tolerated (the min-aggregation absorbs
    // them), so only the self-loop branch pays a distinct — callers
    // whose candidate generators emit a pair many times (banded
    // minhash) should dedupe upstream where the dedup key is cheap.
    val symRaw = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .union(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
    // Partitioned on the join key and persisted: every round's join
    // reuses the cached partitioning and shuffles only the label frame.
    val sym = symRaw
      .union(symRaw.select(col("src")).distinct()
        .select(col("src"), col("src").as("dst")))
      .repartition(col("dst"))
      .persist()
    try {
    // No separate label-initialization pass: labels materialize for
    // the first time as round 0's output (see below). Each round's
    // output is an eager localCheckpoint — iterative rounds reference
    // the prior labels several times, so without lineage truncation
    // the logical plan grows ~3× per round and the driver ends up
    // spending minutes just *stringifying* plans (the same reason
    // GraphX checkpoints its iteration state).
    var labels: DataFrame = null
    var iter = 0
    var changed = 1L
    while (iter < maxIter && changed > 0) {
      val staged = if (iter == 0) {
        // Round 0: the label map is the identity (component(n) = n),
        // so label(dst) = dst and min-propagation needs NO join —
        // one groupBy over the edge table. prev is the group key
        // itself (the self-loop's dst) and the identity jump is a
        // no-op, so this round is a single shuffle.
        sym.groupBy(col("src").as("node"))
          .agg(min(col("dst")).as("component"), min(col("src")).as("prev"))
          .select(col("node"), col("prev"), col("component"))
      } else {
      // ONE join+groupBy yields both the propagated label (min over
      // self ∪ neighbors — self-loops make the inner join total, no
      // left-join fallback) and `prev` (the self-loop row's
      // contribution, recovered as min over the dst==src singleton).
      val propagated = sym
        .join(labels, sym("dst") === labels("node"))
        .groupBy(sym("src").as("node"))
        .agg(
          min("component").as("component"),
          min(when(col("dst") === col("src"), col("component"))).as("prev"))
      // pointer jumping: component ids ARE node ids, so every label can
      // be compressed through its own label's label in one self-join —
      // this is what turns O(diameter) rounds into O(log diameter).
      // The jump reads the ROUND-START labels (already checkpointed)
      // rather than `propagated`: one half-round-stale hop compresses
      // almost as fast, and it keeps `propagated` single-use.
      val lookup = labels
        .select(col("node").as("__ln"), col("component").as("__lc"))
      // keep the round-start label as prev, so the convergence check is
      // a filter over THIS frame — no extra join
      propagated
        .join(lookup, propagated("component") === col("__ln"), "left")
        .select(
          col("node"), col("prev"),
          least(col("component"), coalesce(col("__lc"), col("component")))
            .as("component"))
      }
      // Fused materialize + convergence check: ONE driver action per
      // round instead of two (the eager DF localCheckpoint used to be
      // job 1 and the changed-count job 2). The changed-count rides a
      // LongAccumulator on the same pass that pins the round's blocks.
      // Everything stays in InternalRow-land (`toRdd` +
      // internalCreateDataFrame): the public RDD[Row] route pays an
      // encoder pass on every downstream consumption, and this frame
      // is consumed three times per round. Accumulator updates in a
      // transformation are at-least-once under task retry — safe for
      // this check, which only distinguishes `== 0` from `> 0`: a
      // retried task can overcount a nonzero round, never turn a
      // changed round into an apparent fixpoint.
      val acc = spark.sparkContext.longAccumulator("cc_changed")
      val schema = staged.schema
      val pi = schema.fieldIndex("prev")
      val ci = schema.fieldIndex("component")
      val dt = schema(ci).dataType
      val counted = staged.queryExecution.toRdd.map { r =>
        if (r.get(ci, dt) != r.get(pi, dt)) acc.add(1L)
        r.copy() // rows are buffer-reused by the scan; the cached
                 // blocks need stable copies
      }
      counted.localCheckpoint()
      counted.count()
      changed = acc.value
      labels = org.apache.spark.sql.graft.ColumnBridge
        .internalCreateDataFrame(spark, counted, schema)
        .select("node", "component")
      iter += 1
    }
    require(changed == 0L,
      s"connectedComponents did not converge in $maxIter rounds")
    // labels is already materialized checkpoint blocks, so the edge
    // table can be released before the caller runs the ordering.
    labels.orderBy("node")
    } finally sym.unpersist()
  }

  /** J5 — embedding-cosine near-duplicates over pairs blocked by
    * `blockCol` (cluster label or an ANN bucket).
    *
    * Scale note (measured at sf1): with FIXED block cardinality the
    * within-block pair count grows ∝ n²/nBlocks — J5 is the exact
    * small/labeled-corpus tool, and [[Clustering.semanticDedup]] (cells
    * ∝ √n) or [[Similarity.lshBucket]] is the scale path. Salting the
    * pair join was tried and REVERTED: Spark broadcasts the ≤10s-of-MB
    * embedding side and streams the probe, so there is no key-
    * parallelism collapse to fix — a salt factor of S only bloats the
    * broadcast ×S (S=32 measured 2× slower than S=1 at sf1); the
    * quadratic candidate evaluation itself is the irreducible cost. */
  def embeddingNearDup(
      df: DataFrame, idCol: String, vecCol: String, blockCol: String,
      threshold: Double): DataFrame = {
    val e = df.select(
      col(idCol).as("vec_id"), col(blockCol).as("block"), col(vecCol).as("emb"))
    e.as("a").join(e.as("b"),
        col("a.block") === col("b.block") && col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        graft.functions.GraftFunctions.cosine_sim(col("a.emb"), col("b.emb")).as("cosine"))
      .where(col("cosine") > threshold)
      .orderBy("id_a", "id_b")
  }
}
