package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2 K). Two paths:
  *
  *  - brute force (K1): exact baseline — broadcast the (small) query
  *    set over the corpus scan; the corpus is never shuffled, the
  *    only shuffle is the per-query top-k window.
  *  - random-hyperplane LSH (K2): the scale path — bucket the corpus
  *    once by sign-pattern against `nPlanes` fixed hyperplanes
  *    (deterministic splitmix64 weights, no RNG state), then search
  *    only within the query's bucket. Corpus bucketing is a single
  *    narrow projection; re-usable across query batches via
  *    `repartition($"bucket")` + cache at cluster scale.
  */
object Similarity {

  /** Deterministic pseudo-random hyperplane weights in [−1, 1]
    * (splitmix64 finalizer of (plane, dim) — stable across runs and
    * executors, no broadcast of RNG state needed). */
  private[graft] def planeWeights(nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until nPlanes).map { p =>
      (0 until dim).map { i =>
        var z = ((p.toLong << 32) | i.toLong) + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z = z ^ (z >>> 31)
        z.toDouble / Long.MaxValue.toDouble
      }
    }

  /** Sign-pattern LSH bucket id (0 until 2^nPlanes) of a vector column.
    * `table` selects a disjoint plane family (multi-table probing). */
  def lshBucket(vec: Column, nPlanes: Int, dim: Int, table: Int = 0): Column =
    planeWeights((table + 1) * nPlanes, dim).drop(table * nPlanes)
      .zipWithIndex.map { case (w, p) =>
        when(VectorOps.dotD(vec, typedLit(w)) > 0, lit(1L << (nPlanes - 1 - p)))
          .otherwise(lit(0L))
      }.reduce(_ + _)

  /** The per-query top-k contract every search here ends with: rank
    * each query's `scored` candidates by `score` (descending when
    * `descending`), ties to the smaller neighbor_id, keep ranks ≤ `k`,
    * and return (query_id, rank, neighbor_id, score) ordered by query
    * and rank. The rank window partitions by query, so its shuffle is
    * the only one a broadcast-query search pays. */
  private def topKPerQuery(
      scored: DataFrame, score: String, descending: Boolean, k: Int): DataFrame = {
    val order = if (descending) col(score).desc else col(score).asc
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(order, col("neighbor_id"))))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col(score))
      .orderBy("query_id", "rank")
  }

  /** A codebook sample: the vectors of ids ≡ 0 mod `stride`, in
    * id-string order (no RNG — stable across runs), pulled to the
    * driver as a bounded `double[][]`: a hard `maxCentroids` cap, loud
    * past it. A codebook is ~√N ≤ tens of thousands of rows whatever
    * the corpus size — the driver-side codebook shape MLlib KMeans
    * uses, NOT a data collect. */
  private def strideSample(
      corpus: DataFrame, idCol: String, vecCol: String,
      stride: Long, maxCentroids: Int, op: String): Array[Array[Double]] = {
    val rows = corpus
      .where(pmod(col(idCol), lit(stride)) === 0)
      .select(col(idCol).cast("string").as("cid"),
        col(vecCol).cast("array<double>").as("cvec"))
      .orderBy("cid")
      .limit(maxCentroids + 1)
      .collect()
    require(rows.nonEmpty, s"$op: stride sampled zero centroids")
    require(rows.length <= maxCentroids,
      s"$op: > $maxCentroids centroids sampled — raise the stride " +
        "(the codebook must stay driver/broadcast sized)")
    rows.map(_.getSeq[Double](1).toArray)
  }

  /** `v` scaled to unit L2 norm, so cell assignment is a pure
    * dot-argmax (see [[graft.functions.NearestCentroidIndex]]); a
    * zero-norm centroid stays all-zero (dot 0 against everything). */
  private def l2Normalized(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n > 0) v.map(_ / n) else v
  }

  /** The normalized IVF codebook as a (cell, cnorm) frame, cell = the
    * centroid's ordinal. */
  private def centroidFrame(spark: SparkSession, codebook: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    codebook.zipWithIndex.map { case (v, i) => (i, v) }.toSeq.toDF("cell", "cnorm")
  }

  /** Map-only cell assignment: (neighbor_id, cv, cell), through the
    * codegen'd [[graft.functions.NearestCentroidIndex]]. */
  private def assignCells(
      df: DataFrame, idCol: String, vecCol: String,
      codebook: Array[Array[Double]]): DataFrame =
    df.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      GraftFunctions.nearest_centroid(col(vecCol), codebook).as("cell"))

  /** Each query's `nProbe` nearest cells: `q`'s rows (query_id, qv, …)
    * times the broadcast (cell, cnorm) codebook, ranked by cosine to
    * the normalized centroid — cos(q, c) = cos(q, c/|c|), so probe
    * order matches the corpus-side assignment order, ties broken by
    * ordinal exactly like its argmax. Returns `q`'s columns plus
    * `cell`. */
  private def nearestCells(q: DataFrame, centroids: DataFrame, nProbe: Int): DataFrame =
    q.crossJoin(broadcast(centroids))
      .withColumn("crank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(-GraftFunctions.cosine_sim(col("qv"), col("cnorm")), col("cell"))))
      .where(col("crank") <= nProbe)
      .drop("cnorm", "crank")

  /** PQ codebook from a stride sample: `book(j)(c)` is subvector j of
    * sampled vector c, over `m` equal subspaces of the sample's
    * dimension (enforced). */
  private def pqCodebook(
      sample: Array[Array[Double]], m: Int, op: String): Array[Array[Array[Double]]] = {
    val dim = sample.head.length
    require(dim % m == 0, s"$op: dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    Array.tabulate(m)(j => sample.map(_.slice(j * dsub, (j + 1) * dsub)))
  }

  /** Per-query ADC distance table: `dtab[j][c]` = squared L2 between
    * subvector j of `vecCol` and centroid c of subspace j. An
    * interpreted HOF fold, but over the SMALL query side only (the
    * corpus-side hot path stays codegen'd). */
  private def adcTable(vecCol: String, book: Array[Array[Array[Double]]]): Column = {
    val dsub = book.head.head.length
    val qv = col(vecCol).cast("array<double>")
    transform(typedLit(book.map(_.map(_.toSeq).toSeq).toSeq), (subCents, j) =>
      transform(subCents, cent =>
        aggregate(sequence(lit(0), lit(dsub - 1)), lit(0.0), (acc, i) => {
          val x = element_at(qv, j * dsub + i + 1)
          val c = element_at(cent, i + 1)
          acc + (x - c) * (x - c)
        })))
  }

  /** K1 — exact cosine top-k: every query against the full corpus.
    * `queries` must be small (it is broadcast); the corpus side stays
    * a partition-parallel scan with no shuffle before the top-k. */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        GraftFunctions.cosine_sim(col("qv"), col("cv")).as("cosine"))
    topKPerQuery(scored, "cosine", descending = true, k)
  }

  /** K2b — IVF (inverted-file) ANN: a coarse quantizer built from
    * deterministically sampled corpus vectors (`id % stride == 0` —
    * no RNG, stable across runs), each corpus vector assigned to its
    * nearest centroid cell, queries probing their `nProbe` nearest
    * cells.
    *
    * Codebook plumbing: the sampled centroids are pulled to the driver
    * ONCE ([[strideSample]]'s bounded collect), then ride into the
    * corpus scan inside the codegen'd
    * [[graft.functions.NearestCentroidIndex]] expression. Corpus-side
    * assignment is therefore a map-only stage: no crossJoin expansion,
    * no single-row `collect_list` bottleneck, no interpreted fold —
    * the three round-4 scale defects. Cell ids are centroid ORDINALS
    * (array index, ids sorted ascending), so non-integral id columns
    * can never collapse distinct centroids.
    *
    * At cluster scale the assigned corpus is written
    * `partitionBy(cell)` once and reused across query batches; the
    * query side (small by contract) keeps the rank window over its
    * broadcast expansion because it needs the nProbe nearest cells,
    * not just the nearest.
    *
    * Degenerate vectors (zero / NaN) assign to cell 0 and keep their
    * NaN cosine downstream — identical surface behavior to
    * [[bruteForceTopK]] (see NearestCentroidIndex's determinism
    * contract), so IVF differs from brute force only by recall. */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      centroidStride: Long, nProbe: Int, maxCentroids: Int = 4096): DataFrame = {
    val codebook = strideSample(
      corpus, idCol, vecCol, centroidStride, maxCentroids, "ivfTopK").map(l2Normalized)
    val probed = nearestCells(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
      centroidFrame(corpus.sparkSession, codebook), nProbe)
    val scored = assignCells(corpus, idCol, vecCol, codebook)
      .join(broadcast(probed), "cell")
      .where(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        GraftFunctions.cosine_sim(col("qv"), col("cv")).as("cosine"))
    topKPerQuery(scored, "cosine", descending = true, k)
  }

  /** K3c — IVF against a PERSISTED index: [[ivfTopK]]'s assignment
    * written ONCE as a `partitionBy(cell)` parquet layout and probed
    * through the on-disk layout, so repeated query batches touch only
    * the `nProbe` probed cell partitions instead of rescanning (and
    * re-assigning) the corpus — the index-reuse shape that makes IVF
    * pay off at 100 TB (the write amortizes across every subsequent
    * batch; Spark prunes the unprobed partitions at the scan, which
    * the plan audit asserts). Same codebook, assignment and ranking
    * arithmetic as [[ivfTopK]] ⇒ identical rows for identical
    * parameters (the gate reuses the ivf-probe replay oracle
    * verbatim). */
  def ivfIndexedTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      centroidStride: Long, nProbe: Int, indexDir: String,
      maxCentroids: Int = 4096): DataFrame = {
    val spark = corpus.sparkSession
    // probe-only when an index built with the SAME parameters sits at
    // indexDir and nothing has been appended or deleted since. The identity
    // cannot see corpus content: reuse assumes the corpus at this
    // indexDir is immutable for the index's lifetime (callers indexing
    // a changing corpus pass a fresh dir).
    ivfStore(spark, indexDir).ensure(s"$centroidStride:$maxCentroids")(
      buildIvfIndex(corpus, idCol, vecCol, centroidStride, indexDir, maxCentroids))
    probeIvfIndex(spark, queries, idCol, vecCol, k, nProbe, indexDir)
  }

  private def ivfStore(spark: SparkSession, indexDir: String): IndexStore =
    new IndexStore(spark, indexDir, Seq("cells"))

  /** Build half of [[ivfIndexedTopK]]: stride-sampled codebook
    * (bounded ≤ `maxCentroids`-row driver collect, loud overflow) +
    * ONE map-only assignment pass over the corpus written
    * `partitionBy(cell)`, with the codebook and build params persisted
    * beside the cells — so any later session can probe the index
    * without touching the corpus. Tombstones, crash recovery,
    * compaction and reuse are [[IndexStore]]'s. */
  def buildIvfIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroidStride: Long, indexDir: String,
      maxCentroids: Int = 4096): Unit = {
    val spark = corpus.sparkSession
    ivfStore(spark, indexDir).reset()
    val codebook = strideSample(
      corpus, idCol, vecCol, centroidStride, maxCentroids, "buildIvfIndex").map(l2Normalized)
    assignCells(corpus, idCol, vecCol, codebook)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$indexDir/cells")
    centroidFrame(spark, codebook)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/codebook")
    import spark.implicits._
    Seq((centroidStride, maxCentroids)).toDF("centroid_stride", "max_centroids")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/params")
  }

  /** The stored (normalized) codebook of a persisted IVF index, as the
    * in-memory array [[buildIvfIndex]] assigned with — bounded by the
    * build's persisted `max_centroids` (loud overflow, the
    * codebook-collect house style). */
  private def readStoredCodebook(
      spark: SparkSession, indexDir: String): Array[Array[Double]] = {
    val params = spark.read.parquet(s"$indexDir/params").collect()
    require(params.length == 1, s"ivf index at $indexDir: corrupt params")
    val maxCentroids = params(0).getInt(1)
    val rows = spark.read.parquet(s"$indexDir/codebook")
      .orderBy("cell").limit(maxCentroids + 1).collect()
    require(rows.length <= maxCentroids,
      s"ivf index at $indexDir: codebook exceeds its own max_centroids bound")
    rows.map(_.getSeq[Double](1).toArray)
  }

  /** K3d — grow a persisted IVF index with a new vector shard (the
    * rolling-ingest half of an embedding store's lifecycle): the shard
    * assigns against the STORED codebook (an index does not re-train
    * its coarse quantizer on ingest — recall for novel regions is a
    * rebuild decision, not an append side effect) and appends as new
    * parquet files under the same cell partitioning. Cost ∝ shard;
    * existing cells are never read or rewritten. At-least-once
    * delivery (a retried append of the SAME shard) leaves duplicate
    * rows that [[probeIvfIndex]] collapses at the candidate sliver and
    * [[ivfIndexCompact]] purges physically; re-appending a CHANGED
    * vector under an existing id is undefined until a compact. */
  def ivfIndexAppend(
      shard: DataFrame, idCol: String, vecCol: String,
      indexDir: String): Unit =
    ivfStore(shard.sparkSession, indexDir).append {
      assignCells(shard, idCol, vecCol, readStoredCodebook(shard.sparkSession, indexDir))
        .write.mode(SaveMode.Append)
        .partitionBy("cell").parquet(s"$indexDir/cells")
    }

  /** K3d — forget vectors from a persisted IVF index (the
    * right-to-be-forgotten path an embedding store must serve):
    * [[IndexStore.tombstone]]s the ids, so they stop matching on the
    * next [[probeIvfIndex]] and leave physically at the next
    * [[ivfIndexCompact]]. */
  def ivfIndexDelete(ids: DataFrame, idCol: String, indexDir: String): Unit =
    ivfStore(ids.sparkSession, indexDir).tombstone(ids.select(col(idCol).as("neighbor_id")))

  /** K3d — fold appends and tombstones back into a clean artifact: one
    * rewrite of the cells table, through [[IndexStore.compactPrepare]]'s
    * crash-safe swap, that collapses duplicate rows from at-least-once
    * appends and physically purges tombstoned vectors. Cost ∝ the
    * index — the periodic maintenance job between cheap per-shard
    * appends. Probe results are unchanged by compaction
    * (spec-asserted). */
  def ivfIndexCompact(spark: SparkSession, indexDir: String): Unit = {
    val store = ivfStore(spark, indexDir)
    store.compactPrepare("cells" -> (cells =>
      store.live(cells.dropDuplicates("neighbor_id"), "neighbor_id")
        .write.partitionBy("cell")))()
  }

  /** Probe half of [[ivfIndexedTopK]]: ranks the stored (normalized)
    * codebook per query, keeps `nProbe` cells, and joins only those
    * cell partitions of the on-disk layout — dynamic partition pruning
    * skips every unprobed cell directory (plan-asserted). Codebook
    * read is bounded by the build's `maxCentroids`. */
  def probeIvfIndex(
      spark: SparkSession, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int,
      indexDir: String): DataFrame = {
    val store = ivfStore(spark, indexDir)
    store.recover() // a crashed compaction rolls here
    val index = spark.read.parquet(s"$indexDir/cells")
    val probed = nearestCells(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
      spark.read.parquet(s"$indexDir/codebook"), nProbe)
    // partition column comes back as the scan's partition key: the
    // broadcast join on `cell` lets dynamic partition pruning skip
    // every unprobed cell directory. Lifecycle hygiene rides the
    // POST-JOIN candidate sliver (∝ probed cells, never the index):
    // tombstoned vectors anti-join away (a delete takes effect on the
    // very next probe, before any compaction) and duplicate rows from
    // retried at-least-once appends collapse before ranking.
    val scored = store.live(
        index.join(broadcast(probed), "cell")
          .where(col("neighbor_id") =!= col("query_id")),
        "neighbor_id")
      .select(
        col("query_id"), col("neighbor_id"),
        GraftFunctions.cosine_sim(col("qv"), col("cv")).as("cosine"))
      .dropDuplicates("query_id", "neighbor_id")
    topKPerQuery(scored, "cosine", descending = true, k)
  }

  /** K4 — product-quantization ANN (Jégou et al. 2011): compress the
    * corpus to `m` small code indices per vector (64 floats → m ints
    * against a ≤`maxCentroids`-per-subspace codebook) and search in
    * the COMPRESSED domain by asymmetric distance — per query one
    * m×k distance table, then every candidate scores with m array
    * lookups instead of a d-dim dot. This is the representation that
    * makes brute-force scans affordable at 10⁹+ vectors: the codes
    * table is ~8–16 bytes/vector, small enough to keep hot.
    *
    * Scale shape: the codebook is the same deterministic stride-sample
    * as [[ivfTopK]] (driver-bounded, loud cap — the no-RNG analogue of
    * PQ's kmeans training; quality costs recall, never correctness,
    * and the gate replays THIS algorithm verbatim); corpus encoding is
    * a map-only codegen'd [[graft.functions.PqEncode]] stage (encode
    * ONCE, reuse across query batches); per-query distance tables are
    * built on the (small, broadcast) query side; scoring is the
    * codegen'd [[graft.functions.PqAdcScore]] inside the fused
    * candidate stage — the corpus never exchanges anything but its
    * id+codes.
    *
    * Exactness property (PqSpec): with `centroidStride = 1` every
    * subvector is its own centroid, quantization error is zero and
    * the ADC top-k equals the exact squared-L2 ranking.
    *
    * `dim` must divide into `m` equal subspaces (enforced). Returns
    * (query_id, rank, neighbor_id, adc_dist) — rank by ascending
    * approximate squared distance, ties on neighbor_id. */
  def pqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, m: Int,
      centroidStride: Long, maxCentroids: Int = 256): DataFrame = {
    val codebook = pqCodebook(
      strideSample(corpus, idCol, vecCol, centroidStride, maxCentroids, "pqTopK"), m, "pqTopK")
    val codes = corpus.select(
      col(idCol).as("neighbor_id"),
      GraftFunctions.pq_encode(col(vecCol), codebook).as("codes"))
    val q = queries.select(col(idCol).as("query_id"), adcTable(vecCol, codebook).as("dtab"))
    val scored = codes.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        GraftFunctions.pq_adc_score(col("codes"), col("dtab")).as("adc_dist"))
    topKPerQuery(scored, "adc_dist", descending = false, k)
  }

  /** K5 — IVF-PQ: the canonical billion-scale ANN architecture
    * (coarse cells prune the corpus, PQ codes score the survivors in
    * the compressed domain — FAISS's IndexIVFPQ shape, from the same
    * Jégou et al. 2011 construction as [[pqTopK]]). One corpus pass
    * emits (id, cell, codes) — BOTH the codegen'd
    * [[graft.functions.NearestCentroidIndex]] assignment and the
    * codegen'd [[graft.functions.PqEncode]] in a single map-only
    * projection; queries rank their `nProbe` nearest cells and carry
    * their ADC distance table; candidates come from a broadcast hash
    * join on the cell key (NOT a corpus-wide scan — that is the IVF
    * pruning), and each scores with m array lookups. Exchange: the
    * corpus moves id+cell+codes once; vectors never leave the scan.
    *
    * Both codebooks are the deterministic stride samples of the
    * component operators (driver-bounded, loud caps); quality costs
    * recall only, and the gate replays this exact algorithm. Returns
    * (query_id, rank, neighbor_id, adc_dist). */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, m: Int,
      cellStride: Long, pqStride: Long, nProbe: Int,
      maxCentroids: Int = 4096): DataFrame = {
    def sample(stride: Long) =
      strideSample(corpus, idCol, vecCol, stride, maxCentroids, "ivfPqTopK")
    val cellBook = sample(cellStride).map(l2Normalized)
    val pqBook = pqCodebook(sample(pqStride), m, "ivfPqTopK")
    // ONE corpus pass: cell + codes, both codegen'd, map-only
    val indexed = corpus.select(
      col(idCol).as("neighbor_id"),
      GraftFunctions.nearest_centroid(col(vecCol), cellBook).as("cell"),
      GraftFunctions.pq_encode(col(vecCol), pqBook).as("codes"))
    val probed = nearestCells(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        adcTable(vecCol, pqBook).as("dtab")),
      centroidFrame(corpus.sparkSession, cellBook), nProbe)
    val scored = indexed.join(broadcast(probed), "cell")
      .where(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        GraftFunctions.pq_adc_score(col("codes"), col("dtab")).as("adc_dist"))
    topKPerQuery(scored, "adc_dist", descending = false, k)
  }

  /** K2 — LSH-bucketed ANN, MULTI-TABLE: `nTables` independent plane
    * families; candidates are corpus vectors sharing the query's bucket
    * in ANY table (recall 1−(1−p^nPlanes)^nTables per neighbor — the
    * standard amplification construction), then exact cosine + top-k
    * over the deduped candidate set.
    *
    * Plan shape at scale: corpus and queries each emit `nTables` rows
    * per vector carrying ONLY (table, bucket, id) — never the vector —
    * so the bucket join exchanges ids; vectors re-enter once via the
    * scoring join against the (small, broadcast) query set. Corpus
    * bucketing is reusable across query batches via
    * `repartition($"table", $"bucket")` + persist at cluster scale.
    *
    * Bucketing is the native codegen'd
    * [[graft.functions.SignBuckets]] — all nTables·nPlanes hyperplane
    * dots fused into one primitive loop per vector (the composed
    * [[lshBucket]] column form is CodegenFallback: 64 interpreted
    * folds/vector at the default config; SimilarityGateSpec asserts
    * the two paths bit-equal). */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nPlanes: Int, dim: Int,
      nTables: Int = 8): DataFrame = {
    val planes: Array[Array[Double]] =
      planeWeights(nTables * nPlanes, dim).map(_.toArray).toArray
    val sb = (v: Column) => GraftFunctions.sign_buckets(v, planes, nPlanes)
    val c = corpus.select(
      col(idCol).as("neighbor_id"),
      posexplode(sb(col(vecCol))).as(Seq("table", "bucket")))
    val q = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("qv"),
      posexplode(sb(col(vecCol))).as(Seq("table", "bucket")))
    val qVecs = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val cands = c.join(
        broadcast(q.select(col("query_id"), col("table"), col("bucket"))),
        Seq("table", "bucket"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
      .distinct()
    val scored = cands
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
        "neighbor_id")
      .join(broadcast(qVecs), "query_id")
      .select(
        col("query_id"), col("neighbor_id"),
        GraftFunctions.cosine_sim(col("qv"), col("cv")).as("cosine"))
    topKPerQuery(scored, "cosine", descending = true, k)
  }

  /** K8 — int8 SCALAR quantization of an embedding column (the
    * store-compressed layout: 4× less scan IO than float32 at 100 TB,
    * the compression ladder's first rung below PQ's 32×). One
    * mergeable [[graft.functions.VecMinMax]] stats pass (exchange =
    * two dim-length arrays per partition — never a dim×N explode)
    * broadcast back over the scan; `code_i = clamp(floor((x−mn_i)·255
    * / (mx_i−mn_i)))` with float→double widening and one IEEE
    * multiply+divide per element — deterministic and engine-portable,
    * so codes are exact integers from here on. At cluster scale the
    * coded corpus is written once (like the IVF index) and every
    * query batch reads codes only. */
  def int8Quantize(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val stats = df.agg(
      GraftFunctions.vec_min_max(col(vecCol)).as("s"))
      .select(col("s.mins").as("__mins"), col("s.maxs").as("__maxs"))
    df.crossJoin(broadcast(stats))
      .select(
        col(idCol),
        transform(col(vecCol), (x, i) => {
          val mn = element_at(col("__mins"), i + 1)
          val mx = element_at(col("__maxs"), i + 1)
          when(mx === mn, lit(0L)).otherwise(
            least(greatest(
              floor((x.cast("double") - mn) * 255.0 / (mx - mn)),
              lit(0L)), lit(255L)))
        }).as("code"))
  }

  /** K8 gate body — top-k retrieval ENTIRELY in the quantized integer
    * domain: both sides coded under the corpus stats (the stored
    * index's stats, as a real SQ index serves them — the two
    * broadcast stats subplans dedupe via exchange reuse), score =
    * integer squared-L2 distance between codes, ascending (the FAISS
    * SQ8 metric: per-dim affine-invariant, unlike a raw code dot
    * product whose min-shift term would distort ranks; exact — no
    * fold-order concerns), per-query top-k window. Same
    * broadcast-queries/corpus-never-shuffles shape as
    * [[bruteForceTopK]]. */
  def int8TopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int): DataFrame = {
    val codes = int8Quantize(corpus, idCol, vecCol)
    // queries are coded under CORPUS stats (filter the shared code
    // plan, never re-fit stats on the query slice)
    val qc = codes.where(queryPred)
      .select(col(idCol).as("query_id"), col("code").as("qc"))
    val scored = codes.select(col(idCol).as("neighbor_id"), col("code").as("cc"))
      .crossJoin(broadcast(qc))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        aggregate(zip_with(col("qc"), col("cc"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("dist"))
    topKPerQuery(scored, "dist", descending = false, k)
  }
}
