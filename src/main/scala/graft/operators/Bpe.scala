package graft.operators

import scala.collection.mutable.ListBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Byte-pair-encoding vocabulary induction and application (Sennrich
  * et al. 2016, "Neural Machine Translation of Rare Words with Subword
  * Units" — the tokenizer-training step of every LLM data pipeline;
  * reference scope: SURVEY.md §2 L3 token counting, upgraded from a
  * fixed regex to a LEARNED subword vocabulary).
  *
  * Distributed shape: BPE statistics live on the WORD-FREQUENCY table,
  * not the corpus — one corpus scan builds `(word, freq)` (shuffle ∝
  * distinct words, i.e. the vocabulary, which at 100 TB is millions of
  * rows against billions of documents), and every merge round is a
  * map + pair-count aggregation + global top-1 (`TakeOrderedAndProject`
  * — bounded per-partition heaps, one row to the driver per round,
  * exactly the Lloyd-codebook driver-collect pattern). The corpus is
  * touched again only by [[encode]], as one map-side broadcast join.
  *
  * Symbol representation: a word's symbol sequence is kept as a STRING
  * — each symbol wrapped in single spaces and concatenated, so
  * `cat → " c  a  t "` (two spaces between symbols, one at each edge).
  * Merging pair (A,B) is then a plain left-to-right non-overlapping
  * `replace(repr, " A  B ", " AB ")`, which IS the greedy BPE merge:
  * the wrapping spaces make cross-symbol false matches impossible
  * (" ab  b " cannot match pair (b,b)), consecutive merge sites do not
  * steal each other's boundary (each symbol carries its own spaces),
  * and overlapping repeats resolve left-to-right (`a a a → aa a`)
  * exactly as BPE defines. `replace` has identical semantics in Java
  * and any SQL engine, so the whole training loop replays verbatim in
  * the DuckDB oracle.
  *
  * Determinism: pair counts are exact integers; the best pair breaks
  * ties lexicographically — no floats anywhere in the loop.
  */
object Bpe {

  /** One learned merge: `(round, lhs, rhs, merged, pair_count)`. */
  final case class Merge(
      round: Int, lhs: String, rhs: String, merged: String, pairCount: Long)

  /** `(w, repr, freq)` word-frequency table with the initial
    * one-character-per-symbol representation. Tokenization contract
    * (shared with the oracle): split on single spaces, drop empties. */
  def wordTable(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("w"),
        concat(lit(" "),
          concat_ws("  ",
            transform(sequence(lit(1), length(col("w"))),
              i => col("w").substr(i, lit(1)))),
          lit(" ")).as("repr"),
        col("freq"))

  /** Learn `merges` BPE merges from the corpus. Returns the learned
    * merge list in order (stops early if no adjacent pair remains).
    * `checkpointEvery` bounds the replace-chain lineage for large
    * merge counts (production vocabularies run thousands of rounds;
    * an unbounded `withColumn` chain chokes plan stringification long
    * before execution — the §7.1 iterative-op lesson). */
  def train(
      df: DataFrame, textCol: String, merges: Int,
      checkpointEvery: Int = 32, localVocabBound: Int = 65536): Seq[Merge] = {
    require(merges >= 1, s"bpeTrain: need merges >= 1, got $merges")
    // Bounded driver fast path (the J6 connected-components precedent):
    // BPE statistics live on the word-FREQUENCY table, whose size is
    // the corpus VOCABULARY — when that is small enough to hold on the
    // driver, running the merge loop locally replaces `merges`
    // sequential cluster rounds (each a full job paying the stage
    // floor for a global top-1) with ONE aggregation job + a local
    // loop. Identical output by construction: the local loop is the
    // textbook greedy algorithm the distributed replace-chain is
    // spec-proven equal to (BpeSpec), with the same add-count
    // arithmetic and the same binary-string tie-break. Vocabularies
    // beyond the bound (open-domain 100 TB corpora) take the
    // distributed loop below, unchanged.
    // The vocab-bound probe IS the fast path's collect: one bounded
    // collect pulls at most `localVocabBound + 1` words (the extra row
    // tells "fits" from "overflows"), so the driver never holds more
    // than that and nothing is persisted when the vocabulary fits.
    // Only an overflowing probe persists the word table for the
    // distributed rounds; that persisted reference is held in its own
    // val so the final unpersist targets the cached plan itself, not a
    // merge-derived child (unpersist on a derived plan is a no-op and
    // would pin the word table for the app lifetime).
    if (localVocabBound > 0) {
      val words = wordTable(df, textCol).select(col("w"), col("freq"))
        .limit(localVocabBound + 1).collect()
      if (words.length <= localVocabBound)
        return trainLocal(words.map(r => (r.getString(0), r.getLong(1))), merges)
    }
    val base = wordTable(df, textCol).persist(StorageLevel.MEMORY_AND_DISK)
    var cur: DataFrame = base
    val out = ListBuffer.empty[Merge]
    var t = 1
    var done = false
    try {
      while (t <= merges && !done) {
        val syms = split(trim(col("repr")), "  ")
        val best = cur
          .select(explode(
            graft.functions.HashFunctions.string_ngrams(syms, 2)).as("pair"),
            col("freq"))
          .groupBy("pair").agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("pair").asc)
          .limit(1).collect()
        if (best.isEmpty) done = true
        else {
          val pair = best(0).getString(0)
          val cnt = best(0).getLong(1)
          val Array(lhs, rhs) = pair.split(" ", 2)
          out += Merge(t, lhs, rhs, lhs + rhs, cnt)
          cur = cur.withColumn("repr",
            replace(col("repr"),
              lit(s" $lhs  $rhs "), lit(s" $lhs$rhs ")))
          // Lineage bound: re-root on a materialized checkpoint every
          // `checkpointEvery` rounds (old checkpoint blocks are
          // ContextCleaner-collected once unreferenced).
          if (t % checkpointEvery == 0) cur = cur.localCheckpoint(true)
          t += 1
        }
      }
    } finally base.unpersist()
    out.toList
  }

  /** The textbook greedy loop on a collected (word, freq) table —
    * the [[train]] fast path. Symbols are Unicode CODE POINTS (the
    * distributed path's `substr` granularity); pair ties break on the
    * UTF-8 byte order of "lhs rhs" (Spark's binary string ordering,
    * = `orderBy(pair.asc)` in the cluster loop). */
  private def trainLocal(words: Array[(String, Long)], merges: Int): Seq[Merge] = {
    def codePoints(w: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.result()
    }
    def utf8Lt(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < x.length && i < y.length) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    var reprs = words.map { case (w, f) => (codePoints(w), f) }
    val out = ListBuffer.empty[Merge]
    var t = 1
    var done = false
    while (t <= merges && !done) {
      val counts = collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, f) <- reprs; i <- 0 until syms.length - 1) {
        val k = (syms(i), syms(i + 1))
        counts(k) = counts.getOrElse(k, 0L) + f
      }
      if (counts.isEmpty) done = true
      else {
        var best: ((String, String), Long) = null
        for (e <- counts) {
          if (best == null || e._2 > best._2 ||
            (e._2 == best._2 &&
              utf8Lt(e._1._1 + " " + e._1._2, best._1._1 + " " + best._1._2)))
            best = e
        }
        val ((lhs, rhs), cnt) = best
        out += Merge(t, lhs, rhs, lhs + rhs, cnt)
        reprs = reprs.map { case (syms, f) =>
          val nb = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == lhs && syms(i + 1) == rhs) {
              nb += (lhs + rhs); i += 2
            } else { nb += syms(i); i += 1 }
          }
          (nb.result(), f)
        }
        t += 1
      }
    }
    out.toList
  }

  /** The learned vocabulary applied back to a word table: `(w, nsym)`
    * — how many subword tokens each word becomes. Merges apply in
    * `checkpointEvery`-sized expression batches with a materialization
    * between batches — the same lineage bound [[train]] applies per
    * round, so a production-sized merge list (tens of thousands) can't
    * blow up plan stringification or codegen at encode time either. */
  def wordTokenCounts(
      df: DataFrame, textCol: String, merges: Seq[Merge],
      checkpointEvery: Int = 64): DataFrame = {
    val batches = merges.grouped(math.max(checkpointEvery, 1)).toSeq
    var wt = wordTable(df, textCol)
    for ((batch, i) <- batches.zipWithIndex) {
      wt = wt.withColumn("repr", batch.foldLeft(col("repr")) { (r, m) =>
        replace(r, lit(s" ${m.lhs}  ${m.rhs} "), lit(s" ${m.merged} "))
      })
      // the last batch stays lazy — its projection fuses with the
      // caller's nsym computation instead of paying a materialization
      if (i < batches.size - 1) wt = wt.localCheckpoint(true)
    }
    wt.select(col("w"), size(split(trim(col("repr")), "  ")).as("nsym"))
  }

  /** Per-document subword token counts under the learned vocabulary:
    * `(idCol, n_words, n_tokens)`. One corpus gram stream map-side
    * joined against the broadcast `(w, nsym)` vocabulary — the corpus
    * never shuffles on anything but its own id. */
  def encode(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame =
    encodeCounts(df, idCol, textCol, merges).orderBy(col(idCol))

  /** [[encode]] without the final sort — the composition entry for
    * callers that join the counts straight back onto the corpus (the
    * `bpe_count` pipeline step, token-budget packing): an interior
    * orderBy pays a range-sampling job + a sort exchange that the
    * downstream join immediately destroys. */
  private[graft] def encodeCounts(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val vocab = wordTokenCounts(df, textCol, merges)
    df.select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .where(col("w") =!= "")
      .join(broadcast(vocab), "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("nsym").cast("long")).as("n_tokens"))
  }

  /** [[train]] wrapped as a DataFrame for gating: the merge table the
    * driver collected, re-emitted as a LocalRelation (bounded — one
    * row per merge round, the Lloyd-codebook shape). Built from an
    * explicit schema: a tuple `toDF` derives its encoder by reflection
    * on every call. */
  def trainAsFrame(
      spark: SparkSession, df: DataFrame, textCol: String,
      merges: Int): DataFrame =
    spark.createDataFrame(
      train(df, textCol, merges)
        .map(m => Row(m.round, m.lhs, m.rhs, m.merged, m.pairCount)).asJava,
      MergeSchema)

  private val MergeSchema = StructType(Seq(
    StructField("round", IntegerType, nullable = false),
    StructField("lhs", StringType),
    StructField("rhs", StringType),
    StructField("merged", StringType),
    StructField("pair_count", LongType, nullable = false)))
}
