package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** Lifecycle state of one persisted index under `root`: the minhash
  * index ([[Dedup.minhashIndexWrite]], tables `bands` and `shingles`)
  * and the IVF index ([[Similarity.buildIvfIndex]], table `cells`)
  * share it. The index modules keep only what a segment holds and how
  * a probe scores; everything below is one policy for both.
  *
  *  - File system: resolved from `spark.sessionState.newHadoopConf()`,
  *    the conf Spark's own parquet reader and writer resolve the same
  *    paths with — so an existence check sees exactly the files a
  *    write through the session made.
  *  - Deletes ([[tombstone]]): ids append to a tombstone table — cost ∝
  *    the delete set, the index tables are NEVER touched on this path —
  *    and the marker drops, as on an append.
  *    Probes anti-join candidates against it ([[live]]; ids-only,
  *    broadcast-sized between compactions), so a deleted row stops
  *    matching on the very next probe; the next compaction purges the
  *    rows physically and clears the table.
  *  - Builds ([[reset]]): a fresh build first drops the marker and the
  *    tombstones, so a tombstone table left by a prior generation (a
  *    crash between delete and compact) cannot phantom-delete rows of
  *    the NEW index, and a stale marker cannot vouch for tables about
  *    to be replaced.
  *  - Appends ([[append]]): recover the tables, so an append after a
  *    mid-compaction crash lands in the recovered table and never
  *    starts a fresh one at the vacated path; then drop the marker,
  *    because an append changes what the index matches.
  *  - Reuse ([[ensure]]): a `_fingerprint` marker holds the caller's
  *    identity string of the build; it is written only after a
  *    complete build, so a crash mid-rebuild never leaves a marker
  *    vouching for half-written tables.
  *  - Compaction ([[compactPrepare]]): a crash-safe table swap, split
  *    into a rewrite that only READS the live tables and a commit that
  *    swaps them in and clears the tombstones.
  *
  * The swap never has an unreadable window: the new table is fully
  * written to a sibling `.<table>_compact_tmp` dir (with its
  * `_SUCCESS` marker — Spark's parquet committer writes one), the
  * current table renames ASIDE to `.<table>_compact_old`, tmp renames
  * into place, the aside copy deletes. Every intermediate state is
  * repaired by [[recover]], which probes and writers call before
  * touching a table:
  *
  *  - crash during/after the tmp write → `cur` intact; stale tmp
  *    removed on the next access
  *  - crash between the two renames → `cur` missing; a COMPLETE tmp
  *    (`_SUCCESS` present) rolls the swap FORWARD, otherwise the aside
  *    copy rolls it BACK
  *  - crash before the aside-delete → `cur` intact; stale aside copy
  *    removed on the next access
  *
  * Rename is atomic under HDFS semantics (and POSIX for local paths);
  * object stores without atomic rename need a rename-capable layer
  * under the index root — the same discipline every rename in the
  * engine already assumes.
  *
  * CONCURRENCY CONTRACT — single maintainer, no reader concurrent
  * with a swap. "Readable at every intermediate state" means every
  * CRASH leaves a state [[recover]] repairs before the next access;
  * it does NOT make live concurrent access safe: a reader's recover()
  * racing an in-flight swap could roll forward between swap's two
  * renames (making swap's rename(tmp, cur) fail on an already-rolled
  * table), and recover-before-read is not atomic with the parquet
  * read that follows, so a compaction starting mid-probe can rename
  * `cur` away under the scan. Run exactly one compactor at a time and
  * fence probes/appends from compactions (the rolling-curation
  * pipelines do this naturally: compaction is a maintenance step of
  * the single writer that owns the index). */
private[graft] final class IndexStore(
    spark: SparkSession, root: String, tables: Seq[String]) {

  private val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
  private val marker = new Path(s"$root/_fingerprint")
  private val tombstones = new Path(s"$root/tombstones")

  /** Repair any interrupted swap of every table — idempotent, a
    * handful of namenode calls. Probes call this before reading. */
  def recover(): Unit = tables.foreach(t => recoverTable(new Path(s"$root/$t")))

  private def recoverTable(cur: Path): Unit = {
    val tmp = tmpPath(cur)
    val old = oldPath(cur)
    if (!fs.exists(cur)) {
      if (fs.exists(new Path(tmp, "_SUCCESS"))) {
        // the replacement was fully written before the crash: forward
        require(fs.rename(tmp, cur),
          s"index recovery: rename $tmp -> $cur failed")
        fs.delete(old, true)
      } else if (fs.exists(old)) {
        // incomplete replacement: back to the pre-swap table
        fs.delete(tmp, true)
        require(fs.rename(old, cur),
          s"index recovery: rename $old -> $cur failed")
      }
      // neither exists: the table was never built — the caller's read
      // fails with its own diagnostic
    } else {
      // cur intact: clear leftovers from crashes outside the window
      fs.delete(tmp, true)
      fs.delete(old, true)
    }
  }

  private def tmpPath(cur: Path): Path =
    new Path(cur.getParent, s".${cur.getName}_compact_tmp")
  private def oldPath(cur: Path): Path =
    new Path(cur.getParent, s".${cur.getName}_compact_old")

  /** What a fresh build does first: drop the marker and the tombstones. */
  def reset(): Unit = {
    fs.delete(marker, false)
    fs.delete(tombstones, true)
  }

  /** Run a segment `write` that appends to the index tables. */
  def append(write: => Unit): Unit = {
    recover()
    fs.delete(marker, false)
    write
  }

  /** Run `build` unless the marker already holds `identity`; after a
    * build, write `identity` as the marker. `build` must overwrite
    * every index table. */
  def ensure(identity: String)(build: => Unit): Unit = {
    val fresh = fs.exists(marker) && {
      val in = fs.open(marker)
      // to EOF — a single read() may short-read on remote file systems,
      // and a truncated string would force a spurious rebuild every run
      try new String(in.readAllBytes(), UTF_8) == identity finally in.close()
    }
    if (!fresh) {
      fs.delete(marker, false)
      build
      val out = fs.create(marker, true)
      try out.write(identity.getBytes(UTF_8)) finally out.close()
    }
  }

  /** Append one-column `ids` to the tombstone table and drop the
    * marker: like an append, a delete changes what the index matches. */
  def tombstone(ids: DataFrame): Unit = {
    fs.delete(marker, false)
    ids.distinct().write.mode(SaveMode.Append).parquet(tombstones.toString)
  }

  /** `frame` without its tombstoned rows (no-op without tombstones).
    * The delete set is ids-only and bounded by the compaction cadence —
    * Spark broadcasts it. */
  def live(frame: DataFrame, idCol: String): DataFrame =
    if (!fs.exists(tombstones)) frame
    else {
      val t = spark.read.parquet(tombstones.toString)
      frame.join(broadcast(t.select(col(t.columns.head).as(idCol))), Seq(idCol), "left_anti")
    }

  /** Compaction split at its natural barrier: each `rewrite` of a live
    * table lands in its sibling tmp dir NOW (it only READS the live
    * tables); the returned commit swaps every rewritten table in and
    * clears the tombstones — the only steps that MUTATE the index. A
    * maintenance pipeline can therefore overlap tombstones-live probes
    * with the rewrite and commit once they finish: the probed files are
    * immutable until the commit. The commit must run with no reader in
    * flight, and [[recover]] must not run between prepare and commit
    * (it would delete the prepared tmp). */
  def compactPrepare(
      rewrites: (String, DataFrame => DataFrameWriter[Row])*): () => Unit = {
    val swaps = rewrites.map { case (table, rewrite) =>
      val cur = new Path(s"$root/$table")
      recoverTable(cur)
      val tmp = tmpPath(cur)
      rewrite(spark.read.parquet(cur.toString))
        .mode(SaveMode.Overwrite).parquet(tmp.toString)
      require(fs.exists(new Path(tmp, "_SUCCESS")),
        s"index swap: $tmp has no _SUCCESS marker — a crash here would be " +
          "unrecoverable forward; use a committer that writes one")
      (cur, tmp, oldPath(cur))
    }
    () => {
      swaps.foreach { case (cur, tmp, old) =>
        require(fs.rename(cur, old), s"index swap: rename $cur -> $old failed")
        require(fs.rename(tmp, cur), s"index swap: rename $tmp -> $cur failed")
        fs.delete(old, true)
      }
      // the tombstones are now applied physically: clear them so later
      // probes stop paying the anti-join
      fs.delete(tombstones, true)
    }
  }
}
