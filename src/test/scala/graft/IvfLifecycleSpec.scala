package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** K3d — the persisted IVF index lifecycle (append / forget /
  * compact), mirroring the Dedup index contract: deletes take effect
  * on the next probe (before any compaction), appends assign with the
  * STORED codebook and are immediately findable, compaction is
  * probe-invariant and physically purges, and retried at-least-once
  * appends collapse instead of duplicating result rows. */
class IvfLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def vec(seed: Long): Array[Float] =
    Array.tabulate(8)(j => (((seed * 31 + j * 7) % 13) - 6).toFloat)

  private def corpus(n: Int) =
    (0L until n.toLong).map(i => (i, vec(i))).toDF("vec_id", "embedding")

  private def freshDir(): String =
    s"/tmp/graft-ivf-lifecycle-${System.nanoTime()}"

  private def probe(dir: String, queries: org.apache.spark.sql.DataFrame) =
    Similarity.probeIvfIndex(spark, queries, "vec_id", "embedding",
      k = 5, nProbe = 3, indexDir = dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq

  private def rm(dir: String): Unit = {
    def go(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(go)); f.delete()
    }
    go(new java.io.File(dir))
  }

  test("delete takes effect on the NEXT probe; compaction is probe-invariant") {
    val dir = freshDir()
    val df = corpus(60)
    Similarity.buildIvfIndex(df, "vec_id", "embedding", 9, dir)
    val queries = df.where(col("vec_id") < 3)
    val before = probe(dir, queries)
    val victims = before.map(_._3).distinct.take(2)
    Similarity.ivfIndexDelete(
      victims.toDF("vec_id"), "vec_id", dir)
    // immediately gone — no compaction has run
    val after = probe(dir, queries)
    assert(after.nonEmpty)
    assert(after.forall(r => !victims.contains(r._3)),
      s"tombstoned ids ${victims.mkString(",")} still matched")
    // physical purge changes nothing the probe can see
    Similarity.ivfIndexCompact(spark, dir)
    assert(probe(dir, queries) === after)
    // and the cells table really no longer holds the victims
    val left = spark.read.parquet(s"$dir/cells")
      .where(col("neighbor_id").isin(victims: _*)).count()
    assert(left === 0L)
    rm(dir)
  }

  test("append assigns with the stored codebook and is immediately findable") {
    val dir = freshDir()
    val df = corpus(60)
    Similarity.buildIvfIndex(df, "vec_id", "embedding", 9, dir)
    // append a NOVEL vector (a direction no modular corpus vector
    // shares), then query with exactly that vector: the appended id
    // must come back as the top-1 with cosine 1.0
    val novel = Array.tabulate(8)(j => j * 1.5f + 0.3f)
    Similarity.ivfIndexAppend(
      Seq((1000L, novel)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir)
    val got = Similarity.probeIvfIndex(spark,
      Seq((1L, novel)).toDF("vec_id", "embedding"), "vec_id", "embedding",
      k = 3, nProbe = 3, indexDir = dir).collect()
    assert(got.head.getLong(2) === 1000L,
      s"appended vector not top-1: ${got.mkString(",")}")
    assert(math.abs(got.head.getDouble(3) - 1.0) < 1e-12)
    rm(dir)
  }

  test("a retried at-least-once append collapses; compaction purges the dupes") {
    val dir = freshDir()
    val df = corpus(60)
    Similarity.buildIvfIndex(df, "vec_id", "embedding", 9, dir)
    val shard = Seq((2000L, vec(7))).toDF("vec_id", "embedding")
    Similarity.ivfIndexAppend(shard, "vec_id", "embedding", dir)
    val once = probe(dir, df.where(col("vec_id") < 3))
    Similarity.ivfIndexAppend(shard, "vec_id", "embedding", dir) // the retry
    val twice = probe(dir, df.where(col("vec_id") < 3))
    assert(twice === once, "a duplicated append must not duplicate result rows")
    assert(twice.map(r => (r._1, r._3)).distinct.size === twice.size)
    Similarity.ivfIndexCompact(spark, dir)
    assert(probe(dir, df.where(col("vec_id") < 3)) === once)
    assert(spark.read.parquet(s"$dir/cells")
      .where(col("neighbor_id") === 2000L).count() === 1L)
    rm(dir)
  }

  test("a rebuild clears stale tombstones left by a crashed delete") {
    val dir = freshDir()
    val df = corpus(40)
    Similarity.buildIvfIndex(df, "vec_id", "embedding", 7, dir)
    Similarity.ivfIndexDelete(Seq(5L).toDF("vec_id"), "vec_id", dir)
    // crash before compact; a NEW generation rebuilds at the same path
    Similarity.buildIvfIndex(df, "vec_id", "embedding", 7, dir)
    val got = probe(dir, df.where(col("vec_id") === 4))
    // id 5 must be matchable again — the old tombstone must not
    // phantom-delete from the new index
    assert(!new java.io.File(s"$dir/tombstones").exists())
    assert(got.nonEmpty)
    rm(dir)
  }

  test("ivfIndexedTopK reuses a same-parameter index, rebuilds on a change or after an append") {
    val dir = freshDir()
    val df = corpus(60)
    def cellFiles = {
      def go(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles).toSeq.flatten.flatMap(c => if (c.isDirectory) go(c) else Seq(c))
      go(new java.io.File(s"$dir/cells")).filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getPath, f.lastModified)).toSet
    }
    def topK(queries: org.apache.spark.sql.DataFrame, stride: Long) =
      Similarity.ivfIndexedTopK(df, queries, "vec_id", "embedding",
        k = 5, centroidStride = stride, nProbe = 3, indexDir = dir)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val queries = df.where(col("vec_id") < 3)
    val first = topK(queries, 9)
    val built = cellFiles
    assert(built.nonEmpty)
    // same parameters → probe-only: no cells file is rewritten
    assert(topK(queries, 9) === first)
    assert(cellFiles === built, "same parameters must reuse the index")
    // a changed centroidStride rebuilds
    topK(queries, 7)
    val rebuilt = cellFiles
    assert(rebuilt !== built, "a changed centroidStride must rebuild")
    // an append makes the index differ from the corpus the caller
    // passes: the next call rebuilds from that corpus, so the appended
    // vector (not in `df`) can no longer match
    val novel = Array.tabulate(8)(j => j * 1.5f + 0.3f)
    Similarity.ivfIndexAppend(
      Seq((1000L, novel)).toDF("vec_id", "embedding"), "vec_id", "embedding", dir)
    val got = topK(Seq((1L, novel)).toDF("vec_id", "embedding"), 7)
    assert(got.nonEmpty && !got.exists(_._3 == 1000L),
      s"probed a vector appended after the build: ${got.mkString(",")}")
    assert(cellFiles !== rebuilt, "ensure must rebuild after an append")
    // so does a delete: the next call rebuilds from `df`, and the
    // deleted vectors match again, as against a fresh build
    val fresh = topK(queries, 7)
    val beforeDelete = cellFiles
    Similarity.ivfIndexDelete(fresh.map(_._3).distinct.toDF("vec_id"), "vec_id", dir)
    assert(topK(queries, 7) === fresh, "reused the index with its tombstones live")
    assert(cellFiles !== beforeDelete, "ensure must rebuild after a delete")
    rm(dir)
  }

  test("a killed compaction leaves cells readable; probes roll forward or back") {
    import org.apache.hadoop.fs.Path
    val dir = freshDir()
    val twin = freshDir()
    val df = corpus(60)
    Similarity.buildIvfIndex(df, "vec_id", "embedding", 9, dir)
    val queries = df.where(col("vec_id") < 3)
    val want = probe(dir, queries)
    assert(want.nonEmpty)
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = new Path(s"$dir/cells")
    val tmp = new Path(s"$dir/.cells_compact_tmp")
    val old = new Path(s"$dir/.cells_compact_old")
    def twinCellsTmp(): Unit = {
      Similarity.buildIvfIndex(df, "vec_id", "embedding", 9, twin)
      require(fs.rename(new Path(s"$twin/cells"), tmp))
      rm(twin)
    }
    // the dangerous window: cells renamed aside, COMPLETE tmp present
    // — recovery rolls the swap forward before the probe reads
    twinCellsTmp()
    require(fs.rename(cur, old))
    assert(probe(dir, queries) === want, "mid-swap state broke the probe")
    assert(fs.exists(cur) && !fs.exists(tmp) && !fs.exists(old))
    // same window with an INCOMPLETE tmp: roll back to the aside copy
    require(fs.rename(cur, old))
    fs.mkdirs(tmp)
    assert(probe(dir, queries) === want, "rollback state broke the probe")
    assert(fs.exists(cur) && !fs.exists(tmp) && !fs.exists(old))
    // an append after a crash lands in the RECOVERED table
    require(fs.rename(cur, old))
    Similarity.ivfIndexAppend(
      Seq((1000L, vec(1000L))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir)
    assert(spark.read.parquet(s"$dir/cells").count() === 61L,
      "append after a crash started a fresh cells table")
    // the real maintenance job still runs on the recovered artifact
    val afterAppend = probe(dir, queries)
    Similarity.ivfIndexCompact(spark, dir)
    assert(probe(dir, queries) === afterAppend)
    rm(dir)
  }
}
