package graft

import org.apache.spark.sql.functions._

/** J14 — rolling-shard dedup against a persisted minhash index.
  *
  * 1. The probe's verdicts equal the direct cross-table operator's
  *    (fuzzyDecontaminate) on the same shard/corpus — the index
  *    round-trip adds plumbing, not semantics.
  * 2. The probe never touches the corpus source: after the index is
  *    built, the corpus parquet is DELETED and the probe still
  *    answers — the property that makes per-shard ingestion cost
  *    ∝ shard at 100 TB (everything the probe needs lives in the
  *    index artifact).
  */
class IncrementalDedupSpec extends SparkSpec {

  private def corpusRows = Seq(
    (10L, "alpha beta gamma delta epsilon zeta eta theta"),
    (11L, "one two three four five six seven eight nine"),
    (12L, "red orange yellow green blue indigo violet umbra"),
    (13L, "lorem ipsum dolor sit amet consectetur adipiscing elit"))

  private def shardRows = Seq(
    // near-dup of 10 (one token changed at the end)
    (1L, "alpha beta gamma delta epsilon zeta eta iota"),
    // exact text of 11
    (2L, "one two three four five six seven eight nine"),
    // novel
    (3L, "completely different tokens that match nothing here at all"))

  test("index probe equals the direct cross-table operator") {
    import spark.implicits._
    val corpus = corpusRows.toDF("doc_id", "text")
    val shard = shardRows.toDF("doc_id", "text")
    val idx = s"/tmp/graft-spec-mhidx-a-${java.lang.Math.abs(hashCode)}"
    graft.operators.Dedup.minhashIndexWrite(corpus, "doc_id", "text", idx)
    val probed = graft.operators.Dedup
      .dedupShardAgainstIndex(shard, "doc_id", "text", idx)
      .orderBy("doc_id").collect()
    val direct = graft.operators.Curation
      .fuzzyDecontaminate(shard, corpus, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(probed.length == direct.length && probed.length >= 2,
      s"expected matching non-trivial verdicts, got ${probed.length}/${direct.length}")
    for ((p, d) <- probed.zip(direct)) {
      assert(p.getLong(0) == d.getLong(0))
      assert(p.getLong(1) == d.getLong(1), s"match id for doc ${p.getLong(0)}")
      assert(p.getDouble(2) == d.getDouble(2), s"jaccard for doc ${p.getLong(0)}")
    }
    // the novel doc is not flagged
    assert(!probed.map(_.getLong(0)).contains(3L))
  }

  test("ensure builds once, skips the identical corpus, rebuilds on change") {
    import spark.implicits._
    val corpus = corpusRows.toDF("doc_id", "text")
    val shard = shardRows.toDF("doc_id", "text")
    val idx = s"/tmp/graft-spec-mhens-${java.lang.Math.abs(hashCode)}"
    def bandFiles = {
      val d = new java.io.File(s"$idx/bands")
      Option(d.listFiles).map(_.filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified)).toSet).getOrElse(Set.empty)
    }
    graft.operators.Dedup.minhashIndexEnsure(corpus, "doc_id", "text", idx)
    val built = bandFiles
    assert(built.nonEmpty)
    val firstProbe = graft.operators.Dedup
      .dedupShardAgainstIndex(shard, "doc_id", "text", idx)
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    // same corpus → the artifact is REUSED (no file rewrites), and the
    // probe answers identically
    graft.operators.Dedup.minhashIndexEnsure(corpus, "doc_id", "text", idx)
    assert(bandFiles === built, "ensure must not rebuild an up-to-date index")
    assert(graft.operators.Dedup
      .dedupShardAgainstIndex(shard, "doc_id", "text", idx)
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq === firstProbe)
    // changed corpus (one doc dropped) → fingerprint mismatch → rebuild,
    // and the dropped doc no longer matches
    graft.operators.Dedup.minhashIndexEnsure(
      corpus.where(col("doc_id") =!= 11L), "doc_id", "text", idx)
    val probe2 = graft.operators.Dedup
      .dedupShardAgainstIndex(shard, "doc_id", "text", idx)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!probe2.exists(_._2 == 11L), s"doc 11 left the corpus; got $probe2")
    assert(probe2.exists(_._1 == 1L)) // unrelated matches survive
    // an append invalidates the fingerprint: ensure afterwards rebuilds
    graft.operators.Dedup.minhashIndexAppend(
      Seq((99L, "zz yy xx ww vv uu tt ss")).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    val appended = bandFiles
    graft.operators.Dedup.minhashIndexEnsure(
      corpus.where(col("doc_id") =!= 11L), "doc_id", "text", idx)
    assert(bandFiles !== appended, "ensure must rebuild after an append")
    // so does a delete: ensure afterwards rebuilds from the corpus it is
    // given, and the deleted doc matches again, as in a fresh build
    graft.operators.Dedup.minhashIndexDelete(Seq(10L).toDF("doc_id"), "doc_id", idx)
    val deleted = bandFiles
    graft.operators.Dedup.minhashIndexEnsure(
      corpus.where(col("doc_id") =!= 11L), "doc_id", "text", idx)
    assert(bandFiles !== deleted, "ensure must rebuild after a delete")
    assert(graft.operators.Dedup
      .dedupShardAgainstIndex(shard, "doc_id", "text", idx)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      probe2.toSeq)
  }

  test("streaming shard probe equals per-shard batch probes (micro-batch = shard)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val corpus = corpusRows.toDF("doc_id", "text")
    val idx = s"/tmp/graft-spec-mhidx-c-${java.lang.Math.abs(hashCode)}"
    graft.operators.Dedup.minhashIndexWrite(corpus, "doc_id", "text", idx)
    val shard1 = shardRows.take(2)
    val shard2 = shardRows.drop(2) :+
      (4L, "red orange yellow green blue indigo violet ochre") // near-dup of 12
    val expected = (
      graft.operators.Dedup
        .dedupShardAgainstIndex(shard1.toDF("doc_id", "text"), "doc_id", "text", idx)
        .collect() ++
      graft.operators.Dedup
        .dedupShardAgainstIndex(shard2.toDF("doc_id", "text"), "doc_id", "text", idx)
        .collect()
    ).map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expected.map(_._1) == Set(1L, 2L, 4L))
    // shard 1 is all duplicates, so the rolling append adds nothing
    // shard 2 could match: each micro-batch is exactly one batch probe
    val got = scala.collection.mutable.Set[(Long, Long, Double)]()
    val input = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.StreamOps.rollingIngestStream(
      input.toDF.toDF("doc_id", "text"), "doc_id", "text", idx,
      (flagged, _) => got.synchronized {
        got ++= flagged.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      })
    try {
      input.addData(shard1)
      q.processAllAvailable()
      input.addData(shard2)
      q.processAllAvailable()
      assert(got.toSet == expected)
    } finally q.stop()
  }

  test("a delete between micro-batches takes effect on the very next probe") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val corpus = corpusRows.toDF("doc_id", "text")
    val idx = s"/tmp/graft-spec-mhidx-f-${java.lang.Math.abs(hashCode)}"
    graft.operators.Dedup.minhashIndexWrite(corpus, "doc_id", "text", idx)
    val got = scala.collection.mutable.Set[(Long, Long, Long)]() // (batch, doc, match)
    val input = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.StreamOps.rollingIngestStream(
      input.toDF.toDF("doc_id", "text"), "doc_id", "text", idx,
      (flagged, batchId) => got.synchronized {
        got ++= flagged.collect().map(r => (batchId, r.getLong(0), r.getLong(1)))
      })
    try {
      input.addData(Seq((1L, "alpha beta gamma delta epsilon zeta eta iota")))
      q.processAllAvailable()
      assert(got.toSet == Set((0L, 1L, 10L)))
      // right-to-be-forgotten lands between batches: doc 10 deleted
      graft.operators.Dedup.minhashIndexDelete(
        Seq(10L).toDF("doc_id"), "doc_id", idx)
      input.addData(Seq(
        (2L, "alpha beta gamma delta epsilon zeta eta mu"), // near-dup of deleted 10
        (3L, "one two three four five six seven eight nine"))) // exact of live 11
      q.processAllAvailable()
      assert(got.toSet == Set((0L, 1L, 10L), (1L, 3L, 11L)),
        s"deleted doc still matching (or live doc lost): $got")
    } finally q.stop()
  }

  test("append grows the index: probe equals a full rebuild") {
    import spark.implicits._
    val a = corpusRows.toDF("doc_id", "text")
    val b = Seq(
      (14L, "gamma rays cross the upper atmosphere at night often"),
      (15L, "quiet rivers carve deep canyons over geological time spans"))
      .toDF("doc_id", "text")
    val idxApp = s"/tmp/graft-spec-mhidx-d-${java.lang.Math.abs(hashCode)}"
    val idxFull = s"/tmp/graft-spec-mhidx-e-${java.lang.Math.abs(hashCode)}"
    graft.operators.Dedup.minhashIndexWrite(a, "doc_id", "text", idxApp)
    graft.operators.Dedup.minhashIndexAppend(b, "doc_id", "text", idxApp)
    graft.operators.Dedup.minhashIndexWrite(a.unionAll(b), "doc_id", "text", idxFull)
    val shard = Seq(
      // near-dup of appended 14
      (1L, "gamma rays cross the upper atmosphere at night rarely"),
      // near-dup of original 10
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "entirely novel content that resembles no indexed document at all"))
      .toDF("doc_id", "text")
    def run(p: String) = graft.operators.Dedup
      .dedupShardAgainstIndex(shard, "doc_id", "text", p)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val appended = run(idxApp)
    assert(appended == run(idxFull))
    assert(appended.map(t => (t._1, t._2)) == Seq((1L, 14L), (2L, 10L)))
  }

  test("bucket hot only ACROSS segments drops at probe time, as in a rebuild") {
    import spark.implicits._
    val dup = "the same duplicated passage of nine tokens repeats here"
    val a = (Seq((10L, corpusRows.head._2)) ++ (20L to 22L).map((_, dup))).toDF("doc_id", "text")
    val b = (23L to 25L).map((_, dup)).toDF("doc_id", "text")
    val idxApp = s"/tmp/graft-spec-mhidx-f-${java.lang.Math.abs(hashCode)}"
    val idxFull = s"/tmp/graft-spec-mhidx-g-${java.lang.Math.abs(hashCode)}"
    graft.operators.Dedup.minhashIndexWrite(a, "doc_id", "text", idxApp)
    graft.operators.Dedup.minhashIndexAppend(b, "doc_id", "text", idxApp)
    graft.operators.Dedup.minhashIndexWrite(a.unionAll(b), "doc_id", "text", idxFull)
    val shard = Seq(
      (1L, dup), // its buckets hold 6 members: local 3 <= 4 but global 6 > 4
      (2L, "alpha beta gamma delta epsilon zeta eta iota")).toDF("doc_id", "text")
    def run(p: String) = graft.operators.Dedup
      .dedupShardAgainstIndex(shard, "doc_id", "text", p, maxBucket = 4)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val appended = run(idxApp)
    // the mega-duplicate bucket drops in BOTH layouts (doc 1 unflagged);
    // the cool bucket still matches (doc 2 → 10)
    assert(appended == run(idxFull))
    assert(appended == Seq((2L, 10L)))
  }

  test("compaction preserves probe verdicts and restores pre-exchange hot drops") {
    import spark.implicits._
    val dup = "the same duplicated passage of nine tokens repeats here"
    val a = (Seq((10L, corpusRows.head._2)) ++ (20L to 22L).map((_, dup))).toDF("doc_id", "text")
    val b = (23L to 25L).map((_, dup)).toDF("doc_id", "text")
    val idx = s"/tmp/graft-spec-mhidx-h-${java.lang.Math.abs(hashCode)}"
    graft.operators.Dedup.minhashIndexWrite(a, "doc_id", "text", idx)
    graft.operators.Dedup.minhashIndexAppend(b, "doc_id", "text", idx)
    val shard = (shardRows.take(2) :+ (4L, dup)).toDF("doc_id", "text")
    def run() = graft.operators.Dedup
      .dedupShardAgainstIndex(shard, "doc_id", "text", idx, maxBucket = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val before = run()
    graft.operators.Dedup.minhashIndexCompact(spark, idx)
    assert(run() == before)
    // doc 1 (near-dup of 10) flagged; doc 4 (the hot-bucket dup) dropped
    assert(before.map(t => (t._1, t._2)) == Seq((1L, 10L)))
    // after compaction the stored occupancy is GLOBAL: the 6-member
    // bucket's rows now carry n_bucket=6 and drop before the exchange
    val occ = spark.read.parquet(s"$idx/bands")
      .groupBy("band", "bucket").agg(max("n_bucket").as("n"), count(lit(1)).as("c"))
      .where(col("c") >= 6).select("n").collect()
    assert(occ.nonEmpty && occ.forall(_.getLong(0) == 6L))
  }

  test("compaction repairs a double-appended (retried) shard to the clean index") {
    import spark.implicits._
    val b = Seq(
      (14L, "gamma rays cross the upper atmosphere at night often"),
      (15L, "quiet rivers carve deep canyons over geological time spans"))
    val dirty = s"/tmp/graft-spec-mhidx-j-${java.lang.Math.abs(hashCode)}"
    val clean = s"/tmp/graft-spec-mhidx-k-${java.lang.Math.abs(hashCode)}"
    val a = corpusRows.toDF("doc_id", "text")
    graft.operators.Dedup.minhashIndexWrite(a, "doc_id", "text", dirty)
    // the same shard appends TWICE — a retried micro-batch
    graft.operators.Dedup.minhashIndexAppend(b.toDF("doc_id", "text"), "doc_id", "text", dirty)
    graft.operators.Dedup.minhashIndexAppend(b.toDF("doc_id", "text"), "doc_id", "text", dirty)
    graft.operators.Dedup.minhashIndexWrite(
      a.unionAll(b.toDF("doc_id", "text")), "doc_id", "text", clean)
    graft.operators.Dedup.minhashIndexCompact(spark, dirty)
    val shard = Seq(
      (1L, "gamma rays cross the upper atmosphere at night rarely"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota")).toDF("doc_id", "text")
    def run(p: String) = graft.operators.Dedup
      .dedupShardAgainstIndex(shard, "doc_id", "text", p)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val repaired = run(dirty)
    assert(repaired == run(clean))
    assert(repaired.map(t => (t._1, t._2)) == Seq((1L, 14L), (2L, 10L)))
    // the duplicate band/shingle rows are physically gone
    val bandRows = spark.read.parquet(s"$dirty/bands")
      .groupBy("doc_id", "band", "bucket").count().where(col("count") > 1).count()
    assert(bandRows == 0)
    assert(spark.read.parquet(s"$dirty/shingles")
      .groupBy("doc_id").count().where(col("count") > 1).count() == 0)
  }

  test("rolling ingest stream: probe, flag, append novel — next batch matches them") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val idx = s"/tmp/graft-spec-mhidx-i-${java.lang.Math.abs(hashCode)}"
    graft.operators.Dedup.minhashIndexWrite(
      corpusRows.toDF("doc_id", "text"), "doc_id", "text", idx)
    val batch1 = Seq(
      (1L, "one two three four five six seven eight nine"), // dup of 11 → flagged
      (2L, "novel passage about mountains and weather patterns today")) // novel → appended
    val batch2 = Seq(
      // near-dup of batch-1's NOVEL doc — only matchable if the append landed
      (3L, "novel passage about mountains and weather patterns here"),
      (4L, "alpha beta gamma delta epsilon zeta eta iota")) // near-dup of 10
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val input = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.StreamOps.rollingIngestStream(
      input.toDF.toDF("doc_id", "text"), "doc_id", "text", idx,
      (flagged, id) => got.synchronized {
        got ++= flagged.collect().map(r => (id, r.getLong(0), r.getLong(1)))
      })
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val byDoc = got.map(t => (t._2, t._3)).sorted.toSeq
      assert(byDoc == Seq((1L, 11L), (3L, 2L), (4L, 10L)),
        s"rolling verdicts diverged: $byDoc")
    } finally q.stop()
  }

  test("probe works after the corpus source is deleted") {
    import spark.implicits._
    val cpath = s"/tmp/graft-spec-mhidx-corpus-${java.lang.Math.abs(hashCode)}"
    corpusRows.toDF("doc_id", "text").write.mode("overwrite").parquet(cpath)
    val corpus = spark.read.parquet(cpath)
    val idx = s"/tmp/graft-spec-mhidx-b-${java.lang.Math.abs(hashCode)}"
    graft.operators.Dedup.minhashIndexWrite(corpus, "doc_id", "text", idx)
    // corpus gone: only the index artifact remains
    val dir = new java.io.File(cpath)
    dir.listFiles().foreach(_.delete()); assert(dir.delete())
    val probed = graft.operators.Dedup
      .dedupShardAgainstIndex(
        shardRows.toDF("doc_id", "text"), "doc_id", "text", idx)
      .orderBy("doc_id").collect()
    assert(probed.length == 2)
    assert(probed.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 10L), (2L, 11L)))
  }

  test("deleting a doc stops its matches immediately; compaction equals a fresh build") {
    import spark.implicits._
    val corpus = corpusRows.toDF("doc_id", "text")
    val shard = shardRows.toDF("doc_id", "text")
    val idx = s"/tmp/graft-spec-mhidx-d-${java.lang.Math.abs(hashCode)}"
    graft.operators.Dedup.minhashIndexWrite(corpus, "doc_id", "text", idx)
    // doc 10 forgotten: shard doc 1 (its near-dup) must stop matching
    // on the VERY NEXT probe, while doc 2 -> 11 survives
    graft.operators.Dedup.minhashIndexDelete(
      Seq(10L).toDF("doc_id"), "doc_id", idx)
    val live = graft.operators.Dedup
      .dedupShardAgainstIndex(shard, "doc_id", "text", idx)
      .orderBy("doc_id").collect()
    assert(live.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 11L)))
    // compaction purges physically and clears the tombstones; verdicts
    // must equal an index built WITHOUT doc 10 from scratch
    graft.operators.Dedup.minhashIndexCompact(spark, idx)
    assert(!new java.io.File(s"$idx/tombstones").exists(), "tombstones not cleared")
    val fresh = s"/tmp/graft-spec-mhidx-e-${java.lang.Math.abs(hashCode)}"
    graft.operators.Dedup.minhashIndexWrite(
      corpus.where(col("doc_id") =!= 10L), "doc_id", "text", fresh)
    val afterCompact = graft.operators.Dedup
      .dedupShardAgainstIndex(shard, "doc_id", "text", idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val rebuilt = graft.operators.Dedup
      .dedupShardAgainstIndex(shard, "doc_id", "text", fresh)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(afterCompact == rebuilt && afterCompact.map(_._1) == Set(2L))
    // forgetting an id that was never indexed is a harmless no-op
    graft.operators.Dedup.minhashIndexDelete(
      Seq(999L).toDF("doc_id"), "doc_id", idx)
    val noop = graft.operators.Dedup
      .dedupShardAgainstIndex(shard, "doc_id", "text", idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(noop == Set((2L, 11L)))
    // a REBUILT index must not inherit stale tombstones (crash between
    // delete and compact): stale 10L is pending on idx right now —
    // overwrite and probe; doc 10's match must be back
    graft.operators.Dedup.minhashIndexDelete(Seq(10L).toDF("doc_id"), "doc_id", idx)
    graft.operators.Dedup.minhashIndexWrite(corpus, "doc_id", "text", idx)
    val rebuilt2 = graft.operators.Dedup
      .dedupShardAgainstIndex(shard, "doc_id", "text", idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rebuilt2 == Set((1L, 10L), (2L, 11L)),
      "fresh index inherited phantom tombstones")
  }

  test("a session that routes /tmp through viewfs sees the tombstones it wrote") {
    // the session conf (not the context's Hadoop conf) maps /tmp into
    // a private dir, as a deployment does with fs.defaultFS = viewfs
    val mount = java.nio.file.Files.createTempDirectory("graft-viewfs-spec").toFile
    val table = s"graftspec${System.nanoTime()}"
    val s = spark.newSession()
    s.conf.set("fs.defaultFS", s"viewfs://$table/")
    s.conf.set(s"fs.viewfs.mounttable.$table.link./tmp", mount.toURI.toString)
    s.conf.set(s"fs.viewfs.mounttable.$table.linkFallback", "file:///")
    val idx = s"/tmp/graft-spec-mhviewfs-${System.nanoTime()}"
    try {
      graft.operators.Dedup.minhashIndexWrite(
        s.createDataFrame(corpusRows).toDF("doc_id", "text"), "doc_id", "text", idx)
      graft.operators.Dedup.minhashIndexDelete(
        s.createDataFrame(Seq(Tuple1(10L))).toDF("doc_id"), "doc_id", idx)
      // every file landed under the mount, none at the unmapped path
      assert(new java.io.File(mount, s"${idx.stripPrefix("/tmp/")}/tombstones").isDirectory)
      assert(!new java.io.File(idx).exists())
      val got = graft.operators.Dedup
        .dedupShardAgainstIndex(
          s.createDataFrame(shardRows).toDF("doc_id", "text"), "doc_id", "text", idx)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((2L, 11L)), s"deleted doc 10 still matched: $got")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(mount)
    }
  }

  test("compaction crash windows: the index stays readable, verdicts unchanged") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val corpus = corpusRows.toDF("doc_id", "text")
    val shard = shardRows.toDF("doc_id", "text")
    val idx = s"/tmp/graft-spec-mhcrash-${System.nanoTime()}"
    val twin = s"$idx-twin"
    graft.operators.Dedup.minhashIndexWrite(corpus, "doc_id", "text", idx)
    def probeNow() = graft.operators.Dedup
      .dedupShardAgainstIndex(shard, "doc_id", "text", idx)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = probeNow()
    assert(want.nonEmpty)
    val fs = new Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("bands", "shingles").foreach { table =>
      val cur = new Path(s"$idx/$table")
      val tmp = new Path(s"$idx/.${table}_compact_tmp")
      val old = new Path(s"$idx/.${table}_compact_old")
      // a COMPLETE replacement table with identical contents: a twin
      // build of the same corpus (deterministic hashes => same rows)
      def writeTwinTmp(): Unit = {
        graft.operators.Dedup.minhashIndexWrite(corpus, "doc_id", "text", twin)
        require(fs.rename(new Path(s"$twin/$table"), tmp))
        fs.delete(new Path(twin), true)
      }
      // crash after the tmp write, before any rename: cur intact
      writeTwinTmp()
      assert(probeNow() === want, s"$table: stale-tmp state broke the probe")
      assert(!fs.exists(tmp), s"$table: stale tmp not cleaned")
      // crash between the two renames (cur missing, COMPLETE tmp):
      // the dangerous window — recovery must roll the swap FORWARD
      writeTwinTmp()
      require(fs.rename(cur, old))
      assert(probeNow() === want, s"$table: mid-swap state broke the probe")
      assert(fs.exists(cur) && !fs.exists(tmp) && !fs.exists(old),
        s"$table: forward recovery left a dirty layout")
      // same window with an INCOMPLETE tmp (no _SUCCESS): roll BACK
      require(fs.rename(cur, old))
      fs.mkdirs(tmp)
      assert(probeNow() === want, s"$table: rollback state broke the probe")
      assert(fs.exists(cur) && !fs.exists(tmp) && !fs.exists(old))
      // crash after the swap, before the aside-delete: cur intact
      writeTwinTmp()
      require(fs.rename(tmp, old))
      assert(probeNow() === want, s"$table: stale-aside state broke the probe")
      assert(!fs.exists(old), s"$table: stale aside copy not cleaned")
    }
    // an append straight after a mid-swap crash lands in the RECOVERED
    // table (never a fresh empty one at the vacated path)
    require(fs.rename(new Path(s"$idx/shingles"),
      new Path(s"$idx/.shingles_compact_old")))
    graft.operators.Dedup.minhashIndexAppend(
      Seq((50L, "some novel appended document tokens here right now"))
        .toDF("doc_id", "text"), "doc_id", "text", idx)
    val docsInIndex = spark.read.parquet(s"$idx/shingles")
      .select("doc_id").distinct().count()
    assert(docsInIndex === corpusRows.length + 1L,
      "append after a crash started a fresh table instead of recovering")
    // and the real maintenance job still runs on the recovered artifact
    graft.operators.Dedup.minhashIndexCompact(spark, idx)
    assert(probeNow() === want)
  }
}
