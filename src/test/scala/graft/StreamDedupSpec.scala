package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.StreamOps

/** Streaming exact dedup (§2 J's unbounded twin): duplicates within
  * the watermark horizon collapse; state is watermark-bounded.
  */
class StreamDedupSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val stateStore = "spark.sql.streaming.stateStore.providerClass"
  private val rocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  test("dropDuplicatesWithinWatermark collapses re-delivered keys") {
    val input = MemoryStream[(String, Timestamp, Double)](spark)
    val deduped = StreamOps.dedupWithinWatermark(
      input.toDF.toDF("doc_id", "ts", "value"),
      keyCols = Seq("doc_id"), tsCol = "ts", watermarkDelay = "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(
        ("a", ts("2024-01-01 10:00:00"), 1.0),
        ("a", ts("2024-01-01 10:01:00"), 1.0), // duplicate within horizon
        ("b", ts("2024-01-01 10:02:00"), 2.0))
      q.processAllAvailable()
      // re-delivery in a later micro-batch, still within the horizon
      input.addData(("a", ts("2024-01-01 10:03:00"), 1.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("doc_id").as[String].collect()
      assert(ids.sorted.toSeq == Seq("a", "b"))
    } finally q.stop()
  }

  test("intervalStreamJoin enriches events with in-window state rows only") {
    val events = MemoryStream[(Long, Timestamp, String)](spark)
    val states = MemoryStream[(Long, Timestamp, Double)](spark)
    val joined = StreamOps.intervalStreamJoin(
      events.toDF.toDF("user_id", "ets", "label"),
      states.toDF.toDF("user_id", "sts", "sval"),
      keyCol = "user_id", eventTsCol = "ets", stateTsCol = "sts",
      watermarkDelay = "10 minutes", boundSeconds = 3600L)
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      states.addData(
        (1L, ts("2024-01-01 09:30:00"), 100.0), // within 1h of the event
        (1L, ts("2024-01-01 07:00:00"), 50.0),  // too old → excluded
        (2L, ts("2024-01-01 09:45:00"), 70.0))  // other key → excluded
      events.addData((1L, ts("2024-01-01 10:00:00"), "evt"))
      q.processAllAvailable()
      val rows = spark.table("ssj_out")
        .select("label", "sval").collect().map(r => (r.getString(0), r.getDouble(1)))
      assert(rows.toSeq == Seq(("evt", 100.0)))
    } finally q.stop()
  }

  test("streaming minhash-bucket dedup matches batch candidates across micro-batches") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").as[(Long, String)].collect()
    val batchPairs = graft.operators.Dedup
      .minhashCandidates(Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchPairs.nonEmpty)
    withConf(stateStore, rocksDb) {
      val input = MemoryStream[(Long, String)](spark)
      val q = StreamOps.minhashCandidateStream(
          input.toDF.toDF("doc_id", "text"), "doc_id", "text")
        .writeStream.format("memory").queryName("mh_out")
        .outputMode("append").start()
      try {
        val (first, second) = docs.splitAt(docs.length / 2)
        input.addData(first.toSeq)
        q.processAllAvailable()
        input.addData(second.toSeq) // cross-batch pairs need surviving state
        q.processAllAvailable()
        val streamPairs = spark.table("mh_out")
          .select("id_a", "id_b").distinct()
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(streamPairs == batchPairs)
      } finally q.stop()
    }
  }

  test("streaming fingerprint dedup matches the batch hamming miner across batches") {
    withConf(stateStore, rocksDb) {
      // synthetic audio fingerprints: triples (base, exact copy, near
      // variant) per id — the M3 planted structure, fingerprints
      // computed through the REAL WAV codec path
      val media = (0L until 40L).flatMap { id =>
        val base = Array.tabulate(64) { j =>
          val t = (id * 2654435761L + j * 40503L) % 16777216L
          (t * t / 4096 % 4096 - 2048).toShort
        }
        val tweaked = base.clone()
        tweaked(0) = (tweaked(0) + (if (tweaked(0) > 1791) -256 else 256)).toShort
        val meta = graft.operators.Multimodal.MediaMeta("audio", 0, 0, 8L)
        Seq(
          graft.operators.Multimodal.MediaRecord(id * 4, meta,
            graft.operators.Multimodal.Encode.wavPcm16(base, 8000)),
          graft.operators.Multimodal.MediaRecord(id * 4 + 1, meta,
            graft.operators.Multimodal.Encode.wavPcm16(base, 8000)),
          graft.operators.Multimodal.MediaRecord(id * 4 + 2, meta,
            graft.operators.Multimodal.Encode.wavPcm16(tweaked, 8000)))
      }
      val fpBatch = graft.operators.Multimodal.audioAHash(media.toDS())
      val batchPairs = graft.operators.Dedup
        .mineHammingPairs(fpBatch, maxHamming = 3, maxBucket = 1000)
        .select("id_a", "id_b", "hamming")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(batchPairs.nonEmpty)
      val input = MemoryStream[(Long, Long, Long)](spark)
      val q = StreamOps.fingerprintPairStream(
          input.toDF.toDF("doc_id", "hi", "lo"))
        .writeStream.format("memory").queryName("fp_out")
        .outputMode("append").start()
      try {
        val fps = fpBatch.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val (first, second) = fps.splitAt(fps.length / 2)
        input.addData(first.toSeq)
        q.processAllAvailable()
        input.addData(second.toSeq) // cross-batch pairs need surviving state
        q.processAllAvailable()
        val streamPairs = spark.table("fp_out")
          .select("id_a", "id_b", "hamming").distinct()
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
        assert(streamPairs == batchPairs)
      } finally q.stop()
    }
  }

  test("streaming span scrub matches batch J12 on a one-batch replay") {
    val docsDf = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    withConf(stateStore, rocksDb) {
      val spanLen = 8
      val batchOut = graft.operators.Dedup
        .spanScrub(docsDf, "doc_id", "text", spanLen)
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      assert(batchOut.values.exists(_.nonEmpty))
      val input = MemoryStream[(Long, String)](spark)
      val q = StreamOps.spanScrubStream(
          input.toDF.toDF("doc_id", "text"), "doc_id", "text", spanLen)
        .writeStream.format("memory").queryName("span_out")
        .outputMode("append").start()
      try {
        // ONE micro-batch = the whole corpus: within a batch the
        // processor replays the batch operator's (doc,pos)-min
        // first-occurrence and minDocs>=2 semantics exactly
        input.addData(docsDf.as[(Long, String)].collect().toSeq)
        q.processAllAvailable()
        val rebuilt = StreamOps.applySpanDecisions(
            docsDf, "doc_id", "text", spark.table("span_out"), spanLen)
          .collect().map(r => (r.getLong(0), r.getString(1))).toMap
        // docs shorter than spanLen emit no decisions and rebuild
        // verbatim; compare the full maps
        assert(rebuilt.keySet == batchOut.keySet)
        val diff = rebuilt.keySet.filter(k => rebuilt(k) != batchOut(k))
        assert(diff.isEmpty, s"streamed scrub diverges on docs $diff")
      } finally q.stop()
    }
  }

  test("streaming span scrub state survives micro-batches (later dup scrubs)") {
    withConf(stateStore, rocksDb) {
      val input = MemoryStream[(Long, String)](spark)
      val q = StreamOps.spanScrubStream(
          input.toDF.toDF("doc_id", "text"), "doc_id", "text", spanLen = 5)
        .writeStream.format("memory").queryName("span_out2")
        .outputMode("append").start()
      try {
        input.addData(
          (1L, "a b c d e x y z"),
          (2L, "p q r s a b c d e"))
        q.processAllAvailable()
        input.addData((3L, "a b c d e m n o p")) // dup of a batch-1 span
        q.processAllAvailable()
        val dec = spark.table("span_out2")
          .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getBoolean(2))).toMap
        assert(dec((1L, 0)) === true)   // corpus-wide first occurrence kept
        assert(dec((2L, 4)) === false)  // same-batch dup scrubbed
        assert(dec((3L, 0)) === false)  // CROSS-batch dup scrubbed (state survived)
        assert(dec((3L, 1)) === true)   // unseen span kept
      } finally q.stop()
    }
  }

  test("file-source ingest: CSV files stream through the batch dedup op") {
    // the production ingest shape — readStream over a landing directory
    // with an EXPLICIT schema (inference needs a full pre-pass and is
    // disabled for file streams anyway), driving the same operator the
    // MemoryStream specs exercise
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-csv").toFile
    val schema = StructType(Seq(
      StructField("doc_id", StringType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    def land(name: String, rows: Seq[String]): Unit = {
      val f = new java.io.File(dir, name)
      val w = new java.io.PrintWriter(f)
      try rows.foreach(w.println) finally w.close()
    }
    land("batch1.csv", Seq(
      "a,2024-01-01 10:00:00,1.0",
      "a,2024-01-01 10:01:00,1.0",
      "b,2024-01-01 10:02:00,2.0"))
    val stream = spark.readStream.schema(schema).csv(dir.getAbsolutePath)
    val deduped = StreamOps.dedupWithinWatermark(
      stream, keyCols = Seq("doc_id"), tsCol = "ts", watermarkDelay = "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("file_dedup_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // a second file lands later — discovered incrementally, not rescanned
      land("batch2.csv", Seq(
        "a,2024-01-01 10:03:00,1.0",
        "c,2024-01-01 10:04:00,3.0"))
      q.processAllAvailable()
      val ids = spark.table("file_dedup_out").select("doc_id").as[String].collect()
      assert(ids.sorted.toSeq == Seq("a", "b", "c"))
    } finally {
      q.stop()
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("fingerprint stream with a TTL starts and emits (ProcessingTime mode)") {
    withConf(stateStore, rocksDb) {
      // regression: a TTLConfig under TimeMode.None throws at query
      // start — ttl=Some must select ProcessingTime. In that mode
      // Spark keeps scheduling micro-batches to service TTL state
      // cleanup, so the query NEVER quiesces — processAllAvailable
      // (and even AvailableNow) would wait forever. The regression
      // under test is start-and-emit: poll the sink until the pair
      // lands, then stop. The slow trigger keeps the idle TTL batches
      // from hammering the state store while we poll.
      val input = MemoryStream[(Long, Long, Long)](spark)
      input.addData((1L, 7L, 7L), (2L, 7L, 7L))
      val q = StreamOps.fingerprintPairStream(
          input.toDF.toDF("doc_id", "hi", "lo"),
          ttl = Some(java.time.Duration.ofHours(1)))
        .writeStream.format("memory").queryName("fp_ttl_out")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
        .start()
      try {
        val deadline = System.currentTimeMillis + 120000
        def pairs() = spark.table("fp_ttl_out")
          .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        while (pairs().isEmpty && System.currentTimeMillis < deadline) {
          q.exception.foreach(throw _)
          Thread.sleep(200)
        }
        assert(pairs() === Set((1L, 2L)))
      } finally q.stop()
    }
  }

  test("over-cap fingerprint bucket tombstones: batch parity in-batch, quiet after") {
    withConf(stateStore, rocksDb) {
      val mk = (id: Long) => (id, 7L, 7L) // identical fingerprints → one bucket set
      // same-batch over-cap: the whole bucket arrives at once → the
      // batch miner's DROP exactly (zero pairs)
      val in1 = MemoryStream[(Long, Long, Long)](spark)
      val q1 = StreamOps.fingerprintPairStream(
          in1.toDF.toDF("doc_id", "hi", "lo"), maxBucket = 3)
        .writeStream.format("memory").queryName("fp_cap1_out")
        .outputMode("append").start()
      try {
        in1.addData(mk(1L), mk(2L), mk(3L), mk(4L))
        q1.processAllAvailable()
        assert(spark.table("fp_cap1_out").count() === 0L)
      } finally q1.stop()
      // cross-batch over-cap: pairs already emitted stand (append mode
      // cannot retract — the documented divergence), but the arrival
      // that crosses the cap kills the bucket for good
      val in2 = MemoryStream[(Long, Long, Long)](spark)
      val q2 = StreamOps.fingerprintPairStream(
          in2.toDF.toDF("doc_id", "hi", "lo"), maxBucket = 3)
        .writeStream.format("memory").queryName("fp_cap2_out")
        .outputMode("append").start()
      try {
        in2.addData(mk(1L), mk(2L), mk(3L))
        q2.processAllAvailable()
        val before = spark.table("fp_cap2_out")
          .select("id_a", "id_b").distinct().collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(before === Set((1L, 2L), (1L, 3L), (2L, 3L)))
        in2.addData(mk(4L)) // crosses the cap → tombstone, no new pairs
        q2.processAllAvailable()
        in2.addData(mk(5L)) // dead bucket stays quiet
        q2.processAllAvailable()
        val after = spark.table("fp_cap2_out")
          .select("id_a", "id_b").distinct().collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(after === before)
      } finally q2.stop()
    }
  }

  test("over-cap minhash bucket tombstones identically") {
    withConf(stateStore, rocksDb) {
      // one shared text → every doc lands in the same 16 buckets
      val mk = (id: Long) => (id, "the same shared text body for every doc")
      val input = MemoryStream[(Long, String)](spark)
      val q = StreamOps.minhashCandidateStream(
          input.toDF.toDF("doc_id", "text"), "doc_id", "text", maxBucket = 3)
        .writeStream.format("memory").queryName("mh_cap_out")
        .outputMode("append").start()
      try {
        input.addData(mk(1L), mk(2L), mk(3L), mk(4L))
        q.processAllAvailable()
        assert(spark.table("mh_cap_out").count() === 0L) // batch-parity drop
        input.addData(mk(5L))
        q.processAllAvailable()
        assert(spark.table("mh_cap_out").count() === 0L) // tombstoned for good
      } finally q.stop()
    }
  }
}
