package graft

import java.io.ByteArrayInputStream
import java.nio.file.Files
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem, UnsupportedAudioFileException}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Multimodal
import graft.operators.Multimodal.{MediaMeta, MediaRecord}
import graft.sources.{Readers, Writers}

class MultimodalSourcesSpec extends SparkSpec {
  import spark.implicits._

  private def apngOf(id: Long) = Multimodal.Apng.assemble(
    (0 until 4).map(f =>
      Multimodal.Encode.png(8, 8, Multimodal.Synth.videoFramePixels(id, f))),
    delayNumMs = 40)

  private def mediaDs = {
    val recs = Seq(
      MediaRecord(1L, MediaMeta("image", 8, 8, 0L),
        Multimodal.Encode.png(8, 8, Multimodal.Synth.imagePixels(1L))),
      MediaRecord(2L, MediaMeta("video", 8, 8, 160L), apngOf(2L)),
      MediaRecord(3L, MediaMeta("audio", 0, 0, 2000L),
        Multimodal.Encode.wavPcm16(Multimodal.Synth.audioSamples(3L), 8000)),
    )
    spark.createDataset(recs)
  }

  test("extractFeatures decodes real PNG/WAV payloads, drops content, keeps metadata") {
    val out = Multimodal.extractFeatures(mediaDs).collect().sortBy(_.media_id)
    assert(out.map(_.media_id).toSeq == Seq(1L, 2L, 3L))
    assert(out.forall(_.features.length >= 8))
    // image: decoded pixel sums must equal the generator formula exactly
    val expectedPx = (0 until 192).map(k => (1L * 7 + k * 13) % 256).sum
    assert(out(0).media_type == "image" && out(0).n_units == 64L)
    assert(out(0).unit_sum == expectedPx)
    assert(out(0).features(3) == 8f && out(0).features(4) == 8f) // decoded dims
    // audio: signed sample sum through the RIFF walk, fixed 172-byte WAV
    val expectedAu = (0 until 64).map(j => ((3L * 11 + j * 17) % 4096) - 2048).sum
    assert(out(2).media_type == "audio" && out(2).n_units == 64L)
    assert(out(2).unit_sum == expectedAu && out(2).n_bytes == 172L)
    // deterministic: second run bit-identical
    val again = Multimodal.extractFeatures(mediaDs).collect().sortBy(_.media_id)
    assert(out.map(_.checksum).toSeq == again.map(_.checksum).toSeq)
    assert(out(0).features.toSeq == again(0).features.toSeq)
  }

  test("syntheticMedia round-trips the Synth formulas through real containers") {
    val docs = Seq((0L, "img doc"), (1L, "audio doc"), (2L, "video doc"))
      .toDF("doc_id", "text")
    val feats = Multimodal.extractFeatures(
      Multimodal.syntheticMedia(docs, "doc_id", "text")).collect().sortBy(_.media_id)
    assert(feats.map(_.media_type).toSeq == Seq("image", "audio", "video"))
    assert(feats(0).unit_sum == (0 until 192).map(k => (0L * 7 + k * 13) % 256).sum)
    assert(feats(1).unit_sum == (0 until 64).map(j => ((1L * 11 + j * 17) % 4096) - 2048).sum)
    assert(feats(2).n_units == 256L)
    assert(feats(2).unit_sum == (for (f <- 0 until 4; k <- 0 until 192)
      yield (2L * 7 + f * 19 + k * 13) % 256).sum)
  }

  test("image decode failure is loud, not a silent zero") {
    val bad = spark.createDataset(Seq(
      MediaRecord(9L, MediaMeta("image", 8, 8, 0L), "notanimage".getBytes)))
    val err = intercept[org.apache.spark.SparkException](
      Multimodal.extractFeatures(bad).collect())
    assert(err.getMessage.contains("image decode failed") ||
      Option(err.getCause).exists(_.getMessage.contains("image decode failed")))
  }

  test("frameSample extracts decodable PNG frames from the APNG container") {
    val frames = Multimodal.frameSample(mediaDs, k = 2).collect().sortBy(_.frame_idx)
    assert(frames.forall(_.media_id == 2L))
    assert(frames.map(_.frame_idx).toSeq == Seq(0, 1)) // k=2 of the 4 frames
    // each sampled frame is a standalone PNG whose decoded pixel sum
    // matches the generator formula for its SOURCE frame (0 and 2)
    val codec = new Multimodal.JvmMediaCodec
    frames.zip(Seq(0, 2)).foreach { case (fr, src) =>
      val (n, sum, _) = codec.decodeImage(fr.frame)
      val want = (0 until 192).map(k => (2L * 7 + src * 19 + k * 13) % 256).sum
      assert(n == 64L && sum == want, s"frame ${fr.frame_idx} from source $src")
    }
  }

  test("video decode walks the APNG container and sums every frame") {
    val out = Multimodal.extractFeatures(mediaDs).collect().find(_.media_type == "video").get
    val want = (for (f <- 0 until 4; k <- 0 until 192)
      yield (2L * 7 + f * 19 + k * 13) % 256).sum
    assert(out.n_units == 256L && out.unit_sum == want)
    assert(out.features(0) == 4f) // frame count surfaced
    // corrupt container fails loudly
    val bad = spark.createDataset(Seq(
      MediaRecord(9L, MediaMeta("video", 8, 8, 0L), "notanapng".getBytes)))
    val err = intercept[org.apache.spark.SparkException](
      Multimodal.extractFeatures(bad).collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => String.valueOf(e.getMessage) +: msgs(e.getCause))
    assert(msgs(err).exists(_.contains("apng")))
    // a plain still PNG is not an animation — also loud
    val still = spark.createDataset(Seq(
      MediaRecord(8L, MediaMeta("video", 8, 8, 0L),
        Multimodal.Encode.png(8, 8, Multimodal.Synth.imagePixels(8L)))))
    val err2 = intercept[org.apache.spark.SparkException](
      Multimodal.extractFeatures(still).collect())
    assert(msgs(err2).exists(_.contains("acTL")))
  }

  /** Wrap any table into the media schema with a deterministic fake
    * payload (bytes of a text column) — the lightweight adapter for
    * schema/plumbing tests; [[Multimodal.syntheticMedia]] is the real-codec one. */
  private def fakeMediaFromText(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      struct(
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col(idCol).cast("long"), lit(3)) + 1).cast("int")).as("media_type"),
        lit(64).as("width"), lit(64).as("height"),
        (length(col(textCol)) * 40L).as("duration_ms")).as("meta"),
      col(textCol).cast("binary").as("content"))

  test("fakeMediaFromText matches the declared media schema") {
    val docs = Seq((7L, "hello world")).toDF("doc_id", "text")
    val media = fakeMediaFromText(docs, "doc_id", "text")
    assert(media.schema.catalogString == Multimodal.mediaSchema.catalogString) // modulo nullability
    val r = media.as[MediaRecord].head()
    assert(r.media_id == 7L && new String(r.content) == "hello world")
    assert(Seq("image", "audio", "video").contains(r.meta.media_type))
  }

  test("resize decodes, resamples and re-encodes image-typed rows only") {
    import spark.implicits._
    val pixels = Multimodal.Synth.imagePixels(5L)
    val recs = Seq(
      Multimodal.MediaRecord(1L, Multimodal.MediaMeta("image", 8, 8, 0L),
        Multimodal.Encode.png(8, 8, pixels)),
      Multimodal.MediaRecord(2L, Multimodal.MediaMeta("audio", 0, 0, 1000L),
        Multimodal.Encode.wavPcm16(Multimodal.Synth.audioSamples(2L), 8000)),
    ).toDS()
    val out = Multimodal.resize(recs, outW = 4, outH = 4).collect()
    assert(out.length == 1 && out.head.media_id == 1L)
    assert(out.head.width == 4 && out.head.height == 4)
    // output is itself a decodable PNG whose pixels are the
    // nearest-neighbor samples of the source: out(x,y) = in(2x, 2y)
    val codec = new Multimodal.JvmMediaCodec
    val (n, sum, _) = codec.decodeImage(out.head.content)
    val expected = (for (y <- 0 until 4; x <- 0 until 4) yield {
      val p = pixels(2 * y * 8 + 2 * x)
      ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
    }).map(_.toLong).sum
    assert(n == 16L && sum == expected)
  }

  test("dwcArchiveFull packaging: per-part zips are distributed and self-contained") {
    val dir = Files.createTempDirectory("graft-dwca").toString
    val df = (1L to 40L).map(i => (i, s"name$i")).toDF("id", "name").repartition(4)
    Writers.dwcArchiveFull(df, s"$dir/per-part")
    val occ = new java.io.File(s"$dir/per-part/occurrence")
    val parts = occ.listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    assert(parts.nonEmpty)
    // every CSV part has a sibling zip holding meta.xml + the part bytes
    parts.foreach { p =>
      val zf = new java.util.zip.ZipFile(new java.io.File(occ, p.getName + ".zip"))
      try {
        val names = scala.jdk.CollectionConverters
          .EnumerationHasAsScala(zf.entries()).asScala.map(_.getName).toSet
        assert(names == Set("meta.xml", s"occurrence/${p.getName}"))
        val entry = zf.getEntry(s"occurrence/${p.getName}")
        val zipped = zf.getInputStream(entry).readAllBytes()
        assert(zipped.toSeq == Files.readAllBytes(p.toPath).toSeq)
        // the embedded descriptor lists ONLY this zip's own part —
        // each zip is an independently consumable DwC-A
        val metaXml = new String(
          zf.getInputStream(zf.getEntry("meta.xml")).readAllBytes(), "UTF-8")
        val locs = "<location>([^<]+)</location>".r
          .findAllMatchIn(metaXml).map(_.group(1)).toSeq
        assert(locs == Seq(s"occurrence/${p.getName}"))
      } finally zf.close()
    }
    assert(!new java.io.File(s"$dir/per-part/archive.zip").exists())
    // opt-in single-file mode still produces the one-stream archive.zip
    Writers.dwcArchiveFull(df, s"$dir/single",
      zipMode = Writers.ZipMode.SingleFile)
    assert(new java.io.File(s"$dir/single/archive.zip").exists())
    // and Skip produces no zip artifacts at all
    Writers.dwcArchiveFull(df, s"$dir/none", zipMode = Writers.ZipMode.Skip)
    assert(!new java.io.File(s"$dir/none").listFiles().exists(_.getName.endsWith(".zip")))
    assert(new java.io.File(s"$dir/none/occurrence").listFiles()
      .exists(_.getName.endsWith(".csv.zip")) == false)
  }

  test("csv and jsonLines round-trip with explicit schemas") {
    val dir = Files.createTempDirectory("graft-io").toString
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "score")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))

    Writers.dwcArchive(df, s"$dir/csv")
    val csvBack = Readers.csv(spark, s"$dir/csv", schema)
    assert(csvBack.orderBy("id").collect().map(_.toSeq).toSeq ==
      df.orderBy("id").collect().map(_.toSeq).toSeq)

    Writers.jsonLines(df, s"$dir/json")
    val jsonBack = Readers.jsonLines(spark, s"$dir/json", schema)
    assert(jsonBack.count() == 2)

    Writers.partitionedParquet(df, s"$dir/pq", Seq("name"))
    val pqBack = Readers.parquet(spark, s"$dir/pq")
    assert(pqBack.count() == 2)
    // partition pruning: filter on the partition key reads one directory
    val pruned = pqBack.where(col("name") === "a")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() == 1)
    assert(scan.contains("PartitionFilters") || scan.contains("name#"))
  }

  test("image aHash: re-encodes collide exactly, a gray-preserving retouch stays near") {
    import spark.implicits._
    import graft.operators.Multimodal
    val id = 5L
    val base = Multimodal.Synth.imagePixels(id)
    val retouched = base.clone()
    val r0 = (retouched(0) >> 16) & 0xFF
    val nr0 = if (r0 >= 128) r0 - 3 else r0 + 3
    retouched(0) = (nr0 << 16) | (retouched(0) & 0xFFFF)
    val meta = Multimodal.MediaMeta("image", 8, 8, 0L)
    val rows = Seq(
      Multimodal.MediaRecord(1L, meta, Multimodal.Encode.png(8, 8, base)),
      Multimodal.MediaRecord(2L, meta, Multimodal.Encode.png(8, 8, base)),
      Multimodal.MediaRecord(3L, meta, Multimodal.Encode.png(8, 8, retouched)))
      .toDS()
    val h = Multimodal.imageAHash(rows).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(h(1L) === h(2L), "identical pixels must hash identically through the codec")
    // decode-vs-formula parity: recompute the expected hash from Synth
    val grays = (0 until 64).map { p =>
      def ch(c: Int) = (((id * 7 + (p * 3 + c) * 13) % 256).toInt + 256) % 256
      (ch(0) + ch(1) + ch(2)) / 3
    }
    val mean = grays.map(_.toLong).sum / 64
    var hi = 0L; var lo = 0L
    (0 until 64).foreach { k =>
      if (grays(k) >= mean) {
        if (k < 32) hi |= 1L << (31 - k) else lo |= 1L << (63 - k)
      }
    }
    assert(h(1L) === (hi, lo), "PNG round trip must reproduce the formula hash")
    val ham = java.lang.Long.bitCount(h(1L)._1 ^ h(3L)._1) +
      java.lang.Long.bitCount(h(1L)._2 ^ h(3L)._2)
    assert(ham <= 2, s"±3 single-channel retouch drifted to hamming $ham")
    val pairs = Multimodal.imagePhashPairs(rows)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.contains((1L, 2L, 0)))
  }

  test("fused thumb aHash equals the two-codec resize chain fingerprint-for-fingerprint") {
    import spark.implicits._
    import graft.operators.Multimodal
    // 16x16 sources with varied structure (formula pixels + a retouch)
    val meta = Multimodal.MediaMeta("image", 16, 16, 0L)
    val rows = (1L to 6L).map { id =>
      val px = Array.tabulate(256) { p =>
        def ch(c: Int) = (((id * 7 + (p * 3 + c) * 13) % 256).toInt + 256) % 256
        (ch(0) << 16) | (ch(1) << 8) | ch(2)
      }
      if (id == 6L) px(0) = px(0) ^ 0x010101
      Multimodal.MediaRecord(id, meta, Multimodal.Encode.png(16, 16, px))
    }.toDS()
    val twoPass = Multimodal.resize(rows, 8, 8)
      .map(t => Multimodal.MediaRecord(
        t.media_id, Multimodal.MediaMeta("image", 8, 8, 0L), t.content))
    val a = Multimodal.imageAHash(twoPass).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val b = Multimodal.thumbAHash(rows, 8, 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(a === b,
      "hashing the resample buffer must equal re-encode + re-decode + hash")
    // and non-8x8-output fusions are refused loudly (aHash is 64-bit)
    val ex = intercept[IllegalArgumentException] {
      Multimodal.thumbAHash(rows, 16, 16)
    }
    assert(ex.getMessage.contains("64"))
  }

  test("audio aHash survives the WAV round trip and matches the formula") {
    val id = 123L
    val md = java.security.MessageDigest.getInstance("MD5")
    val base = Array.tabulate(64) { j =>
      val d = md.digest(s"${id}~$j".getBytes("US-ASCII"))
      (((d(0) & 0xFF) << 4 | (d(1) & 0xF0) >> 4) - 2048).toShort
    }
    val tweaked = base.clone()
    tweaked(0) = (tweaked(0) + 256).toShort
    val meta = Multimodal.MediaMeta("audio", 0, 0, 8L)
    val rows = Seq(
      Multimodal.MediaRecord(1L, meta, Multimodal.Encode.wavPcm16(base, 8000)),
      Multimodal.MediaRecord(2L, meta, Multimodal.Encode.wavPcm16(base, 8000)),
      Multimodal.MediaRecord(3L, meta, Multimodal.Encode.wavPcm16(tweaked, 8000)))
      .toDS()
    val h = Multimodal.audioAHash(rows).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(h(1L) === h(2L), "identical samples must hash identically through the codec")
    // decode-vs-formula parity: recompute the expected hash driver-side
    val mean = Math.floorDiv(base.map(_.toLong).sum, 64L)
    var hi = 0L; var lo = 0L
    (0 until 64).foreach { k =>
      if (base(k) >= mean) {
        if (k < 32) hi |= 1L << (31 - k) else lo |= 1L << (63 - k)
      }
    }
    assert(h(1L) === (hi, lo), "WAV round trip must reproduce the formula hash")
    val pairs = Multimodal.audioFingerprintPairs(rows)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.contains((1L, 2L, 0)))
  }

  private def viaAudioSystem(bytes: Array[Byte]): (AudioFormat, Array[Byte]) = {
    val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
    try (in.getFormat, in.readAllBytes()) finally in.close()
  }

  /** `pcm` frames of `fmt` in container `typ`, written by `AudioSystem.write`. */
  private def written(pcm: Array[Byte], fmt: AudioFormat, typ: AudioFileFormat.Type) = {
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(new ByteArrayInputStream(pcm), fmt,
      (pcm.length / fmt.getFrameSize).toLong), typ, out)
    out.toByteArray
  }

  test("WavIO decodes a PCM-16 WAV exactly as AudioSystem does") {
    val wav = Multimodal.Encode.wavPcm16(Multimodal.Synth.audioSamples(7L), 8000)
    val (fmt, raw) = Multimodal.WavIO.decode(wav)
    val (refFmt, refRaw) = viaAudioSystem(wav)
    assert(fmt.toString == refFmt.toString)
    assert(raw.sameElements(refRaw))
    assert(raw.sameElements(wav.drop(44)), "sample bytes are the data chunk verbatim")
  }

  test("WavIO falls back to AudioSystem for AIFF and for WAVs the WAV reader declines") {
    val samples = Multimodal.Synth.audioSamples(5L)
    val pcm = java.nio.ByteBuffer.allocate(samples.length * 2) // big-endian
    samples.foreach(pcm.putShort)
    val aiff = written(pcm.array(), new AudioFormat(8000f, 16, 1, true, true),
      AudioFileFormat.Type.AIFF)
    val (fmt, raw) = Multimodal.WavIO.decode(aiff)
    assert(fmt.toString == viaAudioSystem(aiff)._1.toString && fmt.isBigEndian)
    assert(raw.sameElements(pcm.array()))
    // decoded through the codec, the big-endian samples sum to the formula
    val (n, sum, _) = new Multimodal.JvmMediaCodec().decodeWav(aiff)
    assert(n == samples.length && sum == samples.map(_.toLong).sum)
    // RIFF/WAVE magic, but float samples: declined by the PCM reader,
    // accepted through the registry exactly as before
    val floats = java.nio.ByteBuffer.allocate(64 * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until 64).foreach(i => floats.putFloat(i / 64f))
    val floatWav = written(floats.array(),
      new AudioFormat(AudioFormat.Encoding.PCM_FLOAT, 8000f, 32, 1, 4, 8000f, false),
      AudioFileFormat.Type.WAVE)
    assert(new String(floatWav, 8, 4, "US-ASCII") == "WAVE")
    val (ff, fraw) = Multimodal.WavIO.decode(floatWav)
    assert(ff.getEncoding == AudioFormat.Encoding.PCM_FLOAT)
    assert(ff.toString == viaAudioSystem(floatWav)._1.toString)
    assert(fraw.sameElements(floats.array()))
  }

  test("WavIO: a truncated RIFF header throws, never decodes to zeros") {
    val wav = Multimodal.Encode.wavPcm16(Multimodal.Synth.audioSamples(9L), 8000)
    Seq(12, 20, 30, 40).foreach { cut =>
      intercept[UnsupportedAudioFileException](Multimodal.WavIO.decode(wav.take(cut)))
    }
    val meta = Multimodal.MediaMeta("audio", 0, 0, 8L)
    val rows = Seq(Multimodal.MediaRecord(1L, meta, wav.take(30))).toDS()
    intercept[org.apache.spark.SparkException](Multimodal.audioAHash(rows).collect())
  }

  test("audio aHash rejects clips that are not 64 samples") {
    val meta = Multimodal.MediaMeta("audio", 0, 0, 8L)
    val rows = Seq(Multimodal.MediaRecord(
      1L, meta, Multimodal.Encode.wavPcm16(Array.fill[Short](32)(5), 8000))).toDS()
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.audioAHash(rows).collect()
    }
    assert(e.getMessage.contains("64-sample") ||
      Option(e.getCause).exists(_.getMessage.contains("64-sample")))
  }
}
