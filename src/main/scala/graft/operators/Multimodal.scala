package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.awt.image.BufferedImage
import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem, UnsupportedAudioFileException}
import javax.sound.sampled.spi.AudioFileReader
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (SURVEY.md §2 M1): image/audio/video as
  * opaque `binary` columns with a typed metadata struct, processed by
  * partition-batched typed transforms.
  *
  * All three modality paths are REAL pure-JVM codecs — images as
  * PNG/BMP via `javax.imageio.ImageIO`, audio as WAV PCM via
  * `javax.sound.sampled`, video as APNG via the [[Apng]] chunk walk +
  * per-frame ImageIO decode — so decode genuinely parses the
  * container formats (zlib inflate, IDAT reassembly, RIFF chunk walk,
  * acTL/fcTL/fdAT sequencing) before any pixel/sample is summed.
  * Containers that need native decoders (H.264/MP3/…) are out of
  * scope for this environment; they would plug in behind the same
  * codec dispatch. The Spark shape is what a production pipeline
  * needs:
  *
  *  - schema: `media_id bigint, meta struct<media_type,width,height,
  *    duration_ms>, content binary` — metadata stays columnar (a scan
  *    filtering on `meta.media_type` prunes without touching bytes).
  *  - `mapPartitions`, not per-row UDF: one codec instance per
  *    partition (codec init is the expensive part), rows streamed
  *    through it — the Scala analogue of a batched pandas UDF.
  *  - Partitioning: content-bearing rows are large, so callers size
  *    partitions by bytes (`maxPartitionBytes`), never by row count.
  *  - Codec lookup once, not per row: PNG through [[PngIO]], WAV
  *    through [[WavIO]]. The static `ImageIO`/`AudioSystem` entry
  *    points walk their provider registries on every call, which at
  *    one decode per row costs more than the parse. Other formats
  *    still take the registry path.
  */
object Multimodal {

  case class MediaMeta(media_type: String, width: Int, height: Int, duration_ms: Long)
  case class MediaRecord(media_id: Long, meta: MediaMeta, content: Array[Byte])

  /** Decoded payload stats: `n_units`/`unit_sum` are the gateable
    * exact half (pixels and Σ(R+G+B) for images, samples and signed
    * sample sum for audio), `features` the float summary vector. */
  case class MediaFeatures(
      media_id: Long, media_type: String, n_bytes: Long, checksum: Long,
      n_units: Long, unit_sum: Long, features: Array[Float])
  case class MediaFrame(media_id: Long, frame_idx: Int, frame: Array[Byte])

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("media_type", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("duration_ms", LongType))), nullable = false),
    StructField("content", BinaryType, nullable = false)))

  /** APNG (Animated PNG — the public animated-image format, PNG
    * Third Edition §4.12) container support, full-frame profile:
    * every frame covers the whole canvas (fcTL dims = IHDR dims,
    * blend SOURCE). This is the pure-JVM "video" path: the container
    * walk (chunk framing, CRCs, acTL/fcTL/fdAT sequence) is real
    * format parsing, and each extracted frame is a standalone PNG
    * decoded by `ImageIO` — no native codec anywhere. Containers
    * needing native decoders (H.264 etc.) are out of scope for this
    * environment; their rows would plug in behind the same
    * [[JvmMediaCodec.decode]] dispatch. */
  object Apng {
    private val Sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

    private def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(12 + data.length)
      out.putInt(data.length).put(typ.getBytes("US-ASCII")).put(data)
      val crc = new java.util.zip.CRC32
      crc.update(typ.getBytes("US-ASCII")); crc.update(data)
      out.putInt(crc.getValue.toInt)
      out.array()
    }

    /** (type, data) chunks of a PNG byte stream, signature checked. */
    private[Multimodal] def chunks(png: Array[Byte]): Seq[(String, Array[Byte])] = {
      require(png.length >= 8 && png.take(8).sameElements(Sig),
        "apng: not a PNG signature")
      val out = Seq.newBuilder[(String, Array[Byte])]
      var p = 8
      while (p + 8 <= png.length) {
        val bb = java.nio.ByteBuffer.wrap(png, p, 8)
        val len = bb.getInt
        val typ = new String(png, p + 4, 4, "US-ASCII")
        require(p + 12 + len <= png.length, s"apng: truncated $typ chunk")
        out += typ -> java.util.Arrays.copyOfRange(png, p + 8, p + 8 + len)
        p += 12 + len
      }
      out.result()
    }

    /** Assemble an APNG from per-frame still PNGs (all same dims —
      * the full-frame profile this codec reads back). */
    def assemble(framePngs: Seq[Array[Byte]], delayNumMs: Int): Array[Byte] = {
      require(framePngs.nonEmpty, "apng: no frames")
      val parsed = framePngs.map(chunks)
      val ihdr = parsed.head.find(_._1 == "IHDR").get._2
      val bos = new java.io.ByteArrayOutputStream()
      bos.write(Sig)
      bos.write(chunk("IHDR", ihdr))
      val acTL = java.nio.ByteBuffer.allocate(8)
        .putInt(framePngs.length).putInt(0).array() // loop forever
      bos.write(chunk("acTL", acTL))
      var seq = 0
      parsed.zipWithIndex.foreach { case (frame, i) =>
        require(frame.find(_._1 == "IHDR").get._2.sameElements(ihdr),
          "apng: frames must share dims (full-frame profile)")
        val w = java.nio.ByteBuffer.wrap(ihdr, 0, 4).getInt
        val h = java.nio.ByteBuffer.wrap(ihdr, 4, 4).getInt
        val fcTL = java.nio.ByteBuffer.allocate(26)
          .putInt(seq).putInt(w).putInt(h).putInt(0).putInt(0)
          .putShort(delayNumMs.toShort).putShort(1000)
          .put(0.toByte).put(0.toByte) // dispose NONE, blend SOURCE
          .array()
        bos.write(chunk("fcTL", fcTL)); seq += 1
        frame.filter(_._1 == "IDAT").foreach { case (_, data) =>
          if (i == 0) bos.write(chunk("IDAT", data))
          else {
            val fdat = java.nio.ByteBuffer.allocate(4 + data.length)
              .putInt(seq).put(data).array()
            bos.write(chunk("fdAT", fdat)); seq += 1
          }
        }
      }
      bos.write(chunk("IEND", Array.emptyByteArray))
      bos.toByteArray
    }

    /** Split an APNG back into standalone per-frame PNGs (the chunk
      * walk this codec's "video decode" is built on). Loud on
      * non-APNG input or frames outside the full-frame profile. */
    def frames(apng: Array[Byte]): Seq[Array[Byte]] = {
      val cs = chunks(apng)
      val ihdr = cs.find(_._1 == "IHDR")
        .getOrElse(throw new IllegalArgumentException("apng: missing IHDR"))._2
      require(cs.exists(_._1 == "acTL"), "apng: not animated (no acTL)")
      val out = Seq.newBuilder[Array[Byte]]
      var cur: Option[java.io.ByteArrayOutputStream] = None
      def close(): Unit = cur.foreach { b =>
        b.write(chunk("IEND", Array.emptyByteArray)); out += b.toByteArray
      }
      cs.foreach {
        case ("fcTL", data) =>
          val w = java.nio.ByteBuffer.wrap(data, 4, 4).getInt
          val h = java.nio.ByteBuffer.wrap(data, 8, 4).getInt
          require(w == java.nio.ByteBuffer.wrap(ihdr, 0, 4).getInt &&
            h == java.nio.ByteBuffer.wrap(ihdr, 4, 4).getInt,
            "apng: sub-canvas frames unsupported (full-frame profile)")
          close()
          val b = new java.io.ByteArrayOutputStream()
          b.write(Sig); b.write(chunk("IHDR", ihdr))
          cur = Some(b)
        case ("IDAT", data) =>
          cur.foreach(_.write(chunk("IDAT", data)))
        case ("fdAT", data) =>
          cur.foreach(_.write(chunk("IDAT",
            java.util.Arrays.copyOfRange(data, 4, data.length))))
        case _ => ()
      }
      close()
      val fs = out.result()
      require(fs.nonEmpty, "apng: no frames found")
      fs
    }
  }

  /** Pure-JVM media codec: one instance per partition. Image decode is
    * `ImageIO` (PNG/BMP/GIF — whatever the JDK registry carries;
    * PNG through [[PngIO]]'s reused reader); audio decode is WAV PCM
    * through [[WavIO]] (the WAV reader found once, `AudioSystem` for
    * anything it declines); video decode is the
    * [[Apng]] container walk + per-frame `ImageIO` decode. Decode
    * failures throw — a corrupt payload must fail the job loudly, not
    * zero silently. */
  final class JvmMediaCodec {

    def decode(mediaType: String, content: Array[Byte]): (Long, Long, Array[Float]) =
      mediaType match {
        case "image" => decodeImage(content)
        case "audio" => decodeWav(content)
        case "video" => decodeApng(content)
        case other => throw new IllegalArgumentException(
          s"unknown media type '$other'")
      }

    /** Full container + frame decode; n_units = total pixels over all
      * frames, unit_sum = Σ(R+G+B) over all frames, features =
      * [nFrames, width, height, meanR, meanG, meanB, 0, 0]. */
    def decodeApng(content: Array[Byte]): (Long, Long, Array[Float]) = {
      val framePngs = Apng.frames(content)
      var n = 0L; var sum = 0L
      var sr = 0L; var sg = 0L; var sb = 0L
      var w = 0; var h = 0
      framePngs.foreach { png =>
        val img = PngIO.decode(png)
        require(img != null, "apng: frame decode failed")
        w = img.getWidth; h = img.getHeight
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
            x += 1
          }
          y += 1
        }
        n += w.toLong * h
      }
      sum = sr + sg + sb
      (n, sum, Array(
        framePngs.length.toFloat, w.toFloat, h.toFloat,
        sr.toFloat / n, sg.toFloat / n, sb.toFloat / n, 0f, 0f))
    }

    /** Full format decode; n_units = pixel count, unit_sum = Σ(R+G+B),
      * features = [meanR, meanG, meanB, width, height, 0, 0, 0]. */
    def decodeImage(content: Array[Byte]): (Long, Long, Array[Float]) = {
      val img = PngIO.decode(content)
      require(img != null, s"image decode failed (${content.length} bytes, no reader matched)")
      val w = img.getWidth; val h = img.getHeight
      var sr = 0L; var sg = 0L; var sb = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      (n, sr + sg + sb, Array(
        sr.toFloat / n, sg.toFloat / n, sb.toFloat / n, w.toFloat, h.toFloat, 0f, 0f, 0f))
    }

    /** WAV PCM-16 decode through the RIFF chunk walk ([[WavIO]]);
      * n_units = sample count, unit_sum = Σ signed samples, features =
      * [mean, min, max, rate, 0...]. */
    def decodeWav(content: Array[Byte]): (Long, Long, Array[Float]) = {
      val (fmt, raw) = WavIO.decode(content)
      require(fmt.getSampleSizeInBits == 16, s"expected PCM-16, got $fmt")
      val bigEndian = fmt.isBigEndian
      var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
      val n = raw.length / 2
      var i = 0
      while (i < n) {
        val lo = raw(2 * i).toInt; val hi = raw(2 * i + 1).toInt
        val s = if (bigEndian) (lo << 8) | (hi & 0xff) else (hi << 8) | (lo & 0xff)
        sum += s; if (s < mn) mn = s; if (s > mx) mx = s
        i += 1
      }
      (n.toLong, sum, Array(
        if (n == 0) 0f else sum.toFloat / n, mn.toFloat, mx.toFloat,
        fmt.getSampleRate, 0f, 0f, 0f, 0f))
    }

    def checksum(content: Array[Byte]): Long = {
      var h = 1125899906842597L
      var i = 0
      while (i < content.length) { h = 31 * h + (content(i) & 0xff); i += 1 }
      h
    }
  }

  /** Per-THREAD reusable PNG codec. `ImageReader`/`ImageWriter` are
    * not thread-safe but ARE reusable across calls; going through the
    * static `ImageIO.read`/`write` instead pays a registry scan, a
    * fresh reader/writer allocation AND — with ImageIO's default
    * disk-backed stream cache — a temp FILE per call. At one decode
    * per row that tax was the throughput ceiling on the bench's most
    * expensive media row (q_image_thumb_dedup). The JVM-global cache
    * is switched to memory streams here (first touch of this object);
    * non-PNG bytes fall back to the registry path, so accepted
    * formats are unchanged. Output bytes are produced by the same JDK
    * PNG writer `ImageIO.write` would pick, so encodings are
    * byte-identical (MultimodalSourcesSpec holds fingerprint parity
    * through real round trips). */
  private[operators] object PngIO {
    javax.imageio.ImageIO.setUseCache(false)
    private val rd = new ThreadLocal[javax.imageio.ImageReader] {
      override def initialValue(): javax.imageio.ImageReader = {
        val it = ImageIO.getImageReadersByFormatName("png")
        require(it.hasNext, "no PNG reader registered")
        it.next()
      }
    }
    private val wr = new ThreadLocal[javax.imageio.ImageWriter] {
      override def initialValue(): javax.imageio.ImageWriter = {
        val it = ImageIO.getImageWritersByFormatName("png")
        require(it.hasNext, "no PNG writer registered")
        it.next()
      }
    }
    private def isPng(b: Array[Byte]): Boolean =
      b.length >= 8 && (b(0) & 0xff) == 0x89 &&
        b(1) == 'P'.toByte && b(2) == 'N'.toByte && b(3) == 'G'.toByte

    /** Decode: PNG through the reused reader, anything else through
      * the ImageIO registry. Corrupt bytes throw (reader path) or
      * return null (registry path) — callers keep their loud require. */
    def decode(bytes: Array[Byte]): java.awt.image.BufferedImage =
      if (isPng(bytes)) {
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new ByteArrayInputStream(bytes))
        try {
          val r = rd.get()
          r.setInput(iis, true, true)
          r.read(0)
        } finally iis.close()
      } else ImageIO.read(new ByteArrayInputStream(bytes))

    def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      try {
        val w = wr.get()
        w.setOutput(ios)
        w.write(img)
        ios.flush()
      } finally ios.close()
      bos.toByteArray
    }
  }

  /** WAV decode without the per-call provider walk.
    * `AudioSystem.getAudioInputStream` asks the sound provider
    * registry on every call and lets each registered reader try the
    * bytes in turn, every decline a thrown exception; at one decode
    * per row that walk, not the RIFF parse, was the audio fingerprint
    * stage's cost, and it scales poorly with threads (15,000 172-byte
    * clips on a 4-core box: ~0.8 s on one thread, ~0.5 s on four;
    * the WAV reader called directly: ~50 ms and ~20 ms — the same
    * posture as [[PngIO]]). Here bytes carrying the RIFF/WAVE magic go
    * straight to the WAV `AudioFileReader`, found once through
    * `ServiceLoader` (the first registered reader that accepts a
    * canonical PCM-16 probe clip — the JDK's own WAV reader, so the
    * parse is still a genuine `javax.sound.sampled` one). The JDK
    * file readers are stateless, so the one instance is shared
    * across threads as `AudioSystem` itself shares it. Anything else,
    * and any WAV that reader declines (float or extensible formats),
    * goes through `AudioSystem` as before, so accepted formats are
    * unchanged; a truncated or corrupt header throws on both paths
    * (MultimodalSourcesSpec holds format and byte parity with
    * `AudioSystem`). */
  private[graft] object WavIO {
    private val wavReader: Option[AudioFileReader] = {
      val probe = Encode.wavPcm16(Array[Short](0, 1), 8000)
      java.util.ServiceLoader.load(classOf[AudioFileReader]).asScala.find { r =>
        try { r.getAudioInputStream(new ByteArrayInputStream(probe)).close(); true }
        catch { case _: UnsupportedAudioFileException | _: java.io.IOException => false }
      }
    }

    private def isWav(b: Array[Byte]): Boolean =
      b.length >= 12 && b(0) == 'R'.toByte && b(1) == 'I'.toByte &&
        b(2) == 'F'.toByte && b(3) == 'F'.toByte && b(8) == 'W'.toByte &&
        b(9) == 'A'.toByte && b(10) == 'V'.toByte && b(11) == 'E'.toByte

    private def open(bytes: Array[Byte]): AudioInputStream = {
      def viaRegistry = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
      wavReader match {
        case Some(r) if isWav(bytes) =>
          try r.getAudioInputStream(new ByteArrayInputStream(bytes))
          catch { case _: UnsupportedAudioFileException => viaRegistry }
        case _ => viaRegistry
      }
    }

    /** The stream's format and all of its sample bytes. */
    def decode(bytes: Array[Byte]): (AudioFormat, Array[Byte]) = {
      val in = open(bytes)
      try (in.getFormat, in.readAllBytes())
      finally in.close()
    }
  }

  /** Encoders for the synthetic corpus adapter and tests — real
    * containers produced with public formats only: PNG through
    * the reused JDK PNG writer ([[PngIO]]), WAV through the canonical
    * 44-byte RIFF header. */
  object Encode {

    /** pixels is row-major (y*w + x), 0xRRGGBB ints. */
    def png(w: Int, h: Int, pixels: Array[Int]): Array[Byte] = {
      require(pixels.length == w * h, s"png: ${pixels.length} pixels for ${w}x$h")
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, w, h, pixels, 0, w)
      PngIO.encodePng(img)
    }

    /** Canonical mono PCM-16 little-endian WAV: fixed 44-byte header +
      * 2 bytes per sample — byte length is deterministic (44 + 2n),
      * which keeps `n_bytes` oracle-checkable for audio rows. */
    def wavPcm16(samples: Array[Short], sampleRate: Int): Array[Byte] = {
      val dataLen = samples.length * 2
      val out = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
      out.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1) // PCM, mono
        .putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
      out.put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(out.putShort)
      out.array()
    }
  }

  /** The deterministic synthetic payload formulas, shared verbatim by
    * the adapter below and the DuckDB oracle in MultimodalQueries —
    * PNG/WAV/APNG are lossless, so decoded sums must reproduce them
    * exactly after a real round trip through the container format.
    * Image: 8×8 RGB, channel k (k = (y*8+x)*3 + c, c = R,G,B) has
    * value (id*7 + k*13) % 256. Audio: 64 PCM-16 samples,
    * s_j = ((id*11 + j*17) % 4096) − 2048, at 8 kHz. Video: 4 APNG
    * frames of 8×8 RGB, channel k of frame f has value
    * (id*7 + f*19 + k*13) % 256.
    */
  object Synth {
    val ImgW = 8; val ImgH = 8; val NSamples = 64; val SampleRate = 8000
    val NFrames = 4

    def imagePixels(id: Long): Array[Int] =
      Array.tabulate(ImgW * ImgH) { p =>
        def ch(c: Int): Int = (((id * 7 + (p * 3 + c) * 13) % 256).toInt + 256) % 256
        (ch(0) << 16) | (ch(1) << 8) | ch(2)
      }

    def audioSamples(id: Long): Array[Short] =
      Array.tabulate(NSamples)(j => ((((id * 11 + j * 17) % 4096) + 4096) % 4096 - 2048).toShort)

    def videoFramePixels(id: Long, f: Int): Array[Int] =
      Array.tabulate(ImgW * ImgH) { p =>
        def ch(c: Int): Int =
          (((id * 7 + f * 19 + (p * 3 + c) * 13) % 256).toInt + 256) % 256
        (ch(0) << 16) | (ch(1) << 8) | ch(2)
      }
  }

  /** Batched feature extraction: codec constructed once per partition,
    * content dropped from the output (features are small — the big
    * binary column must not survive past the decode stage). */
  def extractFeatures(ds: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      val codec = new JvmMediaCodec
      rows.map { r =>
        val (nUnits, unitSum, features) = codec.decode(r.meta.media_type, r.content)
        MediaFeatures(
          r.media_id, r.meta.media_type, r.content.length.toLong,
          codec.checksum(r.content), nUnits, unitSum, features)
      }
    }
  }

  /** M2 — average-hash (aHash) perceptual fingerprint of image rows:
    * decode the REAL container bytes, per-pixel integer gray
    * `(r+g+b) div 3`, threshold at the integer mean `Σgray div 64`,
    * fold MSB-first into 64 bits carried as (hi, lo) 32-bit halves —
    * the J3 engine-portable fingerprint shape, so the SAME pigeonhole
    * chunk miner ([[Dedup.mineHammingPairs]]) finds every pair within
    * hamming ≤ 3 with one shuffle. All arithmetic integer ⇒ the
    * DuckDB oracle replays the hash from the pixel formulas while the
    * engine computes it through the actual PNG round trip. Expects
    * 8×8 thumbnails (run [[resize]] first for larger images — aHash
    * is DEFINED on the downsampled thumbnail). Map-only, one decode
    * per row, content never survives the stage. */
  def imageAHash(ds: Dataset[MediaRecord]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      rows.filter(_.meta.media_type == "image").map { r =>
        val img = PngIO.decode(r.content)
        require(img != null, s"undecodable image for media ${r.media_id}")
        require(img.getWidth == 8 && img.getHeight == 8,
          s"aHash expects an 8x8 thumbnail, got " +
            s"${img.getWidth}x${img.getHeight} for media ${r.media_id} — resize first")
        val pixels = new Array[Int](64)
        var k = 0
        while (k < 64) {
          pixels(k) = img.getRGB(k % 8, k / 8)
          k += 1
        }
        val (hi, lo) = aHashOf(pixels)
        (r.media_id, hi, lo)
      }
    }.toDF("doc_id", "hi", "lo")
  }

  /** The aHash fold over 64 packed-RGB pixels (row-major 8×8): integer
    * gray `(r+g+b) div 3`, threshold at the integer mean, MSB-first
    * (hi, lo) halves. ONE implementation shared by [[imageAHash]]
    * (post-decode pixels) and [[thumbAHash]] (resample-buffer pixels),
    * so the fused fast path is fingerprint-equal to the two-codec
    * chain by construction, not by parallel maintenance. */
  private def aHashOf(pixels: Array[Int]): (Long, Long) = {
    val grays = new Array[Int](64)
    var s = 0L
    var k = 0
    while (k < 64) {
      val rgb = pixels(k)
      grays(k) = (((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)) / 3
      s += grays(k)
      k += 1
    }
    val mean = s / 64
    var hi = 0L; var lo = 0L
    k = 0
    while (k < 64) {
      if (grays(k) >= mean) {
        if (k < 32) hi |= 1L << (31 - k) else lo |= 1L << (63 - k)
      }
      k += 1
    }
    (hi, lo)
  }

  /** M2b fast path — fingerprint the 8×8 RESAMPLE BUFFER directly:
    * one decode of the original, the [[resize]] nearest-neighbor index
    * arithmetic in-loop, then [[aHashOf]] on the resampled ints —
    * skipping the PNG re-encode AND the thumbnail re-decode the
    * two-pass chain (resize → [[imageAHash]]) pays. Fingerprint-equal
    * to the two-pass chain by construction: PNG is lossless for
    * packed RGB, so the re-decoded thumbnail pixels ARE the resample
    * buffer (MultimodalSpec asserts the equality on real codec round
    * trips). Use when thumbnails aren't persisted — a dedup pass that
    * only wants the pairs halves its codec work; keep the two-pass
    * chain when the thumbnail artifact itself is a product. */
  def thumbAHash(ds: Dataset[MediaRecord], outW: Int = 8, outH: Int = 8): DataFrame = {
    require(outW * outH == 64, s"aHash is defined on 64 pixels, got ${outW}x$outH")
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      rows.filter(r => r.meta.media_type == "image" && r.content.nonEmpty).map { r =>
        val img = PngIO.decode(r.content)
        require(img != null, s"undecodable image for media ${r.media_id}")
        val inW = img.getWidth; val inH = img.getHeight
        val out = new Array[Int](outW * outH)
        var y = 0
        while (y < outH) {
          val sy = (y.toLong * inH / outH).toInt
          var x = 0
          while (x < outW) {
            out(y * outW + x) = img.getRGB((x.toLong * inW / outW).toInt, sy) & 0xffffff
            x += 1
          }
          y += 1
        }
        val (hi, lo) = aHashOf(out)
        (r.media_id, hi, lo)
      }
    }.toDF("doc_id", "hi", "lo")
  }

  /** M2 — image near-dup pairs: [[imageAHash]] fingerprints mined by
    * the shared SimHash chunk-pigeonhole machinery (guaranteed recall
    * for hamming ≤ 3, one (chunk, key) shuffle, hot-bucket cap). */
  def imagePhashPairs(
      ds: Dataset[MediaRecord], maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame =
    Dedup.mineHammingPairs(imageAHash(ds), maxHamming, maxBucket)

  /** M3 — audio fingerprint through REAL WAV decode: the sample-sign
    * aHash (bit j set iff sample j ≥ the clip's floor-mean) — the
    * 1-bit-per-unit robust-hash shape of Haitsma & Kalker 2002
    * reduced to the same engine-portable (hi, lo) fingerprint as
    * [[imageAHash]], so the SAME pigeonhole miner serves audio.
    * Expects fixed 64-sample clips (the audio analog of the 8×8
    * thumbnail contract — frame/resample longer audio upstream).
    * The decode is a genuine `javax.sound.sampled` container parse
    * (RIFF chunk walk, either endianness) through [[WavIO]], which
    * finds the WAV reader once instead of walking the provider
    * registry per clip — that walk, not the parse, was this stage's
    * cost, and it scaled poorly with cores. All arithmetic is integer
    * with floor division, so the DuckDB oracle replays the
    * fingerprint from the sample formulas. Map-only, one decode per
    * row, content never survives the stage; the stage runs as many
    * tasks as `ds` has partitions, so callers feeding it from a
    * single-row-group scan repartition first. */
  def audioAHash(ds: Dataset[MediaRecord]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      rows.filter(_.meta.media_type == "audio").map { r =>
        val (fmt, raw) = WavIO.decode(r.content)
        require(fmt.getSampleSizeInBits == 16, s"expected PCM-16, got $fmt")
        val big = fmt.isBigEndian
        val samples = Array.tabulate(raw.length / 2) { i =>
          val b0 = raw(2 * i).toInt; val b1 = raw(2 * i + 1).toInt
          if (big) ((b0 << 8) | (b1 & 0xFF)).toShort.toInt
          else ((b1 << 8) | (b0 & 0xFF)).toShort.toInt
        }
        require(samples.length == 64,
          s"audio aHash expects 64-sample clips, got ${samples.length} " +
            s"for media ${r.media_id} — frame/resample first")
        var s = 0L
        var k = 0
        while (k < 64) { s += samples(k); k += 1 }
        val mean = Math.floorDiv(s, 64L)
        var hi = 0L; var lo = 0L
        k = 0
        while (k < 64) {
          if (samples(k) >= mean) {
            if (k < 32) hi |= 1L << (31 - k) else lo |= 1L << (63 - k)
          }
          k += 1
        }
        (r.media_id, hi, lo)
      }
    }.toDF("doc_id", "hi", "lo")
  }

  /** M3 — audio near-dup pairs: [[audioAHash]] fingerprints mined by
    * the shared chunk-pigeonhole machinery (guaranteed recall for
    * hamming ≤ 3, one (chunk, key) shuffle, hot-bucket cap). */
  def audioFingerprintPairs(
      ds: Dataset[MediaRecord], maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame =
    Dedup.mineHammingPairs(audioAHash(ds), maxHamming, maxBucket)

  /** Frame sampling for video-typed rows: up to `k` evenly spaced
    * frames, each a REAL standalone PNG extracted by the [[Apng]]
    * container walk (decodable downstream by [[JvmMediaCodec
    * .decodeImage]] or any PNG consumer). flatMap keeps it one pass,
    * no shuffle; the container parses once per row. */
  def frameSample(ds: Dataset[MediaRecord], k: Int): Dataset[MediaFrame] = {
    import ds.sparkSession.implicits._
    ds.flatMap { r =>
      if (r.meta.media_type != "video" || r.content.isEmpty) Iterator.empty
      else {
        val frames = Apng.frames(r.content)
        val take = math.min(k, frames.length)
        (0 until take).iterator.map { i =>
          val src = (i.toLong * frames.length / take).toInt
          MediaFrame(r.media_id, i, frames(src))
        }
      }
    }
  }

  case class ResizedMedia(
      media_id: Long, width: Int, height: Int, content: Array[Byte])

  /** Real image resize for image-typed rows: ImageIO decode →
    * nearest-neighbor resample (explicit pixel loop, deterministic
    * across JVMs — no AWT rendering-pipeline variance) → PNG
    * re-encode. Per-partition codec reuse; binary in / binary out so
    * the stage chains with [[extractFeatures]] or a sink. */
  def resize(ds: Dataset[MediaRecord], outW: Int, outH: Int): Dataset[ResizedMedia] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      rows.collect {
        case r if r.meta.media_type == "image" && r.content.nonEmpty =>
          val img = PngIO.decode(r.content)
          require(img != null, s"image decode failed for media ${r.media_id}")
          val inW = img.getWidth; val inH = img.getHeight
          val out = new Array[Int](outW * outH)
          var y = 0
          while (y < outH) {
            val sy = (y.toLong * inH / outH).toInt
            var x = 0
            while (x < outW) {
              out(y * outW + x) = img.getRGB((x.toLong * inW / outW).toInt, sy) & 0xffffff
              x += 1
            }
            y += 1
          }
          ResizedMedia(r.media_id, outW, outH, Encode.png(outW, outH, out))
      }
    }
  }

  /** Real-container test-corpus adapter: id % 3 picks the modality;
    * image rows carry an actual PNG, audio rows an actual WAV, video
    * rows an actual APNG — all from the [[Synth]] formulas, so every
    * decoded value is oracle-replayable. Encode runs per partition,
    * no shuffle. */
  def syntheticMedia(df: DataFrame, idCol: String, textCol: String): Dataset[MediaRecord] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      // the codec-synthesis pass is CPU-bound; a few-file parquet scan
      // would otherwise pin it to the scan's partition count (the
      // langIdCore posture). Row order is irrelevant downstream —
      // every consumer aggregates or sorts.
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .mapPartitions { rows =>
        rows.map { case (id, _) =>
          (id % 3) match {
            case 0 => MediaRecord(id, MediaMeta("image", Synth.ImgW, Synth.ImgH, 0L),
              Encode.png(Synth.ImgW, Synth.ImgH, Synth.imagePixels(id)))
            case 1 => MediaRecord(id, MediaMeta("audio", 0, 0,
              Synth.NSamples * 1000L / Synth.SampleRate),
              Encode.wavPcm16(Synth.audioSamples(id), Synth.SampleRate))
            case _ => MediaRecord(id, MediaMeta("video", Synth.ImgW, Synth.ImgH,
              Synth.NFrames * 40L),
              Apng.assemble(
                (0 until Synth.NFrames).map(f =>
                  Encode.png(Synth.ImgW, Synth.ImgH, Synth.videoFramePixels(id, f))),
                delayNumMs = 40))
          }
        }
      }
  }
}
