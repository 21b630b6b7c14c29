package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Multimodal
import graft.operators.Multimodal.MediaRecord

/** Batch 5c: multimodal plumbing behind the driver gate (SURVEY.md §2
  * M1). The media table is [[Multimodal.syntheticMedia]] over
  * `documents`: image rows carry a REAL PNG, audio rows a REAL WAV,
  * video rows a REAL APNG — all encoded from the deterministic
  * [[Multimodal.Synth]] formulas. The query pushes every row through
  * the partition-batched codec path (ImageIO / AudioSystem / APNG
  * chunk-walk decode → unit sums) and aggregates per media type, so
  * the gate only matches if the round trip through the actual
  * container bytes (PNG zlib inflate, RIFF chunk walk, fdAT
  * reassembly) reproduces the formulas exactly — the oracle replays
  * the same arithmetic in SQL. `raw_bytes_sum` stays checkable only
  * for audio (canonical 44 + 2·n WAV); PNG/APNG byte lengths are
  * codec-dependent and excluded.
  */
object MultimodalQueries {

  def media(s: SparkSession, dir: String): org.apache.spark.sql.Dataset[MediaRecord] =
    Multimodal.syntheticMedia(Tables.documents(s, dir), "doc_id", "text")

  private val baseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_media_features" -> { (s, dir) =>
      Multimodal.extractFeatures(media(s, dir))
        .groupBy(col("media_type"))
        .agg(
          count(lit(1)).as("n_media"),
          sum(col("n_units")).as("n_units"),
          sum(col("unit_sum")).as("unit_sum"),
          sum(when(col("media_type") === "audio", col("n_bytes"))).as("raw_bytes_sum"))
        .orderBy("media_type")
    },
    // M1b — frame sampling behind the gate: k=2 evenly spaced frames
    // of every APNG video row (sources 0 and 2 of the 4), each
    // re-decoded as a standalone PNG; per-doc decoded pixel sums are
    // formula-replayable, so container parsing, frame extraction AND
    // the per-frame decode sit on the verified path.
    "q_media_frames" -> { (s, dir) =>
      val frames = Multimodal.frameSample(
        media(s, dir).filter(col("meta.media_type") === "video"), k = 2)
      import s.implicits._
      frames.mapPartitions { rows =>
        val codec = new Multimodal.JvmMediaCodec
        rows.map { f =>
          val (nPx, pxSum, _) = codec.decodeImage(f.frame)
          (f.media_id, f.frame_idx, nPx, pxSum)
        }
      }.toDF("media_id", "frame_idx", "n_px", "px_sum")
        .orderBy("media_id", "frame_idx")
    },
    // M2 — image near-dup dedup through REAL decode: every doc yields
    // three PNGs — the base formula image, a byte-identical re-encode
    // under a new id (the reposted-image case, hamming 0), and a
    // "retouch" with pixel 0's red channel nudged ±3 (gray shifts by
    // exactly 1 — the near-dup case). aHash = integer gray mean
    // threshold, so the oracle replays fingerprints from the pixel
    // FORMULAS while the engine computes them through actual PNG
    // bytes and the pigeonhole miner — a decode defect, a hash-fold
    // drift, or an LSH recall miss each changes the pair list.
    //
    // Channel formula: channel k of doc d = the first md5 byte of
    // "d_k" — CRYPTOGRAPHIC mixing is load-bearing here, not a
    // flourish: every arithmetic formula tried (linear, div-mixer,
    // middle-square, multiply-shift) stays near-arithmetic in k or
    // correlates across the ×100 clone offsets, collapsing the aHash
    // to shared sign-patterns whose pair count grows ∝ n² (middle-
    // square measured 22.5M pairs at sf10 vs ~1.5M planted, with
    // buckets over the miner's cap). md5 is bit-identical in every
    // engine, so the oracle replays it verbatim and the pair set
    // stays the planted triples plus birthday noise (~2^-64/pair) at
    // ANY scale. Media ids stride ×4 (id*4 + kind) so clone-offset
    // doc ids never collide with a variant's id.
    "q_image_phash" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id").cast("long")).as[Long]
        .repartition(s.sparkContext.defaultParallelism) // CPU-bound synth: don't inherit the scan's few partitions
      val mediaRows = docs.mapPartitions { ids =>
        val md = java.security.MessageDigest.getInstance("MD5")
        ids.flatMap { id =>
          val base = Array.tabulate(64) { p =>
            def ch(c: Int): Int = {
              val d = md.digest(s"${id}_${p * 3 + c}".getBytes("US-ASCII"))
              d(0) & 0xFF
            }
            (ch(0) << 16) | (ch(1) << 8) | ch(2)
          }
          val retouched = base.clone()
          val r0 = (retouched(0) >> 16) & 0xFF
          val nr0 = if (r0 >= 128) r0 - 3 else r0 + 3
          retouched(0) = (nr0 << 16) | (retouched(0) & 0xFFFF)
          val meta = Multimodal.MediaMeta("image", 8, 8, 0L)
          Seq(
            Multimodal.MediaRecord(id * 4, meta,
              Multimodal.Encode.png(8, 8, base)),
            Multimodal.MediaRecord(id * 4 + 1, meta,
              Multimodal.Encode.png(8, 8, base)),
            Multimodal.MediaRecord(id * 4 + 2, meta,
              Multimodal.Encode.png(8, 8, retouched)))
        }
      }
      Multimodal.imagePhashPairs(mediaRows, maxHamming = 3, maxBucket = 1000)
    },
    // M3 — audio near-dup dedup through REAL decode: every doc yields
    // three WAVs — a base 64-sample PCM-16 clip, a byte-identical
    // re-encode under a new id (the reposted-clip case, hamming 0),
    // and a variant with sample 0 shifted ±256 (the clipped-intro
    // case — mean moves by 4, so only boundary samples flip). The
    // fingerprint is the sample-sign aHash over the RIFF-decoded PCM;
    // sample j of doc d = first 3 md5 hex digits of "d~j" − 2048
    // (cryptographic mixing for the same n² reason as M2 above).
    "q_audio_fingerprint" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id").cast("long")).as[Long]
        .repartition(s.sparkContext.defaultParallelism) // CPU-bound synth + decode: don't inherit the scan's few partitions
      val mediaRows = docs.mapPartitions { ids =>
        val md = java.security.MessageDigest.getInstance("MD5")
        ids.flatMap { id =>
          val base = Array.tabulate(64) { j =>
            val d = md.digest(s"${id}~$j".getBytes("US-ASCII"))
            val v = ((d(0) & 0xFF) << 4) | ((d(1) & 0xF0) >> 4)
            (v - 2048).toShort
          }
          val tweaked = base.clone()
          val s0 = tweaked(0).toInt
          tweaked(0) = (if (s0 + 256 > 2047) s0 - 256 else s0 + 256).toShort
          val meta = Multimodal.MediaMeta("audio", 0, 0, 8L)
          Seq(
            Multimodal.MediaRecord(id * 4, meta,
              Multimodal.Encode.wavPcm16(base, 8000)),
            Multimodal.MediaRecord(id * 4 + 1, meta,
              Multimodal.Encode.wavPcm16(base, 8000)),
            Multimodal.MediaRecord(id * 4 + 2, meta,
              Multimodal.Encode.wavPcm16(tweaked, 8000)))
        }
      }
      Multimodal.audioFingerprintPairs(mediaRows, maxHamming = 3, maxBucket = 1000)
    },
  )

  /** M2b — the full thumbnail-dedup CHAIN: 16×16 source PNGs →
    * [[Multimodal.resize]] (real ImageIO decode, nearest-neighbor
    * resample, PNG re-encode) → 8×8 aHash → pigeonhole pairs. This
    * puts resize itself on the oracle-verified path: the oracle
    * replays the thumbnail pixel (x, y) as the channel formula at
    * SOURCE pixel (2x, 2y) — a resample-index drift, a channel-order
    * swap in the re-encode, or a decode defect in EITHER codec pass
    * moves a fingerprint. Same planted triple structure as M2; the
    * md5 key uses a distinct "t" separator so the corpora are
    * independent. */
  /** The M2b gate corpus: per doc a 16×16 base PNG, an exact re-encode
    * dup, and a gray-preserving ±3 retouch — real container bytes from
    * the md5 "t"-keyed channel formulas. Shared by the two-pass and
    * fused thumb gates so they dedup the SAME planted structure. */
  private def thumbCorpus(
      s: SparkSession, dir: String): org.apache.spark.sql.Dataset[Multimodal.MediaRecord] = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select(col("doc_id").cast("long")).as[Long]
      .repartition(s.sparkContext.defaultParallelism) // CPU-bound synth: don't inherit the scan's few partitions
    docs.mapPartitions { ids =>
      val md = java.security.MessageDigest.getInstance("MD5")
      ids.flatMap { id =>
        val base = Array.tabulate(256) { p =>
          def ch(c: Int): Int = {
            val d = md.digest(s"${id}t${p * 3 + c}".getBytes("US-ASCII"))
            d(0) & 0xFF
          }
          (ch(0) << 16) | (ch(1) << 8) | ch(2)
        }
        val retouched = base.clone()
        val r0 = (retouched(0) >> 16) & 0xFF
        val nr0 = if (r0 >= 128) r0 - 3 else r0 + 3
        retouched(0) = (nr0 << 16) | (retouched(0) & 0xFFFF)
        val meta = Multimodal.MediaMeta("image", 16, 16, 0L)
        Seq(
          Multimodal.MediaRecord(id * 4, meta,
            Multimodal.Encode.png(16, 16, base)),
          Multimodal.MediaRecord(id * 4 + 1, meta,
            Multimodal.Encode.png(16, 16, base)),
          Multimodal.MediaRecord(id * 4 + 2, meta,
            Multimodal.Encode.png(16, 16, retouched)))
      }
    }
  }

  private val thumbChain0: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_image_thumb_dedup" -> { (s, dir) =>
      import s.implicits._
      val thumbs = Multimodal.resize(thumbCorpus(s, dir), 8, 8)
      val recs = thumbs.map(t => Multimodal.MediaRecord(
        t.media_id, Multimodal.MediaMeta("image", 8, 8, 0L), t.content))
      graft.operators.Dedup.mineHammingPairs(
        Multimodal.imageAHash(recs), maxHamming = 3, maxBucket = 1000)
    },
    // M2b-f — the FUSED fast path over the same corpus: one decode,
    // resample buffer hashed directly (no thumbnail re-encode or
    // re-decode). The oracle is the IDENTICAL replay — the fused
    // chain must land the exact fingerprints of the two-codec chain,
    // so the fusion's correctness (not just its speed) sits under the
    // hash; the two-pass gate above keeps both codec passes verified.
    "q_image_thumb_fused" -> { (s, dir) =>
      graft.operators.Dedup.mineHammingPairs(
        Multimodal.thumbAHash(thumbCorpus(s, dir), 8, 8),
        maxHamming = 3, maxBucket = 1000)
    },
  )

  val all: Map[String, (SparkSession, String) => DataFrame] =
    baseQueries ++ thumbChain0

  /** The M2b thumbnail replay: thumb pixel p = (y·8+x) samples source
    * pixel (2x, 2y) = srcp, channel k = srcp·3+c via the "t"-keyed
    * md5. */
  private def sqThumb(k: String): String =
    s"('0x' || substr(md5(CAST(base AS VARCHAR) || 't' || " +
      s"CAST(($k) AS VARCHAR)), 1, 2))::BIGINT"

  /** The M2 channel replay — first md5 byte of "base_k" (hex-parsed;
    * md5 hex is bit-identical across engines). Shared by every channel
    * site in the q_image_phash oracle. */
  private def sqImg(k: String): String =
    s"('0x' || substr(md5(CAST(base AS VARCHAR) || '_' || " +
      s"CAST(($k) AS VARCHAR)), 1, 2))::BIGINT"

  /** The M3 audio twin: first 3 md5 hex digits of "base~j" − 2048. */
  private def sqAud(j: String): String =
    s"('0x' || substr(md5(CAST(base AS VARCHAR) || '~' || " +
      s"CAST(($j) AS VARCHAR)), 1, 3))::BIGINT - 2048"

  private val oracles0: Map[String, String] = Map(
    // Mirrors Multimodal.Synth: image channel k of doc d is
    // (d*7 + k*13) % 256 over 8*8*3 = 192 channels; audio sample j is
    // ((d*11 + j*17) % 4096) - 2048 over 64 samples (WAV byte length
    // 44 + 2*64 = 172); video channel k of frame f is
    // (d*7 + f*19 + k*13) % 256 over 4 frames * 192 channels.
    // PNG/WAV/APNG are lossless so the decoded sums must equal these
    // expressions exactly.
    "q_media_features" -> """
      WITH t AS (
        SELECT doc_id,
               ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS media_type
        FROM documents),
      d AS (
        SELECT media_type,
          CASE media_type WHEN 'image' THEN 64 WHEN 'audio' THEN 64
                          WHEN 'video' THEN 256 END AS n_units,
          CASE media_type
            WHEN 'image' THEN (SELECT SUM((t.doc_id*7 + r.range*13) % 256) FROM range(192) r)
            WHEN 'audio' THEN (SELECT SUM(((t.doc_id*11 + r.range*17) % 4096) - 2048) FROM range(64) r)
            WHEN 'video' THEN (SELECT SUM((t.doc_id*7 + f.range*19 + r.range*13) % 256)
                               FROM range(4) f, range(192) r)
            END AS unit_sum,
          CASE media_type WHEN 'audio' THEN 172 ELSE NULL END AS raw_bytes
        FROM t)
      SELECT media_type,
             COUNT(*) AS n_media,
             CAST(SUM(n_units) AS BIGINT) AS n_units,
             CAST(SUM(unit_sum) AS BIGINT) AS unit_sum,
             CAST(SUM(raw_bytes) AS BIGINT) AS raw_bytes_sum
      FROM d GROUP BY 1 ORDER BY 1""",
    // k=2 of the 4 synthetic frames samples sources 0 and 2
    // (src = i * nFrames / k); per-frame pixel sum replays the video
    // frame formula for that source frame.
    "q_media_frames" -> """
      WITH v AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 2),
      f AS (SELECT CAST(i.range AS INT) AS frame_idx,
                   CAST(i.range * 2 AS BIGINT) AS src
            FROM range(2) i)
      SELECT v.doc_id AS media_id, f.frame_idx,
             CAST(64 AS BIGINT) AS n_px,
             CAST((SELECT SUM((v.doc_id*7 + f.src*19 + r.range*13) % 256)
                   FROM range(192) r) AS BIGINT) AS px_sum
      FROM v, f ORDER BY 1, 2""",
    // fingerprints from the pixel FORMULAS (the engine decodes real
    // PNGs); the pair join goes through the 16-bit-chunk equality —
    // NOT a recall-lossy blocking but an exact rewrite: 4 disjoint
    // chunks and ≤3 differing bits force ≥1 equal chunk (pigeonhole),
    // so the chunk join ∪ distinct equals the unblocked ≤3 set while
    // staying runnable at sf10 (the unblocked cross join is O(n²)
    // in the oracle engine).
    "q_image_phash" -> s"""
      WITH im AS (
        SELECT doc_id AS base, k.kind, doc_id * 4 + k.kind AS media_id
        FROM documents, (SELECT unnest([0, 1, 2]) AS kind) k),
      px AS (
        SELECT media_id, p.range AS p,
          CASE WHEN kind = 2 AND p.range = 0 THEN
            CASE WHEN ${sqImg("0")} >= 128
                 THEN ${sqImg("0")} - 3
                 ELSE ${sqImg("0")} + 3 END
          ELSE ${sqImg("p.range * 3")} END AS r,
          ${sqImg("p.range * 3 + 1")} AS g,
          ${sqImg("p.range * 3 + 2")} AS b
        FROM im, range(64) p),
      gr AS (SELECT media_id, p, (r + g + b) // 3 AS gray FROM px),
      mn AS (SELECT media_id, SUM(gray) // 64 AS mean FROM gr GROUP BY 1),
      fp AS (
        SELECT gr.media_id,
          CAST(SUM(CASE WHEN gray >= mean AND p < 32
                        THEN POWER(2, 31 - p) ELSE 0 END) AS BIGINT) AS hi,
          CAST(SUM(CASE WHEN gray >= mean AND p >= 32
                        THEN POWER(2, 63 - p) ELSE 0 END) AS BIGINT) AS lo
        FROM gr JOIN mn USING (media_id) GROUP BY 1),
      ch AS (
        SELECT media_id, hi, lo, c.range AS chunk,
          CASE c.range WHEN 0 THEN (hi >> 16) & 65535 WHEN 1 THEN hi & 65535
                       WHEN 2 THEN (lo >> 16) & 65535 ELSE lo & 65535 END AS ckey
        FROM fp, range(4) c)
      SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
        CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INT) AS hamming
      FROM ch a JOIN ch b
        ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.media_id < b.media_id
      WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
      ORDER BY id_a, id_b""",
    // the resize chain replayed arithmetically: thumb pixel (x,y) =
    // the "t"-keyed channel formula at SOURCE pixel (2x, 2y); then
    // the M2 gray/mean/fingerprint/chunk-join pipeline verbatim
    "q_image_thumb_dedup" -> s"""
      WITH im AS (
        SELECT doc_id AS base, k.kind, doc_id * 4 + k.kind AS media_id
        FROM documents, (SELECT unnest([0, 1, 2]) AS kind) k),
      px AS (
        SELECT media_id, p.range AS p,
          ((p.range // 8) * 2) * 16 + (p.range % 8) * 2 AS srcp
        FROM im, range(64) p),
      px2 AS (
        SELECT im.media_id, px.p,
          CASE WHEN im.kind = 2 AND px.srcp = 0 THEN
            CASE WHEN ${sqThumb("0")} >= 128
                 THEN ${sqThumb("0")} - 3
                 ELSE ${sqThumb("0")} + 3 END
          ELSE ${sqThumb("px.srcp * 3")} END AS r,
          ${sqThumb("px.srcp * 3 + 1")} AS g,
          ${sqThumb("px.srcp * 3 + 2")} AS b
        FROM im JOIN px USING (media_id)),
      gr AS (SELECT media_id, p, (r + g + b) // 3 AS gray FROM px2),
      mn AS (SELECT media_id, SUM(gray) // 64 AS mean FROM gr GROUP BY 1),
      fp AS (
        SELECT gr.media_id,
          CAST(SUM(CASE WHEN gray >= mean AND p < 32
                        THEN POWER(2, 31 - p) ELSE 0 END) AS BIGINT) AS hi,
          CAST(SUM(CASE WHEN gray >= mean AND p >= 32
                        THEN POWER(2, 63 - p) ELSE 0 END) AS BIGINT) AS lo
        FROM gr JOIN mn USING (media_id) GROUP BY 1),
      ch AS (
        SELECT media_id, hi, lo, c.range AS chunk,
          CASE c.range WHEN 0 THEN (hi >> 16) & 65535 WHEN 1 THEN hi & 65535
                       WHEN 2 THEN (lo >> 16) & 65535 ELSE lo & 65535 END AS ckey
        FROM fp, range(4) c)
      SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
        CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INT) AS hamming
      FROM ch a JOIN ch b
        ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.media_id < b.media_id
      WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
      ORDER BY id_a, id_b""",
    // sample formulas replayed, sign-vs-floor-mean fingerprint, then
    // the same pigeonhole-exact chunk join as q_image_phash
    "q_audio_fingerprint" -> s"""
      WITH au AS (
        SELECT doc_id AS base, k.kind, doc_id * 4 + k.kind AS media_id
        FROM documents, (SELECT unnest([0, 1, 2]) AS kind) k),
      sm AS (
        SELECT media_id, j.range AS j,
          CASE WHEN kind = 2 AND j.range = 0 THEN
            CASE WHEN ${sqAud("0")} + 256 > 2047
                 THEN ${sqAud("0")} - 256
                 ELSE ${sqAud("0")} + 256 END
          ELSE ${sqAud("j.range")} END AS s
        FROM au, range(64) j),
      -- signed sample sum: DuckDB's // TRUNCATES toward zero on
      -- negatives while the engine's floorDiv floors, so the floor is
      -- spelled out (−63 pre-bias for negative sums); the image
      -- oracle's sums are nonnegative and needs no bias
      mn AS (SELECT media_id,
               (SUM(s) + CASE WHEN SUM(s) < 0 THEN -63 ELSE 0 END) // 64 AS mean
             FROM sm GROUP BY 1),
      fp AS (
        SELECT sm.media_id,
          CAST(SUM(CASE WHEN s >= mean AND j < 32
                        THEN POWER(2, 31 - j) ELSE 0 END) AS BIGINT) AS hi,
          CAST(SUM(CASE WHEN s >= mean AND j >= 32
                        THEN POWER(2, 63 - j) ELSE 0 END) AS BIGINT) AS lo
        FROM sm JOIN mn USING (media_id) GROUP BY 1),
      ch AS (
        SELECT media_id, hi, lo, c.range AS chunk,
          CASE c.range WHEN 0 THEN (hi >> 16) & 65535 WHEN 1 THEN hi & 65535
                       WHEN 2 THEN (lo >> 16) & 65535 ELSE lo & 65535 END AS ckey
        FROM fp, range(4) c)
      SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
        CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INT) AS hamming
      FROM ch a JOIN ch b
        ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.media_id < b.media_id
      WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
      ORDER BY id_a, id_b""",
  )

  /** The fused thumb gate answers to the SAME replay as the two-pass
    * chain — identical fingerprints is the entire correctness claim
    * of the fusion. */
  val oracles: Map[String, String] =
    oracles0 + ("q_image_thumb_fused" -> oracles0("q_image_thumb_dedup"))
}
