package graft.queries

import graft.etl.Readers
import graft.ops.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal plumbing over a media table synthesized from `documents`.
  * The codec layer is REAL (see [[graft.ops.Multimodal]]): genuine PNG
  * encode/decode (five filter types, zlib IDAT, CRC-checked chunks) and
  * genuine RIFF/WAVE PCM synth/decode (LE int16 samples). What keeps a
  * DuckDB oracle possible is provenance: pixel/sample values derive
  * deterministically from document text, so every decoded statistic is
  * predictable arithmetically from the same parquet the engine read.
  */
object MultimodalQueries {

  private val FrameBytes = 32
  private val Stride = 2

  /** Resize target grid (per-axis clamp, mirrored in the oracle). */
  private val TargetW = 8
  private val TargetH = 4

  private def media(spark: SparkSession, dir: String): DataFrame =
    Multimodal.mediaTable(
      Readers.table(spark, dir, "documents"), "doc_id", "text", "source")

  /** Pin-before-sort for the deterministic-output `orderBy` (r17, guide
    * §2.4 "orderBy used to make output deterministic"): range
    * partitioning SAMPLES its child to pick bounds, re-executing the
    * child once before the real pass — for the decode-heavy keys in this
    * file that child is the whole batched codec chain, so the sampler
    * silently DECODED EVERY CONTAINER A SECOND TIME (measured at sf0.1:
    * multimodal_video 1.50 → 0.85 s, multimodal_features 0.70 → 0.47,
    * image_phash 0.62 → 0.42). The lazy, instance-scoped checkpoint
    * materializes the decoded features once; sampler and sort both read
    * the compact result. Construction stays job-free (map-only subtree,
    * no exchange for AQE to resolve) and nothing is CacheManager-keyed,
    * so no state leaks across bench passes.
    */
  private def pinSorted(df: DataFrame, cols: String*): DataFrame =
    df.localCheckpoint(false).orderBy(cols.map(col): _*)

  /** Binary-column plumbing, oracle-checked: payload length, content
    * digest, metadata struct fields, and the frame-sampling count computed
    * by the real slicing operator (mirrored arithmetically in SQL).
    */
  def multimodalBinary(spark: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(media(spark, dir), FrameBytes, Stride)
      .select(
        col("media_id"),
        octet_length(col("media")).cast("long").as("n_bytes"),
        md5(col("media")).as("digest"),
        col("meta.mime").as("mime"),
        col("meta.source").as("source"),
        size(col("frames")).cast("long").as("n_frames"))
      // NOT pinned (r17): digest+length per row is cheaper than one
      // materialization — the pin measured 0.165 -> 0.226 s at sf0.1
      .orderBy("media_id")

  val multimodalBinarySql: String =
    s"""SELECT doc_id AS media_id,
       |  CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes,
       |  md5(text) AS digest,
       |  'image/fake' AS mime,
       |  source,
       |  CAST((octet_length(text::BLOB) - 1) // $FrameBytes // $Stride + 1 AS BIGINT)
       |    AS n_frames
       |FROM documents ORDER BY media_id""".stripMargin

  /** FULL image decode over real PNG containers: each document's bytes are
    * laid out as a grayscale raster (rows of ≤64 px, zero-padded —
    * [[graft.ops.Multimodal.imageDims]]), filtered through all five PNG
    * filter types, zlib-compressed into multi-chunk IDAT, CRC-stamped;
    * the extractor then CRC-checks, inflates, and unfilters every
    * scanline and computes statistics over the DECODED pixels. The oracle
    * reproduces the raster arithmetically: md5 over text + zero padding,
    * mean pixel value over the padded rectangle. A single bit error in
    * filter math, deflate framing, or chunk layout breaks the digest.
    */
  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame =
    pinSorted(Multimodal.extractFeatures(
      Multimodal.encodedMediaTable(
        Readers.table(spark, dir, "documents"), "doc_id", "text", "source")),
      "media_id")

  /** Each document's raster geometry as the PNG encoder lays it out:
    * byte length `n`, width `w` (≤ 64) and height `h`.
    */
  private def rasterCtes: String =
    """WITH g AS (
      |  SELECT doc_id, text,
      |    CAST(octet_length(text::BLOB) AS INTEGER) AS n,
      |    CAST(CASE WHEN octet_length(text::BLOB) = 0 THEN 1
      |              ELSE least(octet_length(text::BLOB), 64) END AS INTEGER) AS w
      |  FROM documents
      |), d AS (
      |  SELECT doc_id, text, n, w,
      |    CAST(CASE WHEN n = 0 THEN 1 ELSE (n + w - 1) // w END AS INTEGER) AS h
      |  FROM g
      |)""".stripMargin

  val multimodalFeaturesSql: String =
    s"""$rasterCtes
      |SELECT doc_id AS media_id,
      |  CAST(w * h AS BIGINT) AS n_bytes,
      |  md5(text || repeat(chr(0), w * h - n)) AS digest,
      |  CAST(w AS INTEGER) AS width,
      |  CAST(h AS INTEGER) AS height,
      |  floor(COALESCE(list_sum(list_transform(
      |            regexp_extract_all(text, '(?s).'), c -> unicode(c))),
      |          0)::DOUBLE
      |        / (w * h)::DOUBLE / 255.0::DOUBLE * 1000000.0::DOUBLE
      |        + 0.5::DOUBLE) / 1000000.0::DOUBLE AS brightness
      |FROM d ORDER BY media_id""".stripMargin

  /** Decode → nearest-neighbor resize → re-encode → decode again: the
    * thumbnail path a multimodal training pipeline runs at scale. The
    * resample grid is integer floor arithmetic
    * ([[graft.ops.Multimodal.resizeMedia]]), so the oracle can name every
    * source pixel (`(r·h)/h' · w + (c·w)/w'`) and recompute the digest and
    * brightness of the resized raster from the original text.
    */
  def multimodalResize(spark: SparkSession, dir: String): DataFrame =
    pinSorted(Multimodal.extractFeatures(
      Multimodal.resizeMedia(
        Multimodal.encodedMediaTable(
          Readers.table(spark, dir, "documents"), "doc_id", "text", "source"),
        TargetW, TargetH)), "media_id")

  val multimodalResizeSql: String =
    s"""WITH g AS (
       |  SELECT doc_id, text, CAST(octet_length(text::BLOB) AS INTEGER) AS n
       |  FROM documents
       |), d AS (
       |  SELECT doc_id, text, n,
       |    CASE WHEN n = 0 THEN 1 ELSE least(n, 64) END AS w,
       |    CASE WHEN n = 0 THEN 1
       |         ELSE (n + least(n, 64) - 1) // least(n, 64) END AS h
       |  FROM g
       |), e AS (
       |  SELECT doc_id, text, n, w, h,
       |    least(w, $TargetW) AS w2, least(h, $TargetH) AS h2
       |  FROM d
       |), q AS (
       |  SELECT doc_id, w2, h2,
       |    list_transform(
       |      flatten(list_transform(range(0, h2), r ->
       |        list_transform(range(0, w2), c ->
       |          (r * h // h2) * w + (c * w // w2)))),
       |      i -> CASE WHEN i < n THEN substr(text, CAST(i AS INTEGER) + 1, 1)
       |                ELSE chr(0) END) AS chars
       |  FROM e
       |)
       |SELECT doc_id AS media_id,
       |  CAST(w2 * h2 AS BIGINT) AS n_bytes,
       |  md5(array_to_string(chars, '')) AS digest,
       |  CAST(w2 AS INTEGER) AS width,
       |  CAST(h2 AS INTEGER) AS height,
       |  floor(list_sum(list_transform(chars, c -> unicode(c)))::DOUBLE
       |        / (w2 * h2)::DOUBLE / 255.0::DOUBLE * 1000000.0::DOUBLE
       |        + 0.5::DOUBLE) / 1000000.0::DOUBLE AS brightness
       |FROM q ORDER BY media_id""".stripMargin

  /** FULL audio decode over real RIFF/WAVE PCM: each document byte is
    * synthesized into a centered int16 sample (`(b−128)·256`, replicated
    * per channel, little-endian), and the extractor parses the container,
    * reads every sample back, computes RMS/peak levels, and RECOVERS the
    * original bytes by inverting the mapping — the digest is md5 of the
    * recovered stream, so the oracle's plain `md5(text)` certifies the
    * codec chain bit-for-bit. Rate/channels vary per id to exercise fmt
    * parsing; duration derives from the parsed frame count and rate.
    */
  def multimodalAudio(spark: SparkSession, dir: String): DataFrame =
    pinSorted(Multimodal.extractAudioFeatures(
      Multimodal.encodedAudioTable(
        Readers.table(spark, dir, "documents"), "doc_id", "text", "source")),
      "media_id")

  val multimodalAudioSql: String =
    """SELECT doc_id AS media_id,
      |  CAST(octet_length(text::BLOB) * (1 + doc_id % 2) * 2 AS BIGINT)
      |    AS n_bytes,
      |  md5(text) AS digest,
      |  CAST(8000 * (1 + doc_id % 3) AS INTEGER) AS sample_rate,
      |  CAST(1 + doc_id % 2 AS INTEGER) AS channels,
      |  floor(octet_length(text::BLOB)::DOUBLE * 1000.0::DOUBLE
      |      / (8000 * (1 + doc_id % 3))::DOUBLE
      |      * 1000.0::DOUBLE + 0.5::DOUBLE) / 1000.0::DOUBLE AS duration_ms,
      |  CASE WHEN octet_length(text::BLOB) = 0 THEN 0.0::DOUBLE ELSE
      |    floor(sqrt(list_sum(list_transform(
      |              regexp_extract_all(text, '(?s).'),
      |              c -> CAST((unicode(c) - 128) * 256 AS BIGINT)
      |                 * CAST((unicode(c) - 128) * 256 AS BIGINT)))::DOUBLE
      |          / octet_length(text::BLOB)::DOUBLE)
      |      / 32768.0::DOUBLE * 1000000.0::DOUBLE + 0.5::DOUBLE)
      |    / 1000000.0::DOUBLE
      |  END AS rms,
      |  CASE WHEN octet_length(text::BLOB) = 0 THEN 0.0::DOUBLE ELSE
      |    floor(list_max(list_transform(
      |            regexp_extract_all(text, '(?s).'),
      |            c -> abs((unicode(c) - 128) * 256)))::DOUBLE
      |        / 32768.0::DOUBLE * 1000000.0::DOUBLE + 0.5::DOUBLE)
      |      / 1000000.0::DOUBLE
      |  END AS peak
      |FROM documents ORDER BY media_id""".stripMargin

  /** Decode with row-level quarantine routing, end to end: every 17th
    * container is deterministically corrupted (first signature byte
    * zeroed), and [[graft.ops.Multimodal.extractFeaturesSafe]] turns the
    * decoder's loud failure into DATA — `ok=false` plus the exact error —
    * while clean rows carry the usual decoded-pixel features. This is the
    * shape that keeps a 100 TB ingest runnable (one bad file must not
    * kill the job) without hiding data loss (nothing is silently
    * skipped). The oracle pins which ids fail, the exact message, and
    * every surviving row's decoded statistics.
    */
  def multimodalQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.encodedMediaTable(
      Readers.table(spark, dir, "documents"), "doc_id", "text", "source")
    val corrupted = media.withColumn("media",
      when(col("media_id") % 17 === 0,
        concat(lit(Array[Byte](0)),
          expr("substring(media, 2, 2147483647)")))
        .otherwise(col("media")))
    pinSorted(Multimodal.extractFeaturesSafe(corrupted), "media_id")
  }

  val multimodalQuarantineSql: String =
    s"""$rasterCtes
      |SELECT doc_id AS media_id,
      |  doc_id % 17 <> 0 AS ok,
      |  CASE WHEN doc_id % 17 = 0 THEN 'bad PNG signature byte 0' END AS error,
      |  CASE WHEN doc_id % 17 <> 0 THEN CAST(w * h AS BIGINT) END AS n_bytes,
      |  CASE WHEN doc_id % 17 <> 0
      |       THEN md5(text || repeat(chr(0), w * h - n)) END AS digest,
      |  CASE WHEN doc_id % 17 <> 0 THEN CAST(w AS INTEGER) END AS width,
      |  CASE WHEN doc_id % 17 <> 0 THEN CAST(h AS INTEGER) END AS height,
      |  CASE WHEN doc_id % 17 <> 0 THEN
      |    floor(COALESCE(list_sum(list_transform(
      |          regexp_extract_all(text, '(?s).'), c -> unicode(c))), 0)::DOUBLE
      |        / (w * h)::DOUBLE / 255.0::DOUBLE * 1000000.0::DOUBLE
      |        + 0.5::DOUBLE) / 1000000.0::DOUBLE
      |  END AS brightness
      |FROM d ORDER BY media_id""".stripMargin

  /** Perceptual hash over DECODED rasters: the dHash grid samples the
    * unfiltered pixels, so the full codec chain sits under the oracle —
    * which recomputes every sampled pixel and comparison bit
    * arithmetically from the document text
    * ([[graft.ops.Multimodal.imagePhash]]).
    */
  def imagePhashQ(spark: SparkSession, dir: String): DataFrame =
    pinSorted(Multimodal.imagePhash(
      Multimodal.encodedMediaTable(
        Readers.table(spark, dir, "documents"), "doc_id", "text", "source")),
      "media_id")

  /** The dHash sampled-pixel list as DuckDB SQL: 8 rows × 9 cols, pixel
    * at grid (r,c) = raster[(r·h/8)·w + (c·w/9)], raster = text bytes
    * zero-padded to w×h. Shared by both phash oracles.
    */
  private val phashCte: String =
    """WITH g AS (
      |  SELECT doc_id, regexp_extract_all(text, '(?s).') AS cs,
      |    CAST(octet_length(text::BLOB) AS INTEGER) AS n,
      |    CAST(CASE WHEN octet_length(text::BLOB) = 0 THEN 1
      |              ELSE least(octet_length(text::BLOB), 64) END AS INTEGER) AS w
      |  FROM documents
      |), d AS (
      |  SELECT doc_id, cs, n, w,
      |    CAST(CASE WHEN n = 0 THEN 1 ELSE (n + w - 1) // w END AS INTEGER) AS h
      |  FROM g
      |), s AS (
      |  SELECT doc_id, w, h,
      |    list_transform(range(72), i ->
      |      CASE WHEN ((i // 9) * h // 8) * w + ((i % 9) * w // 9) < n
      |           THEN unicode(cs[CAST(((i // 9) * h // 8) * w
      |                               + ((i % 9) * w // 9) AS INTEGER) + 1])
      |           ELSE 0 END) AS sp
      |  FROM d
      |), ph AS (
      |  SELECT doc_id, w, h,
      |    COALESCE(list_sum(list_transform(range(32), b ->
      |      CASE WHEN sp[CAST(((b + 32) // 8) * 9 + ((b + 32) % 8) AS INTEGER) + 2]
      |              > sp[CAST(((b + 32) // 8) * 9 + ((b + 32) % 8) AS INTEGER) + 1]
      |           THEN 1::BIGINT << b ELSE 0::BIGINT END)), 0)::BIGINT AS phash_hi,
      |    COALESCE(list_sum(list_transform(range(32), b ->
      |      CASE WHEN sp[CAST((b // 8) * 9 + (b % 8) AS INTEGER) + 2]
      |              > sp[CAST((b // 8) * 9 + (b % 8) AS INTEGER) + 1]
      |           THEN 1::BIGINT << b ELSE 0::BIGINT END)), 0)::BIGINT AS phash_lo
      |  FROM s
      |)""".stripMargin

  val imagePhashSql: String =
    phashCte + """
      |SELECT doc_id AS media_id, phash_hi, phash_lo,
      |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height
      |FROM ph ORDER BY media_id""".stripMargin

  /** Near-duplicate images by banded dHash
    * ([[graft.ops.Multimodal.imagePhashDedup]]): candidates share a
    * 16-bit band (hash-equi-join, work ∝ collisions), pairs kept at
    * Hamming ≤ 6. The oracle replays the exact contract — shared band
    * AND distance — as an all-pairs self-join, affordable only because
    * it is the oracle.
    */
  def imagePhashDedupQ(spark: SparkSession, dir: String): DataFrame =
    Multimodal.imagePhashDedup(
        Multimodal.imagePhash(
          Multimodal.encodedMediaTable(
            Readers.table(spark, dir, "documents"),
            "doc_id", "text", "source")),
        maxDist = 6)
      .orderBy("id_a", "id_b")

  val imagePhashDedupSql: String =
    phashCte + """
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(bit_count(xor(a.phash_hi, b.phash_hi))
      |     + bit_count(xor(a.phash_lo, b.phash_lo)) AS INTEGER) AS hamming
      |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
      |WHERE ((a.phash_lo & 65535) = (b.phash_lo & 65535)
      |    OR (a.phash_lo // 65536) = (b.phash_lo // 65536)
      |    OR (a.phash_hi & 65535) = (b.phash_hi & 65535)
      |    OR (a.phash_hi // 65536) = (b.phash_hi // 65536))
      |  AND bit_count(xor(a.phash_hi, b.phash_hi))
      |    + bit_count(xor(a.phash_lo, b.phash_lo)) <= 6
      |ORDER BY id_a, id_b""".stripMargin

  private val VideoStride = 2

  /** Frame-sampled VIDEO decode over real GVID containers (PNG frames +
    * a seek index — [[graft.ops.Multimodal.encodeVideo]]): only every
    * 2nd frame is inflated (the index makes skipping free, the dominant
    * saving at production bitrates), each sampled frame fully decoded to
    * pixels. Frame f's raster is the text rotated by f, so the oracle
    * predicts each frame's digest exactly (rotation + zero padding) and
    * brightness is provably constant across a video's frames.
    */
  def multimodalVideo(spark: SparkSession, dir: String): DataFrame =
    pinSorted(Multimodal.extractVideoFrames(
      Multimodal.encodedVideoTable(
        Readers.table(spark, dir, "documents"), "doc_id", "text", "source"),
      stride = VideoStride), "media_id", "frame_idx")

  val multimodalVideoSql: String =
    s"""WITH g AS (
       |  SELECT doc_id, text,
       |    CAST(octet_length(text::BLOB) AS INTEGER) AS n,
       |    CAST(CASE WHEN octet_length(text::BLOB) = 0 THEN 1
       |              ELSE least(octet_length(text::BLOB), 64) END AS INTEGER) AS w
       |  FROM documents
       |), d AS (
       |  SELECT doc_id, text, n, w,
       |    CAST(CASE WHEN n = 0 THEN 1 ELSE (n + w - 1) // w END AS INTEGER) AS h,
       |    CAST(2 + doc_id % 3 AS INTEGER) AS nf
       |  FROM g
       |), fr AS (
       |  SELECT doc_id, text, n, w, h, nf,
       |    unnest(range(nf)) AS fi
       |  FROM d
       |)
       |SELECT doc_id AS media_id, nf AS n_frames,
       |  CAST(fi AS INTEGER) AS frame_idx,
       |  md5(CASE WHEN n = 0 THEN ''
       |           ELSE substr(text, CAST(fi % n AS INTEGER) + 1)
       |             || substr(text, 1, CAST(fi % n AS INTEGER)) END
       |      || repeat(chr(0), w * h - n)) AS digest,
       |  w AS width, h AS height,
       |  floor(COALESCE(list_sum(list_transform(
       |          regexp_extract_all(text, '(?s).'), c -> unicode(c))), 0)::DOUBLE
       |      / (w * h)::DOUBLE / 255.0::DOUBLE * 1000000.0::DOUBLE
       |      + 0.5::DOUBLE) / 1000000.0::DOUBLE AS brightness
       |FROM fr WHERE fi % $VideoStride = 0
       |ORDER BY media_id, frame_idx""".stripMargin

  /** Audio fingerprints over decoded PCM
    * ([[graft.ops.Multimodal.audioFingerprint]]): window-energy contour
    * vs clip mean, one bit per window, all-integer — the oracle rebuilds
    * every energy and comparison from the synth mapping, so one wrong
    * sample anywhere in the WAV decode chain flips a bit and fails the
    * hash.
    */
  def audioFingerprintQ(spark: SparkSession, dir: String): DataFrame =
    Multimodal.audioFingerprint(
        Multimodal.encodedAudioTable(
          Readers.table(spark, dir, "documents"), "doc_id", "text", "source"))
      // NOT pinned (r17): the energy contour is cheap relative to a
      // materialization (pin measured 0.157 -> 0.182 s at sf0.1)
      .orderBy("media_id")

  val audioFingerprintSql: String = {
    val W = Multimodal.FingerprintWindow
    val B = Multimodal.FingerprintMaxBits
    s"""WITH g AS (
       |  SELECT doc_id, regexp_extract_all(text, '(?s).') AS cs,
       |    CAST(octet_length(text::BLOB) AS INTEGER) AS n
       |  FROM documents
       |), e AS (
       |  SELECT doc_id,
       |    CAST(least(n // $W, $B) AS INTEGER) AS nw,
       |    list_transform(range(least(n // $W, $B)), w ->
       |      65536::BIGINT * list_sum(list_transform(
       |        cs[CAST(w * $W + 1 AS INTEGER):CAST(w * $W + $W AS INTEGER)],
       |        c -> CAST((unicode(c) - 128) * (unicode(c) - 128) AS BIGINT))))
       |      AS es
       |  FROM g
       |)
       |SELECT doc_id AS media_id, nw AS n_windows,
       |  CAST(COALESCE(list_sum(list_transform(range(nw), w ->
       |    CASE WHEN es[CAST(w AS INTEGER) + 1] * nw > list_sum(es)
       |         THEN 1::BIGINT << w ELSE 0::BIGINT END)), 0) AS BIGINT)
       |    AS fingerprint,
       |  CAST(COALESCE(list_sum(es), 0) AS BIGINT) AS energy_total
       |FROM e ORDER BY media_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "multimodal_binary" -> multimodalBinary,
    "multimodal_video" -> multimodalVideo,
    "audio_fingerprint" -> audioFingerprintQ,
    "image_phash" -> imagePhashQ,
    "image_phash_dedup" -> imagePhashDedupQ,
    "multimodal_features" -> multimodalFeatures,
    "multimodal_resize" -> multimodalResize,
    "multimodal_audio" -> multimodalAudio,
    "multimodal_quarantine" -> multimodalQuarantine
  )

  val oracle: Map[String, String] = Map(
    "multimodal_binary" -> multimodalBinarySql,
    "multimodal_video" -> multimodalVideoSql,
    "audio_fingerprint" -> audioFingerprintSql,
    "image_phash" -> imagePhashSql,
    "image_phash_dedup" -> imagePhashDedupSql,
    "multimodal_features" -> multimodalFeaturesSql,
    "multimodal_resize" -> multimodalResizeSql,
    "multimodal_audio" -> multimodalAudioSql,
    "multimodal_quarantine" -> multimodalQuarantineSql
  )
}
