package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: images/audio/video ride through the engine as
  * opaque `binary` columns with a typed metadata struct alongside, and the
  * codec layer is REAL end-to-end in pure JVM:
  *
  *  - images are genuine 8-bit grayscale PNGs — scanlines run through all
  *    five PNG filter types, zlib-compressed into IDAT
  *    (`java.util.zip.Deflater`), every chunk CRC-32-stamped; decode
  *    inflates IDAT, unfilters each scanline (None/Sub/Up/Average/Paeth
  *    reconstruction), and computes pixel statistics over the decoded
  *    raster.
  *  - audio is genuine RIFF/WAVE PCM — content bytes are synthesized into
  *    16-bit little-endian samples, and decode reads the samples back to
  *    compute RMS/peak levels and to recover the original bytes
  *    bit-exactly.
  *
  * The only synthetic aspect left is provenance: the pixel/sample values
  * derive deterministically from document text rather than a camera or
  * microphone, which is what makes a DuckDB oracle over the same parquet
  * able to predict every decoded statistic arithmetically.
  *
  * Scale notes: media blobs are large — the operators below never shuffle
  * the binary payload except where unavoidable (feature extraction is
  * map-only; downstream analytics should project the extracted features and
  * drop the blob before any join/agg). Batch shape: [[extractFeatures]]
  * iterates a partition in caller-defined batches, the same contract a GPU
  * inference step needs (`mapPartitions` ≈ `mapInPandas` batching in the
  * Python API).
  */
object Multimodal {

  /** Typed metadata carried next to the payload. */
  val metaSchema: StructType = StructType(Seq(
    StructField("mime", StringType),
    StructField("source", StringType),
    StructField("n_bytes", LongType)
  ))

  /** Row encoder of a media table: (media_id, media, meta). */
  private val mediaEncoder = org.apache.spark.sql.catalyst.encoders.RowEncoder
    .encoderFor(StructType(Seq(
      StructField("media_id", LongType),
      StructField("media", BinaryType),
      StructField("meta", metaSchema))))

  /** Feature record produced per media item. `n_bytes` counts decoded
    * raster bytes (width × height), not container bytes.
    */
  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("n_bytes", LongType),
    StructField("digest", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("brightness", DoubleType)
  ))

  /** Build a media table from any (id, payload-bytes-as-string) source —
    * the test harness derives one from `documents` (text bytes standing in
    * for an encoded image). Column shapes mirror a real ingest: payload as
    * `binary`, metadata as a struct.
    */
  def mediaTable(df: DataFrame, idCol: String, textCol: String,
                 sourceCol: String): DataFrame =
    df.select(
      col(idCol).as("media_id"),
      col(textCol).cast(BinaryType).as("media"),
      struct(
        lit("image/fake").as("mime"),
        col(sourceCol).as("source"),
        length(col(textCol)).cast(LongType).as("n_bytes")
      ).as("meta"))

  // ----------------------------------------------------------------- images

  /** Raster shape for `n` content bytes: rows of up to 64 grayscale pixels,
    * last row zero-padded (a 1×1 black pixel for empty content — PNG
    * requires dims ≥ 1). Mirrored arithmetically by the DuckDB oracles.
    */
  def imageDims(n: Int): (Int, Int) =
    if (n == 0) (1, 1)
    else {
      val w = math.min(n, 64)
      (w, (n + w - 1) / w)
    }

  private val PngSignature =
    Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a)

  /** Paeth predictor (PNG spec §9, filter type 4). */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Encode a REAL 8-bit grayscale PNG whose raster is `content` padded to
    * the [[imageDims]] rectangle. Scanlines cycle through all five PNG
    * filter types (row r uses filter r mod 5, with the genuine Sub / Up /
    * Average / Paeth arithmetic), the filtered stream is zlib-compressed
    * with `java.util.zip.Deflater`, and the result is split across IDAT
    * chunks so multi-IDAT concatenation is exercised. Every chunk carries
    * its true CRC-32 over type+data. [[decodePng]] reverses each step.
    */
  def encodePng(content: Array[Byte]): Array[Byte] = {
    val (w, h) = imageDims(content.length)
    encodeRaster(w, h, java.util.Arrays.copyOf(content, w * h))
  }

  /** Parse a PNG CONTAINER: verify the signature byte-by-byte, walk the
    * chunk list (big-endian length, 4-char type, data, CRC — every CRC-32
    * recomputed and checked), read the IHDR dims, and concatenate the IDAT
    * payload (still zlib-compressed — [[decodePng]] adds the codec layer).
    * Corrupt input fails loudly — exactly what a decode stage should do at
    * row level so the pipeline can route to a quarantine sink.
    */
  def parsePng(png: Array[Byte]): (Int, Int, Array[Byte]) = {
    require(png.length >= 8, "truncated PNG: missing signature")
    var i = 0
    while (i < 8) {
      require((png(i) & 0xff) == PngSignature(i), s"bad PNG signature byte $i")
      i += 1
    }
    def be(p: Int): Int = ((png(p) & 0xff) << 24) | ((png(p + 1) & 0xff) << 16) |
      ((png(p + 2) & 0xff) << 8) | (png(p + 3) & 0xff)
    var (w, h) = (-1, -1)
    val idat = new java.io.ByteArrayOutputStream()
    var p = 8
    while (p + 12 <= png.length) {
      val len = be(p)
      val typ = new String(png, p + 4, 4, "US-ASCII")
      require(len >= 0 && p + 12 + len <= png.length, s"truncated $typ chunk")
      val crc = new java.util.zip.CRC32()
      crc.update(png, p + 4, 4 + len)
      require(crc.getValue.toInt == be(p + 8 + len), s"CRC mismatch in $typ")
      typ match {
        case "IHDR" =>
          // dims live at data offsets 0/4 — a crafted short-length IHDR
          // (CRC stamped over fewer bytes) must not read past the chunk
          require(len == 13, s"bad IHDR length $len")
          w = be(p + 8); h = be(p + 12)
        case "IDAT" => idat.write(png, p + 8, len)
        case _      => () // ancillary chunks skipped, like a real decoder
      }
      p += 12 + len
    }
    require(w >= 0 && h >= 0, "no IHDR chunk")
    (w, h, idat.toByteArray)
  }

  /** Full PNG decode: container parse ([[parsePng]]), zlib inflate of the
    * IDAT stream (`java.util.zip.Inflater`), then per-scanline
    * reconstruction of all five filter types. Returns (width, height,
    * raster) where raster is the w×h grayscale pixel array. Truncated or
    * over-long compressed streams fail loudly.
    */
  /** Allocation guard for [[decodePng]]: a crafted IHDR could declare
    * dims like 2^30×2^30 and OOM the executor before any pixel data is
    * read — a real decoder caps the raster it will materialize. 64 MPx
    * is far above any thumbnail-pipeline input; oversized containers
    * fail loudly and route to quarantine like any other corruption.
    */
  val MaxPixels: Long = 1L << 26

  def decodePng(png: Array[Byte]): (Int, Int, Array[Byte]) = {
    val (w, h, idat) = parsePng(png)
    require(w >= 1 && h >= 1, s"non-positive IHDR dims ${w}x$h")
    require(w.toLong * h <= MaxPixels,
      s"raster ${w}x$h exceeds the $MaxPixels-pixel decode cap")
    val raw = new Array[Byte](h * (w + 1))
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat)
    var off = 0
    while (off < raw.length && !inflater.finished()) {
      // DataFormatException is checked and would escape the quarantine
      // catch (which routes IllegalArgumentException) — a CRC-valid chunk
      // can still carry a corrupt zlib stream, so rewrap it loudly
      val k =
        try inflater.inflate(raw, off, raw.length - off)
        catch {
          case e: java.util.zip.DataFormatException =>
            throw new IllegalArgumentException(
              s"corrupt zlib stream in IDAT: ${e.getMessage}")
        }
      // zero progress with output space left means the stream can never
      // complete: input exhausted (truncated), or the zlib header demands
      // a preset dictionary (FDICT) — looping again would spin forever
      require(k > 0 || inflater.finished(),
        if (inflater.needsDictionary())
          "IDAT zlib stream requires a preset dictionary"
        else "truncated IDAT zlib stream")
      off += k
    }
    require(off == raw.length,
      s"IDAT inflated to $off bytes, expected ${raw.length}")
    // the loop exits on a full buffer — probe once more so a stream that
    // would inflate PAST the raster (corrupt producer) fails loudly
    // instead of being silently prefix-decoded
    val probe =
      try inflater.inflate(new Array[Byte](1))
      catch {
        case e: java.util.zip.DataFormatException =>
          throw new IllegalArgumentException(
            s"corrupt zlib stream in IDAT: ${e.getMessage}")
      }
    require(probe == 0 && inflater.finished(),
      if (probe > 0) s"IDAT inflates past the ${raw.length}-byte raster"
      else "IDAT zlib stream missing its end-of-stream marker")
    inflater.end()
    val pixels = new Array[Byte](w * h)
    var r = 0
    while (r < h) {
      val f = raw(r * (w + 1)) & 0xff
      var i = 0
      while (i < w) {
        val v = raw(r * (w + 1) + 1 + i) & 0xff
        val left = if (i > 0) pixels(r * w + i - 1) & 0xff else 0
        val up = if (r > 0) pixels((r - 1) * w + i) & 0xff else 0
        val ul = if (r > 0 && i > 0) pixels((r - 1) * w + i - 1) & 0xff else 0
        val x = f match {
          case 0 => v
          case 1 => v + left
          case 2 => v + up
          case 3 => v + (left + up) / 2
          case 4 => v + paeth(left, up, ul)
          case other => throw new IllegalArgumentException(
            s"unknown PNG filter type $other in row $r")
        }
        pixels(r * w + i) = (x & 0xff).toByte
        i += 1
      }
      r += 1
    }
    (w, h, pixels)
  }

  /** [[mediaTable]] with the payload wrapped in the [[encodePng]]
    * container — the ingest shape where upstream hands the engine real
    * encoded files. Built per-partition (no shuffle); mime reflects the
    * container.
    */
  def encodedMediaTable(df: DataFrame, idCol: String, textCol: String,
                        sourceCol: String): DataFrame = {
    df.select(col(idCol).cast(LongType), col(textCol), col(sourceCol))
      .mapPartitions { rows =>
        rows.map { r =>
          val png = encodePng(
            Option(r.getString(1)).getOrElse("").getBytes("UTF-8"))
          Row(r.getLong(0), png,
            Row("image/png", r.getString(2), png.length.toLong))
        }
      }(mediaEncoder)
  }

  /** Per-partition batched feature extraction over a PNG media table
    * ([[encodedMediaTable]]): a FULL decode per row — container parse
    * (signature, chunk walk, CRC checks, big-endian IHDR dims), zlib
    * inflate, five-filter scanline reconstruction — and the features
    * describe the decoded RASTER: pixel count, md5 of the pixel bytes, and
    * mean brightness over every pixel. `batchSize` models an inference
    * micro-batch: the iterator is consumed in groups so a real model
    * binding would see fixed-size tensors. Pure mapPartitions — no
    * shuffle, blobs never leave their input partition.
    */
  private[ops] def md5Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(bytes).map("%02x".format(_)).mkString

  /** The one per-row decode→features computation, shared by the failing
    * ([[extractFeatures]]) and quarantine-routing ([[extractFeaturesSafe]])
    * extractors so the two pipelines cannot drift: full PNG decode, then
    * (n_pixels, digest-of-raster, width, height, mean brightness).
    * Brightness rounds half-away-from-zero at 1e-6 (math.rint is
    * half-EVEN, which diverges from SQL round() when the scaled value
    * lands on an exactly-representable .5).
    */
  private def pngFeatureValues(media: Array[Byte])
  : (Long, String, Int, Int, Double) = {
    val (w, h, pixels) = decodePng(media)
    var sum = 0L
    var i = 0
    while (i < pixels.length) { sum += pixels(i) & 0xff; i += 1 }
    val bright = sum.toDouble / pixels.length / 255.0
    (pixels.length.toLong, md5Hex(pixels), w, h,
      math.floor(bright * 1e6 + 0.5) / 1e6)
  }

  def extractFeatures(media: DataFrame, batchSize: Int = 64): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(featureSchema)
    media.select("media_id", "media").mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        // a real implementation hands `batch` to the model as one tensor
        batch.iterator.map { r =>
          val (n, digest, w, h, bright) =
            pngFeatureValues(r.getAs[Array[Byte]](1))
          Row(r.getLong(0), n, digest, w, h, bright)
        }
      }
    }(enc)
  }

  /** Feature record of the quarantine-routing extractor: decode failures
    * become DATA (ok=false + the decoder's message), never job failures.
    */
  val featureSafeSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("ok", BooleanType),
    StructField("error", StringType),
    StructField("n_bytes", LongType),
    StructField("digest", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("brightness", DoubleType)
  ))

  /** [[extractFeatures]] with row-level quarantine routing — the shape a
    * 100 TB ingest actually ships: a corrupt container must not kill the
    * job (one bad file in a billion would make the pipeline unrunnable),
    * and silently skipping it hides data loss. Each row decodes under a
    * catch; failures carry `ok=false` plus the decoder's loud message
    * (CRC mismatch, truncated chunk, bad signature…) so a downstream
    * filter routes them to a quarantine sink while clean rows carry the
    * usual decoded-pixel features. Same batched mapPartitions contract.
    */
  def extractFeaturesSafe(media: DataFrame,
                          batchSize: Int = 64): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(featureSafeSchema)
    media.select("media_id", "media").mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val id = r.getLong(0)
          try {
            val (n, digest, w, h, bright) =
              pngFeatureValues(r.getAs[Array[Byte]](1))
            Row(id, true, null, n, digest, w, h, bright)
          } catch {
            // NonFatal, not just IllegalArgumentException: a null payload
            // (NPE) or a decoder bug (AIOOBE) must ALSO become a
            // quarantine row — any escape here kills the whole job, the
            // exact outcome this path exists to prevent
            case scala.util.control.NonFatal(e) =>
              Row(id, false,
                Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
                  .stripPrefix("requirement failed: "),
                null, null, null, null, null)
          }
        }
      }
    }(enc)
  }

  /** Perceptual image hash (dHash): sample the decoded raster on an 8×9
    * grid (nearest-neighbor, the same floor arithmetic as [[resizeMedia]])
    * and emit one bit per horizontally-adjacent comparison — 8 rows × 8
    * comparisons = 64 bits. Near-identical images (crops of the same
    * scan, re-encodes, one-pixel edits) land within a few bits of each
    * other, which is what makes Hamming-banded image dedup work where
    * byte-level hashing can't. The hash is returned as two 32-bit halves
    * in BIGINTs (`phash_hi` bits 32-63, `phash_lo` bits 0-31) so the
    * arithmetic stays sign-free and oracle-mirrorable.
    *
    * Output: (media_id, phash_hi, phash_lo, width, height). Map-only over
    * the media table — the blob never shuffles; downstream dedup joins on
    * 16-bit hash bands, never on payloads.
    */
  def imagePhash(media: DataFrame, batchSize: Int = 64): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("phash_hi", LongType),
      StructField("phash_lo", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    media.select("media_id", "media").mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val (w, h, pixels) = decodePng(r.getAs[Array[Byte]](1))
          // 8 rows × 9 sampled columns; indices are always in-raster
          // (r·h/8 < h, c·w/9 < w)
          val s = new Array[Int](72)
          var i = 0
          while (i < 72) {
            val rr = i / 9; val cc = i % 9
            s(i) = pixels(((rr.toLong * h / 8) * w +
              (cc.toLong * w / 9)).toInt) & 0xff
            i += 1
          }
          var hi = 0L; var lo = 0L
          var b = 0
          while (b < 64) {
            val rr = b / 8; val cc = b % 8
            if (s(rr * 9 + cc + 1) > s(rr * 9 + cc)) {
              if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
            }
            b += 1
          }
          Row(r.getLong(0), hi, lo, w, h)
        }
      }
    }(enc)
  }

  /** Near-duplicate image pairs by banded perceptual hash: split the
    * 64-bit dHash into four 16-bit bands, bucket-join on (band index,
    * band value) — the LSH trick that makes this a hash-equi-join whose
    * work scales with collisions, never an all-pairs product — then keep
    * candidate pairs within `maxDist` Hamming bits. A pair must share at
    * least one exact band to be SEEN (standard banding recall: ≤ maxDist
    * errors spread over all four bands can hide a pair), which the
    * oracle mirrors as `(∃ shared band) AND hamming ≤ maxDist`.
    */
  def imagePhashDedup(phash: DataFrame, maxDist: Int): DataFrame = {
    val banded = phash.select(col("media_id"), col("phash_hi"),
      col("phash_lo"),
      explode(array(
        struct(lit(0).as("band_idx"),
          col("phash_lo").bitwiseAND(65535L).as("band_val")),
        struct(lit(1).as("band_idx"),
          shiftright(col("phash_lo"), 16).as("band_val")),
        struct(lit(2).as("band_idx"),
          col("phash_hi").bitwiseAND(65535L).as("band_val")),
        struct(lit(3).as("band_idx"),
          shiftright(col("phash_hi"), 16).as("band_val"))
      )).as("band"))
      .select(col("media_id"), col("phash_hi"), col("phash_lo"),
        col("band.band_idx"), col("band.band_val"))
    val a = banded.select(col("media_id").as("id_a"),
      col("phash_hi").as("hi_a"), col("phash_lo").as("lo_a"),
      col("band_idx"), col("band_val"))
    val b = banded.select(col("media_id").as("id_b"),
      col("phash_hi").as("hi_b"), col("phash_lo").as("lo_b"),
      col("band_idx"), col("band_val"))
    a.join(b, Seq("band_idx", "band_val"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "hi_a", "lo_a", "hi_b", "lo_b").distinct()
      .withColumn("hamming",
        (bit_count(expr("hi_a ^ hi_b")) +
          bit_count(expr("lo_a ^ lo_b"))).cast(IntegerType))
      .where(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  /** Resized raster shape: clamp each axis to the target independently
    * (a thumbnail grid cell, not aspect-preserving). Integer arithmetic so
    * the oracle can mirror it.
    */
  def resizeDims(w: Int, h: Int, targetW: Int, targetH: Int): (Int, Int) =
    (math.min(w, targetW), math.min(h, targetH))

  /** REAL image resize, batched per partition: full PNG decode, nearest-
    * neighbor resample onto the [[resizeDims]] grid (source index
    * `(r·h)/h' , (c·w)/w'` — pure integer floor arithmetic, mirrored by
    * the oracle), then re-encode through the real PNG writer. Output
    * schema mirrors the input (media_id, media, meta) with the payload and
    * meta.n_bytes replaced; same inference-shaped `mapPartitions` contract
    * as [[extractFeatures]] — blobs never shuffle.
    */
  def resizeMedia(media: DataFrame, targetW: Int, targetH: Int,
                  batchSize: Int = 64): DataFrame = {
    media.select("media_id", "media", "meta").mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val meta = r.getStruct(2)
          val (w, h, pixels) = decodePng(r.getAs[Array[Byte]](1))
          val (w2, h2) = resizeDims(w, h, targetW, targetH)
          val resized = new Array[Byte](w2 * h2)
          var rr = 0
          while (rr < h2) {
            // long intermediate: rr*h overflows Int for tall rasters the
            // 64-MPx cap still allows (e.g. 1 x 2^26 at rr >= 32)
            val sr = (rr.toLong * h / h2).toInt
            var cc = 0
            while (cc < w2) {
              resized(rr * w2 + cc) = pixels(sr * w + (cc.toLong * w / w2).toInt)
              cc += 1
            }
            rr += 1
          }
          // re-encode via the raster path: encodePng pads content to the
          // imageDims grid, so wrap the raw raster directly
          val png = encodeRaster(w2, h2, resized)
          Row(r.getLong(0), png,
            Row(meta.getString(0), meta.getString(1), png.length.toLong))
        }
      }
    }(mediaEncoder)
  }

  /** The PNG writer proper: filter (all five types, cycling per row),
    * deflate, chunk. [[encodePng]] pads content to the [[imageDims]] grid
    * and calls this; [[resizeMedia]] re-encodes through it directly.
    */
  def encodeRaster(w: Int, h: Int, pixels: Array[Byte]): Array[Byte] = {
    require(pixels.length == w * h, "raster size != w*h")
    val raw = new Array[Byte](h * (w + 1))
    var r = 0
    while (r < h) {
      val f = r % 5
      raw(r * (w + 1)) = f.toByte
      var i = 0
      while (i < w) {
        val x = pixels(r * w + i) & 0xff
        val left = if (i > 0) pixels(r * w + i - 1) & 0xff else 0
        val up = if (r > 0) pixels((r - 1) * w + i) & 0xff else 0
        val ul = if (r > 0 && i > 0) pixels((r - 1) * w + i - 1) & 0xff else 0
        val v = f match {
          case 0 => x
          case 1 => x - left
          case 2 => x - up
          case 3 => x - (left + up) / 2
          case _ => x - paeth(left, up, ul)
        }
        raw(r * (w + 1) + 1 + i) = (v & 0xff).toByte
        i += 1
      }
      r += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val zbuf = new Array[Byte](8192)
    val z = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    while (!deflater.finished()) {
      val k = deflater.deflate(zbuf)
      z.write(zbuf, 0, k)
    }
    deflater.end()
    val idat = z.toByteArray
    val out = new java.io.ByteArrayOutputStream(idat.length + 69)
    PngSignature.foreach(out.write)
    def be(v: Int): Array[Byte] = Array(
      (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      out.write(be(data.length), 0, 4)
      val tb = typ.getBytes("US-ASCII")
      out.write(tb, 0, 4)
      out.write(data, 0, data.length)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      out.write(be(crc.getValue.toInt), 0, 4)
    }
    chunk("IHDR", be(w) ++ be(h) ++ Array[Byte](8, 0, 0, 0, 0))
    idat.grouped(4096).foreach(part => chunk("IDAT", part))
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  // ------------------------------------------------------------------ audio

  /** Audio feature record produced per media item. `n_bytes` counts PCM
    * data-chunk bytes; `digest` is the md5 of the RECOVERED content bytes
    * (channel-0 samples inverted through the synth mapping — proves the
    * decode is bit-exact); `rms`/`peak` are real sample statistics
    * normalized to [0, 1].
    */
  val audioFeatureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("n_bytes", LongType),
    StructField("digest", StringType),
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("duration_ms", DoubleType),
    StructField("rms", DoubleType),
    StructField("peak", DoubleType)
  ))

  /** Synthesize REAL 16-bit PCM from content bytes and wrap it in a
    * structurally real RIFF/WAVE container — the little-endian complement
    * of [[encodePng]]'s big-endian layer: `RIFF`+size+`WAVE`, a 16-byte
    * PCM `fmt ` chunk (format tag 1, channels, sample rate, derived byte
    * rate / block align, 16 bits), a junk `LIST` chunk the parser must
    * skip, then the `data` chunk. Each content byte b becomes one frame
    * whose sample value is `(b − 128) · 256` (centered, scaled to int16)
    * duplicated across channels, serialized little-endian — so
    * [[extractAudioFeatures]] can decode genuine samples AND invert the
    * mapping to recover the content bit-exactly.
    */
  def encodeWav(content: Array[Byte], sampleRate: Int,
                channels: Int): Array[Byte] = {
    def le32(v: Int): Array[Byte] = Array(
      v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte)
    def le16(v: Int): Array[Byte] = Array(v.toByte, (v >>> 8).toByte)
    val byteRate = sampleRate * channels * 2
    val blockAlign = channels * 2
    val fmt = le16(1) ++ le16(channels) ++ le32(sampleRate) ++
      le32(byteRate) ++ le16(blockAlign) ++ le16(16)
    // Deliberately ODD-length LIST payload: PCM synthesis makes the data
    // chunk always even (content.length · channels · 2), so this chunk is
    // what keeps the RIFF word-alignment pad path — encoder pad byte AND
    // parseWav's `len % 2` walk — exercised by every generated container.
    val junk = "INFOengine!".getBytes("US-ASCII")
    val junkPad = junk.length % 2
    // PCM data: one frame per content byte, sample replicated per channel
    val data = new Array[Byte](content.length * channels * 2)
    var i = 0
    while (i < content.length) {
      val s = ((content(i) & 0xff) - 128) * 256 // int16 range, exact inverse
      var c = 0
      while (c < channels) {
        val p = (i * channels + c) * 2
        data(p) = s.toByte
        data(p + 1) = (s >> 8).toByte
        c += 1
      }
      i += 1
    }
    val dataPad = data.length % 2
    val riffSize = 4 + (8 + fmt.length) + (8 + junk.length + junkPad) +
      (8 + data.length + dataPad)
    val out = new java.io.ByteArrayOutputStream(riffSize + 8)
    def ascii(s: String): Unit =
      out.write(s.getBytes("US-ASCII"), 0, 4)
    ascii("RIFF"); out.write(le32(riffSize), 0, 4); ascii("WAVE")
    ascii("fmt "); out.write(le32(fmt.length), 0, 4)
    out.write(fmt, 0, fmt.length)
    ascii("LIST"); out.write(le32(junk.length), 0, 4)
    out.write(junk, 0, junk.length)
    if (junkPad == 1) out.write(0)
    ascii("data"); out.write(le32(data.length), 0, 4)
    out.write(data, 0, data.length)
    if (dataPad == 1) out.write(0)
    out.toByteArray
  }

  /** Parse a RIFF/WAVE container for real: verify both magics, walk the
    * chunk list (little-endian sizes, word-aligned — odd chunks consume
    * their pad byte), read the PCM `fmt ` fields, require the declared
    * RIFF size to match the walked extent, skip unknown chunks exactly as
    * a decoder must. Returns (sampleRate, channels, data). Corrupt input
    * fails loudly for row-level quarantine routing.
    */
  def parseWav(wav: Array[Byte]): (Int, Int, Array[Byte]) = {
    require(wav.length >= 12, "truncated WAV: missing RIFF header")
    def le32(p: Int): Int = (wav(p) & 0xff) | ((wav(p + 1) & 0xff) << 8) |
      ((wav(p + 2) & 0xff) << 16) | ((wav(p + 3) & 0xff) << 24)
    def le16(p: Int): Int = (wav(p) & 0xff) | ((wav(p + 1) & 0xff) << 8)
    def tag(p: Int): String = new String(wav, p, 4, "US-ASCII")
    require(tag(0) == "RIFF", "bad RIFF magic")
    require(le32(4) == wav.length - 8, "RIFF size != container extent")
    require(tag(8) == "WAVE", "bad WAVE magic")
    var (rate, channels) = (-1, -1)
    var data: Array[Byte] = null
    var p = 12
    while (p + 8 <= wav.length) {
      val typ = tag(p)
      val len = le32(p + 4)
      require(len >= 0 && p + 8 + len <= wav.length, s"truncated $typ chunk")
      typ match {
        case "fmt " =>
          require(len >= 16, "short fmt chunk")
          require(le16(p + 8) == 1, "not PCM")
          channels = le16(p + 10)
          rate = le32(p + 12)
        case "data" => data = java.util.Arrays.copyOfRange(wav, p + 8, p + 8 + len)
        case _      => () // LIST/JUNK etc. skipped, like a real decoder
      }
      p += 8 + len + (len % 2) // chunks are word-aligned
    }
    require(rate > 0 && channels > 0, "no fmt chunk")
    require(data != null, "no data chunk")
    (rate, channels, data)
  }

  /** [[mediaTable]] with the payload wrapped in [[encodeWav]] — the audio
    * ingest twin of [[encodedMediaTable]]. Sample rate and channel count
    * vary deterministically per id so the parse path is exercised across
    * fmt values. Built per-partition, no shuffle.
    */
  def encodedAudioTable(df: DataFrame, idCol: String, textCol: String,
                        sourceCol: String): DataFrame = {
    df.select(col(idCol).cast(LongType), col(textCol), col(sourceCol))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val wav = encodeWav(
            Option(r.getString(1)).getOrElse("").getBytes("UTF-8"),
            sampleRate = 8000 * (1 + (id % 3).toInt),
            channels = 1 + (id % 2).toInt)
          Row(id, wav, Row("audio/wav", r.getString(2), wav.length.toLong))
        }
      }(mediaEncoder)
  }

  /** Batched per-partition audio feature extraction over a WAV media
    * table: container parse (magics, LE chunk walk, fmt fields, pad
    * bytes, size check) PLUS a real PCM decode — little-endian int16
    * samples are read back, RMS and peak levels computed over every
    * sample (normalized by 2^15), duration from the frame count and
    * parsed rate, and the original content bytes RECOVERED by inverting
    * the synth mapping (`(s >> 8) + 128`, channel 0) — the md5 digest is
    * over those recovered bytes, so a single bit error anywhere in the
    * codec chain fails the oracle. Same inference-shaped `mapPartitions`
    * batching as [[extractFeatures]]; blobs never shuffle.
    */
  def extractAudioFeatures(media: DataFrame,
                           batchSize: Int = 64): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(audioFeatureSchema)
    media.select("media_id", "media").mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val id = r.getLong(0)
          val (rate, channels, data) = parseWav(r.getAs[Array[Byte]](1))
          require(data.length % (2 * channels) == 0,
            "PCM data not frame-aligned")
          val nSamples = data.length / 2
          val nFrames = nSamples / channels
          var sumSq = 0L
          var peakAbs = 0
          val recovered = new Array[Byte](nFrames)
          var s = 0
          while (s < nSamples) {
            val lo = data(2 * s) & 0xff
            val hi = data(2 * s + 1).toInt // sign-extends
            val v = (hi << 8) | lo
            sumSq += v.toLong * v
            if (math.abs(v) > peakAbs) peakAbs = math.abs(v)
            if (s % channels == 0) recovered(s / channels) = ((v >> 8) + 128).toByte
            s += 1
          }
          val durationMs = nFrames.toDouble * 1000.0 / rate
          val rms =
            if (nSamples == 0) 0.0
            else math.sqrt(sumSq.toDouble / nSamples) / 32768.0
          val peak = peakAbs.toDouble / 32768.0
          val digest = md5Hex(recovered)
          // half-away-from-zero rounding, as extractFeatures documents
          Row(id, data.length.toLong, digest, rate, channels,
            math.floor(durationMs * 1e3 + 0.5) / 1e3,
            math.floor(rms * 1e6 + 0.5) / 1e6,
            math.floor(peak * 1e6 + 0.5) / 1e6)
        }
      }
    }(enc)
  }

  // ------------------------------------------------------------------ video

  /** Video container: `GVID` magic, big-endian u32 frame count, u32
    * per-frame byte lengths (the seek index — what lets a decoder sample
    * frame f WITHOUT parsing frames 0..f−1), then the frames back-to-back,
    * each a REAL PNG ([[encodePng]]). Frame f's raster is the content
    * rotated left by f bytes — same byte multiset every frame (so
    * brightness is constant across frames, a property the oracle checks),
    * different raster order (so each frame's pixel digest is distinct and
    * any frame-indexing bug breaks the oracle).
    */
  def encodeVideo(content: Array[Byte], nFrames: Int): Array[Byte] = {
    require(nFrames >= 1, "video needs at least one frame")
    val frames = (0 until nFrames).map { f =>
      val rot = new Array[Byte](content.length)
      var i = 0
      while (i < content.length) {
        rot(i) = content((i + f) % content.length); i += 1
      }
      encodePng(if (content.isEmpty) content else rot)
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write('G'); out.write('V'); out.write('I'); out.write('D')
    def be(v: Int): Unit = {
      out.write(v >>> 24); out.write((v >>> 16) & 0xff)
      out.write((v >>> 8) & 0xff); out.write(v & 0xff)
    }
    be(nFrames)
    frames.foreach(fr => be(fr.length))
    frames.foreach(fr => out.write(fr, 0, fr.length))
    out.toByteArray
  }

  /** Parse the container: magic, frame count, index walk, extent check.
    * Returns the frame payloads (still PNG-encoded). Corrupt input fails
    * loudly for quarantine routing, like every decoder here.
    */
  def parseVideo(video: Array[Byte]): Seq[Array[Byte]] = {
    require(video.length >= 8, "truncated GVID header")
    require(video(0) == 'G' && video(1) == 'V' && video(2) == 'I' &&
      video(3) == 'D', "bad GVID magic")
    def be(p: Int): Int = ((video(p) & 0xff) << 24) | ((video(p + 1) & 0xff) << 16) |
      ((video(p + 2) & 0xff) << 8) | (video(p + 3) & 0xff)
    val n = be(4)
    require(n >= 1 && n <= 100000, s"implausible frame count $n")
    require(video.length >= 8 + 4 * n, "truncated GVID index")
    val lens = (0 until n).map(i => be(8 + 4 * i))
    require(lens.forall(_ >= 0), "negative frame length")
    require(lens.map(_.toLong).sum == video.length - 8 - 4L * n,
      "GVID index does not cover the container extent")
    var off = 8 + 4 * n
    lens.map { len =>
      val fr = java.util.Arrays.copyOfRange(video, off, off + len)
      off += len
      fr
    }
  }

  /** [[mediaTable]] with payloads wrapped as [[encodeVideo]] containers —
    * frame count varies per id (2–4) so the index walk is exercised.
    */
  def encodedVideoTable(df: DataFrame, idCol: String, textCol: String,
                        sourceCol: String): DataFrame = {
    df.select(col(idCol).cast(LongType), col(textCol), col(sourceCol))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val vid = encodeVideo(
            Option(r.getString(1)).getOrElse("").getBytes("UTF-8"),
            nFrames = 2 + (id % 3).toInt)
          Row(id, vid, Row("video/gvid", r.getString(2), vid.length.toLong))
        }
      }(mediaEncoder)
  }

  val videoFrameSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("n_frames", IntegerType),
    StructField("frame_idx", IntegerType),
    StructField("digest", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("brightness", DoubleType)))

  /** Frame-sampled video decode: seek via the index to every `stride`-th
    * frame, full PNG decode of ONLY those frames (the skipped ones are
    * never inflated — at production bitrates that is most of the work),
    * per-frame digest + brightness over decoded pixels. One output row
    * per sampled frame; batched mapPartitions, blobs never shuffle.
    */
  def extractVideoFrames(media: DataFrame, stride: Int,
                         batchSize: Int = 64): DataFrame = {
    require(stride >= 1, "stride must be >= 1")
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(videoFrameSchema)
    media.select("media_id", "media").mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { r =>
          val id = r.getLong(0)
          val frames = parseVideo(r.getAs[Array[Byte]](1))
          frames.indices.filter(_ % stride == 0).map { f =>
            val (n, digest, w, h, bright) = pngFeatureValues(frames(f))
            Row(id, frames.length, f, digest, w, h, bright)
          }
        }
      }
    }(enc)
  }

  val FingerprintWindow  = 16 // samples per energy window
  val FingerprintMaxBits = 48 // fingerprint length cap (fits a BIGINT)

  val audioFingerprintSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("n_windows", IntegerType),
    StructField("fingerprint", LongType),
    StructField("energy_total", LongType)))

  /** Audio fingerprint from DECODED PCM — the audio analogue of
    * [[imagePhash]]: channel-0 samples are cut into 16-sample windows,
    * each window's energy (Σ sample², exact 64-bit integers) compared to
    * the clip mean, one bit per window (capped at 48). The compare is
    * `energy·n_windows > total` — pure integer arithmetic, so both
    * engines agree bit-for-bit with no float mean. Same loudness-shape
    * robustness idea as production audio fingerprints (energy contour
    * vs. its own mean), minus the FFT; map-only, blobs never shuffle.
    */
  def audioFingerprint(media: DataFrame, batchSize: Int = 64): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(audioFingerprintSchema)
    media.select("media_id", "media").mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val (_, channels, data) = parseWav(r.getAs[Array[Byte]](1))
          val nFrames = data.length / 2 / channels
          val nw = math.min(nFrames / FingerprintWindow, FingerprintMaxBits)
          val energies = new Array[Long](nw)
          var w = 0
          while (w < nw) {
            var e = 0L
            var i = 0
            while (i < FingerprintWindow) {
              val f = w * FingerprintWindow + i
              val p = f * channels * 2 // channel 0 of frame f
              val v = ((data(p + 1).toInt << 8) | (data(p) & 0xff)).toLong
              e += v * v
              i += 1
            }
            energies(w) = e
            w += 1
          }
          val total = energies.sum
          var fp = 0L
          w = 0
          while (w < nw) {
            if (energies(w) * nw > total) fp |= 1L << w
            w += 1
          }
          Row(r.getLong(0), nw, fp, total)
        }
      }
    }(enc)
  }

  /** "Frame sampling": cut the payload into fixed-size slices and keep every
    * `stride`-th one — the video-frame analogue, as pure column expressions.
    */
  def sampleFrames(media: DataFrame, frameBytes: Int, stride: Int): DataFrame =
    media.withColumn("frames",
      when(octet_length(col("media")) === 0,
        array().cast("array<binary>"))   // empty payload → zero frames
      .otherwise(filter(
        transform(
          sequence(lit(0L),
            greatest(floor((octet_length(col("media")) - lit(1)) / lit(frameBytes))
              .cast("long"), lit(0L))),
          i => substring(col("media"), (i * frameBytes + 1).cast("int"),
            lit(frameBytes))),
        (_, i) => i % stride === 0)))
}
