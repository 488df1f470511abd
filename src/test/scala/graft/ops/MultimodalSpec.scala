package graft.ops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "hello world payload", "srcA"),
    (2L, "x", "srcB"),
    (3L, "a" * 100, "srcA"),
    (4L, "", "srcB")
  ).toDF("doc_id", "text", "source")

  private def md5hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(bytes).map("%02x".format(_)).mkString

  test("mediaTable: binary payload + typed metadata struct") {
    val m = Multimodal.mediaTable(docs, "doc_id", "text", "source")
    assert(m.schema("media").dataType.typeName == "binary")
    val r = m.filter($"media_id" === 1L)
      .select($"meta.mime", $"meta.source", $"meta.n_bytes",
        octet_length($"media"))
      .collect()(0)
    assert(r.getString(0) == "image/fake" && r.getString(1) == "srcA")
    assert(r.getLong(2) == 19L && r.getInt(3) == 19)
  }

  test("PNG encode/decode round-trips the raster through real filters + zlib") {
    // 100 bytes → 64×2 raster: rows exercise filter types 0 (None) and
    // 1 (Sub); the pad bytes in row 2 make Sub/Up reconstruction visible
    val content = Array.tabulate(100)(i => ((i * 37 + 11) % 256).toByte)
    val png = Multimodal.encodePng(content)
    // real signature bytes
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P' && png(2) == 'N')
    val (w, h, pixels) = Multimodal.decodePng(png)
    assert((w, h) == Multimodal.imageDims(100))
    assert(w == 64 && h == 2)
    assert(pixels.length == w * h)
    assert(pixels.take(100).sameElements(content))
    assert(pixels.drop(100).forall(_ == 0))
  }

  test("PNG decode reconstructs all five filter types") {
    // 64*6=384 bytes → 64×6 raster: rows use filters 0,1,2,3,4,0
    val content = Array.tabulate(384)(i => ((i * i + 7 * i) % 256).toByte)
    val (w, h) = Multimodal.imageDims(384)
    assert(h == 6)
    val (_, _, pixels) = Multimodal.decodePng(Multimodal.encodePng(content))
    assert(pixels.sameElements(content))
    // and the compressed stream is genuinely zlib: IDAT != raw content
    val (_, _, idat) = Multimodal.parsePng(Multimodal.encodePng(content))
    assert(!idat.sameElements(content))
    assert((idat(0) & 0x0f) == 8) // zlib CMF: deflate window
  }

  test("PNG parse rejects corruption loudly (CRC)") {
    val png = Multimodal.encodePng("the quick brown fox".getBytes("UTF-8"))
    val corrupt = png.clone()
    corrupt(45) = (corrupt(45) ^ 0x01).toByte // inside IDAT data
    val e = intercept[IllegalArgumentException](Multimodal.parsePng(corrupt))
    assert(e.getMessage.contains("CRC") || e.getMessage.contains("chunk"))
  }

  test("extractFeatures: batched mapPartitions, stats over DECODED pixels") {
    val m = Multimodal.encodedMediaTable(docs, "doc_id", "text", "source")
    // the payload really is a PNG container, bigger than a bare raster
    val payloadLen = m.filter($"media_id" === 1L)
      .select(octet_length($"media")).as[Int].collect()(0)
    assert(payloadLen > 19)
    val f = Multimodal.extractFeatures(m, batchSize = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(f.size == 4)
    val r1 = f(1L)
    // 19 bytes → 19×1 raster, no padding
    assert(r1.getLong(1) == 19L && r1.getInt(3) == 19 && r1.getInt(4) == 1)
    val content = "hello world payload".getBytes("UTF-8")
    assert(r1.getString(2) == md5hex(content))
    val bright = content.map(_ & 0xff).sum.toDouble / 19 / 255.0
    assert(r1.getDouble(5) == math.floor(bright * 1e6 + 0.5) / 1e6)
    // doc3: 100 bytes → 64×2 with 28 zero-pad pixels in the digest + mean
    val r3 = f(3L)
    assert(r3.getLong(1) == 128L && r3.getInt(3) == 64 && r3.getInt(4) == 2)
    assert(r3.getString(2) == md5hex(("a" * 100).getBytes ++ Array.fill[Byte](28)(0)))
    // doc4: empty → 1×1 black pixel
    val r4 = f(4L)
    assert(r4.getLong(1) == 1L && r4.getString(2) == md5hex(Array[Byte](0)))
    assert(r4.getDouble(5) == 0.0)
  }

  test("resizeMedia: real nearest-neighbor resample, re-encoded as PNG") {
    val m = Multimodal.encodedMediaTable(docs, "doc_id", "text", "source")
    val out = Multimodal.extractFeatures(
        Multimodal.resizeMedia(m, targetW = 8, targetH = 4))
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc3: 64×2 → 8×2; source pixel (r·2/2)·64 + (c·64/8) = all 'a' region
    val r3 = out(3L)
    assert(r3.getInt(3) == 8 && r3.getInt(4) == 2 && r3.getLong(1) == 16L)
    val expected = Array.tabulate(16) { i =>
      val (rr, cc) = (i / 8, i % 8)
      val src = (rr * 2 / 2) * 64 + cc * 64 / 8
      if (src < 100) 'a'.toByte else 0.toByte
    }
    assert(r3.getString(2) == md5hex(expected))
    // doc2: 1×1 stays 1×1 and the pixel survives the double re-encode
    val r2 = out(2L)
    assert(r2.getInt(3) == 1 && r2.getInt(4) == 1)
    assert(r2.getString(2) == md5hex(Array('x'.toByte)))
    // deterministic: same input → same container bytes
    val a = Multimodal.resizeMedia(m, 8, 4).filter($"media_id" === 3L)
      .select(md5($"media")).as[String].collect()(0)
    val b = Multimodal.resizeMedia(m, 8, 4).filter($"media_id" === 3L)
      .select(md5($"media")).as[String].collect()(0)
    assert(a == b)
  }

  test("sampleFrames: slicing and stride arithmetic") {
    val m = Multimodal.mediaTable(docs, "doc_id", "text", "source")
    val framed = Multimodal.sampleFrames(m, frameBytes = 8, stride = 2)
      .select($"media_id", size($"frames").as("n"))
      .as[(Long, Int)].collect().toMap
    // doc1: 19 bytes → slices ceil(19/8)=3 (i=0,1,2) → kept i∈{0,2} = 2
    assert(framed(1L) == 2)
    // doc2: 1 byte → 1 slice → kept 1
    assert(framed(2L) == 1)
    // doc3: 100 bytes → 13 slices → kept i∈{0,2,..,12} = 7
    assert(framed(3L) == 7)
    // doc4: empty payload → zero frames (matches the oracle arithmetic)
    assert(framed(4L) == 0)
    // frame contents are the real byte slices
    val frames = Multimodal.sampleFrames(m, 8, 2)
      .filter($"media_id" === 1L)
      .select(transform($"frames", b => b.cast("string")))
      .as[Seq[String]].collect()(0)
    // slices: i=0 "hello wo", i=1 "rld payl" (dropped), i=2 "oad"
    assert(frames == Seq("hello wo", "oad"))
  }

  test("WAV synthesizes real int16 PCM; container round-trips") {
    val content = "pcm-ish payload bytes".getBytes("UTF-8") // 21 bytes
    val wav = Multimodal.encodeWav(content, sampleRate = 16000, channels = 2)
    val (rate, ch, data) = Multimodal.parseWav(wav)
    assert(rate == 16000 && ch == 2)
    // 21 frames × 2 channels × 2 bytes
    assert(data.length == 84)
    // first sample: ('p' − 128) · 256, little-endian, duplicated on ch 2
    val s0 = ((data(1) << 8) | (data(0) & 0xff)).toShort.toInt
    val s1 = ((data(3) << 8) | (data(2) & 0xff)).toShort.toInt
    assert(s0 == ('p'.toInt - 128) * 256 && s1 == s0)
    // declared RIFF size matches the container extent (parse enforces it)
    assert(((wav(4) & 0xff) | ((wav(5) & 0xff) << 8) |
      ((wav(6) & 0xff) << 16) | ((wav(7) & 0xff) << 24)) == wav.length - 8)
  }

  test("WAV parse rejects corruption loudly") {
    val wav = Multimodal.encodeWav("abcd".getBytes("UTF-8"), 8000, 1)
    intercept[IllegalArgumentException] {
      Multimodal.parseWav(wav.take(10)) // truncated header
    }
    val badMagic = wav.clone(); badMagic(8) = 'X'.toByte
    intercept[IllegalArgumentException](Multimodal.parseWav(badMagic))
    val badSize = wav.clone(); badSize(4) = (badSize(4) + 1).toByte
    intercept[IllegalArgumentException](Multimodal.parseWav(badSize))
  }

  test("extractAudioFeatures: real sample stats + bit-exact recovery") {
    val docs = Seq((1L, "hello world", "s1"), (2L, "x", "s2"))
      .toDF("doc_id", "text", "source")
    val out = Multimodal.extractAudioFeatures(
        Multimodal.encodedAudioTable(docs, "doc_id", "text", "source"),
        batchSize = 1)
      .orderBy("media_id")
      .collect()
    // id 1: rate 8000*(1+1%3)=16000, channels 1+1%2=2, 11 frames → 44 bytes
    val r1 = out(0)
    assert(r1.getLong(1) == 44L && r1.getInt(3) == 16000 && r1.getInt(4) == 2)
    // digest certifies the decode→invert chain: md5 of the original text
    assert(r1.getString(2) == md5hex("hello world".getBytes("UTF-8")))
    // duration = frames/rate: 11·1000/16000 ms, half-away at 1e-3
    assert(r1.getDouble(5) == math.floor(11.0 * 1000 / 16000 * 1e3 + 0.5) / 1e3)
    // rms over the real samples (channel duplicates don't change the mean)
    val sumSq = "hello world".getBytes.map(b => {
      val s = ((b & 0xff) - 128) * 256L; s * s
    }).sum * 2 // two channels
    val rms = math.sqrt(sumSq.toDouble / 22) / 32768.0
    assert(r1.getDouble(6) == math.floor(rms * 1e6 + 0.5) / 1e6)
    // id 2: single 'x' sample: rms == peak == |('x'−128)·256|/32768
    val r2 = out(1)
    assert(r2.getInt(3) == 24000 && r2.getInt(4) == 1)
    val amp = math.abs(('x'.toInt - 128) * 256) / 32768.0
    assert(r2.getDouble(6) == math.floor(amp * 1e6 + 0.5) / 1e6)
    assert(r2.getDouble(7) == math.floor(amp * 1e6 + 0.5) / 1e6)
    assert(r2.getString(2) == md5hex("x".getBytes("UTF-8")))
  }

  test("decodePng survives fuzzing: loud IAE or success, never a crash") {
    val rnd = new scala.util.Random(99)
    val base = Multimodal.encodePng(
      Array.tabulate(200)(i => (i * 31 % 256).toByte))
    for (_ <- 1 to 500) {
      val m = base.clone()
      // mutate 1-4 random bytes anywhere in the container
      for (_ <- 0 to rnd.nextInt(4)) {
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      }
      try { Multimodal.decodePng(m); () }
      catch { case _: IllegalArgumentException => () } // only loud failures
    }
    for (_ <- 1 to 200) { // pure garbage of random sizes
      val g = Array.fill(rnd.nextInt(120))(rnd.nextInt(256).toByte)
      try { Multimodal.decodePng(g); () }
      catch { case _: IllegalArgumentException => () }
    }
  }

  test("parseWav and parseVideo survive fuzzing: loud IAE or success") {
    val rnd = new scala.util.Random(7)
    val wav = Multimodal.encodeWav(
      Array.tabulate(200)(i => (i * 13 % 256).toByte), 16000, 2)
    for (_ <- 1 to 400) {
      val m = wav.clone()
      for (_ <- 0 to rnd.nextInt(4))
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      try { Multimodal.parseWav(m); () }
      catch { case _: IllegalArgumentException => () } // only loud failures
    }
    val vid = Multimodal.encodeVideo(
      Array.tabulate(80)(i => (i * 29 % 256).toByte), 3)
    for (_ <- 1 to 400) {
      val m = vid.clone()
      for (_ <- 0 to rnd.nextInt(4))
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      try { Multimodal.parseVideo(m).foreach(Multimodal.decodePng); () }
      catch { case _: IllegalArgumentException => () }
    }
    for (_ <- 1 to 200) { // pure garbage of random sizes
      val g = Array.fill(rnd.nextInt(100))(rnd.nextInt(256).toByte)
      try { Multimodal.parseWav(g); () }
      catch { case _: IllegalArgumentException => () }
      try { Multimodal.parseVideo(g); () }
      catch { case _: IllegalArgumentException => () }
    }
  }

  test("decodePng caps the raster allocation from a crafted IHDR") {
    // rewrite the IHDR of a valid container to claim 65536 x 65536 and
    // restamp the chunk CRC so only the dims are "wrong"
    val png = Multimodal.encodePng("dims bomb".getBytes("UTF-8")).clone()
    def putBE(p: Int, v: Int): Unit = {
      png(p) = (v >>> 24).toByte; png(p + 1) = (v >>> 16).toByte
      png(p + 2) = (v >>> 8).toByte; png(p + 3) = v.toByte
    }
    putBE(16, 65536); putBE(20, 65536) // IHDR data starts at offset 16
    val crc = new java.util.zip.CRC32()
    crc.update(png, 12, 4 + 13) // type + IHDR data
    putBE(12 + 4 + 13, crc.getValue.toInt)
    val e = intercept[IllegalArgumentException](Multimodal.decodePng(png))
    assert(e.getMessage.contains("decode cap"))
    // and the quarantine path turns it into a row, not a job failure
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, png)).toDF("media_id", "media")
    val r = Multimodal.extractFeaturesSafe(df).collect()(0)
    assert(!r.getBoolean(1) && r.getString(2).contains("decode cap"))
  }

  test("a CRC-valid chunk with a corrupt zlib stream still fails loudly") {
    // replace the IDAT DATA with garbage and restamp the chunk CRC: the
    // container walk passes, the codec layer must reject it as IAE (the
    // raw DataFormatException is checked and would escape quarantine)
    val png = Multimodal.encodePng("zlib bomb check".getBytes("UTF-8")).clone()
    def be(p: Int): Int = ((png(p) & 0xff) << 24) | ((png(p + 1) & 0xff) << 16) |
      ((png(p + 2) & 0xff) << 8) | (png(p + 3) & 0xff)
    // first chunk after signature is IHDR (25 bytes incl framing)
    val idatOff = 8 + 12 + 13
    val idatLen = be(idatOff)
    assert(new String(png, idatOff + 4, 4, "US-ASCII") == "IDAT")
    val rnd = new scala.util.Random(1)
    for (i <- 0 until idatLen) png(idatOff + 8 + i) = rnd.nextInt(256).toByte
    val crc = new java.util.zip.CRC32()
    crc.update(png, idatOff + 4, 4 + idatLen)
    val cv = crc.getValue.toInt
    png(idatOff + 8 + idatLen) = (cv >>> 24).toByte
    png(idatOff + 9 + idatLen) = (cv >>> 16).toByte
    png(idatOff + 10 + idatLen) = (cv >>> 8).toByte
    png(idatOff + 11 + idatLen) = cv.toByte
    val e = intercept[IllegalArgumentException](Multimodal.decodePng(png))
    assert(e.getMessage.contains("zlib") || e.getMessage.contains("truncated"))
  }

  /** Hand-rolled container from raw chunks, CRCs stamped for real — for
    * adversarial cases the encoder can't produce.
    */
  private def rawPng(chunks: (String, Array[Byte])*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a)
      .foreach(out.write)
    def be(v: Int): Array[Byte] = Array(
      (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    chunks.foreach { case (typ, data) =>
      out.write(be(data.length), 0, 4)
      val tb = typ.getBytes("US-ASCII")
      out.write(tb, 0, 4)
      out.write(data, 0, data.length)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      out.write(be(crc.getValue.toInt), 0, 4)
    }
    out.toByteArray
  }

  private def ihdr(w: Int, h: Int): Array[Byte] =
    Array((w >>> 24).toByte, (w >>> 16).toByte, (w >>> 8).toByte, w.toByte,
      (h >>> 24).toByte, (h >>> 16).toByte, (h >>> 8).toByte, h.toByte,
      8, 0, 0, 0, 0)

  test("a CRC-valid short-length IHDR fails loudly, not out-of-bounds") {
    // len=0 IHDR as the LAST chunk: the old fixed-offset dim read indexed
    // past the end of the buffer (AIOOBE escaping quarantine)
    val png = rawPng("IHDR" -> Array.emptyByteArray)
    val e = intercept[IllegalArgumentException](Multimodal.decodePng(png))
    assert(e.getMessage.contains("IHDR length"))
    // and an 8-byte IHDR (dims readable, depth fields missing) also fails
    val png8 = rawPng("IHDR" -> ihdr(1, 1).take(8))
    val e8 = intercept[IllegalArgumentException](Multimodal.decodePng(png8))
    assert(e8.getMessage.contains("IHDR length"))
  }

  test("a zlib stream demanding a preset dictionary fails instead of spinning") {
    // CMF/FLG 0x78BB: (0x78*256+0xBB) % 31 == 0 and FDICT (0x20) set —
    // inflate() returns 0 forever on such a stream; the decoder must
    // detect the stall, not loop on it
    val png = rawPng(
      "IHDR" -> ihdr(1, 1),
      "IDAT" -> Array(0x78.toByte, 0xBB.toByte, 0, 0, 0, 1),
      "IEND" -> Array.emptyByteArray)
    val e = intercept[IllegalArgumentException](Multimodal.decodePng(png))
    assert(e.getMessage.contains("preset dictionary"))
  }

  test("an IDAT that inflates past the declared raster fails loudly") {
    // IHDR says 1x1 (raw stream = 2 bytes) but the zlib stream carries 10:
    // silently prefix-decoding would mask a corrupt producer
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(Array.tabulate[Byte](10)(_.toByte)); deflater.finish()
    val zbuf = new Array[Byte](64)
    val n = deflater.deflate(zbuf)
    deflater.end()
    val png = rawPng(
      "IHDR" -> ihdr(1, 1),
      "IDAT" -> zbuf.take(n),
      "IEND" -> Array.emptyByteArray)
    val e = intercept[IllegalArgumentException](Multimodal.decodePng(png))
    assert(e.getMessage.contains("inflates past"))
  }

  test("quarantine routes ANY decode failure, not just IllegalArgumentException") {
    // a null payload (upstream left join, corrupt cell) throws NPE inside
    // the decoder — it must become an ok=false row, never a job failure
    val df = Seq((1L, null: Array[Byte]), (2L, "ok".getBytes("UTF-8")))
      .toDF("media_id", "text")
      .select($"media_id",
        when($"media_id" === 2L,
          lit(Multimodal.encodePng("ok".getBytes("UTF-8"))))
          .otherwise(lit(null).cast("binary")).as("media"))
    val rows = Multimodal.extractFeaturesSafe(df).orderBy("media_id").collect()
    assert(!rows(0).getBoolean(1) && rows(0).getString(2) != null)
    assert(rows(1).getBoolean(1))
  }

  test("audioFingerprint: window-energy bits from decoded PCM, all-integer") {
    // 48 content bytes → 3 windows of 16; loud/quiet/loud pattern.
    // ASCII-range bytes only: the table encodes text via UTF-8, and a
    // byte ≥ 0x80 would become two bytes and shift every window
    val content = (Array.fill(16)(10.toByte) ++ Array.fill(16)(127.toByte) ++
      Array.fill(16)(20.toByte))
    val media = Seq((5L, new String(content.map(b => (b & 0xff).toChar)), "s"))
      .toDF("doc_id", "text", "source")
    // build via the real WAV path (2 channels for id 5: 1 + 5%2 = 2)
    val table = Multimodal.encodedAudioTable(media, "doc_id", "text", "source")
    val r = Multimodal.audioFingerprint(table).collect()(0)
    assert(r.getInt(1) == 3)
    // energies per window (sample = (b-128)*256): recompute independently
    val es = content.grouped(16).map(_.map { b =>
      val v = ((b & 0xff) - 128).toLong * 256; v * v
    }.sum).toArray
    val tot = es.sum
    val expFp = es.zipWithIndex
      .collect { case (e, w) if e * 3 > tot => 1L << w }.sum
    assert(r.getLong(2) == expFp && r.getLong(3) == tot)
    // windows 0 (122²) and 2 (118²) are above the mean, window 1 (0) is not
    assert(expFp == 5L)
  }

  test("video container round-trips frames; sampling decodes the right ones") {
    val content = "video frame payload content".getBytes("UTF-8")
    val vid = Multimodal.encodeVideo(content, nFrames = 5)
    val frames = Multimodal.parseVideo(vid)
    assert(frames.length == 5)
    // frame 0 is the unrotated image; frame 2 is rotated by 2
    val (_, _, px0) = Multimodal.decodePng(frames(0))
    assert(px0.take(content.length).sameElements(content))
    val (_, _, px2) = Multimodal.decodePng(frames(2))
    assert(px2.take(content.length - 2)
      .sameElements(content.drop(2)))
    // stride-2 sampling over a 5-frame video → frames 0, 2, 4
    val media = Seq((3L, vid, "video/gvid", "s"))
      .toDF("media_id", "media", "mime", "source")
      .select($"media_id", $"media",
        struct($"mime", $"source",
          octet_length($"media").cast("long").as("n_bytes")).as("meta"))
    val out = Multimodal.extractVideoFrames(media, stride = 2)
      .orderBy("frame_idx").collect()
    assert(out.map(_.getInt(2)).toSeq == Seq(0, 2, 4))
    assert(out.forall(_.getInt(1) == 5))
    // same byte multiset every frame → identical brightness
    assert(out.map(_.getDouble(6)).distinct.length == 1)
    // different rotation → distinct digests
    assert(out.map(_.getString(3)).distinct.length == 3)
  }

  test("video parse rejects corrupt containers loudly") {
    val vid = Multimodal.encodeVideo("abc".getBytes("UTF-8"), 3)
    val badMagic = vid.clone(); badMagic(0) = 'X'
    assert(intercept[IllegalArgumentException](Multimodal.parseVideo(badMagic))
      .getMessage.contains("magic"))
    // index claiming more bytes than the container holds
    val badIdx = vid.clone(); badIdx(8) = 0x7f
    assert(intercept[IllegalArgumentException](Multimodal.parseVideo(badIdx))
      .getMessage.contains("extent"))
    assert(intercept[IllegalArgumentException](
      Multimodal.parseVideo(vid.take(6))).getMessage.contains("truncated"))
  }

  test("imagePhash: dHash bits computed over the DECODED raster") {
    // 128 bytes → 64×2 raster; recompute the expected hash from the
    // content with independent arithmetic
    val content = Array.tabulate(128)(i => ((i * 53 + 7) % 256).toByte)
    val m = Multimodal.encodedMediaTable(
      Seq((1L, new String(content.map(b => ((b & 0xff) % 128).toChar)), "s"))
        .toDF("doc_id", "text", "source"), "doc_id", "text", "source")
    // text round-trips through UTF-8, so build expectation from the same
    // bytes the table actually encoded
    val actualPng = m.select("media").collect()(0).getAs[Array[Byte]](0)
    val (w, h, pixels) = Multimodal.decodePng(actualPng)
    def sample(r: Int, c: Int): Int = pixels((r * h / 8) * w + (c * w / 9)) & 0xff
    var expHi = 0L; var expLo = 0L
    for (b <- 0 until 64) {
      val (r, c) = (b / 8, b % 8)
      if (sample(r, c + 1) > sample(r, c)) {
        if (b < 32) expLo |= 1L << b else expHi |= 1L << (b - 32)
      }
    }
    val row = Multimodal.imagePhash(m).collect()(0)
    assert(row.getLong(1) == expHi && row.getLong(2) == expLo)
    assert(row.getInt(3) == w && row.getInt(4) == h)
  }

  test("imagePhashDedup: near-identical rasters pair up, distinct ones don't") {
    val base = Array.tabulate(256)(i => (((i * 31) % 97) + 10).toByte)
    val nearDup = base.clone(); nearDup(40) = (nearDup(40) + 1).toByte
    val distinct = Array.tabulate(256)(i => (((i * 113) % 89) + 5).toByte)
    def str(a: Array[Byte]) = new String(a.map(b => (b & 0x7f).toChar))
    val docs = Seq((1L, str(base), "s"), (2L, str(nearDup), "s"),
      (3L, str(distinct), "s")).toDF("doc_id", "text", "source")
    val phash = Multimodal.imagePhash(
      Multimodal.encodedMediaTable(docs, "doc_id", "text", "source"))
    val pairs = Multimodal.imagePhashDedup(phash, maxDist = 6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L))) // one-pixel edit: tiny Hamming distance
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("resize survives a tall raster whose row index arithmetic needs Long") {
    // 1 x 2^20 passes the decode cap; pre-fix, rr*h overflowed Int for
    // 64-MPx-legal tall rasters (this shape at 2^26; 2^20 keeps the spec
    // fast while pinning the Long arithmetic via exact source-row checks)
    val h = 1 << 20
    val pixels = Array.tabulate[Byte](h)(r => (r % 251).toByte)
    val png = Multimodal.encodeRaster(1, h, pixels)
    val media = Seq((7L, png, "image/png", "src"))
      .toDF("media_id", "media", "mime", "source")
      .select($"media_id", $"media",
        struct($"mime", $"source",
          octet_length($"media").cast("long").as("n_bytes")).as("meta"))
    val out = Multimodal.resizeMedia(media, 1, 40).collect()(0)
    val (w2, h2, res) = Multimodal.decodePng(out.getAs[Array[Byte]](1))
    assert(w2 == 1 && h2 == 40)
    for (rr <- Seq(0, 1, 31, 32, 33, 39)) { // 32+ overflowed at h = 2^26
      val sr = rr.toLong * h / 40
      assert((res(rr) & 0xff) == ((sr % 251) & 0xff).toInt)
    }
  }
}
