package graft

import org.apache.spark.sql.functions._
import graft.ext.Multimodal
import graft.fixtures.Fixtures

class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq((0L, "hello world"), (1L, ""), (2L, "abc"))
    .toDF("doc_id", "text")
  private lazy val media = Fixtures.attachFakeMedia(docs, "doc_id", "text")

  test("media schema: binary content + typed metadata struct") {
    assert(media.schema("content").dataType ===
      org.apache.spark.sql.types.BinaryType)
    val meta = media.schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(meta.fieldNames.toSeq === Seq("format", "width", "height", "duration_ms"))
  }

  test("decodeFeatures: normalized histogram, empty content safe") {
    val got = Multimodal.decodeFeatures(media).orderBy("doc_id").collect()
    assert(got.length === 3)
    val f0 = got(0).getSeq[Float](1)
    assert(f0.length === 16)
    assert(math.abs(f0.sum - 1.0) < 1e-5) // normalized
    assert(got(0).getAs[Long]("n_bytes") === 11L)
    val f1 = got(1).getSeq[Float](1)
    assert(f1.sum === 0f) // empty content -> zero histogram, no crash
    assert(got(1).getAs[Long]("n_bytes") === 0L)
  }

  test("decode is deterministic (fake codec)") {
    val a = Multimodal.decodeFeatures(media).orderBy("doc_id").collect().map(_.getSeq[Float](1))
    val b = Multimodal.decodeFeatures(media).orderBy("doc_id").collect().map(_.getSeq[Float](1))
    assert(a.toSeq.map(_.toSeq) === b.toSeq.map(_.toSeq))
  }

  // ---- real JDK ImageIO decode path ----

  /** Fixture PNG bytes: w×h solid-color image, encoded with the same JDK
    * codec the decode path reads with. */
  private def pngBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("decodeBytesToFeatures: real PNG bytes take the ImageIO pixel path") {
    val red = Multimodal.decodeBytesToFeatures(pngBytes(8, 6, 0xff0000))
    assert(red.length === 16)
    // mean R/G/B in dims 12..14: solid red -> (1, 0, 0)
    assert(math.abs(red(12) - 1f) < 1e-3 && red(13) === 0f && red(14) === 0f)
    // solid color -> (near-)zero luma std-dev, all luma mass in one bin
    assert(red(15) < 1e-6f)
    assert(math.abs(red.take(12).sum - 1f) < 1e-5)
    assert(red.take(12).count(_ > 0f) === 1)
    // red luma = 0.299*255 = 76.2 -> bin floor(76.2/256*12) = 3
    assert(red(3) === 1f)

    val white = Multimodal.decodeBytesToFeatures(pngBytes(4, 4, 0xffffff))
    assert(white(12) > 0.99f && white(13) > 0.99f && white(14) > 0.99f)
    assert(white(11) === 1f) // luma 255 -> top bin
  }

  test("synthJpeg: real ffd8ff bytes, sniffed, admitted, and dims decode exactly") {
    val bytes = Multimodal.synthJpeg(20, 14, 7L)
    // JPEG magic — the sniffer routes it down the image tier
    assert((bytes(0) & 0xff) === 0xff && (bytes(1) & 0xff) === 0xd8)
    assert(Multimodal.looksLikeImage(bytes))
    assert(Multimodal.decodeAdmissible(bytes))
    assert(Multimodal.peekImageDims(bytes) === ((20, 14)))
    // full decode: dims exact under lossy JPEG
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img.getWidth === 20 && img.getHeight === 14)
  }

  test("attachRealMediaJpeg + actualDims: gate shape — decoded dims match the id formula") {
    val docs = Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma"), (3L, "delta"))
      .toDF("doc_id", "text")
    val got = Multimodal.actualDims(
        Multimodal.attachRealMediaJpeg(docs, "doc_id", "text"))
      .orderBy("doc_id").collect()
    got.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(1) === (if (id % 2 == 0) "jpg" else "wav"))
      assert(r.getInt(2) === (id % 64 + 16).toInt, s"w of $id")
      assert(r.getInt(3) === (id % 48 + 16).toInt, s"h of $id")
    }
  }

  /** Fixture WAV bytes: 16-bit PCM mono sine wave, encoded with the same
    * JDK codec the decode path reads with. */
  private def wavBytes(freq: Double, sr: Float = 8000f, nSamples: Int = 8000,
                       amp: Double = 0.5): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(sr, 16, 1, true, false)
    val data = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val v = (math.sin(2 * math.Pi * freq * i / sr) * amp * 32767).toShort
      data(2 * i) = (v & 0xff).toByte
      data(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, nSamples.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("decodeBytesToFeatures: real WAV bytes take the PCM-stat path") {
    val wav = wavBytes(freq = 440.0, amp = 0.5)
    val f = Multimodal.decodeBytesToFeatures(wav)
    assert(f.length === 16)
    // sine RMS = amp/sqrt(2), zero-crossing rate = 2*freq/sr, peak = amp
    assert(math.abs(f(12) - 0.5 / math.sqrt(2)) < 0.01, s"rms=${f(12)}")
    assert(math.abs(f(13) - 2 * 440.0 / 8000.0) < 0.01, s"zcr=${f(13)}")
    assert(math.abs(f(14) - 0.5) < 0.01, s"peak=${f(14)}")
    assert(math.abs(f(15)) < 0.01, s"dc=${f(15)}") // zero mean
    assert(math.abs(f.take(12).sum - 1f) < 1e-5)   // histogram normalized
    // silence: all mass in bin 0, zero rms/zcr/peak
    val silent = Multimodal.decodeBytesToFeatures(wavBytes(440.0, amp = 0.0))
    assert(silent(0) === 1f && silent(12) === 0f && silent(14) === 0f)
    // truncated RIFF header falls back to the byte histogram, no crash
    val trunc = Multimodal.decodeBytesToFeatures(
      "RIFFxxxxWAVEbroken".getBytes("UTF-8"))
    assert(math.abs(trunc.sum - 1f) < 1e-5)
  }

  test("decodeFeatures distributed path decodes real PNGs and falls back on text") {
    val rows = Seq(
      (10L, pngBytes(5, 5, 0x00ff00)),                // real image
      (11L, "not an image".getBytes("UTF-8")),        // fallback histogram
      (12L, Array[Byte](0x89.toByte, 'P', 'N', 'G'))) // PNG magic, truncated -> fallback
      .toDF("doc_id", "content")
    val got = Multimodal.decodeFeatures(rows).orderBy("doc_id").collect()
    val green = got(0).getSeq[Float](1)
    assert(math.abs(green(13) - 1f) < 1e-3 && green(12) === 0f) // mean G = 1
    val text = got(1).getSeq[Float](1)
    assert(math.abs(text.sum - 1f) < 1e-5) // byte histogram normalized
    val trunc = got(2).getSeq[Float](1)
    assert(math.abs(trunc.sum - 1f) < 1e-5) // graceful fallback, no crash
  }

  test("frameSample: n frames from content") {
    val got = Multimodal.frameSample(media.filter(col("doc_id") === 0), 4)
      .collect()(0).getSeq[Array[Byte]](1)
    assert(got.length === 4)
  }

  // ---- real multi-frame GIF decode ----

  private def gifColor(seed: Long, idx: Int): (Int, Int, Int) =
    (((seed * 7 + idx * 11) % 256).toInt,
      ((seed * 13 + idx * 17) % 256).toInt,
      ((seed * 19 + idx * 23) % 256).toInt)

  test("synthGif + decodeGifFrameMeans: container frame count and exact per-frame colors") {
    val bytes = Multimodal.synthGif(6, 4, nFrames = 5, seed = 8L)
    assert(Multimodal.isGif(bytes))
    val (count, csv) = Multimodal.decodeGifFrameMeans(bytes, 4)
    assert(count === 5) // frame count read from the container, not metadata
    // k = min(4, 5) = 4 samples at indices i*5/4 = 0,1,2,3
    val frames = csv.split(",").map(_.split(":").map(_.toInt))
    assert(frames.map(_(0)).toSeq === Seq(0, 1, 2, 3))
    frames.foreach { f =>
      val (r, g, b) = gifColor(8L, f(0))
      assert((f(1), f(2), f(3)) === ((r, g, b)), s"frame ${f(0)}")
    }
  }

  test("decodeGifFrameMeans: fewer frames than samples -> all frames, once each") {
    val bytes = Multimodal.synthGif(6, 4, nFrames = 2, seed = 3L)
    val (count, csv) = Multimodal.decodeGifFrameMeans(bytes, 4)
    assert(count === 2)
    assert(csv.split(",").map(_.split(":")(0).toInt).toSeq === Seq(0, 1))
  }

  test("gifFrameStats: gate shape — real decode on even ids, total fallback on odd") {
    val df = Seq((0L, "even"), (1L, "odd"), (4L, "even2")).toDF("doc_id", "text")
    val got = Multimodal.gifFrameStats(
      Multimodal.attachGifMedia(df, "doc_id", "text"), 4).orderBy("doc_id").collect()
    // even ids: nf = id % 5 + 2 frames really decoded
    assert(got(0).getLong(1) === 2L && got(2).getLong(1) === 6L)
    val f4 = got(2).getString(2).split(",").map(_.split(":").map(_.toInt))
    assert(f4.map(_(0)).toSeq === Seq(0, 1, 3, 4)) // i*6/4 = 0,1,3,4
    f4.foreach { f =>
      val (r, g, b) = gifColor(4L, f(0))
      assert((f(1), f(2), f(3)) === ((r, g, b)))
    }
    // odd id: plain bytes -> (0, ""), no crash
    assert(got(1).getLong(1) === 0L && got(1).getString(2) === "")
    // corrupt magic-matched bytes -> fallback, stage stays total
    val bad = Seq((9L, Array[Byte]('G', 'I', 'F', '8', 0, 0)))
      .toDF("doc_id", "content")
    val badGot = Multimodal.gifFrameStats(bad, 4).collect()(0)
    assert(badGot.getLong(1) === 0L && badGot.getString(2) === "")
  }

  test("resizeMeta clamps dimensions, keeps format") {
    val got = Multimodal.resizeMedia(media, 20, 20).select("meta.*").collect()
    assert(got.forall(r => r.getAs[Int]("width") <= 20 && r.getAs[Int]("height") <= 20))
    assert(got.map(_.getAs[String]("format")).toSet === Set("png", "wav"))
  }

  // ---- real Graphics2D pixel resize ----

  test("resizeImageBytes: real PNG round-trip, pixels actually scaled") {
    val big = pngBytes(40, 30, 0x0000ff)
    val res = Multimodal.resizeImageBytes(big, 16, 12)
    assert(res != null)
    val (out, ow, oh) = res
    assert(Multimodal.looksLikeImage(out) && ow === 16 && oh === 12)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(out))
    assert(img.getWidth === 16 && img.getHeight === 12)
    // solid color survives bilinear scaling exactly
    assert((img.getRGB(8, 6) & 0xffffff) === 0x0000ff)
    // the real decode path sees consistent pixel stats on the output
    val f = Multimodal.decodeBytesToFeatures(out)
    assert(math.abs(f(14) - 1f) < 1e-3 && f(12) === 0f && f(13) === 0f)
    // independent-axis clamp: only the oversize axis shrinks
    val wide = Multimodal.resizeImageBytes(pngBytes(40, 10, 0xffffff), 16, 12)
    val wImg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(wide._1))
    assert(wImg.getWidth === 16 && wImg.getHeight === 10)
    assert(wide._2 === 16 && wide._3 === 10)
    // already within bounds -> identical bytes, no re-encode
    val small = pngBytes(8, 8, 0x123456)
    assert(Multimodal.resizeImageBytes(small, 16, 12)._1 eq small)
    // non-image bytes -> null (caller falls back to metadata clamp)
    assert(Multimodal.resizeImageBytes("not an image".getBytes("UTF-8"), 16, 12) == null)
    // truncated magic-matched bytes -> null, no crash (NonFatal catch)
    assert(Multimodal.resizeImageBytes(
      Array[Byte](0x89.toByte, 'P', 'N', 'G'), 16, 12) == null)
  }

  test("resizeMedia: image rows pixel-resized, meta = actual dims; non-image clamped") {
    val rows = Seq(
      (20L, pngBytes(40, 30, 0x00ff00), ("png", 40, 30, 0L)),
      (21L, "opaque bytes".getBytes("UTF-8"), ("wav", 40, 30, 100L)))
      .toDF("doc_id", "content", "m")
      .select(col("doc_id"), col("content"), struct(
        col("m._1").as("format"), col("m._2").as("width"),
        col("m._3").as("height"), col("m._4").as("duration_ms")).as("meta"))
    val got = Multimodal.resizeMedia(rows, 16, 12).orderBy("doc_id").collect()
    val imgRow = got(0)
    val outBytes = imgRow.getAs[Array[Byte]]("content")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(outBytes))
    assert(img.getWidth === 16 && img.getHeight === 12)
    val m0 = imgRow.getStruct(2)
    assert(m0.getInt(1) === 16 && m0.getInt(2) === 12)
    val m1 = got(1).getStruct(2)
    assert(m1.getInt(1) === 16 && m1.getInt(2) === 12) // metadata clamp branch
    assert(new String(got(1).getAs[Array[Byte]]("content"), "UTF-8") === "opaque bytes")
  }

  test("attachRealMedia + actualDims: decode(resize(png)).dims == clamp, end-to-end") {
    val df = Seq((0L, "even png"), (1L, "odd text"), (2L, "even png 2"), (51L, "odd"))
      .toDF("doc_id", "text")
    val media2 = Multimodal.attachRealMedia(df, "doc_id", "text")
    // even ids really are PNGs at the declared dims
    val c0 = media2.filter(col("doc_id") === 2).collect()(0)
    assert(Multimodal.looksLikeImage(c0.getAs[Array[Byte]]("content")))
    val d0 = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(c0.getAs[Array[Byte]]("content")))
    assert(d0.getWidth === (2 % 64 + 16) && d0.getHeight === (2 % 48 + 16))
    // the gate query's exact shape: resize then ground-truth decode
    val dims = Multimodal.actualDims(Multimodal.resizeMedia(media2, 48, 32))
      .orderBy("doc_id").collect()
    dims.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(2) === math.min(id % 64 + 16, 48).toInt, s"w of $id")
      assert(r.getInt(3) === math.min(id % 48 + 16, 32).toInt, s"h of $id")
    }
    assert(dims.map(_.getString(1)).toSeq === Seq("png", "wav", "png", "wav"))
  }

  // ---- dHash: perceptual-hash image near-dup ----

  /** Reference dHash straight from the fixture formula — no codec, no grid
    * code: the independent ground truth both the synth round-trip and the
    * engine pipeline must land on. */
  private def formulaHash(group: Long, jitter: Long): Long = {
    var hash = 0L
    for (y <- 0 until 8; x <- 0 until 8)
      if (Multimodal.dHashFixtureGray(group, jitter, x + 1, y) >
          Multimodal.dHashFixtureGray(group, jitter, x, y))
        hash |= 1L << (y * 8 + x)
    hash
  }

  test("synthGrayPng round-trips: decoded raster samples ARE the formula") {
    for ((g, j) <- Seq((0L, 0L), (7L, 4L), (123L, 6L))) {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Multimodal.synthGrayPng(g, j)))
      assert(img.getWidth === 9 && img.getHeight === 8)
      assert(img.getRaster.getNumBands === 1)
      for (y <- 0 until 8; x <- 0 until 9)
        assert(img.getRaster.getSample(x, y, 0) ===
          Multimodal.dHashFixtureGray(g, j, x, y), s"($x,$y) of g=$g j=$j")
    }
  }

  test("dHashOfImage on the decoded fixture equals the formula hash") {
    for ((g, j) <- Seq((0L, 0L), (5L, 2L), (88L, 6L))) {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Multimodal.synthGrayPng(g, j)))
      assert(Multimodal.dHashOfImage(img) === formulaHash(g, j))
    }
  }

  test("lumaGrid box-downscale: constant 2x2 blocks reduce to the source grid") {
    // 18x16 image, block (cx,cy) filled with the 9x8 fixture gray — exact
    // integer box-averaging must recover the generator grid and its hash
    val img = new java.awt.image.BufferedImage(
      18, 16, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 16; x <- 0 until 18)
      img.getRaster.setSample(x, y, 0, Multimodal.dHashFixtureGray(9L, 3L, x / 2, y / 2))
    assert(Multimodal.dHashOfImage(img) === formulaHash(9L, 3L))
  }

  test("RGB gray pixels hash identically to the single-band raster (Rec.601 luma)") {
    val img = new java.awt.image.BufferedImage(
      9, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 9) {
      val v = Multimodal.dHashFixtureGray(4L, 2L, x, y)
      img.setRGB(x, y, (v << 16) | (v << 8) | v) // (299v+587v+114v)/1000 == v
    }
    assert(Multimodal.dHashOfImage(img) === formulaHash(4L, 2L))
  }

  test("palette-indexed images hash by COLOR, not palette index order") {
    // same picture, two palette orderings: raw single-band samples differ
    // (they're indices), but the hash must be identical — and equal to the
    // RGB rendering — because indexed images route through getRGB luma
    def indexed(palette: Array[Int], idxAt: (Int, Int) => Int) = {
      val cm = new java.awt.image.IndexColorModel(8, palette.length,
        palette.map(c => ((c >> 16) & 0xff).toByte),
        palette.map(c => ((c >> 8) & 0xff).toByte),
        palette.map(c => (c & 0xff).toByte))
      val img = new java.awt.image.BufferedImage(
        9, 8, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
      for (y <- 0 until 8; x <- 0 until 9)
        img.getRaster.setSample(x, y, 0, idxAt(x, y))
      img
    }
    val colors = Array(0x000000, 0xffffff, 0x808080)
    def colorAt(x: Int, y: Int): Int = (x * 7 + y * 5) % 3
    val a = indexed(colors, colorAt)                               // idx == color
    val b = indexed(colors.reverse, (x, y) => 2 - colorAt(x, y))   // reordered palette
    assert(a.getColorModel.isInstanceOf[java.awt.image.IndexColorModel])
    val rgb = new java.awt.image.BufferedImage(
      9, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 9) rgb.setRGB(x, y, colors(colorAt(x, y)))
    val ha = Multimodal.dHashOfImage(a)
    assert(ha === Multimodal.dHashOfImage(b), "palette order must not matter")
    assert(ha === Multimodal.dHashOfImage(rgb), "must equal the RGB rendering")
  }

  test("peekImageDims reads header dims; decodeAdmissible rejects huge declared dims") {
    // handcraft a PNG whose IHDR declares 100000x100000 from a ~60-byte file:
    // the adversarial case the header guard exists for
    def hugePng: Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      bos.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      val ihdr = java.nio.ByteBuffer.allocate(17)
      ihdr.put("IHDR".getBytes("ASCII")).putInt(100000).putInt(100000)
        .put(8.toByte).put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      val body = ihdr.array()
      val crc = new java.util.zip.CRC32(); crc.update(body)
      val len = java.nio.ByteBuffer.allocate(4).putInt(13).array()
      bos.write(len); bos.write(body)
      bos.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
      bos.toByteArray
    }
    val dims = Multimodal.peekImageDims(hugePng)
    assert(dims === ((100000, 100000)), "header dims readable without decode")
    assert(!Multimodal.decodeAdmissible(hugePng), "must reject before read()")
    // and the real fixture stays admissible
    assert(Multimodal.decodeAdmissible(Multimodal.synthGrayPng(1L, 1L)))
    // dHashes on the adversarial bytes yields NULL, not an OOM attempt
    val df = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(0L, hugePng, null)),
      Multimodal.mediaSchema)
    val got = Multimodal.dHashes(df).collect()
    assert(got.length === 1 && got(0).isNullAt(1))
  }

  test("dHashes: even ids hash, odd/undecodable ids are NULL") {
    val df = (0L to 7L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val got = Multimodal.dHashes(Multimodal.attachDHashMedia(df, "doc_id", "text"))
      .orderBy("doc_id").collect()
    got.foreach { r =>
      val id = r.getLong(0)
      if (id % 2 == 0) assert(r.getLong(1) === formulaHash(id / 8, id % 8), s"id $id")
      else assert(r.isNullAt(1), s"id $id")
    }
  }

  test("dHashPairs equals brute force at t=3 (MIH band join is lossless)") {
    val df = (0L to 47L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val hashed = Multimodal.dHashes(Multimodal.attachDHashMedia(df, "doc_id", "text"))
    val got = Multimodal.dHashPairs(hashed, t = 3)
      .orderBy("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val hs = hashed.filter(col("dhash").isNotNull).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val brute = for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b, d.toLong)
    assert(got.toSeq === brute.toSeq)
    // the fixture really exercises clusters: every 8-id block's even members
    // pair up within Hamming 2, and at least one pair is non-identical
    assert(brute.nonEmpty)
    assert(brute.forall { case (a, b, _) => a / 8 === b / 8 })
    assert(brute.exists(_._3 > 0))
  }

  test("dHashPairs refuses a t the band count cannot guarantee") {
    val df = Seq((0L, "x")).toDF("doc_id", "text")
    val hashed = Multimodal.dHashes(Multimodal.attachDHashMedia(df, "doc_id", "text"))
    intercept[IllegalArgumentException] { Multimodal.dHashPairs(hashed, t = 4) }
  }

  // ---- audio envelope fingerprint ----

  /** Reference fingerprint straight from the fixture formula. */
  private def formulaAfp(group: Long, jitter: Long): Long = {
    val e = (0 until 65).map(w =>
      math.abs(Multimodal.envelopeFixtureSample(group, jitter, w)).toLong)
    var hash = 0L
    for (w <- 0 until 64) if (e(w + 1) > e(w)) hash |= 1L << w
    hash
  }

  test("synthEnvelopeWav round-trips: decoded channel-0 samples ARE the formula") {
    for ((g, j) <- Seq((0L, 0L), (17L, 6L))) {
      val samples = Multimodal.readPcm16Channel0(Multimodal.synthEnvelopeWav(g, j))
      assert(samples.length === 65 * 32)
      for (w <- 0 until 65; i <- 0 until 32)
        assert(samples(w * 32 + i) === Multimodal.envelopeFixtureSample(g, j, w),
          s"window $w sample $i of g=$g j=$j")
    }
  }

  test("envelopeHash of the decoded fixture equals the formula fingerprint") {
    for ((g, j) <- Seq((0L, 0L), (9L, 2L), (250L, 4L)))
      assert(Multimodal.envelopeHash(
        Multimodal.readPcm16Channel0(Multimodal.synthEnvelopeWav(g, j))) ===
        formulaAfp(g, j))
  }

  test("audio near-dup pipeline equals brute force at t=3") {
    val df = (0L to 31L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val hashed = Multimodal.audioEnvelopeHashes(
      Multimodal.attachEnvelopeWavMedia(df, "doc_id", "text"))
    val hs = hashed.filter(col("afp").isNotNull).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // odd ids really are NULL; even ids really are the formula
    assert(hs.map(_._1).toSeq === (0L to 31L by 2).toSeq)
    hs.foreach { case (id, h) => assert(h === formulaAfp(id / 8, id % 8), s"id $id") }
    val got = Multimodal.dHashPairs(hashed, t = 3, hashCol = "afp")
      .orderBy("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b, d.toLong)
    assert(got.toSeq === brute.toSeq)
    assert(brute.nonEmpty && brute.forall { case (a, b, _) => a / 8 === b / 8 })
  }
}
