package graft

import org.apache.spark.sql.functions._
import graft.multimodal.Binary

/** Real-decoder coverage: hand-built PPM/BMP/WAV payloads with KNOWN
  * dimensions/stats, malformed-payload fail-fast, and the magic dispatch
  * (unknown bytes fall back to the deterministic stub).
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def ppm(w: Int, h: Int, fill: Int, comment: Boolean = false): Array[Byte] = {
    val hdr = (if (comment) s"P6\n# a netpbm comment\n$w $h\n255\n"
               else s"P6\n$w $h\n255\n").getBytes("US-ASCII")
    hdr ++ Array.fill(w * h * 3)(fill.toByte)
  }

  private def bmp24(w: Int, h: Int): Array[Byte] = {
    val rowStride = (w * 3 + 3) / 4 * 4 // rows pad to 4-byte boundaries
    val pixelBytes = rowStride * h
    val b = java.nio.ByteBuffer.allocate(54 + pixelBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(54 + pixelBytes)
      .putShort(0).putShort(0).putInt(54) // reserved + pixel offset
    b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(pixelBytes).putInt(2835).putInt(2835).putInt(0).putInt(0)
    b.array()
  }

  private def wavPcm16(channels: Int, samples: Int, amplitude: Short): Array[Byte] = {
    val dataLen = samples * channels * 2
    val b = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1)
      .putShort(channels.toShort).putInt(8000).putInt(8000 * channels * 2)
      .putShort((channels * 2).toShort).putShort(16)
    b.put("data".getBytes("US-ASCII")).putInt(dataLen)
    (0 until samples * channels).foreach(_ => b.putShort(amplitude))
    b.array()
  }

  private def png(w: Int, h: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(8 + 25) // sig + IHDR chunk (len+tag+13+crc)
    b.put(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    b.putInt(13).put("IHDR".getBytes("US-ASCII")).putInt(w).putInt(h)
    b.put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    b.putInt(0) // CRC not validated by the header parser
    b.array()
  }

  private def jpeg(w: Int, h: Int, sofMarker: Int = 0xc0): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(2 + 18 + 19 + 2)
    b.put(0xff.toByte).put(0xd8.toByte) // SOI
    b.put(0xff.toByte).put(0xe0.toByte).putShort(16) // APP0, 14 payload bytes
    b.put("JFIF".getBytes("US-ASCII")).put(new Array[Byte](10))
    b.put(0xff.toByte).put(sofMarker.toByte).putShort(17) // SOF, 3 components
    b.put(8.toByte).putShort(h.toShort).putShort(w.toShort).put(3.toByte)
    b.put(new Array[Byte](9))
    b.put(0xff.toByte).put(0xd9.toByte) // EOI
    b.array()
  }

  test("parseJpeg: fill bytes running to the buffer end fail named, not out-of-bounds") {
    // FF D8 FF FF FF C0 — the fill-skip advances past the outer guard's
    // headroom; be16 on the segment length would read past the array
    val tail = Array(0xff, 0xd8, 0xff, 0xff, 0xff, 0xc0).map(_.toByte)
    assert(intercept[IllegalArgumentException](Binary.parseJpeg(tail))
      .getMessage.contains("truncated in a marker segment"))
    val tail2 = Array(0xff, 0xd8, 0xff, 0xff, 0xff, 0xc0, 0x00).map(_.toByte)
    assert(intercept[IllegalArgumentException](Binary.parseJpeg(tail2))
      .getMessage.contains("truncated"))
  }

  private def gif(w: Int, h: Int, version: Char = '9'): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(13)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put(s"GIF8${version}a".getBytes("US-ASCII"))
    b.putShort(w.toShort).putShort(h.toShort)
    b.put(0.toByte).put(0.toByte).put(0.toByte) // flags, bg index, aspect
    b.array()
  }

  test("parseGif reads both versions' screen size, fails named on truncation/zero dims") {
    assert(Binary.parseGif(gif(320, 200)) == ((320, 200, "gif")))
    assert(Binary.parseGif(gif(1, 1, version = '7')) == ((1, 1, "gif")))
    assert(Binary.decodePayload(gif(320, 200)) == ((320, 200, "gif")))
    assert(intercept[IllegalArgumentException](Binary.parseGif(gif(320, 200).take(8)))
      .getMessage.contains("truncated before the screen descriptor"))
    assert(intercept[IllegalArgumentException](Binary.parseGif(gif(0, 200)))
      .getMessage.contains("bad dimensions"))
    // GIF88a is not a real version — named magic failure, and the
    // dispatcher must NOT silently route it to the fake decoder
    val bad = gif(320, 200); bad(4) = '8'.toByte
    assert(intercept[IllegalArgumentException](Binary.decodePayload(bad))
      .getMessage.contains("missing GIF87a/GIF89a magic"))
  }

  test("parsePng reads IHDR dimensions, fails named on truncation and reordered chunks") {
    assert(Binary.parsePng(png(640, 480)) == ((640, 480, "png")))
    assert(Binary.parsePng(png(1, 1)) == ((1, 1, "png")))
    val truncated = png(640, 480).take(20)
    assert(intercept[IllegalArgumentException](Binary.parsePng(truncated))
      .getMessage.contains("truncated before IHDR"))
    val reordered = png(640, 480)
    reordered(12) = 'g'.toByte // first chunk tag no longer IHDR
    assert(intercept[IllegalArgumentException](Binary.parsePng(reordered))
      .getMessage.contains("not IHDR"))
    val zeroDim = png(0, 480)
    assert(intercept[IllegalArgumentException](Binary.parsePng(zeroDim))
      .getMessage.contains("bad dimensions"))
  }

  test("parseJpeg scans markers to SOF0/SOF2, fails named on scan-first and truncation") {
    assert(Binary.parseJpeg(jpeg(1024, 768)) == ((1024, 768, "jpeg")))
    assert(Binary.parseJpeg(jpeg(64, 48, sofMarker = 0xc2)) == ((64, 48, "jpeg")))
    // segment stream cut before any SOF
    val cut = jpeg(1024, 768).take(12)
    assert(intercept[IllegalArgumentException](Binary.parseJpeg(cut))
      .getMessage.contains("truncated"))
    // scan data (SOS) before any frame header
    val sos = jpeg(1024, 768)
    sos(21) = 0xda.toByte // rewrite the SOF marker byte to SOS
    assert(intercept[IllegalArgumentException](Binary.parseJpeg(sos))
      .getMessage.contains("no SOF"))
    val noSoi = jpeg(10, 10).drop(2)
    assert(intercept[IllegalArgumentException](Binary.parseJpeg(noSoi))
      .getMessage.contains("missing SOI"))
    // 0xFF FILL bytes before a marker are legal (spec B.1.1.2) and common
    val body = jpeg(320, 240)
    val filled = body.take(2) ++ Array.fill(3)(0xff.toByte) ++ body.drop(2).tail
    assert(Binary.parseJpeg(filled) == ((320, 240, "jpeg")))
  }

  test("decodePayload routes real PNG/JPEG payloads to the header parsers") {
    assert(Binary.decodePayload(png(320, 200)) == ((320, 200, "png")))
    assert(Binary.decodePayload(jpeg(800, 600)) == ((800, 600, "jpeg")))
    // a corrupt-but-magic'd payload fails NAMED (never the stub fallback)
    intercept[IllegalArgumentException](Binary.decodePayload(png(8, 8).take(20)))
    intercept[IllegalArgumentException](Binary.decodePayload(jpeg(8, 8).take(12)))
  }

  test("parsePpm reads dimensions, supports comments, validates the raster") {
    assert(Binary.parsePpm(ppm(5, 3, 42)) == ((5, 3, "ppm")))
    assert(Binary.parsePpm(ppm(7, 2, 0, comment = true)) == ((7, 2, "ppm")))
    val truncated = ppm(5, 3, 42).dropRight(1)
    val e = intercept[IllegalArgumentException](Binary.parsePpm(truncated))
    assert(e.getMessage.contains("raster truncated"))
    assert(Binary.ppmMeanByte(ppm(4, 4, 100)) == 100.0)
  }

  test("parseBmp reads 24-bit uncompressed headers, rejects compressed") {
    assert(Binary.parseBmp(bmp24(17, 9)) == ((17, 9, "bmp")))
    val rle = bmp24(4, 4)
    rle(30) = 1 // BI_RLE8
    val e = intercept[IllegalArgumentException](Binary.parseBmp(rle))
    assert(e.getMessage.contains("unsupported compression"))
  }

  test("parseWav walks chunks, reports samples-per-channel and channels, computes RMS") {
    val mono = wavPcm16(1, 100, 1000)
    assert(Binary.parseWav(mono) == ((100, 1, "wav")))
    assert(math.abs(Binary.wavRmsPcm16(mono) - 1000.0) < 1e-9)
    val stereo = wavPcm16(2, 50, -200)
    assert(Binary.parseWav(stereo) == ((50, 2, "wav")))
    assert(math.abs(Binary.wavRmsPcm16(stereo) - 200.0) < 1e-9)
    val bad = mono.take(40) // truncated data chunk
    intercept[IllegalArgumentException](Binary.parseWav(bad))
  }

  test("decodePayload dispatches on magic; unknown bytes take the stub fallback") {
    assert(Binary.decodePayload(ppm(3, 2, 1))._3 == "ppm")
    assert(Binary.decodePayload(bmp24(3, 2))._3 == "bmp")
    assert(Binary.decodePayload(wavPcm16(1, 10, 5))._3 == "wav")
    val unknown = "just some text".getBytes("UTF-8")
    val (w, h, f) = Binary.decodePayload(unknown)
    assert(Seq("jpeg", "png", "webp").contains(f) && w >= 320 && h >= 240)
    assert(Binary.decodePayload(unknown) == Binary.fakeDecode(unknown))
  }

  test("decodeMeta end-to-end over a mixed-format payload batch (mapPartitions path)") {
    val rows = Seq(
      Binary.MediaPayload(1L, ppm(6, 4, 9), "image/ppm"),
      Binary.MediaPayload(2L, bmp24(8, 5), "image/bmp"),
      Binary.MediaPayload(3L, wavPcm16(2, 30, 7), "audio/wav"),
      Binary.MediaPayload(4L, "opaque".getBytes("UTF-8"), "application/octet-stream"))
    val out = Binary.decodeMeta(rows.toDS()).collect().map(m => m.doc_id -> m).toMap
    assert(out(1L).width == 6 && out(1L).height == 4 && out(1L).format == "ppm")
    assert(out(2L).width == 8 && out(2L).height == 5 && out(2L).format == "bmp")
    assert(out(3L).width == 30 && out(3L).height == 2 && out(3L).format == "wav")
    assert(Seq("jpeg", "png", "webp").contains(out(4L).format))
    assert(out.values.forall(m => m.byte_len > 0))
  }

  test("toPpmPayloads renders spec-valid images whose raster is the text bytes") {
    val docs = Seq((1L, "hello world"), (2L, "x" * 200), (3L, "")).toDF("doc_id", "text")
    val ps = Binary.toPpmPayloads(spark, docs).collect().map(p => p.doc_id -> p.payload).toMap
    ps.values.foreach(p => assert(Binary.parsePpm(p)._3 == "ppm"))
    assert(Binary.parsePpm(ps(2L)) == ((32, 3, "ppm"))) // 200 bytes → 3 rows of 96
    assert(Binary.parsePpm(ps(3L)) == ((32, 1, "ppm"))) // empty text → 1 blank row
    // raster round-trips the text: mean byte = sum(text bytes)/raster size
    val text = "hello world".getBytes("UTF-8")
    val expect = text.map(_ & 0xff).sum.toDouble / 96
    assert(math.abs(Binary.ppmMeanByte(ps(1L)) - expect) < 1e-9)
  }

  /** Encode a BufferedImage to PNG bytes via the JDK's own encoder — an
    * INDEPENDENT reference implementation whose output exercises the
    * adaptive filter types (Sub/Up/Average/Paeth) our decoder must undo.
    */
  private def imageioPng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos), "JDK PNG writer missing")
    bos.toByteArray
  }

  test("decodePngPixels == the JDK reference decoder on random RGB/gray images") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 6) {
      val w = 1 + rnd.nextInt(40)
      val h = 1 + rnd.nextInt(40)
      val gray = trial % 2 == 0
      val img = new java.awt.image.BufferedImage(w, h,
        if (gray) java.awt.image.BufferedImage.TYPE_BYTE_GRAY
        else java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, rnd.nextInt() & 0xffffff)
      val p = imageioPng(img)
      val px = Binary.decodePngPixels(p)
      assert((px.width, px.height) == ((w, h)))
      assert(px.channels == (if (gray) 1 else 3), s"trial $trial: ${px.channels}")
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = img.getRGB(x, y)
        if (gray) {
          // getRGB would gamma-convert gray→sRGB; the raw raster sample is
          // what the file stores and what our decoder must reproduce
          val want = img.getRaster.getSample(x, y, 0)
          val got = px.samples(y * w + x) & 0xff
          assert(got == want, s"($x,$y): $got vs $want")
        } else {
          val o = (y * w + x) * 3
          val got = ((px.samples(o) & 0xff) << 16) |
            ((px.samples(o + 1) & 0xff) << 8) | (px.samples(o + 2) & 0xff)
          assert(got == (rgb & 0xffffff), s"($x,$y): $got vs ${rgb & 0xffffff}")
        }
      }
    }
  }

  test("pngChannelMeans and luma histogram: exact on a known fixture") {
    // 2x2 RGB: two pure-red, one pure-green, one pure-blue pixel
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000); img.setRGB(1, 0, 0xff0000)
    img.setRGB(0, 1, 0x00ff00); img.setRGB(1, 1, 0x0000ff)
    val p = imageioPng(img)
    val means = Binary.pngChannelMeans(p)
    assert(means.toSeq == Seq(127.5, 63.75, 63.75), means.toSeq.toString)
    // lumas: red 255*299/1000=76 (bin 4), green 255*587/1000=149 (bin 9),
    // blue 255*114/1000=29 (bin 1)
    val hist = Binary.pngLumaHistogram(p, 16)
    val expect = Array.fill(16)(0L)
    expect(4) = 2L; expect(9) = 1L; expect(1) = 1L
    assert(hist.toSeq == expect.toSeq, hist.toSeq.toString)
  }

  test("toPngPayloads: spec-valid PNGs whose raster round-trips the text bytes") {
    val docs = Seq((1L, "hello world"), (2L, "y" * 200), (3L, "")).toDF("doc_id", "text")
    val ps = Binary.toPngPayloads(spark, docs).collect().map(p => p.doc_id -> p.payload).toMap
    assert(Binary.parsePng(ps(2L)) == ((32, 7, "png"))) // 200 bytes → 7 rows of 32
    val px = Binary.decodePngPixels(ps(1L))
    assert((px.width, px.height, px.channels) == ((32, 1, 1)))
    val text = "hello world".getBytes("UTF-8")
    assert(px.samples.take(text.length).toSeq == text.toSeq, "raster == text bytes")
    assert(px.samples.drop(text.length).forall(_ == 0), "zero padding")
    // the JDK's reference decoder opens our files too (CRCs are real)
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(ps(1L)))
    assert(ref != null && ref.getWidth == 32 && ref.getHeight == 1)
    assert(ref.getRaster.getSample(0, 0, 0) == 'h'.toInt, "pixel 0 is 'h'")
    // and the batched stats face agrees with the closed form
    val stats = Binary.decodeImageStats(Binary.toPngPayloads(spark, docs))
      .collect().map(s => s.doc_id -> s).toMap
    assert(math.abs(stats(1L).mean_luma - text.map(_ & 0xff).sum.toDouble / 32) < 1e-9)
    assert(stats(3L).mean_luma == 0.0 && stats(3L).luma_hist(0) == 32L)
  }

  test("decodePngPixels fails NAMED on truncated/corrupt IDAT and unsupported profiles") {
    val good = Binary.toPngPayloads(spark, Seq((1L, "z" * 100)).toDF("doc_id", "text"))
      .collect().head.payload
    // payload cut mid-chunk
    val cut = intercept[IllegalArgumentException](
      Binary.decodePngPixels(good.take(good.length - 20)))
    assert(cut.getMessage.contains("truncated chunk"), cut.getMessage)
    // structurally intact chunks, but the deflate stream inflates short:
    // rebuild the file with an IDAT holding HALF the filtered bytes
    val half = {
      val raw = new Array[Byte](50) // far fewer than h*(w+1)
      val d = new java.util.zip.Deflater(); d.setInput(raw); d.finish()
      val zb = new java.io.ByteArrayOutputStream()
      val t = new Array[Byte](8192)
      while (!d.finished()) zb.write(t, 0, d.deflate(t))
      d.end()
      val crc = new java.util.zip.CRC32()
      val data = zb.toByteArray
      val bos = new java.io.ByteArrayOutputStream()
      bos.write(good, 0, 8 + 25) // signature + IHDR chunk
      val hdr = java.nio.ByteBuffer.allocate(8).putInt(data.length)
        .put("IDAT".getBytes("US-ASCII")).array()
      bos.write(hdr); bos.write(data)
      crc.update(hdr, 4, 4); crc.update(data)
      bos.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
      bos.write(Array[Byte](0, 0, 0, 0, 'I', 'E', 'N', 'D'))
      bos.write(java.nio.ByteBuffer.allocate(4).putInt({
        val c = new java.util.zip.CRC32(); c.update("IEND".getBytes("US-ASCII")); c.getValue.toInt
      }).array())
      bos.toByteArray
    }
    val short0 = intercept[IllegalArgumentException](Binary.decodePngPixels(half))
    assert(short0.getMessage.contains("IDAT truncated"), short0.getMessage)
    // garbage deflate stream → corrupt, named
    val garbled = good.clone()
    garbled(8 + 25 + 8) = 0x77 // first IDAT data byte: invalid zlib header
    val bad = intercept[IllegalArgumentException](Binary.decodePngPixels(garbled))
    assert(bad.getMessage.contains("IDAT"), bad.getMessage)
    // Adam7 flag → named
    val inter = good.clone()
    inter(28) = 1
    val i7 = intercept[IllegalArgumentException](Binary.decodePngPixels(inter))
    assert(i7.getMessage.contains("Adam7"), i7.getMessage)
    // palette profile (JDK TYPE_BYTE_INDEXED → color type 3) → named
    val pal = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
    val palErr = intercept[IllegalArgumentException](
      Binary.decodePngPixels(imageioPng(pal)))
    assert(palErr.getMessage.contains("palette"), palErr.getMessage)
  }

  test("decodePngPixels verifies chunk CRCs — a bit flip fails named, never wrong pixels") {
    // A flipped IDAT byte deep in the deflate stream can still inflate to
    // the expected length (dynamic-huffman literals), which would decode
    // to WRONG pixel values under a length-only check. The CRC walk must
    // reject any payload whose bytes don't match the chunk checksum.
    import spark.implicits._
    val good = Binary.toPngPayloads(spark, Seq((1L, "crc check fixture " * 8))
      .toDF("doc_id", "text")).collect().head.payload
    // flip one bit in the middle of the IDAT data (well past the zlib header)
    val idatStart = 8 + 25 + 8 // signature + IHDR chunk + IDAT len/tag
    val flipped = good.clone()
    val mid = idatStart + (good.length - idatStart - 16) / 2
    flipped(mid) = (flipped(mid) ^ 0x10).toByte
    val err = intercept[IllegalArgumentException](Binary.decodePngPixels(flipped))
    assert(err.getMessage.contains("CRC mismatch"), err.getMessage)
    // and a flipped CRC FIELD (payload intact) also fails named — the
    // checksum itself is part of the contract
    val crcFlip = good.clone()
    // IEND CRC = last 4 bytes
    crcFlip(crcFlip.length - 1) = (crcFlip(crcFlip.length - 1) ^ 0x01).toByte
    val err2 = intercept[IllegalArgumentException](Binary.decodePngPixels(crcFlip))
    assert(err2.getMessage.contains("CRC mismatch"), err2.getMessage)
    // untouched payload still decodes
    assert(Binary.decodePngPixels(good).samples.nonEmpty)
  }

  // ---- r15: ImageIO seam (JPEG/GIF pixels; PNG profile-gap routing) ----

  private def imageioBytes(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"JDK $fmt writer missing")
    bos.toByteArray
  }

  test("decodeImagePixels: JPEG rasterizes through ImageIO; uniform gray stays uniform") {
    // Lossy codec, so the reference IS ImageIO's own read — the seam must
    // reproduce it sample-for-sample (channel-mapping correctness)...
    val rnd = new scala.util.Random(7)
    val img = new java.awt.image.BufferedImage(24, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 24) img.setRGB(x, y, rnd.nextInt() & 0xffffff)
    val jpeg = imageioBytes(img, "jpg")
    val px = Binary.decodeImagePixels(jpeg)
    assert((px.width, px.height, px.channels) == ((24, 16, 3)))
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpeg))
    for (y <- 0 until 16; x <- 0 until 24) {
      val o = (y * 24 + x) * 3
      val got = ((px.samples(o) & 0xff) << 16) |
        ((px.samples(o + 1) & 0xff) << 8) | (px.samples(o + 2) & 0xff)
      assert(got == (ref.getRGB(x, y) & 0xffffff), s"($x,$y)")
    }
    // ...and a DC-only fixture pins values independently of the codec: a
    // uniform mid-gray image must decode to (near-)uniform mid-gray.
    val flat = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16) flat.setRGB(x, y, 0x808080)
    val fpx = Binary.decodeImagePixels(imageioBytes(flat, "jpg"))
    val mean = fpx.samples.map(_ & 0xff).sum.toDouble / fpx.samples.length
    assert(math.abs(mean - 128.0) <= 1.5, s"uniform gray drifted: $mean")
  }

  test("decodeImagePixels: GIF palette raster decodes to exact known stats") {
    // GIF is lossless over its palette: half pure-red, half pure-blue
    // (both exact entries in TYPE_BYTE_INDEXED's 6x6x6 cube). 8x8, not
    // smaller: the JDK GIF writer mangles the LZW tail of tiny rasters
    // (a 4x2 fixture round-trips with its second row black).
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
    for (y <- 0 until 8; x <- 0 until 8)
      img.setRGB(x, y, if (x < 4) 0xff0000 else 0x0000ff)
    val gif = imageioBytes(img, "gif")
    Binary.parseGif(gif) // fixture sanity: real GIF magic
    val px = Binary.decodeImagePixels(gif)
    assert((px.width, px.height) == ((8, 8)))
    assert(px.channels == 3 || px.channels == 4, s"channels ${px.channels}")
    // exact per-channel sums over the first 3 channels
    val sums = new Array[Long](px.channels)
    for (i <- px.samples.indices) sums(i % px.channels) += px.samples(i) & 0xff
    assert(sums(0) == 32L * 255 && sums(1) == 0L && sums(2) == 32L * 255,
      sums.toSeq.toString)
    if (px.channels == 4) assert(sums(3) == 64L * 255, "alpha should be opaque")
    // and the stats face: luma(red)=76, luma(blue)=29 (integer Rec.601)
    val stats = Binary.decodeImageStats(
      Seq(Binary.MediaPayload(1L, gif, "image/gif")).toDS(), bins = 16).collect().head
    assert(stats.mean_luma == (32 * 76 + 32 * 29) / 64.0, stats.mean_luma.toString)
    assert(stats.luma_hist(4) == 32 && stats.luma_hist(1) == 32 &&
      stats.luma_hist.sum == 64, stats.luma_hist.toSeq.toString)
  }

  test("decodeImagePixels: palette and Adam7 PNGs route to ImageIO (profile gaps closed)") {
    // palette PNG (color type 3) — the pure decoder names it unsupported,
    // the seam decodes it; values are exact (palette is lossless)
    val pal = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
    for (y <- 0 until 4; x <- 0 until 4)
      pal.setRGB(x, y, if ((x + y) % 2 == 0) 0xffffff else 0x000000)
    val palPng = imageioPng(pal)
    intercept[IllegalArgumentException](Binary.decodePngPixels(palPng))
    val ppx = Binary.decodeImagePixels(palPng)
    assert((ppx.width, ppx.height) == ((4, 4)))
    for (y <- 0 until 4; x <- 0 until 4) {
      val want = if ((x + y) % 2 == 0) 255 else 0
      val o = (y * 4 + x) * ppx.channels
      assert((ppx.samples(o) & 0xff) == want, s"($x,$y)")
    }
    // Adam7: write a progressive PNG, pin the interlace flag, and require
    // the seam's decode to equal the straight decode of the same image
    val src = new java.awt.image.BufferedImage(9, 7,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rnd = new scala.util.Random(3)
    for (y <- 0 until 7; x <- 0 until 9) src.setRGB(x, y, rnd.nextInt() & 0xffffff)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    val wp = writer.getDefaultWriteParam
    wp.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(src, null, null), wp)
    ios.close(); writer.dispose()
    val adam7 = bos.toByteArray
    assert((adam7(28) & 0xff) == 1, "fixture should be Adam7-interlaced")
    intercept[IllegalArgumentException](Binary.decodePngPixels(adam7))
    val apx = Binary.decodeImagePixels(adam7)
    val straight = Binary.decodeImagePixels(imageioPng(src))
    assert(apx.width == straight.width && apx.height == straight.height &&
      apx.channels == straight.channels)
    assert(apx.samples.toSeq == straight.samples.toSeq,
      "interlaced decode must equal the straight decode")
  }

  test("ImageIO seam keeps corruption NAMED — never routed to a tolerant codec") {
    import javax.imageio.ImageWriteParam
    // CRC-flipped PNG: a profile the pure decoder OWNS must keep its CRC
    // contract even though an ImageIO fallback now exists
    val good = Binary.toPngPayloads(spark, Seq((1L, "seam contract " * 10))
      .toDF("doc_id", "text")).collect().head.payload
    val flipped = good.clone()
    val mid = 8 + 25 + 8 + (good.length - (8 + 25 + 8) - 16) / 2
    flipped(mid) = (flipped(mid) ^ 0x10).toByte
    val crcErr = intercept[IllegalArgumentException](Binary.decodeImagePixels(flipped))
    assert(crcErr.getMessage.contains("CRC mismatch"), crcErr.getMessage)
    // JPEG truncated before any SOF: the named header error survives
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val jpeg = imageioBytes(img, "jpg")
    val sofAt = {
      var i = 2
      var at = -1
      while (at < 0 && i + 4 <= jpeg.length) {
        val m = jpeg(i + 1) & 0xff
        if (m == 0xc0 || m == 0xc1 || m == 0xc2) at = i
        else i += 2 + (((jpeg(i + 2) & 0xff) << 8) | (jpeg(i + 3) & 0xff))
      }
      at
    }
    assert(sofAt > 0, "fixture should contain a SOF marker")
    val cut = intercept[IllegalArgumentException](
      Binary.decodeImagePixels(jpeg.take(sofAt + 2)))
    assert(cut.getMessage.contains("truncated"), cut.getMessage)
    // unknown magic fails named (no stub fallback on the pixel path)
    val unk = intercept[IllegalArgumentException](
      Binary.decodeImagePixels("not an image".getBytes))
    assert(unk.getMessage.contains("image"), unk.getMessage)
    val _ = ImageWriteParam.MODE_DEFAULT // keep the import honest
  }

  test("decodeImageStats: one mixed-format partition batch, one schema") {
    val rgb = new java.awt.image.BufferedImage(6, 6,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 6; x <- 0 until 6) rgb.setRGB(x, y, 0x406080)
    val batch = Seq(
      Binary.MediaPayload(1L,
        Binary.toPngPayloads(spark, Seq((1L, "png doc")).toDF("doc_id", "text"))
          .collect().head.payload, "image/png"),
      Binary.MediaPayload(2L, imageioBytes(rgb, "jpg"), "image/jpeg"),
      Binary.MediaPayload(3L, imageioBytes(rgb, "gif"), "image/gif")).toDS()
    val stats = Binary.decodeImageStats(batch).collect().sortBy(_.doc_id)
    assert(stats.length == 3)
    assert(stats.map(_.doc_id).toSeq == Seq(1L, 2L, 3L))
    assert(stats(1).width == 6 && stats(2).width == 6)
    assert(stats.forall(s => s.luma_hist.sum == s.width.toLong * s.height))
    // jpeg and gif of the same flat image agree on luma to codec tolerance
    assert(math.abs(stats(1).mean_luma - stats(2).mean_luma) <= 2.0,
      s"${stats(1).mean_luma} vs ${stats(2).mean_luma}")
  }

  // ------------------------- MP4/BMFF container -------------------------

  private def u32(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  private def mp4box(typ: String, payload: Array[Byte]): Array[Byte] =
    u32(8L + payload.length) ++ typ.getBytes("US-ASCII") ++ payload

  /** Minimal spec-shaped MP4: ftyp(isom) + moov(mvhd + audio trak + video trak). */
  private def mp4Fixture(v1: Boolean = false): Array[Byte] = {
    def mvhd: Array[Byte] =
      if (v1) mp4box("mvhd", Array[Byte](1, 0, 0, 0) ++
        new Array[Byte](16) ++ u32(600) ++ u32(0) ++ u32(1200) ++ new Array[Byte](76))
      else mp4box("mvhd", new Array[Byte](4) ++
        new Array[Byte](8) ++ u32(600) ++ u32(1200) ++ new Array[Byte](76))
    def tkhd(w: Int, h: Int): Array[Byte] =
      if (v1) mp4box("tkhd", Array[Byte](1, 0, 0, 0) ++
        new Array[Byte](84) ++ u32(w.toLong << 16) ++ u32(h.toLong << 16))
      else mp4box("tkhd", new Array[Byte](4) ++
        new Array[Byte](72) ++ u32(w.toLong << 16) ++ u32(h.toLong << 16))
    val ftyp = mp4box("ftyp", "isom".getBytes("US-ASCII") ++ u32(0) ++
      "isomavc1".getBytes("US-ASCII"))
    val moov = mp4box("moov", mvhd ++
      mp4box("trak", tkhd(0, 0)) ++      // audio track: 0x0 by spec
      mp4box("trak", tkhd(320, 240)))
    ftyp ++ moov ++ mp4box("mdat", "framesgohere".getBytes("US-ASCII"))
  }

  test("parseMp4Meta: brand, first visual track dims, duration, track count (v0 + v1)") {
    for (v1 <- Seq(false, true)) {
      val m = Binary.parseMp4Meta(mp4Fixture(v1))
      assert(m == Binary.Mp4Meta("isom", 320, 240, 2.0, 2), s"v1=$v1: $m")
    }
    // decodePayload dispatches on the ftyp magic at bytes 4-7
    assert(Binary.decodePayload(mp4Fixture()) == ((320, 240, "mp4")))
  }

  test("parseMp4: named failures — truncation, no moov, audio-only, bad timescale") {
    val good = mp4Fixture()
    val truncated = intercept[IllegalArgumentException](
      Binary.parseMp4Meta(good.take(good.length - 30)))
    assert(truncated.getMessage.contains("overruns"), truncated.getMessage)
    val ftypOnly = mp4box("ftyp", "isom".getBytes("US-ASCII") ++ u32(0))
    assert(intercept[IllegalArgumentException](Binary.parseMp4Meta(ftypOnly))
      .getMessage.contains("no moov"))
    // audio-only: metadata face reports 0x0, dims face fails NAMED
    val audioOnly = mp4box("ftyp", "M4A ".getBytes("US-ASCII") ++ u32(0)) ++
      mp4box("moov",
        mp4box("mvhd", new Array[Byte](12) ++ u32(600) ++ u32(300) ++ new Array[Byte](76)) ++
        mp4box("trak", mp4box("tkhd", new Array[Byte](76) ++ u32(0) ++ u32(0))))
    val am = Binary.parseMp4Meta(audioOnly)
    assert(am == Binary.Mp4Meta("M4A", 0, 0, 0.5, 1), am.toString)
    assert(intercept[IllegalArgumentException](Binary.parseMp4(audioOnly))
      .getMessage.contains("no visual track"))
    // zero timescale can never silently divide
    val zeroTs = mp4box("ftyp", "isom".getBytes("US-ASCII") ++ u32(0)) ++
      mp4box("moov", mp4box("mvhd", new Array[Byte](12) ++ u32(0) ++ u32(300) ++ new Array[Byte](76)))
    assert(intercept[IllegalArgumentException](Binary.parseMp4Meta(zeroTs))
      .getMessage.contains("timescale"))
  }

  // ------------------------- q101: perceptual dHash -------------------------

  import graft.multimodal.ImageHash

  private def grayPx(w: Int, h: Int)(f: (Int, Int) => Int): Binary.PngPixels =
    Binary.PngPixels(w, h, 1,
      Array.tabulate(w * h)(i => f(i / w, i % w).toByte))

  test("dhash60: gradient fixtures — monotone ramps pin every bit") {
    // On an 11-wide, 6-tall canvas the grid samples ARE the pixels
    // (row r·6/6 = r, col c·11/11 = c), so the hash is closed-form.
    val inc = grayPx(11, 6)((_, c) => c * 20)          // rising rows: no bit set
    val dec = grayPx(11, 6)((_, c) => 200 - c * 20)    // falling rows: all 60 set
    assert(ImageHash.dhash60(inc) == 0L)
    assert(ImageHash.dhash60(dec) == (1L << 60) - 1)
    // flat image: no strict decreases anywhere
    assert(ImageHash.dhash60(grayPx(32, 9)((_, _) => 128)) == 0L)
  }

  test("dhash60: invariant under nearest-neighbor 2x upscale (the perceptual property)") {
    val base = grayPx(11, 6)((r, c) => (r * 37 + c * 91) % 256)
    val up = grayPx(22, 12)((r, c) => (r / 2 * 37 + c / 2 * 91) % 256)
    assert(ImageHash.dhash60(base) == ImageHash.dhash60(up),
      "a 2x pixel-doubled image must hash identically")
    // ...while inverting the image flips the gradient structure entirely
    val inv = grayPx(11, 6)((r, c) => 255 - (r * 37 + c * 91) % 256)
    val hamming = java.lang.Long.bitCount(
      ImageHash.dhash60(base) ^ ImageHash.dhash60(inv))
    assert(hamming > 40, s"inverted image should be far: hamming $hamming")
  }

  test("dhashes: the real PNG decode path equals the closed-form byte formula") {
    // Reference spelling of the oracle arithmetic: raster = UTF-8 bytes on
    // the 32-wide canvas, zero-padded; sample (r,c) is byte
    // (r·h/6)·32 + (c·32/11).
    def expected(text: String): Long = {
      val b = text.getBytes("UTF-8")
      val h = math.max(1, (b.length + 31) / 32)
      var hash = 0L
      for (r <- 0 until 6) {
        val g = (0 until 11).map { c =>
          val i = (r * h / 6) * 32 + (c * 32 / 11)
          if (i < b.length) b(i) & 0xff else 0
        }
        for (c <- 0 until 10) if (g(c) > g(c + 1)) hash |= 1L << (r * 10 + c)
      }
      hash
    }
    val docs = Seq((1L, "a short doc"), (2L, "z" * 100),
      (3L, ('!' to '~').mkString * 3), (4L, "the quick brown fox " * 9))
      .toDF("doc_id", "text")
    val got = ImageHash.dhashes(Binary.toPngPayloads(spark, docs))
      .as[(Long, Long)].collect().toMap
    Seq((1L, "a short doc"), (2L, "z" * 100),
      (3L, ('!' to '~').mkString * 3), (4L, "the quick brown fox " * 9))
      .foreach { case (id, t) =>
        assert(got(id) == expected(t), s"doc $id: ${got(id)} vs ${expected(t)}")
      }
  }

  test("dhashes: JPEG/GIF re-encodes of the same art hash near the PNG original") {
    // The operator's reason to exist: the same page art re-saved through a
    // lossy codec must land within a few bits, while a different image
    // stays far. Smooth low-frequency gradient (JPEG-friendly), 8-bit gray.
    def grayImg(f: (Int, Int) => Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(33, 12,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 12; x <- 0 until 33)
        img.getRaster.setSample(x, y, 0, f(x, y))
      img
    }
    val base = grayImg((x, y) => 128 + (100 * math.sin((x + 2 * y) / 3.0)).toInt)
    val inv = grayImg((x, y) => 127 - (100 * math.sin((x + 2 * y) / 3.0)).toInt)
    val ds = Seq(
      Binary.MediaPayload(1L, imageioBytes(base, "png"), "image/png"),
      Binary.MediaPayload(2L, imageioBytes(base, "jpg"), "image/jpeg"),
      Binary.MediaPayload(3L, imageioBytes(base, "gif"), "image/gif"),
      Binary.MediaPayload(4L, imageioBytes(inv, "png"), "image/png")).toDS()
    val h = graft.multimodal.ImageHash.dhashes(ds).as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(3L)) <= 4, s"gif drifted ${ham(h(1L), h(3L))} bits")
    assert(ham(h(1L), h(2L)) <= 8, s"jpeg drifted ${ham(h(1L), h(2L))} bits")
    assert(ham(h(1L), h(4L)) > 40,
      s"inverted image should be far: ${ham(h(1L), h(4L))}")
  }

  test("nearPairs: finds hamming-close hashes via bands, excludes far ones") {
    val hashes = Seq(
      (1L, 0L),                              // all-zero
      (2L, 3L),                              // hamming 2 from doc 1
      (3L, (1L << 60) - 1),                  // hamming 60 from doc 1
      (4L, (1L << 60) - 1 - 5)               // hamming 2 from doc 3
    ).toDF("doc_id", "dhash")
    val pairs = ImageHash.nearPairs(hashes, maxHamming = 10)
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs == Set((1L, 2L, 2), (3L, 4L, 2)), pairs.toString)
  }

  test("resizeGray + resizePayloads: nearest-sample exact, round-trips, any input format") {
    // known sampling: 4x4 ramp down to 2x2 reads pixels (0,0) (0,2) (2,0) (2,2)
    val src = grayPx(4, 4)((r, c) => r * 40 + c * 10)
    val small = Binary.resizeGray(src, 2, 2)
    assert(small.samples.map(_ & 0xff).toSeq == Seq(0, 20, 80, 100), small.samples.toSeq)
    // upscale then downscale by the same integer factor is the identity
    val up = Binary.resizeGray(src, 8, 8)
    assert(Binary.resizeGray(up, 4, 4).samples.toSeq == src.samples.toSeq)
    // the Spark face: decode -> resize -> re-encode, every decodable format
    val base = grayPx(33, 12)((r, c) => (r * 37 + c * 91) % 256)
    val ds = Seq(
      Binary.MediaPayload(1L, Binary.encodeGrayPng(33, 12, base.samples), "image/png"),
      Binary.MediaPayload(2L, imageioBytes({
        val img = new java.awt.image.BufferedImage(33, 12,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        for (y <- 0 until 12; x <- 0 until 33)
          img.getRaster.setSample(x, y, 0, (y * 37 + x * 91) % 256)
        img
      }, "gif"), "image/gif")).toDS()
    val out = Binary.resizePayloads(ds, 11, 6).collect().sortBy(_.doc_id)
    out.foreach { mp =>
      val px = Binary.decodePngPixels(mp.payload) // spec-valid PNG round-trip
      assert(px.width == 11 && px.height == 6 && px.channels == 1)
    }
    // both formats resize to the same raster (GIF of a gray image is lossless)
    assert(out(0).payload.toSeq == out(1).payload.toSeq,
      "png and gif sources must produce identical resized payloads")
    // resizing to the dHash grid dims preserves the hash EXACTLY: the
    // 11x6 resize reads source pixels (2r, 3c) — the very pixels the
    // hash's own 6x11 grid samples on the 33x12 original
    val hashedFull = ImageHash.dhash60(base)
    val hashedSmall = ImageHash.dhash60(Binary.decodePngPixels(out(0).payload))
    assert(hashedFull == hashedSmall,
      s"grid-aligned resize must be hash-exact: ${hashedFull} vs ${hashedSmall}")
  }

  test("keepSet: min-id survivor per near-dup component, singletons keep themselves") {
    val far = (1L << 60) - 1
    val hashes = Seq(
      (1L, 0L), (2L, 3L),           // component {1, 2}
      (3L, far), (4L, far - 1),     // component {3, 4}
      (5L, ((1L << 60) - 1) / 3 * 2) // singleton: alternating bits — every
                                     // band reads 682, colliding with no one
    ).toDF("doc_id", "dhash")
    val got = graft.multimodal.ImageHash.keepSet(hashes, maxHamming = 10)
      .as[(Long, Boolean, Option[Long])].collect().toSet
    assert(got == Set(
      (1L, true, None), (2L, false, Some(1L)),
      (3L, true, None), (4L, false, Some(3L)),
      (5L, true, None)), got.toString)
  }

  test("overCapPairs: >cap band cliques stay visible via the min-id star") {
    // cap=1 makes every shared bucket over-cap, so the star channel must
    // pair each member with the bucket's min-id representative.
    val hashes = Seq((1L, 0L), (2L, 3L), (3L, 1L << 20)).toDF("doc_id", "dhash")
    val stars = graft.multimodal.ImageHash.overCapPairs(hashes, maxHamming = 60, cap = 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(stars == Set((1L, 2L, 2), (1L, 3L, 1)), stars.toString)
  }

  // ------------------------------------------------------------------
  // q111: audio samples + energy-envelope dedup
  // ------------------------------------------------------------------

  test("wav: encode/decode round-trips samples exactly; stereo folds to " +
      "mono; corrupt clips fail NAMED") {
    import graft.multimodal.Audio
    val samples = Array(0, 100, -100, 32767, -32768, 7, -7)
    val wav = Audio.encodePcm16Wav(8000, samples)
    val clip = Audio.decodeWavSamples(wav)
    assert(clip.sampleRate == 8000 && clip.channels == 1)
    assert(clip.samples.toSeq == samples.toSeq)
    // header metadata path (q30's parser) agrees on the same bytes
    assert(graft.multimodal.Binary.parseWav(wav) == ((samples.length, 1, "wav")))
    // stereo: build by hand (encoder is mono) — frames average, truncating
    val stereo = {
      val b = Audio.encodePcm16Wav(8000, Array(0, 0)) // scaffold, rewrite fmt+data
      b(22) = 2 // channels = 2
      // data holds one stereo frame (10, 20) → mono (10+20)/2 = 15
      def put16(off: Int, v: Int): Unit = {
        b(off) = v.toByte; b(off + 1) = (v >>> 8).toByte
      }
      put16(44, 10); put16(46, 20)
      b
    }
    val folded = Audio.decodeWavSamples(stereo)
    assert(folded.channels == 2 && folded.samples.toSeq == Seq(15))
    // named failures, never a silent zero-clip
    def err(bytes: Array[Byte]): String =
      intercept[IllegalArgumentException](Audio.decodeWavSamples(bytes)).getMessage
    assert(err("not a wav at all".getBytes("UTF-8")).contains("RIFF"))
    val nonPcm = wav.clone(); nonPcm(20) = 3 // IEEE float format tag
    assert(err(nonPcm).contains("unsupported audio format"))
    val bits8 = wav.clone(); bits8(34) = 8
    assert(err(bits8).contains("bit depth"))
    val truncated = java.util.Arrays.copyOf(wav, wav.length - 4)
    assert(err(truncated).contains("truncated"))
    // hostile chunk length near Int.MaxValue must quarantine NAMED, not
    // overflow the chunk walk into an unnamed index exception (which
    // would escape the quarantine catch and kill a streaming batch)
    val hostile = wav.clone()
    hostile(16) = 0xEF.toByte; hostile(17) = 0xFF.toByte
    hostile(18) = 0xFF.toByte; hostile(19) = 0x7F.toByte // fmt len ≈ 2^31
    assert(err(hostile).contains("truncated or over-long"))
  }

  test("energyHash60: volume scaling leaves the fingerprint bit-identical " +
      "(the re-encode robustness property)") {
    import graft.multimodal.Audio
    // a structured clip: rising then falling byte waveform, all samples
    // EVEN (the synth ×200 guarantees it), so ×1/2 divides every frame
    // energy by exactly 4 and every comparison is preserved exactly
    val base = Array.tabulate(977)(k => ((k * 37 % 153) - 70) * 200)
    val half = base.map(_ / 2)
    assert(Audio.energyHash60(base) == Audio.energyHash60(half),
      "uniform volume scaling must not move a single envelope bit")
    // and through the full WAV round-trip, as a re-encoded clip would ship
    val hBase = Audio.energyHash60(Audio.decodeWavSamples(
      Audio.encodePcm16Wav(8000, base)).samples)
    val hHalf = Audio.energyHash60(Audio.decodeWavSamples(
      Audio.encodePcm16Wav(16000, half)).samples) // resampled-rate header too
    assert(hBase == hHalf)
    // a genuinely different clip is far away (discriminance guard)
    val other = Array.tabulate(977)(k => ((k * 91 % 149) - 60) * 200)
    assert(java.lang.Long.bitCount(
      Audio.energyHash60(base) ^ Audio.energyHash60(other)) > 16)
  }

  test("audio keepSet: a re-encoded (half-volume) twin dedups against the " +
      "original; quarantine keeps the scan alive") {
    import graft.multimodal.Audio
    import graft.multimodal.Binary.MediaPayload
    val base = Array.tabulate(500)(k => ((k * 53 % 171) - 80) * 200)
    val payloads = Seq(
      MediaPayload(1L, Audio.encodePcm16Wav(8000, base), "audio/wav"),
      MediaPayload(2L, Audio.encodePcm16Wav(8000, base.map(_ / 2)), "audio/wav"),
      MediaPayload(3L, Audio.encodePcm16Wav(8000,
        Array.tabulate(500)(k => ((k * 89 % 137) - 50) * 200)), "audio/wav"))
    val clips = Audio.clipRows(spark.createDataset(payloads)(
      org.apache.spark.sql.Encoders.product[MediaPayload])).toDF()
    val verdicts = Audio.keepSet(clips, maxHamming = 8)
      .as[(Long, Boolean, Option[Long])].collect().toSet
    assert(verdicts == Set((1L, true, None), (2L, false, Some(1L)),
      (3L, true, None)), verdicts.toString)
    // quarantine: one corrupt clip in the batch → named error row, the
    // good clips still decode (the i17 discipline)
    val withBad = payloads :+ MediaPayload(4L, "garbage".getBytes("UTF-8"), "audio/wav")
    val rows = Audio.clipRowsWithErrors(spark.createDataset(withBad)(
        org.apache.spark.sql.Encoders.product[MediaPayload]))
      .select(col("doc_id"), col("clip").isNotNull, col("decode_error"))
      .as[(Long, Boolean, Option[String])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(rows(1L)._1 && rows(1L)._2.isEmpty)
    assert(!rows(4L)._1 && rows(4L)._2.exists(_.contains("RIFF")))
  }

  test("GifAnim: encode→decode round-trips every frame exactly (the " +
      "uncompressed-LZW GIF89a is spec-valid to ImageIO)") {
    import graft.multimodal.GifAnim
    // > 254 pixels per frame exercises the re-CLEAR path; deterministic
    // pseudo-random bytes exercise the full palette
    val w = 32; val h = 10
    val frames = (0 until 4).map { k =>
      Array.tabulate[Byte](w * h)(i => (((i * 31 + k * 97) % 256) & 0xff).toByte)
    }
    val gif = GifAnim.encodeGifAnimation(w, h, frames)
    val back = GifAnim.decodeGifFrames(gif)
    assert(back.length == 4)
    back.zip(frames).zipWithIndex.foreach { case ((px, want), k) =>
      assert(px.width == w && px.height == h)
      // gray palette: every decoded channel at every pixel IS the source
      // byte (r=g=b=v ⇒ Rec.601 luma is v exactly)
      (0 until w * h).foreach { i =>
        val o = i * px.channels
        (0 until math.min(3, px.channels)).foreach { ch =>
          val v = px.samples(o + ch) & 0xff
          assert(v == (want(i) & 0xff), s"frame $k pixel $i ch $ch: $v != ${want(i) & 0xff}")
        }
      }
    }
  }

  test("frameDhashes: stride sampling picks frames 0,2,4,…; n_frames is the " +
      "container's own count; truncation fails NAMED (q48)") {
    import graft.multimodal.GifAnim
    val docs = Seq((7L, "x" * 600)).toDF("doc_id", "text") // 5 frames of 128
    val rows = GifAnim.frameDhashes(GifAnim.toGifAnimations(spark, docs), 2)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._2).toSeq
    assert(rows.map(_._2) == Seq(0L, 2L, 4L), rows.toString)
    assert(rows.forall(_._3 == 5L))
    // full frames are uniform ⇒ no gradients ⇒ dhash 0; the LAST frame's
    // zero-pad boundary is a real gradient and must show up in its hash
    assert(rows.filter(_._2 < 4).forall(_._4 == 0L), rows.toString)
    assert(rows.find(_._2 == 4L).get._4 != 0L, "pad boundary must set a bit")
    val gif = GifAnim.toGifAnimations(spark, docs).head().payload
    val e = intercept[IllegalArgumentException](
      GifAnim.decodeGifFrames(gif.take(8)))
    assert(e.getMessage.contains("gif"), e.getMessage)
  }

  test("near-duplicate ANIMATIONS ride the SimHash machinery: a re-encoded " +
      "animation with one perturbed sampled pixel band-joins at small hamming") {
    import graft.multimodal.{GifAnim, ImageHash}
    val base = Array.tabulate[Byte](GifAnim.FrameW * GifAnim.FrameH)(
      i => ((i * 53) % 200).toByte)
    def anim(perturb: Boolean) = {
      val frames = (0 until 3).map { k =>
        val f = base.clone()
        if (perturb && k == 1) {
          // flip one GRID-SAMPLED pixel hard: row sample 0, col sample 5
          val pos = (0 * GifAnim.FrameW) + (5 * GifAnim.FrameW / 11)
          f(pos) = ((f(pos) & 0xff) ^ 0x80).toByte
        }
        f
      }
      GifAnim.encodeGifAnimation(GifAnim.FrameW, GifAnim.FrameH, frames)
    }
    val payloads = Seq(
      graft.multimodal.Binary.MediaPayload(1L, anim(false), "image/gif"),
      graft.multimodal.Binary.MediaPayload(2L, anim(true), "image/gif"))
      .toDS()
    // frame-keyed ids (doc·10 + frame) feed the SAME banding as stills
    val hashes = GifAnim.frameDhashes(payloads, frameStride = 1)
      .select((col("doc_id") * 10 + col("frame_id")).as("doc_id"),
        col("frame_dhash").as("dhash"))
    val pairs = ImageHash.nearPairs(hashes, maxHamming = 4)
      .as[(Long, Long, Int)].collect().toSeq.sortBy(r => (r._1, r._2))
    // identical frames 0 and 2 pair at hamming 0; the perturbed frame 1
    // pairs at a small positive hamming (one sample moved ⇒ ≤ 2 bits)
    val byPair = pairs.map(r => (r._1, r._2) -> r._3).toMap
    assert(byPair((10L, 20L)) == 0 && byPair((12L, 22L)) == 0, pairs.toString)
    val h1 = byPair((11L, 21L))
    assert(h1 > 0 && h1 <= 4, s"perturbed frame hamming $h1")
  }

  test("imageStats + the q122 gate rules: exact sums, each rule bites on its " +
      "own failure mode") {
    import spark.implicits._
    // h=1 full row (fails pixels AND aspect, fill ok), h=4 full
    // (passes all), h=3 under-filled (200 of 288 canvas bytes: fill
    // fraction 0.69 x 'm'=109 gives mean 75.7 < the 80 floor)
    val docs = Seq(
      (1L, "x" * 96),                 // h=1 full row: 32x1, aspect 32:1
      (2L, "m" * 384),                // h=4, zero padding, mean = 'm'=109
      (3L, "m" * 200)                 // h=3: 88 pad zeros, mean ~75.7 < 80
    ).toDF("doc_id", "text")
    val st = graft.multimodal.Binary.imageStats(spark,
        graft.multimodal.Binary.toPpmPayloads(spark, docs))
      .collect().map(i => i.doc_id -> i).toMap
    assert(st(1L).width == 32 && st(1L).height == 1 && st(1L).sum_bytes == 96L * 'x')
    assert(st(2L).height == 4 && st(2L).sum_bytes == 384L * 'm')
    assert(st(3L).height == 3 && st(3L).sum_bytes == 200L * 'm')
    // the gate rules, exactly as q122 spells them
    def rules(w: Int, h: Int, s: Long) = (
      w * h >= 128,
      math.max(w, h) * 100 <= math.min(w, h) * 1100,
      s >= w.toLong * h * 3 * 80)
    assert(rules(32, 1, st(1L).sum_bytes) == ((false, false, true)),
      "tiny image must fail pixels and aspect")
    assert(rules(32, 4, st(2L).sum_bytes) == ((true, true, true)))
    assert(rules(32, 3, st(3L).sum_bytes) == ((false, true, false)),
      "under-filled raster must fail the fill rule (and 96 px < 128)")
  }

  test("q123 audio gate rules: each fails on its own clip pathology — " +
      "short, silent, noise-like") {
    import spark.implicits._
    def payload(id: Long, samples: Array[Int]) =
      graft.multimodal.Binary.MediaPayload(id,
        graft.multimodal.Audio.encodePcm16Wav(8000, samples), "audio/wav")
    // 1: too short (100 samples of healthy signal)
    // 2: long but near-silent (amplitude 50 square wave, rms 50)
    // 3: long, loud, but sign-alternates EVERY sample (zcr ~1 — noise-like)
    // 4: healthy: loud square wave flipping every 16 samples (zcr 1/16)
    def square(n: Int, amp: Int, period: Int): Array[Int] =
      Array.tabulate(n)(i => if ((i / period) % 2 == 0) amp else -amp)
    val clips = graft.multimodal.Audio.clipRows(
      Seq(payload(1L, square(100, 8000, 16)),
          payload(2L, square(512, 50, 16)),
          payload(3L, square(512, 8000, 1)),
          payload(4L, square(512, 8000, 16))).toDS())
      .collect().map(c => c.doc_id -> c).toMap
    def gate(c: graft.multimodal.Audio.ClipRow) = (
      c.n_samples >= 256,
      c.sum_sq * 1000 >= c.n_samples.toLong * 36600000000L,
      c.n_zero_crossings.toLong * 1000 <= c.n_samples.toLong * 505)
    assert(gate(clips(1L)) == ((false, true, true)), s"short: ${clips(1L)}")
    assert(gate(clips(2L)) == ((true, false, true)), s"silent: ${clips(2L)}")
    assert(gate(clips(3L)) == ((true, true, false)), s"noise: ${clips(3L)}")
    assert(gate(clips(4L)) == ((true, true, true)), s"healthy: ${clips(4L)}")
  }

  test("AIFF/AU ride the javax.sound seam: JDK-decoder parity, WAV-identical " +
      "stats, named header failures survive (r18)") {
    import graft.multimodal.Audio
    val samples = Array.tabulate(500)(k => (math.sin(k * 0.1) * 9000).toInt)

    // parity vs the JDK's OWN reader: our dispatcher's samples must equal
    // a direct javax.sound decode of the same payload
    def jdkSamples(p: Array[Byte]): Array[Int] = {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(p))
      val fmt = ais.getFormat
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](4096)
      var n = ais.read(tmp)
      while (n > 0) { buf.write(tmp, 0, n); n = ais.read(tmp) }
      ais.close()
      val b = buf.toByteArray
      Array.tabulate(b.length / 2) { f =>
        val raw =
          if (fmt.isBigEndian) ((b(2 * f) & 0xff) << 8) | (b(2 * f + 1) & 0xff)
          else (b(2 * f) & 0xff) | ((b(2 * f + 1) & 0xff) << 8)
        (raw << 16) >> 16
      }
    }

    val aiff = Audio.encodePcm16Aiff(8000, samples)
    val au = Audio.encodePcm16Au(8000, samples)
    val wav = Audio.encodePcm16Wav(8000, samples)
    for ((name, payload) <- Seq(("aiff", aiff), ("au", au))) {
      val clip = Audio.decodeAudioSamples(payload)
      assert(clip.sampleRate == 8000 && clip.channels == 1, s"$name header")
      assert(clip.samples.toSeq == samples.toSeq, s"$name round-trip")
      assert(clip.samples.toSeq == jdkSamples(payload).toSeq, s"$name jdk parity")
    }
    // cross-container stats parity: the SAME samples through all three
    // containers produce identical q111 rows (fp, peak, sum_sq, zc)
    import graft.multimodal.Binary.MediaPayload
    val rows = Audio.clipRows(Seq(
        MediaPayload(1L, wav, "audio/wav"),
        MediaPayload(2L, aiff, "audio/aiff"),
        MediaPayload(3L, au, "audio/basic"))
      .toDS()).collect().map(r => (r.peak, r.sum_sq, r.n_zero_crossings, r.fp)).toSet
    assert(rows.size == 1, s"containers must agree on stats: $rows")

    // named failures FROM OUR VALIDATORS, not the JDK's nameless reject
    def err(p: Array[Byte]): String =
      intercept[IllegalArgumentException](Audio.decodeAudioSamples(p)).getMessage
    assert(err(aiff.take(30)).startsWith("aiff:"), err(aiff.take(30)))
    assert(err(au.take(10)).startsWith("au:"), err(au.take(10)))
    val aifc = aiff.clone(); aifc(8) = 'A'; aifc(9) = 'I'; aifc(10) = 'F'; aifc(11) = 'C'
    assert(err(aifc).contains("AIFC"), err(aifc))
    val ulaw = au.clone(); ulaw(15) = 1 // encoding 1 = 8-bit mu-law
    assert(err(ulaw).contains("encoding 1"), err(ulaw))
    assert(err("OggS junk".getBytes("US-ASCII")).contains("unknown container"),
      err("OggS junk".getBytes("US-ASCII")))
    // a corrupt-length AIFF chunk fails named before the JDK ever runs
    val torn = aiff.clone()
    torn(16) = 0x7f.toByte // COMM declared length absurdly large
    assert(err(torn).contains("truncated or over-long"), err(torn))
  }
}
