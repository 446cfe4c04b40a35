package graft.multimodal

import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque `binary` payloads with typed
  * metadata, decoded per partition.
  *
  * The Spark-side shape is the real one — typed Encoders, binary schema,
  * mapPartitions batching (one decoder instantiation per partition, the
  * shape a JNI/FFMPEG/image codec binding needs) — and the decode itself
  * is REAL for every format whose metadata a pure JVM can parse: PPM (P6,
  * including comment lines), BMP (BITMAPINFOHEADER, uncompressed), WAV
  * (RIFF/PCM), PNG (signature + IHDR dimensions), and JPEG (SOF0/1/2
  * marker scan). Payloads whose magic matches none of these fall back to
  * the deterministic `fakeDecode` (md5-derived metadata) standing in for
  * the heavyweight pixel codecs (DCT/deflate/H.264 rasters) that are out
  * of sandbox scope — the dispatch point (`decodePayload`) is where a
  * codec binding plugs in.
  */
object Binary {

  final case class MediaPayload(doc_id: Long, payload: Array[Byte], media_type: String)

  /** For images, (width, height) are pixel dimensions; for WAV audio,
    * `width` carries samples-per-channel and `height` the channel count
    * (documented overload — one typed row shape across modalities keeps
    * the downstream schema stable).
    */
  final case class MediaMeta(doc_id: Long, byte_len: Int, width: Int, height: Int, format: String)

  /** Wrap a text corpus as opaque binary payloads (UTF-8 bytes) with no
    * parseable magic — exercises the unknown-codec fallback path.
    */
  def toPayloads(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text").cast("binary").as("payload"),
      lit("image/fake").as("media_type"))

  /** PPM canvas width used by [[toPpmPayloads]]; 3 bytes per pixel. */
  val PpmWidth = 32

  /** Render a text corpus as REAL P6 PPM images: the UTF-8 bytes become the
    * RGB raster of a `PpmWidth`-wide canvas, zero-padded to fill the last
    * row (height = ceil(bytes / (PpmWidth*3)), min 1). Every payload is a
    * spec-valid PPM any external tool can open — so q30's decode step runs
    * the real parser, and the metadata is still closed-form in the doc's
    * byte length (the DuckDB oracle recomputes it arithmetically).
    *
    * Built per partition in the typed batch shape (string→bytes→image
    * encode is the media-INGEST shape, amortizable per partition exactly
    * like decode).
    */
  def toPpmPayloads(spark: SparkSession, docs: DataFrame): Dataset[MediaPayload] = {
    import spark.implicits._
    // NOT widened (r22 A/B, driver-shaped): PPM synthesis is a header
    // stamp + one arraycopy per doc — the exchange cost more than the
    // spread repaid (q122 0.29→0.19 s, q30 0.25→0.13 s on removal), and
    // at scale the scan already has splits so the widen bought nothing.
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val rowBytes = PpmWidth * 3
          val h = math.max(1, (bytes.length + rowBytes - 1) / rowBytes)
          val header = s"P6\n$PpmWidth $h\n255\n"
            .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
          val out = new Array[Byte](header.length + h * rowBytes)
          System.arraycopy(header, 0, out, 0, header.length)
          System.arraycopy(bytes, 0, out, header.length, bytes.length)
          MediaPayload(id, out, "image/ppm")
        }
      }
  }

  /** STUB decode for payloads with no recognized magic: deterministic fake
    * metadata from the payload hash. Mirrors the SQL fake-decode that the
    * pre-r10 q30 oracle used (same md5-prefix hash), so the fallback path
    * stays testable end to end.
    */
  def fakeDecode(payload: Array[Byte]): (Int, Int, String) = {
    val hex = MessageDigest.getInstance("MD5").digest(payload)
      .map("%02x".format(_)).mkString
    val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    val width = (320 + h % 1600).toInt
    val height = (240 + (h / 1600) % 840).toInt
    val format = (h % 3) match { case 0 => "jpeg"; case 1 => "png"; case _ => "webp" }
    (width, height, format)
  }

  private def fail(format: String, why: String): Nothing =
    throw new IllegalArgumentException(s"media decode [$format]: $why")

  /** P6 PPM: "P6" then whitespace-separated width, height, maxval (with
    * `#`-comment support per the netpbm spec), one whitespace byte, then
    * the binary RGB raster. Returns (width, height, "ppm"); validates the
    * raster length so a truncated payload fails NAMED, not with garbage
    * dimensions.
    */
  def parsePpm(p: Array[Byte]): (Int, Int, String) = {
    val (w, h, _, _) = parsePpmFull(p)
    (w, h, "ppm")
  }

  /** The full P6 parse behind [[parsePpm]]: (width, height, raster start
    * offset, bytes per sample) — the stats faces need the sample width to
    * refuse 16-bit rasters NAMED instead of summing half the bytes.
    */
  private[multimodal] def parsePpmFull(p: Array[Byte]): (Int, Int, Int, Int) = {
    if (p.length < 2 || p(0) != 'P' || p(1) != '6') fail("ppm", "missing P6 magic")
    var i = 2
    def skipWs(): Unit = {
      var in = true
      while (in && i < p.length) {
        val c = p(i)
        if (c == '#') { while (i < p.length && p(i) != '\n') i += 1 }
        else if (c == ' ' || c == '\t' || c == '\n' || c == '\r') i += 1
        else in = false
      }
    }
    def readInt(what: String): Int = {
      skipWs()
      val s = i
      while (i < p.length && p(i) >= '0' && p(i) <= '9') i += 1
      if (i == s) fail("ppm", s"expected $what at byte $s")
      var v = 0L
      var j = s
      while (j < i) { v = v * 10 + (p(j) - '0'); j += 1 }
      if (v > Int.MaxValue) fail("ppm", s"$what overflows int")
      v.toInt
    }
    val w = readInt("width")
    val h = readInt("height")
    val maxval = readInt("maxval")
    if (maxval <= 0 || maxval > 65535) fail("ppm", s"bad maxval $maxval")
    i += 1 // exactly ONE whitespace byte separates header from raster
    val bytesPerSample = if (maxval < 256) 1 else 2
    val expect = w.toLong * h * 3 * bytesPerSample
    if (p.length - i < expect)
      fail("ppm", s"raster truncated: need $expect bytes, have ${p.length - i}")
    (w, h, i, bytesPerSample)
  }

  /** Per-image raster stats for the INTAKE GATE (q122): dimensions from
    * the REAL parse plus the exact raster byte sum — the integer the gate
    * rules (min pixels, max aspect, min mean fill) compare against, exact
    * end to end so the oracle recomputes it bit-for-bit. One pass over the
    * payload per image, per-partition (the decode shape q30/q101 set).
    */
  final case class ImageStats(doc_id: Long, width: Int, height: Int, sum_bytes: Long)

  def imageStats(spark: SparkSession, payloads: Dataset[MediaPayload]): Dataset[ImageStats] = {
    import spark.implicits._
    payloads.mapPartitions(_.map { m =>
      val (w, h, s) = imageStatsOf(m.payload)
      ImageStats(m.doc_id, w, h, s)
    })
  }

  private def imageStatsOf(p: Array[Byte]): (Int, Int, Long) = {
    val (w, h, start, bytesPerSample) = parsePpmFull(p)
    (w, h, rasterByteSum(p, w, h, start, bytesPerSample))
  }

  /** [[imageStats]] with MEMBER-LEVEL quarantine (the clipRowsWithErrors
    * discipline): a corrupt payload yields one in-band `reason` row —
    * (doc_id, nulls, reason) — instead of failing the scan; healthy rows
    * carry `reason = null`. The streaming intake gate (s35) rides this:
    * one bad image must cost one row, never the batch.
    */
  def imageStatsWithErrors(payloads: Dataset[MediaPayload]): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.mapPartitions(_.map { m =>
      try {
        val (w, h, s) = imageStatsOf(m.payload)
        (m.doc_id, Some(w), Some(h), Some(s), Option.empty[String])
      } catch {
        case e: IllegalArgumentException =>
          (m.doc_id, Option.empty[Int], Option.empty[Int],
            Option.empty[Long], Some(e.getMessage))
      }
    }).toDF("doc_id", "width", "height", "sum_bytes", "reason")
  }

  /** Byte sum of a parse-validated 8-bit P6 raster at its parsed offset.
    * A 16-bit raster (maxval ≥ 256) fails NAMED — the byte-scaled gate
    * thresholds and the mean-byte stat are meaningless over half-samples,
    * and summing the wrong width silently would corrupt the q122/s35
    * verdicts. Shared by [[imageStats]], [[imageStatsWithErrors]] and
    * [[ppmMeanByte]].
    */
  private def rasterByteSum(p: Array[Byte], w: Int, h: Int,
      start: Int, bytesPerSample: Int): Long = {
    if (bytesPerSample != 1)
      fail("ppm", "16-bit raster stats unsupported — the byte-scaled gate " +
        "thresholds have no meaning at 2 bytes/sample")
    val end = start + w * h * 3
    var s = 0L
    var i = start
    while (i < end) { s += (p(i) & 0xff); i += 1 }
    s
  }

  /** Mean raster byte of a P6 PPM (maxval < 256) — the pixel-stats step a
    * real feature extractor would do; exercised by the decode specs.
    */
  def ppmMeanByte(p: Array[Byte]): Double = {
    val (w, h, s) = imageStatsOf(p)
    s.toDouble / (w * h * 3)
  }

  private def le32(p: Array[Byte], off: Int): Int =
    (p(off) & 0xff) | ((p(off + 1) & 0xff) << 8) |
      ((p(off + 2) & 0xff) << 16) | ((p(off + 3) & 0xff) << 24)

  private def le16(p: Array[Byte], off: Int): Int =
    (p(off) & 0xff) | ((p(off + 1) & 0xff) << 8)

  /** Uncompressed BMP with the 40-byte BITMAPINFOHEADER: 'BM' magic, pixel
    * dims at offsets 18/22 (height may be negative = top-down; dimensions
    * reported as magnitudes). Compressed BMPs (BI_RLE/BI_JPEG) fail named.
    */
  def parseBmp(p: Array[Byte]): (Int, Int, String) = {
    if (p.length < 54 || p(0) != 'B' || p(1) != 'M') fail("bmp", "missing BM magic")
    val dibSize = le32(p, 14)
    if (dibSize < 40) fail("bmp", s"unsupported DIB header size $dibSize")
    val w = le32(p, 18)
    val h = le32(p, 22)
    val compression = le32(p, 30)
    if (compression != 0) fail("bmp", s"unsupported compression $compression")
    if (w <= 0 || h == 0) fail("bmp", s"bad dimensions ${w}x$h")
    (w, math.abs(h), "bmp")
  }

  /** RIFF/WAVE PCM: walks the chunk list for `fmt ` and `data`. Returns
    * (samples-per-channel, channels, "wav") — see [[MediaMeta]]'s
    * documented audio overload of (width, height).
    */
  def parseWav(p: Array[Byte]): (Int, Int, String) = {
    if (p.length < 44 || p(0) != 'R' || p(1) != 'I' || p(2) != 'F' || p(3) != 'F' ||
        p(8) != 'W' || p(9) != 'A' || p(10) != 'V' || p(11) != 'E')
      fail("wav", "missing RIFF/WAVE magic")
    var i = 12
    var channels = -1
    var bitsPerSample = -1
    var dataLen = -1L
    while (i + 8 <= p.length && (channels < 0 || dataLen < 0)) {
      val id = new String(p, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val len = le32(p, i + 4).toLong & 0xffffffffL
      if (id == "fmt ") {
        if (i + 8 + 16 > p.length) fail("wav", "fmt chunk truncated")
        val audioFormat = le16(p, i + 8)
        if (audioFormat != 1) fail("wav", s"unsupported audio format $audioFormat (PCM only)")
        channels = le16(p, i + 10)
        bitsPerSample = le16(p, i + 22)
        if (channels <= 0 || bitsPerSample <= 0)
          fail("wav", s"bad fmt: channels=$channels bits=$bitsPerSample")
      } else if (id == "data") {
        if (i + 8 + len > p.length) fail("wav", "data chunk truncated")
        dataLen = len
      }
      if (len > Int.MaxValue - 16) fail("wav", s"chunk $id too large: $len")
      i += 8 + len.toInt + (len.toInt & 1) // chunks are word-aligned
    }
    if (channels < 0) fail("wav", "no fmt chunk")
    if (dataLen < 0) fail("wav", "no data chunk")
    val bytesPerFrame = channels * (bitsPerSample / 8)
    val samples = if (bytesPerFrame == 0) 0L else dataLen / bytesPerFrame
    if (samples > Int.MaxValue) fail("wav", "sample count overflows int")
    (samples.toInt, channels, "wav")
  }

  /** RMS amplitude of a PCM16 mono/stereo WAV's data chunk — the
    * feature-extract step's audio analog; exercised by the decode specs.
    */
  def wavRmsPcm16(p: Array[Byte]): Double = {
    val (samples, channels, _) = parseWav(p)
    val n = samples * channels
    if (n == 0) return 0.0
    // data chunk is located by re-walking (payloads are small per row here;
    // a production decoder keeps the offset from the first walk)
    var i = 12
    var off = -1
    while (i + 8 <= p.length && off < 0) {
      val id = new String(p, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val len = le32(p, i + 4)
      if (id == "data") off = i + 8 else i += 8 + len + (len & 1)
    }
    var s = 0.0
    var j = 0
    while (j < n) {
      val v = (le16(p, off + 2 * j).toShort).toDouble
      s += v * v
      j += 1
    }
    math.sqrt(s / n)
  }

  private def be32(p: Array[Byte], off: Int): Int =
    ((p(off) & 0xff) << 24) | ((p(off + 1) & 0xff) << 16) |
      ((p(off + 2) & 0xff) << 8) | (p(off + 3) & 0xff)

  private def be16(p: Array[Byte], off: Int): Int =
    ((p(off) & 0xff) << 8) | (p(off + 1) & 0xff)

  /** PNG signature bytes (8), per the PNG spec §5.2. */
  private val PngMagic =
    Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')

  /** PNG: the 8-byte signature must be followed by the IHDR chunk (the
    * spec mandates IHDR first), whose data starts at offset 16 with
    * big-endian width then height. Validates the chunk tag and the
    * dimension range so a truncated or reordered payload fails NAMED.
    */
  def parsePng(p: Array[Byte]): (Int, Int, String) = {
    if (p.length < 8 || !PngMagic.indices.forall(i => p(i) == PngMagic(i)))
      fail("png", "missing PNG signature")
    if (p.length < 24) fail("png", "truncated before IHDR")
    if (!(p(12) == 'I' && p(13) == 'H' && p(14) == 'D' && p(15) == 'R'))
      fail("png", "first chunk is not IHDR")
    val ihdrLen = be32(p, 8)
    if (ihdrLen != 13) fail("png", s"IHDR length $ihdrLen != 13")
    val w = be32(p, 16)
    val h = be32(p, 20)
    if (w <= 0 || h <= 0) fail("png", s"bad dimensions ${w}x$h")
    (w, h, "png")
  }

  /** JPEG: scans the marker stream for the first frame header (SOF0
    * baseline / SOF1 extended / SOF2 progressive — the three DCT frame
    * types real files carry), whose payload is [precision, height:16,
    * width:16]. Skips every other variable-length segment by its declared
    * length; a payload that ends before any SOF fails NAMED. (Pixel
    * DECODE needs a DCT codec — out of scope; dimensions and format live
    * entirely in the header stream, like the other parsers here.)
    */
  def parseJpeg(p: Array[Byte]): (Int, Int, String) = {
    if (p.length < 4 || (p(0) & 0xff) != 0xff || (p(1) & 0xff) != 0xd8)
      fail("jpeg", "missing SOI magic")
    var i = 2
    while (i + 4 <= p.length) {
      if ((p(i) & 0xff) != 0xff) fail("jpeg", s"expected marker at byte $i")
      // the spec allows any number of 0xFF FILL bytes before a marker
      while (i + 2 < p.length && (p(i + 1) & 0xff) == 0xff) i += 1
      // the fill skip may have consumed the outer guard's headroom — a
      // variable-length segment still needs its 2 length bytes in range
      if (i + 4 > p.length) fail("jpeg", "truncated in a marker segment")
      val marker = p(i + 1) & 0xff
      if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7) || marker == 0x01) {
        i += 2 // standalone markers carry no length
      } else if (marker == 0xd9 || marker == 0xda) {
        // EOI / start-of-scan before any SOF: no frame header to read
        fail("jpeg", "no SOF frame header before scan data")
      } else {
        val len = be16(p, i + 2)
        if (len < 2 || i + 2 + len > p.length)
          fail("jpeg", s"segment 0x${marker.toHexString} truncated")
        if (marker == 0xc0 || marker == 0xc1 || marker == 0xc2) {
          if (len < 7) fail("jpeg", "SOF segment too short")
          val h = be16(p, i + 5)
          val w = be16(p, i + 7)
          if (w <= 0 || h <= 0) fail("jpeg", s"bad dimensions ${w}x$h")
          return (w, h, "jpeg")
        }
        i += 2 + len
      }
    }
    fail("jpeg", "truncated before any SOF frame header")
  }

  /** GIF87a/GIF89a: 6-byte version magic, then the logical screen
    * descriptor's little-endian width and height at bytes 6-9. Zero
    * dimensions or a truncated descriptor fail NAMED.
    */
  def parseGif(p: Array[Byte]): (Int, Int, String) = {
    if (p.length < 6 || p(0) != 'G' || p(1) != 'I' || p(2) != 'F' ||
        p(3) != '8' || !(p(4) == '7' || p(4) == '9') || p(5) != 'a')
      fail("gif", "missing GIF87a/GIF89a magic")
    if (p.length < 10) fail("gif", "truncated before the screen descriptor")
    val w = (p(6) & 0xff) | ((p(7) & 0xff) << 8)
    val h = (p(8) & 0xff) | ((p(9) & 0xff) << 8)
    if (w <= 0 || h <= 0) fail("gif", s"bad dimensions ${w}x$h")
    (w, h, "gif")
  }

  /** Parsed MP4/BMFF container metadata: major brand, presentation
    * dimensions of the first VISUAL track (0×0 for audio-only files —
    * an .m4a is a legitimate container), movie duration in seconds
    * (mvhd duration/timescale), and the track count.
    */
  final case class Mp4Meta(brand: String, widthPx: Int, heightPx: Int,
      durationSec: Double, nTracks: Int)

  /** ISO BMFF (MP4/MOV — ISO 14496-12) container metadata, pure JVM: walk
    * the top-level box tree (u32 size + 4cc; size 1 → 64-bit largesize;
    * size 0 → to-EOF), read `ftyp`'s major brand, `moov/mvhd`'s
    * timescale+duration (v0 and v1 layouts), count `trak` boxes, and take
    * width/height from the first `tkhd` with nonzero 16.16 presentation
    * size (visual tracks carry it; audio tracks are 0×0 by spec).
    * Truncated boxes, a missing `moov`/`mvhd`, and a zero timescale fail
    * NAMED — never garbage metadata.
    */
  def parseMp4Meta(p: Array[Byte]): Mp4Meta = {
    if (p.length < 12 || p(4) != 'f' || p(5) != 't' || p(6) != 'y' || p(7) != 'p')
      fail("mp4", "missing ftyp box")
    def be32(off: Int): Long = {
      if (off + 4 > p.length) fail("mp4", s"truncated u32 at byte $off")
      ((p(off) & 0xffL) << 24) | ((p(off + 1) & 0xffL) << 16) |
        ((p(off + 2) & 0xffL) << 8) | (p(off + 3) & 0xffL)
    }
    def be64(off: Int): Long = (be32(off) << 32) | be32(off + 4)
    /** (payloadStart, payloadEnd, type) for each box in [lo, hi). */
    def boxes(lo: Int, hi: Int): Iterator[(Int, Int, String)] =
      new Iterator[(Int, Int, String)] {
        private var i = lo
        override def hasNext: Boolean = i < hi
        override def next(): (Int, Int, String) = {
          if (i + 8 > hi) fail("mp4", s"truncated box header at byte $i")
          val size0 = be32(i)
          val typ = new String(p, i + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
          val (start, end) =
            if (size0 == 1) {
              val large = be64(i + 8)
              if (large < 16 || i + large > hi)
                fail("mp4", s"box $typ largesize $large overruns at byte $i")
              (i + 16, i + large.toInt)
            } else if (size0 == 0) (i + 8, hi) // extends to end of file
            else {
              if (size0 < 8 || i + size0 > hi)
                fail("mp4", s"box $typ size $size0 overruns at byte $i")
              (i + 8, (i + size0).toInt)
            }
          i = end
          (start, end, typ)
        }
      }
    val top = boxes(0, p.length).toSeq
    val brand = new String(p, 8, 4, java.nio.charset.StandardCharsets.US_ASCII).trim
    val moov = top.find(_._3 == "moov").getOrElse(fail("mp4", "no moov box"))
    var timescale = 0L
    var duration = 0L
    var nTracks = 0
    var w = 0
    var h = 0
    boxes(moov._1, moov._2).foreach {
      case (s, e, "mvhd") =>
        val v = p(s) & 0xff
        if (v == 1) {
          if (s + 32 > e) fail("mp4", "mvhd v1 truncated")
          timescale = be32(s + 20); duration = be64(s + 24)
        } else {
          if (s + 20 > e) fail("mp4", "mvhd v0 truncated")
          timescale = be32(s + 12); duration = be32(s + 16)
        }
      case (s, e, "trak") =>
        nTracks += 1
        boxes(s, e).foreach {
          case (ts, te, "tkhd") if w == 0 =>
            val v = p(ts) & 0xff
            val wOff = if (v == 1) ts + 88 else ts + 76
            if (wOff + 8 <= te) {
              val tw = (be32(wOff) >> 16).toInt   // 16.16 fixed point
              val th = (be32(wOff + 4) >> 16).toInt
              if (tw > 0 && th > 0) { w = tw; h = th }
            } else fail("mp4", "tkhd truncated before presentation size")
          case _ =>
        }
      case _ =>
    }
    if (timescale == 0) fail("mp4", "no mvhd timescale")
    Mp4Meta(brand, w, h, duration.toDouble / timescale, nTracks)
  }

  /** The (w, h, format) dims face of [[parseMp4Meta]] — an audio-only
    * container has no dimensions and fails NAMED here (use
    * [[parseMp4Meta]] when 0×0 is acceptable).
    */
  def parseMp4(p: Array[Byte]): (Int, Int, String) = {
    val m = parseMp4Meta(p)
    if (m.widthPx <= 0 || m.heightPx <= 0)
      fail("mp4", "no visual track carries presentation dimensions")
    (m.widthPx, m.heightPx, "mp4")
  }

  /** Fully decoded PNG raster: `samples` holds the defiltered bytes
    * row-major, `channels` samples per pixel (gray=1, gray+alpha=2,
    * RGB=3, RGBA=4).
    */
  final case class PngPixels(width: Int, height: Int, channels: Int,
      samples: Array[Byte])

  /** REAL PNG pixel decode — pure JVM: concatenated IDAT chunks inflate
    * through `java.util.zip.Inflater`, then each scanline defilters per
    * the PNG spec §9 (None/Sub/Up/Average/Paeth against the
    * bytes-per-pixel left/up/up-left neighbors). Supports the ubiquitous
    * non-interlaced 8-bit gray/RGB/gray+alpha/RGBA profiles; palette
    * (needs PLTE), 16-bit and Adam7 fail NAMED — as does a truncated or
    * corrupt IDAT stream (short inflate / DataFormatException), never
    * garbage pixels.
    */
  def decodePngPixels(p: Array[Byte]): PngPixels = {
    val (w, h, _) = parsePng(p)
    val bitDepth = p(24) & 0xff
    val colorType = p(25) & 0xff
    val compression = p(26) & 0xff
    val filterMethod = p(27) & 0xff
    val interlace = p(28) & 0xff
    if (bitDepth != 8) fail("png", s"unsupported bit depth $bitDepth (8 only)")
    val channels = colorType match {
      case 0 => 1
      case 2 => 3
      case 4 => 2
      case 6 => 4
      case 3 => fail("png", "palette color type needs a PLTE lookup — unsupported")
      case t => fail("png", s"bad color type $t")
    }
    if (compression != 0) fail("png", s"bad compression method $compression")
    if (filterMethod != 0) fail("png", s"bad filter method $filterMethod")
    if (interlace != 0) fail("png", "Adam7 interlace unsupported")
    val idat = new java.io.ByteArrayOutputStream()
    val crc = new java.util.zip.CRC32()
    var i = 8
    var sawEnd = false
    while (!sawEnd) {
      if (i + 8 > p.length) fail("png", s"truncated chunk header at byte $i")
      val len = be32(p, i)
      // Long math: a crafted len near Int.MaxValue would wrap `i + 12 + len`
      // negative and slide past the truncation check into a bare
      // IndexOutOfBounds — the named-failure contract covers hostile
      // headers, not just honest truncation.
      if (len < 0 || i.toLong + 12L + len > p.length)
        fail("png", s"truncated chunk at byte $i (declared $len data bytes)")
      val tag = new String(p, i + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
      // Chunk CRC32 covers tag + data (PNG spec §5.3). Without this check
      // a bit-flipped IDAT that still inflates to the right length decodes
      // to wrong pixel VALUES — the one corruption class the truncation
      // and deflate-format checks can't see, and the documented contract
      // is "corrupt fails named, never garbage pixels".
      crc.reset()
      crc.update(p, i + 4, 4 + len)
      if (crc.getValue.toInt != be32(p, i + 8 + len))
        fail("png", s"chunk $tag CRC mismatch at byte $i — corrupt payload")
      if (tag == "IDAT") idat.write(p, i + 8, len)
      else if (tag == "IEND") sawEnd = true
      i += 12 + len
    }
    if (idat.size == 0) fail("png", "no IDAT chunk")
    // Same hostile-header discipline for the raster allocation: 65536²
    // RGBA dims overflow Int and would throw NegativeArraySize unnamed.
    val strideL = w.toLong * channels
    val rawLenL = h.toLong * (strideL + 1)
    if (rawLenL > Int.MaxValue - 16)
      fail("png", s"raster too large to decode in one array: ${w}x$h x$channels " +
        s"($rawLenL filtered bytes)")
    val stride = strideL.toInt
    val raw = new Array[Byte](rawLenL.toInt)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    var off = 0
    try {
      while (off < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, off, raw.length - off)
        if (n == 0) {
          // 0 without progress: truncated stream (needsInput), a
          // preset-dictionary zlib header (needsDictionary — valid zlib,
          // not valid PNG), or any other stall — all must fail NAMED
          // rather than spin this loop forever on hostile payloads.
          if (inf.needsDictionary())
            fail("png", "IDAT declares a preset zlib dictionary (FDICT) — not valid PNG")
          fail("png", s"IDAT truncated: inflated $off of ${raw.length} filtered bytes")
        }
        off += n
      }
    } catch {
      case e: java.util.zip.DataFormatException =>
        fail("png", s"corrupt IDAT deflate stream: ${e.getMessage}")
    } finally inf.end()
    if (off < raw.length)
      fail("png", s"IDAT truncated: inflated $off of ${raw.length} filtered bytes")
    val out = new Array[Byte](h * stride)
    val bpp = channels // 8-bit only, so bytes-per-pixel == channels
    var y = 0
    while (y < h) {
      val ft = raw(y * (stride + 1)) & 0xff
      val rs = y * (stride + 1) + 1
      val os = y * stride
      var x = 0
      while (x < stride) {
        val rb = raw(rs + x) & 0xff
        val a = if (x >= bpp) out(os + x - bpp) & 0xff else 0
        val b = if (y > 0) out(os - stride + x) & 0xff else 0
        val c = if (x >= bpp && y > 0) out(os - stride + x - bpp) & 0xff else 0
        val v = ft match {
          case 0 => rb
          case 1 => rb + a
          case 2 => rb + b
          case 3 => rb + ((a + b) / 2)
          case 4 =>
            val pp = a + b - c
            val pa = math.abs(pp - a)
            val pb = math.abs(pp - b)
            val pc = math.abs(pp - c)
            rb + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          case t => fail("png", s"bad filter type $t on row $y")
        }
        out(os + x) = (v & 0xff).toByte
        x += 1
      }
      y += 1
    }
    PngPixels(w, h, channels, out)
  }

  /** Per-channel sample means of a decoded PNG — the first real
    * feature-extract over actual pixels (not payload hashes).
    */
  def pngChannelMeans(p: Array[Byte]): Array[Double] = {
    val px = decodePngPixels(p)
    val sums = new Array[Long](px.channels)
    var i = 0
    while (i < px.samples.length) {
      sums(i % px.channels) += px.samples(i) & 0xff
      i += 1
    }
    val n = px.width.toLong * px.height
    sums.map(_.toDouble / n)
  }

  /** Integer Rec.601 luma of the pixel at sample offset `i`: the gray
    * sample for 1/2-channel profiles, (299·R + 587·G + 114·B)/1000 for
    * color — integer-exact, the ONE luma definition (histogram and mean
    * share it by construction).
    */
  private[multimodal] def lumaAt(px: PngPixels, i: Int): Int =
    if (px.channels <= 2) px.samples(i) & 0xff
    else ((px.samples(i) & 0xff) * 299 + (px.samples(i + 1) & 0xff) * 587 +
      (px.samples(i + 2) & 0xff) * 114) / 1000

  /** `bins`-bucket luminance histogram of a decoded PNG ([[lumaAt]] luma;
    * spec fixtures pin every bucket).
    */
  def pngLumaHistogram(p: Array[Byte], bins: Int = 16): Array[Long] =
    lumaHistogram(decodePngPixels(p), bins)

  private def lumaHistogram(px: PngPixels, bins: Int): Array[Long] = {
    require(bins > 0 && 256 % bins == 0, s"bins must divide 256, got $bins")
    val hist = new Array[Long](bins)
    var i = 0
    while (i < px.samples.length) {
      hist(lumaAt(px, i) * bins / 256) += 1
      i += px.channels
    }
    hist
  }

  /** Per-image pixel statistics from [[decodeImageStats]]: (doc_id,
    * width, height, channels, mean_luma, luma histogram).
    */
  final case class PngStats(doc_id: Long, width: Int, height: Int,
      channels: Int, mean_luma: Double, luma_hist: Array[Long])

  // ---------------------------------------------------------------------
  // ImageIO seam (r15): pixel decode for the formats whose rasters need a
  // real codec (JPEG's DCT, GIF's LZW+palette) and the PNG profiles the
  // pure-JVM path names as unsupported (palette / Adam7 / 16-bit).
  // `javax.imageio` is pure-JVM (headless-safe) and was already this
  // module's test reference — here it becomes the decoder INSIDE the same
  // partition-batched shape, behind the same named-failure contract.
  // ---------------------------------------------------------------------

  /** PNG profile failures that are ROUTABLE to ImageIO — valid files the
    * pure decoder declines — as opposed to corruption (CRC mismatch,
    * truncation), which must keep failing named rather than be handed to
    * a codec that might tolerate it.
    */
  private def pngProfileGap(msg: String): Boolean =
    msg.contains("palette") || msg.contains("Adam7") || msg.contains("bit depth")

  /** Decode any supported image payload to the [[PngPixels]] raster shape.
    * Dispatch: PNG → the pure-JVM decoder (CRC-verified; its three
    * unsupported PROFILES — palette, Adam7, 16-bit — fall through to
    * ImageIO, its corruption failures do NOT); JPEG/GIF → header-validate
    * with the named parsers (truncation keeps its exact named error),
    * then ImageIO rasterizes. Unknown magic fails named.
    *
    * Channel conventions match the PNG path: gray=1, gray+alpha=2, RGB=3,
    * RGBA=4; 16-bit sources are rendered at 8 bits (ImageIO's sRGB
    * conversion), so every downstream stat shares one sample domain.
    */
  def decodeImagePixels(p: Array[Byte]): PngPixels =
    if (p.length >= 4 && p(0) == PngMagic(0) && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') {
      try decodePngPixels(p)
      catch {
        case e: IllegalArgumentException
            if e.getMessage != null && pngProfileGap(e.getMessage) =>
          imageIoPixels(p, "png")
      }
    } else if (p.length >= 2 && (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8) {
      parseJpeg(p) // named header/truncation errors first — ImageIO's are opaque
      imageIoPixels(p, "jpeg")
    } else if (p.length >= 3 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F') {
      parseGif(p)
      imageIoPixels(p, "gif")
    } else fail("image", "no decodable image magic (png/jpeg/gif)")

  private def imageIoPixels(p: Array[Byte], format: String): PngPixels = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
      catch { case e: Exception => fail(format, s"codec error: ${e.getMessage}") }
    if (img == null) fail(format, "no registered ImageIO codec decoded the payload")
    val w = img.getWidth
    val h = img.getHeight
    if (w <= 0 || h <= 0) fail(format, s"bad decoded dimensions ${w}x$h")
    val cm = img.getColorModel
    val gray = cm.getColorSpace.getType == java.awt.color.ColorSpace.TYPE_GRAY &&
      // palette images report their index color space — classify by the
      // RENDERED space: an IndexColorModel is RGB content
      !cm.isInstanceOf[java.awt.image.IndexColorModel]
    val hasAlpha = cm.hasAlpha
    val channels = (if (gray) 1 else 3) + (if (hasAlpha) 1 else 0)
    val strideL = w.toLong * channels
    if (h.toLong * strideL > Int.MaxValue - 16)
      fail(format, s"raster too large to decode in one array: ${w}x$h x$channels")
    val out = new Array[Byte](h * strideL.toInt)
    val row = new Array[Int](w)
    var y = 0
    var o = 0
    while (y < h) {
      // getRGB renders every source profile (palette, 16-bit, CMYK…) into
      // packed 8-bit sRGB — the one sample domain the stats share.
      img.getRGB(0, y, w, 1, row, 0, w)
      var x = 0
      while (x < w) {
        val v = row(x)
        if (gray) { out(o) = (v & 0xff).toByte; o += 1 }
        else {
          out(o) = ((v >>> 16) & 0xff).toByte
          out(o + 1) = ((v >>> 8) & 0xff).toByte
          out(o + 2) = (v & 0xff).toByte
          o += 3
        }
        if (hasAlpha) { out(o) = ((v >>> 24) & 0xff).toByte; o += 1 }
        x += 1
      }
      y += 1
    }
    PngPixels(w, h, channels, out)
  }

  /** Real per-image pixel statistics for every decodable image format,
    * in the partition-batched decode shape: ONE decode per payload via
    * [[decodeImagePixels]] (PNG on the pure-JVM decoder, the rest through
    * ImageIO), and the histogram and mean share a single luma pass.
    * Undecodable payloads fail NAMED; header-level metadata stays
    * [[decodeMeta]], which is what the q30 catalog query runs.
    */
  def decodeImageStats(payloads: Dataset[MediaPayload], bins: Int = 16): Dataset[PngStats] = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.mapPartitions { it =>
      it.map { mp =>
        val px = decodeImagePixels(mp.payload)
        val hist = lumaHistogram(px, bins)
        var lumaSum = 0L
        var i = 0
        while (i < px.samples.length) { lumaSum += lumaAt(px, i); i += px.channels }
        val n = px.width.toLong * px.height
        PngStats(mp.doc_id, px.width, px.height, px.channels,
          lumaSum.toDouble / n, hist)
      }
    }
  }

  /** PNG canvas width used by [[toPngPayloads]]; grayscale, 1 byte/pixel. */
  val PngWidth = 32

  /** Render a text corpus as REAL spec-valid PNGs (the [[toPpmPayloads]]
    * move with an actual deflate pipeline): UTF-8 bytes become the gray-8
    * raster of a `PngWidth`-wide canvas, zero-padded to fill the last row,
    * each scanline written with filter type 0 and the whole stream
    * deflated; chunk CRCs are correct, so any external tool opens these.
    * Round-tripping through [[decodePngPixels]] recovers the exact bytes
    * (spec-pinned), making the inflate+defilter path REAL end to end.
    */
  def toPngPayloads(spark: SparkSession, docs: DataFrame): Dataset[MediaPayload] = {
    import spark.implicits._
    // widen: PNG encode (deflate) is genuinely per-doc-heavy — unlike the
    // header-stamp PPM/WAV synthesis below, whose widen was reverted (r22
    // A/B: q122 0.29→0.19 s, q123 0.19→0.12 s, q30 0.25→0.13 s without).
    graft.sources.Sources.widen(
        docs.select(col("doc_id").cast("long"), col("text")), col("doc_id"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val w = PngWidth
        val h = math.max(1, (bytes.length + w - 1) / w)
        val raster = java.util.Arrays.copyOf(bytes, w * h) // zero-padded
        MediaPayload(id, encodeGrayPng(w, h, raster), "image/png")
      })
  }

  /** Encode a gray-8 raster (`bytes`, row-major, length w·h) as a
    * spec-valid PNG: filter-0 scanlines, one deflated IDAT, correct chunk
    * CRCs — any external tool opens it, [[decodePngPixels]] round-trips
    * it exactly.
    */
  def encodeGrayPng(w: Int, h: Int, bytes: Array[Byte]): Array[Byte] = {
    require(w > 0 && h > 0 && bytes.length == w * h,
      s"raster must be w*h=${w * h} bytes, got ${bytes.length}")
    val crc = new java.util.zip.CRC32()
    def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](12 + data.length)
      def put32(off: Int, v: Int): Unit = {
        out(off) = (v >>> 24).toByte; out(off + 1) = (v >>> 16).toByte
        out(off + 2) = (v >>> 8).toByte; out(off + 3) = v.toByte
      }
      put32(0, data.length)
      val tb = tag.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      System.arraycopy(tb, 0, out, 4, 4)
      System.arraycopy(data, 0, out, 8, data.length)
      crc.reset()
      crc.update(out, 4, 4 + data.length)
      put32(8 + data.length, crc.getValue.toInt)
      out
    }
    val ihdr = new Array[Byte](13)
    ihdr(0) = (w >>> 24).toByte; ihdr(1) = (w >>> 16).toByte
    ihdr(2) = (w >>> 8).toByte; ihdr(3) = w.toByte
    ihdr(4) = (h >>> 24).toByte; ihdr(5) = (h >>> 16).toByte
    ihdr(6) = (h >>> 8).toByte; ihdr(7) = h.toByte
    ihdr(8) = 8 // bit depth
    ihdr(9) = 0 // gray
    // compression/filter/interlace = 0
    val raw = new Array[Byte](h * (w + 1))
    var y = 0
    while (y < h) {
      System.arraycopy(bytes, y * w, raw, y * (w + 1) + 1, w)
      y += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw)
    deflater.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!deflater.finished()) zbuf.write(tmp, 0, deflater.deflate(tmp))
    deflater.end()
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(PngMagic)
    bos.write(chunk("IHDR", ihdr))
    bos.write(chunk("IDAT", zbuf.toByteArray))
    bos.write(chunk("IEND", Array.emptyByteArray))
    bos.toByteArray
  }

  /** Nearest-sample resize of a decoded raster to a w×h GRAY-8 raster
    * (luma via [[lumaAt]] — the one Rec.601 definition): output pixel
    * (r, c) reads source pixel (r·H/h, c·W/w). Integer-exact, any
    * dimensions, and consistent with [[graft.multimodal.ImageHash]]'s
    * grid sampling — resizing to an integer multiple of the dHash grid
    * preserves the hash (spec-pinned).
    */
  def resizeGray(px: PngPixels, w: Int, h: Int): PngPixels = {
    require(w > 0 && h > 0, s"bad resize target ${w}x$h")
    val out = new Array[Byte](w * h)
    var r = 0
    while (r < h) {
      val sr = r * px.height / h
      var c = 0
      while (c < w) {
        val sc = c * px.width / w
        out(r * w + c) = lumaAt(px, (sr * px.width + sc) * px.channels).toByte
        c += 1
      }
      r += 1
    }
    PngPixels(w, h, 1, out)
  }

  /** decode → resize → re-encode over a payload frame: every decodable
    * format in, spec-valid w×h gray PNGs out — the thumbnail/normalize
    * step a multimodal training pipeline runs before feature extraction,
    * partition-batched like every decode face.
    */
  def resizePayloads(payloads: Dataset[MediaPayload], w: Int, h: Int): Dataset[MediaPayload] = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.mapPartitions(_.map { mp =>
      val rs = resizeGray(decodeImagePixels(mp.payload), w, h)
      MediaPayload(mp.doc_id, encodeGrayPng(w, h, rs.samples), "image/png")
    })
  }

  /** Magic-dispatched decode: real parser when the payload declares a
    * format this JVM can parse without codecs (PPM, BMP, WAV, GIF, and
    * the header-parseable PNG/JPEG), deterministic stub otherwise. This
    * is the single seam where a JNI codec binding extends the format set.
    */
  def decodePayload(payload: Array[Byte]): (Int, Int, String) = {
    val p = payload
    if (p.length >= 2 && p(0) == 'P' && p(1) == '6') parsePpm(p)
    else if (p.length >= 2 && p(0) == 'B' && p(1) == 'M') parseBmp(p)
    else if (p.length >= 12 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F')
      parseWav(p)
    else if (p.length >= 8 && p(0) == PngMagic(0) && p(1) == 'P' && p(2) == 'N' && p(3) == 'G')
      parsePng(p)
    else if (p.length >= 2 && (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8)
      parseJpeg(p)
    else if (p.length >= 3 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F')
      parseGif(p)
    else if (p.length >= 12 && p(4) == 'f' && p(5) == 't' && p(6) == 'y' && p(7) == 'p')
      parseMp4(p)
    else fakeDecode(p)
  }

  /** Partition-batched decode: the real-codec shape (iterator in, iterator
    * out, decoder state amortized per partition — never per row).
    */
  def decodeMeta(payloads: Dataset[MediaPayload]): Dataset[MediaMeta] = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.mapPartitions { it =>
      // Real impl: instantiate heavyweight codecs ONCE here, then stream.
      it.map { p =>
        val (w, h, f) = decodePayload(p.payload)
        MediaMeta(p.doc_id, p.payload.length, w, h, f)
      }
    }
  }

  // The r16-and-earlier byte-stride `sampleFrames` stub is gone: q48's
  // frame sampling decodes REAL container frames now — see
  // [[GifAnim.frameDhashes]] (animated GIF through the ImageIO seam,
  // per-frame dHash riding SimHash).

  /** End-to-end: documents → REAL PPM payloads → real parse. The q30
    * pipeline: ingest renders spec-valid P6 images, decode runs the actual
    * header parser on the bytes (not a hash of them).
    */
  def metadata(spark: SparkSession, docs: DataFrame): Dataset[MediaMeta] =
    decodeMeta(toPpmPayloads(spark, docs))
}
