package graft.sources

import java.io.{BufferedInputStream, ByteArrayInputStream, ByteArrayOutputStream, EOFException, InputStream, PushbackInputStream}
import java.util.zip.{CRC32, DataFormatException, Inflater}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** i17 WARC intake — the web-archive format real crawl corpora ship in
  * (ISO 28500; Common Crawl's container format), parsed record-framed so
  * the B-block text pipeline (q93 HtmlExtract → quality → dedup) runs off
  * an actual crawl file instead of pre-extracted text.
  *
  * Reference lineage: the format-aware bronze readers
  * (2_bronze_ingestion_adf/datasets/generic_adls_flat_file_ds.json) — a
  * new source format lands as one more typed reader feeding the same
  * silver flow, and malformed input routes to quarantine rather than
  * failing the load (README "Invalid or malformed records are redirected
  * to a quarantine flow" — here applied at the FRAME level, before any
  * row exists).
  *
  * Format facts this reader is built on (all public):
  *  - a `.warc.gz` is a CONCATENATION OF GZIP MEMBERS, conventionally one
  *    WARC record per member, so records are independently decompressible;
  *  - each record is `WARC/1.x CRLF` + headers + CRLF CRLF + exactly
  *    `Content-Length` payload bytes + CRLF CRLF;
  *  - a `response` record's payload is the raw HTTP response (status line,
  *    headers, body) — the html lives in the HTTP body.
  *
  * Scale design: gzip members carry no global index, so a single WARC
  * file is NOT byte-splittable — the parallelism unit is the FILE, which
  * matches how crawls actually ship (Common Crawl: ~80k files of ~1 GB per
  * snapshot; 100 TB of crawl is ~10⁵ independent tasks, far wider than any
  * cluster). Within a task everything streams: the member decompressor is
  * a hand-rolled `Inflater` loop (NOT `GZIPInputStream`, which fuses
  * members and dies unrecoverably at the first corrupt one) that knows
  * each member's compressed extent, so a corrupt member quarantines
  * by NAME (file, compressed offset, reason) and parsing RESUMES at the
  * next member's magic bytes — one bit-flipped page in a 1 GB file costs
  * one record, not the file. Memory is bounded by `maxRecordBytes`
  * (over-cap members quarantine, never OOM a 100 TB intake).
  */
object Warc {

  /** Parsed-record schema: one row per WARC record that framed correctly.
    * `payload` is the record block for non-HTTP records and the HTTP BODY
    * for `application/http` records (status + content-type lifted out).
    */
  val recordSchema: StructType = StructType(Seq(
    StructField("warc_file", StringType, nullable = false),
    StructField("rec_offset", LongType, nullable = false),
    StructField("warc_type", StringType, nullable = true),
    StructField("url", StringType, nullable = true),
    StructField("fetch_ts", TimestampType, nullable = true),
    StructField("content_type", StringType, nullable = true),
    StructField("http_status", IntegerType, nullable = true),
    StructField("payload", BinaryType, nullable = true),
    StructField("payload_digest", StringType, nullable = true),
    StructField("refers_to_uri", StringType, nullable = true)))

  /** Quarantine schema: one row per frame that could NOT be parsed —
    * corrupt gzip member, truncated record, malformed headers. `rec_offset`
    * is the COMPRESSED file offset of the failing member (so the bad bytes
    * are addressable for forensics without re-parsing the file).
    */
  val quarantineSchema: StructType = StructType(Seq(
    StructField("warc_file", StringType, nullable = false),
    StructField("rec_offset", LongType, nullable = false),
    StructField("reason", StringType, nullable = false),
    StructField("detail", StringType, nullable = true)))

  /** One parse event: a good record or a quarantined frame. */
  private[sources] sealed trait Item
  private[sources] final case class Rec(offset: Long, warcType: String,
      url: String, fetchTs: java.sql.Timestamp, contentType: String,
      httpStatus: Integer, payload: Array[Byte],
      payloadDigest: String, refersToUri: String) extends Item
  private[sources] final case class Quar(offset: Long, reason: String,
      detail: String) extends Item

  /** Hard per-record decompressed-size cap, BOTH paths: a gz member that
    * inflates past this drains (bounded buffer, nothing retained) to its
    * true end and quarantines `record_too_large`; a plain-warc record
    * whose Content-Length exceeds it skips its own bytes and quarantines
    * the same way. Either way parsing CONTINUES at the next record — the
    * memory bound that lets one executor core hold exactly one in-flight
    * record regardless of what the crawl contains, at the cost of one
    * record per oversize frame.
    */
  val DefaultMaxRecordBytes: Int = 64 << 20

  // ---------------------------------------------------------------------
  // gzip member framing (RFC 1952) — hand-rolled so member boundaries and
  // failures are visible. Returns per member: (compressedOffset, bytes) or
  // a quarantine event, resyncing at the next 1f 8b 08 magic on failure.
  // ---------------------------------------------------------------------

  private val GzMagic0 = 0x1f
  private val GzMagic1 = 0x8b
  private val GzDeflate = 8

  private[sources] def readMembers(raw: InputStream, maxBytes: Int)
      : Iterator[Either[Quar, (Long, Array[Byte])]] =
    new Iterator[Either[Quar, (Long, Array[Byte])]] {
      private val ChunkSize = 1 << 16
      private val in = new PushbackInputStream(
        new BufferedInputStream(raw, ChunkSize), ChunkSize + 8)
      private var pos = 0L
      private var nextItem: Option[Either[Quar, (Long, Array[Byte])]] = null

      private def read1(): Int = { val b = in.read(); if (b >= 0) pos += 1; b }
      private def readN(n: Int): Array[Byte] = {
        val out = new Array[Byte](n)
        var got = 0
        while (got < n) {
          val r = in.read(out, got, n - got)
          if (r < 0) throw new EOFException(s"eof after $got/$n bytes")
          got += r; pos += r
        }
        out
      }
      private def le32(b: Array[Byte], off: Int): Long =
        (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
          ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

      private def resync(): Unit = {
        var b = read1()
        while (b >= 0) {
          if (b == GzMagic0) {
            val nxt = read1()
            if (nxt == GzMagic1) { in.unread(nxt); in.unread(GzMagic0); pos -= 2; return }
            if (nxt < 0) return
            b = nxt // the byte after a lone 0x1f might itself start a magic
          } else b = read1()
        }
      }

      private def skipHeader(): Unit = {
        val fixed = readN(10)
        if ((fixed(0) & 0xff) != GzMagic0 || (fixed(1) & 0xff) != GzMagic1)
          throw new DataFormatException("bad gzip magic")
        if (fixed(2) != GzDeflate)
          throw new DataFormatException(s"unsupported compression method ${fixed(2)}")
        val flg = fixed(3) & 0xff
        if ((flg & 0x04) != 0) {
          val xl = readN(2)
          readN(((xl(0) & 0xff) | ((xl(1) & 0xff) << 8)))
        }
        if ((flg & 0x08) != 0) while (read1() > 0) ()
        if ((flg & 0x10) != 0) while (read1() > 0) ()
        if ((flg & 0x02) != 0) readN(2)
      }

      private def readMember(): Option[Either[Quar, (Long, Array[Byte])]] = {
        val first = in.read()
        if (first < 0) return None
        in.unread(first)
        val memberOff = pos
        val inflater = new Inflater(true)
        val inBuf = new Array[Byte](ChunkSize)
        var lastLen = 0
        try {
          skipHeader()
          val crc = new CRC32()
          val out = new ByteArrayOutputStream(8192)
          val outBuf = new Array[Byte](ChunkSize)
          // Over-cap members switch to DRAIN mode: keep inflating (bounded
          // buffer, nothing retained) to find the member's true end, so
          // the quarantine is recoverable — the stream lands exactly on
          // the next member with no resync scan and no false magics.
          var oversize = false
          var inflated = 0L
          while (!inflater.finished()) {
            if (inflater.needsInput()) {
              val r = in.read(inBuf)
              if (r < 0) throw new EOFException("truncated deflate data")
              pos += r
              lastLen = r
              inflater.setInput(inBuf, 0, r)
            }
            val n = inflater.inflate(outBuf)
            if (n > 0) {
              inflated += n
              if (!oversize) {
                out.write(outBuf, 0, n); crc.update(outBuf, 0, n)
                if (out.size() > maxBytes) { oversize = true; out.reset() }
              }
            } else if (n == 0 && inflater.needsDictionary())
              throw new DataFormatException("preset dictionary not supported")
          }
          // Bytes of the last chunk the inflater didn't consume belong to
          // the trailer / next member: push them back.
          val rem = inflater.getRemaining
          if (rem > 0) { in.unread(inBuf, lastLen - rem, rem); pos -= rem }
          val trailer = readN(8)
          if (oversize)
            Some(Left(Quar(memberOff, "record_too_large",
              s"member inflated to $inflated > $maxBytes bytes")))
          else {
            val bytes = out.toByteArray
            if (le32(trailer, 0) != crc.getValue)
              throw new DataFormatException("gzip CRC mismatch")
            if (le32(trailer, 4) != (bytes.length & 0xffffffffL))
              throw new DataFormatException("gzip ISIZE mismatch")
            Some(Right((memberOff, bytes)))
          }
        } catch {
          case e @ (_: DataFormatException | _: EOFException) =>
            val q = Quar(memberOff, "corrupt_gzip_member",
              String.valueOf(e.getMessage).take(200))
            // The last chunk fed to the inflater may hold bytes PAST the
            // corrupt member (a 64 KiB read can span several small
            // members): push the unconsumed tail back so resync scans it —
            // otherwise one bad member would eat everything its chunk
            // happened to contain.
            val rem = try inflater.getRemaining catch { case _: Throwable => 0 }
            if (rem > 0 && rem <= lastLen) { in.unread(inBuf, lastLen - rem, rem); pos -= rem }
            resync()
            Some(Left(q))
        } finally inflater.end()
      }

      override def hasNext: Boolean = {
        if (nextItem == null) nextItem = readMember()
        nextItem.isDefined
      }
      override def next(): Either[Quar, (Long, Array[Byte])] = {
        if (!hasNext) throw new NoSuchElementException
        val r = nextItem.get; nextItem = null; r
      }
    }

  // ---------------------------------------------------------------------
  // WARC record framing over decompressed bytes.
  // ---------------------------------------------------------------------

  /** Skip exactly `n` bytes (read-fallback for streams whose skip()
    * returns 0); false when EOF arrives first.
    */
  private def skipFully(in: InputStream, n: Long): Boolean = {
    var toSkip = n
    while (toSkip > 0) {
      val s = in.skip(toSkip)
      if (s > 0) toSkip -= s
      else if (in.read() < 0) return false
      else toSkip -= 1
    }
    true
  }

  private def readLine(in: InputStream): String = {
    val sb = new java.lang.StringBuilder(96)
    var b = in.read()
    while (b >= 0 && b != '\n') { sb.append(b.toChar); b = in.read() }
    if (b < 0 && sb.length == 0) null
    else {
      if (sb.length > 0 && sb.charAt(sb.length - 1) == '\r')
        sb.setLength(sb.length - 1)
      sb.toString
    }
  }

  private def readFully(in: InputStream, n: Long): Array[Byte] = {
    if (n > Int.MaxValue) throw new EOFException(s"record length $n exceeds buffer limit")
    val out = new Array[Byte](n.toInt)
    var got = 0
    while (got < n) {
      val r = in.read(out, got, n.toInt - got)
      if (r < 0) throw new EOFException(s"truncated record: $got/$n payload bytes")
      got += r
    }
    out
  }

  private def parseTs(s: String): java.sql.Timestamp =
    try java.sql.Timestamp.from(java.time.Instant.parse(s))
    catch { case _: Exception => null }

  /** Byte-position tracker for the uncompressed-warc path: per-record
    * offsets need the position of each record's `WARC/` line.
    */
  private final class CountingInputStream(in: InputStream)
      extends java.io.FilterInputStream(in) {
    var count: Long = 0L
    override def read(): Int = { val b = super.read(); if (b >= 0) count += 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = super.read(b, off, len); if (n > 0) count += n; n
    }
    override def skip(n: Long): Long = {
      val s = super.skip(n); if (s > 0) count += s; s
    }
  }

  /** Parse every WARC record in one decompressed frame (one gzip member,
    * or a whole uncompressed `.warc`). `frameOff` names the frame in
    * quarantine rows. HTTP response payloads are unwrapped: status +
    * Content-Type lifted into columns, `payload` = the body bytes.
    *
    * `perRecordOffsets = true` (the UNCOMPRESSED path) emits each record
    * at `frameOff` + the byte position of its `WARC/` line, so
    * `rec_offset` stays a true random-access address ([[fetchAt]]) and a
    * UNIQUE (file, offset) id — with the shared frame offset, every
    * record of a plain `.warc` collided onto one [[htmlDocuments]]
    * doc_id. Gzip members keep the member's compressed offset for every
    * record they frame (intra-member positions aren't independently
    * addressable in gz).
    */
  private[sources] def parseRecords(bytes: Array[Byte], frameOff: Long)
      : Iterator[Item] =
    // bound every allocation by the frame's own length: a record's
    // Content-Length can never legitimately exceed the decompressed member
    // it lives in, so a corrupt/hostile header (e.g. 2 GB in a 4 KB
    // member) quarantines as record_too_large instead of allocating the
    // claimed size up front and OOMing the task
    parseRecords(new ByteArrayInputStream(bytes), frameOff,
      maxRecordBytes = bytes.length.toLong)

  private[sources] def parseRecords(in0: InputStream, frameOff: Long,
      perRecordOffsets: Boolean = false,
      maxRecordBytes: Long = Long.MaxValue): Iterator[Item] =
    new Iterator[Item] {
      private val in = new CountingInputStream(in0)
      private var nextItem: Item = _
      private var done = false

      private def readOne(): Item = {
        var recStart = in.count
        var line = readLine(in)
        while (line != null && line.isEmpty) { // inter-record CRLFs
          recStart = in.count; line = readLine(in)
        }
        if (line == null) return null
        val recOff = if (perRecordOffsets) frameOff + recStart else frameOff
        if (!line.startsWith("WARC/"))
          return Quar(recOff, "bad_warc_version", line.take(100))
        val headers = scala.collection.mutable.Map.empty[String, String]
        var h = readLine(in)
        while (h != null && h.nonEmpty) {
          val i = h.indexOf(':')
          if (i > 0) headers.put(h.substring(0, i).trim.toLowerCase(java.util.Locale.ROOT), h.substring(i + 1).trim)
          h = readLine(in)
        }
        val lenStr = headers.getOrElse("content-length", null)
        if (lenStr == null)
          return Quar(recOff, "missing_content_length", headers.keys.mkString(","))
        val len = try lenStr.toLong catch {
          case _: NumberFormatException =>
            return Quar(recOff, "bad_content_length", lenStr.take(50))
        }
        if (len > maxRecordBytes) {
          // the gz path bounds allocation at inflate time (readMembers);
          // this is the UNCOMPRESSED path's equivalent — quarantine the
          // oversize record and SKIP its bytes (no allocation), so one
          // hostile Content-Length neither OOMs the task nor poisons the
          // rest of the file
          skipFully(in, len) // EOF mid-skip just ends the iterator next round
          return Quar(recOff, "record_too_large", s"$len > $maxRecordBytes")
        }
        val block = try readFully(in, len) catch {
          case e: EOFException =>
            return Quar(recOff, "truncated_record", String.valueOf(e.getMessage).take(200))
        }
        val warcType = headers.getOrElse("warc-type", null)
        val url = headers.getOrElse("warc-target-uri", null)
        val ts = headers.get("warc-date").map(parseTs).orNull
        val blockType = headers.getOrElse("content-type", null)
        // revisit provenance (i17/r17): Common Crawl declares exact
        // re-fetches as revisit records carrying the original's payload
        // digest and target URI — free dedup edges (revisitEdges)
        val digest = headers.getOrElse("warc-payload-digest", null)
        val refersTo = headers.getOrElse("warc-refers-to-target-uri", null)
        if (blockType != null && blockType.startsWith("application/http")) {
          // HTTP message: status line, headers, CRLFCRLF, body.
          val hin = new ByteArrayInputStream(block)
          val status = readLine(hin)
          val httpStatus: Integer = if (status != null && status.startsWith("HTTP/")) {
            val parts = status.split(" ")
            if (parts.length >= 2) try Integer.valueOf(parts(1).toInt)
            catch { case _: NumberFormatException => null } else null
          } else null
          var ct: String = null
          var chunked = false
          var gzipped = false
          var hl = readLine(hin)
          while (hl != null && hl.nonEmpty) {
            val i = hl.indexOf(':')
            if (i > 0) {
              val name = hl.substring(0, i).trim
              val value = hl.substring(i + 1).trim
              if (name.equalsIgnoreCase("content-type")) ct = value
              // Real crawls store the raw wire bytes: chunked framing and
              // gzip entity encoding are BOTH common in Common Crawl
              // responses, and html extraction over still-chunked bytes
              // silently degrades (chunk-size lines interleave the markup).
              else if (name.equalsIgnoreCase("transfer-encoding") &&
                value.toLowerCase(java.util.Locale.ROOT).contains("chunked")) chunked = true
              else if (name.equalsIgnoreCase("content-encoding") &&
                value.toLowerCase(java.util.Locale.ROOT).contains("gzip")) gzipped = true
            }
            hl = readLine(hin)
          }
          val raw = new Array[Byte](hin.available())
          hin.read(raw)
          // Decode best-effort: a crawl record with a malformed chunk
          // trailer or truncated gzip body DEGRADES to its raw bytes
          // rather than dropping — the document is usually still mostly
          // usable, and the quality/langid gates downstream are the right
          // place to judge it.
          val unchunked = if (chunked) dechunk(raw).getOrElse(raw) else raw
          val body = if (gzipped) gunzipBody(unchunked).getOrElse(unchunked) else unchunked
          Rec(recOff, warcType, url, ts, ct, httpStatus, body, digest, refersTo)
        } else Rec(recOff, warcType, url, ts, blockType, null, block, digest, refersTo)
      }

      override def hasNext: Boolean = {
        if (done) return false
        if (nextItem == null) {
          nextItem = readOne()
          if (nextItem == null) { done = true; return false }
        }
        true
      }
      override def next(): Item = {
        if (!hasNext) throw new NoSuchElementException
        val r = nextItem; nextItem = null
        r match {
          // A framing failure poisons the rest of THIS frame (the stream
          // position is untrustworthy past it); member-per-record gz files
          // lose exactly one record. EXCEPTION: record_too_large skipped
          // its own bytes exactly, so the position IS trustworthy and
          // parsing continues — one oversize record costs one record.
          case q: Quar if q.reason != "record_too_large" => done = true; q
          case x => x
        }
      }
    }

  /** HTTP/1.1 chunked-transfer decode (RFC 9112 §7.1): size-line in hex
    * (optional `;ext` suffix) + chunk bytes + CRLF, terminated by a 0
    * chunk; trailer headers ignored. None on any malformed framing — the
    * caller keeps the raw bytes.
    */
  private[sources] def dechunk(raw: Array[Byte]): Option[Array[Byte]] =
    try {
      val in = new ByteArrayInputStream(raw)
      val out = new ByteArrayOutputStream(raw.length)
      var done = false
      while (!done) {
        val sizeLine = readLine(in)
        if (sizeLine == null) return None
        val hex = sizeLine.takeWhile(c => c != ';').trim
        if (hex.isEmpty) return None
        val n = java.lang.Long.parseLong(hex, 16)
        if (n < 0 || n > raw.length) return None
        if (n == 0) done = true
        else {
          out.write(readFully(in, n))
          val sep = readLine(in) // chunk-terminating CRLF
          if (sep == null || sep.nonEmpty) return None
        }
      }
      Some(out.toByteArray)
    } catch { case _: NumberFormatException | _: EOFException => None }

  /** Entity-level gunzip of an HTTP body (single gzip stream; bounded by
    * the body's own framing). None on corruption/truncation — caller
    * keeps the raw bytes.
    */
  private[sources] def gunzipBody(raw: Array[Byte]): Option[Array[Byte]] =
    try {
      val in = new java.util.zip.GZIPInputStream(new ByteArrayInputStream(raw))
      val out = new ByteArrayOutputStream(raw.length * 4)
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      Some(out.toByteArray)
    } catch { case _: java.io.IOException => None }

  /** Parse one whole WARC file (gzip or plain — sniffed by magic bytes)
    * into parse events. Streams: one gzip member in memory at a time.
    */
  /** File-open counter (instrumentation): every [[parseFile]] pass opens
    * its file exactly once, so this counts PARSE PASSES over the intake —
    * the single-pass contract of [[read]] is spec-assertable against it in
    * local mode (one shared JVM). Monotonic; never reset by the library.
    */
  private[graft] val fileOpens = new java.util.concurrent.atomic.AtomicLong

  private[sources] def parseFile(open: () => InputStream, maxRecordBytes: Int)
      : Iterator[Item] = {
    val underlying = { fileOpens.incrementAndGet(); open() }
    val raw = new PushbackInputStream(new BufferedInputStream(underlying, 1 << 16), 2)
    // the magic-byte sniff runs BEFORE the close wrapper exists — an
    // IOException here must not leak the just-opened handle
    val (b0, b1) =
      try {
        val x0 = raw.read(); val x1 = raw.read()
        if (x1 >= 0) raw.unread(x1)
        if (x0 >= 0) raw.unread(x0)
        (x0, x1)
      } catch {
        case e: Throwable =>
          try underlying.close() catch { case _: java.io.IOException => () }
          throw e
      }
    val items: Iterator[Item] =
      if (b0 == GzMagic0 && b1 == GzMagic1)
        readMembers(raw, maxRecordBytes).flatMap {
          case Left(q) => Iterator.single(q)
          case Right((off, bytes)) => parseRecords(bytes, off)
        }
      // uncompressed .warc: stream-parse directly, per-record byte offsets,
      // same memory bound as the gz path
      else parseRecords(raw, 0L, perRecordOffsets = true,
        maxRecordBytes = maxRecordBytes.toLong)
    // Close the file handle deterministically: on iterator exhaustion (the
    // scan path drains to EOF, but draining alone never closed the stream —
    // handles accumulated until task end/GC on wide multi-file scans), and
    // on task completion for early-terminated iterators (a `.take(n)` or a
    // failed task abandons the iterator mid-file).
    var closed = false
    def closeNow(): Unit = if (!closed) {
      closed = true
      try underlying.close() catch { case _: java.io.IOException => () }
    }
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null) tc.addTaskCompletionListener[Unit](_ => closeNow())
    new Iterator[Item] {
      override def hasNext: Boolean = {
        if (closed) return false
        val h = try items.hasNext catch { case e: Throwable => closeNow(); throw e }
        if (!h) closeNow()
        h
      }
      override def next(): Item = {
        if (!hasNext) throw new NoSuchElementException
        items.next()
      }
    }
  }

  /** One random-access-fetched record (i19): a [[recordSchema]] row as a
    * driver-side value — payload unwrapped identically to the scan path.
    */
  final case class WarcRecord(recOffset: Long, warcType: String, url: String,
      fetchTs: java.sql.Timestamp, contentType: String, httpStatus: Integer,
      payload: Array[Byte], payloadDigest: String = null,
      refersToUri: String = null)

  /** Random access (i19): the records of the frame at `offset` — for
    * `.warc.gz`, ALL records of the gzip member starting there (one, in
    * the member-per-record crawl convention); for plain `.warc`, the
    * single record whose `WARC/` line starts there. This is the fetch
    * side of [[cdxIndex]]: every `rec_offset` the scan emits is a valid
    * `offset` here, so a capture-index lookup retrieves one page from a
    * multi-TB archive by reading ONE member instead of re-parsing a file.
    * A corrupt or absent frame fails NAMED (offset + reason) — random
    * access to a bad address is an error, never a silent empty.
    */
  def fetchAt(open: () => InputStream, offset: Long,
      maxRecordBytes: Int = DefaultMaxRecordBytes): Seq[WarcRecord] = {
    val raw = open()
    try {
      if (!skipFully(raw, offset))
        throw new IllegalArgumentException(s"fetchAt: offset $offset past EOF")
      val pb = new PushbackInputStream(new BufferedInputStream(raw, 1 << 16), 2)
      val b0 = pb.read(); val b1 = pb.read()
      if (b1 >= 0) pb.unread(b1)
      if (b0 >= 0) pb.unread(b0)
      val items: Iterator[Item] =
        if (b0 == GzMagic0 && b1 == GzMagic1)
          readMembers(pb, maxRecordBytes).take(1).flatMap {
            case Left(q) => Iterator.single[Item](q)
            case Right((_, bytes)) => parseRecords(bytes, offset)
          }
        else parseRecords(pb, offset, perRecordOffsets = true,
          maxRecordBytes = maxRecordBytes.toLong).take(1)
      val out = items.map {
        case Rec(off, t, u, ts, ct, st, p, dg, ru) => WarcRecord(off, t, u, ts, ct, st, p, dg, ru)
        case q: Quar => throw new IllegalStateException(
          s"fetchAt: frame at offset $offset is not parseable: ${q.reason} (${q.detail})")
      }.toVector
      if (out.isEmpty)
        throw new IllegalArgumentException(s"fetchAt: no record at offset $offset")
      out
    } finally raw.close()
  }

  /** Local-file convenience for [[fetchAt]] (tests, driver-side lookups). */
  def fetchAt(path: String, offset: Long): Seq[WarcRecord] =
    fetchAt(() => new java.io.FileInputStream(path.stripPrefix("file:")), offset)

  /** One serialized WARC record: `WARC/1.0` + headers + CRLFCRLF +
    * exactly Content-Length payload bytes + CRLFCRLF — the same framing
    * [[parseRecords]] reads back. `WARC-Date` is omitted when `ts` is
    * null (the parser reports a null fetch_ts either way).
    */
  /** Header values are hostile input (crawled URLs): CR/LF embedded in a
    * value would inject extra header lines into the serialized record and
    * let a crafted URL rewrite the exported record's metadata on
    * round-trip. Percent-encode ONLY the two framing bytes: raw CR/LF is
    * invalid in a URI anyway (RFC 3986 §2 — a legal URL spells them %0D /
    * %0A already), so this is canonicalization of invalid input, not a
    * lossy escape; '%' itself must stay untouched or every
    * percent-encoded URL (ubiquitous in crawls) would corrupt on export.
    */
  private def hdrSafe(v: String): String =
    if (v == null) "null"
    else if (v.indexOf('\r') < 0 && v.indexOf('\n') < 0) v
    else v.replace("\r", "%0D").replace("\n", "%0A")

  private[sources] def buildRecord(warcType: String, url: String,
      ts: java.sql.Timestamp, contentType: String,
      payload: Array[Byte], recordId: String): Array[Byte] = {
    val date = if (ts == null) ""
      else s"WARC-Date: ${java.time.Instant.ofEpochMilli(ts.getTime)}\r\n"
    val hdr = s"WARC/1.0\r\nWARC-Type: ${hdrSafe(warcType)}\r\nWARC-Target-URI: ${hdrSafe(url)}\r\n" +
      date +
      s"WARC-Record-ID: <urn:graft:${hdrSafe(recordId)}>\r\n" +
      s"Content-Type: ${hdrSafe(contentType)}\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n"
    hdr.getBytes("UTF-8") ++ payload ++ "\r\n\r\n".getBytes("UTF-8")
  }

  /** WET-style archive EXPORT (i20): publish a documents frame back as a
    * sharded `.warc.gz` — the other half of the intake story (curate a
    * crawl, re-publish the survivors in the format the ecosystem's
    * tooling already reads). One gzip member PER RECORD (the crawl
    * convention [[read]] is built on), so the written archive is itself
    * member-addressable: [[cdxIndex]] + [[fetchAt]] work on our own
    * output, and a downstream [[read]] round-trips it exactly
    * (spec-pinned). `warcType`/`contentType` default to the WET
    * convention (`conversion` + `text/plain`); text encodes UTF-8.
    *
    * Layout: `shards` output files (0 = keep the frame's partitioning),
    * written executor-side through the Hadoop FS API (the conf ships as
    * key-value pairs — works on any filesystem Spark reads), into a temp
    * dir that atomically swaps in ([[Sinks.overwriteAtomic]] discipline:
    * a crash mid-export leaves the previous archive intact). Shard
    * commit is attempt-safe: each task attempt writes an attempt-unique
    * file and renames it into place, so speculative or retried attempts
    * never interleave bytes (identical deterministic content either way;
    * a lost rename race just drops the duplicate copy). Record IDs are
    * (shard, seq)-unique — re-crawled urls stay distinct records. Empty
    * partitions write no file.
    */
  def writeWarcGz(docs: DataFrame, path: String, urlCol: String = "url",
      tsCol: String = "fetch_ts", textCol: String = "text", shards: Int = 0,
      warcType: String = "conversion",
      contentType: String = "text/plain"): Unit = {
    val spark = docs.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val confKV: Array[(String, String)] = {
      val it = hconf.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (it.hasNext) { val e = it.next(); buf += ((e.getKey, e.getValue)) }
      buf.toArray
    }
    // broadcast, not closure capture: a real cluster conf is tens of KB
    // and the export fans out to ~file-count tasks
    val confBc = spark.sparkContext.broadcast(confKV)
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(hconf)
    Sinks.atomicSwap(fs, path) { tmp =>
      fs.mkdirs(tmp)
      val tmpStr = tmp.toString
      val (wt, ct) = (warcType, contentType)
      import org.apache.spark.sql.functions.col
      val frame = docs.select(col(urlCol).cast("string"),
        col(tsCol).cast("timestamp"), col(textCol).cast("string"))
      val part = if (shards > 0) frame.repartition(shards) else frame
      val runToken = java.util.UUID.randomUUID().toString.take(8)
      part.rdd.foreachPartition { rows =>
        if (rows.hasNext) {
          val conf = new org.apache.hadoop.conf.Configuration(false)
          confBc.value.foreach { case (k, v) => conf.set(k, v) }
          val tc = org.apache.spark.TaskContext.get()
          val idx = tc.partitionId()
          // task-commit discipline: write to an ATTEMPT-unique name, then
          // rename into place — with speculation, two live attempts of one
          // partition would interleave writes into a shared pfs.create()
          // target; whole-file rename makes whichever attempt lands last
          // (or first — contents are identical) internally consistent. A
          // failed rename means the other attempt already committed: drop
          // our copy and succeed.
          val work = new org.apache.hadoop.fs.Path(
            f"$tmpStr/.part-$idx%05d-attempt${tc.taskAttemptId()}.inprogress")
          val dst = new org.apache.hadoop.fs.Path(f"$tmpStr/part-$idx%05d.warc.gz")
          val pfs = work.getFileSystem(conf)
          val out = pfs.create(work, true)
          var seq = 0L
          try rows.foreach { r =>
            val body = Option(r.getString(2)).getOrElse("").getBytes("UTF-8")
            // record ids must be UNIQUE per record (re-crawled urls appear
            // twice); (shard, running seq) is deterministic across retries
            // run token (driver-generated, closure-captured: identical
            // across task retries) keeps ids unique ACROSS archives too
            val rec = buildRecord(wt, String.valueOf(r.getString(0)),
              r.getAs[java.sql.Timestamp](1), ct, body, s"$runToken-$idx-$seq")
            seq += 1
            val bos = new ByteArrayOutputStream(rec.length / 2 + 64)
            val gz = new java.util.zip.GZIPOutputStream(bos)
            gz.write(rec); gz.close()
            out.write(bos.toByteArray)
          } finally out.close()
          if (!pfs.rename(work, dst)) {
            // a lost race with another committed attempt is fine — but a
            // rename that failed with NO committed file must fail the
            // task (deleting the only copy would silently drop a shard)
            if (pfs.exists(dst)) pfs.delete(work, false)
            else sys.error(s"shard commit failed: $work -> $dst")
          }
        }
      }
      // killed/failed attempts leave .inprogress partials; sweep them so
      // the swap publishes ONLY committed shards
      fs.listStatus(tmp).foreach { st =>
        if (st.getPath.getName.endsWith(".inprogress"))
          fs.delete(st.getPath, false)
      }
    }
  }

  /** CDX-style capture index (i19) over a parsed records frame: one row
    * per `response` capture —
    * (surt_key, url_canon, url, fetch_ts, http_status, mime, payload_len,
    * warc_file, rec_offset) — the public Common-Crawl/web-archive lookup
    * convention: [[graft.text.Urls.surtKey]] is the sort key (host labels
    * reversed so one domain's captures are lexicographically contiguous),
    * (warc_file, rec_offset) is the [[fetchAt]] address. `payload_len` is
    * the UNWRAPPED body length (the scan already decoded transfer/content
    * encodings; classic CDX's compressed-extent field needs the NEXT
    * member's offset, which a per-member scan doesn't see).
    *
    * Pure projection — scan-shaped at any archive size. The layout step
    * for a servable index is [[writeCdx]]: range-partition by `surt_key`,
    * sort within partitions, so a lookup reads one partition file.
    */
  def cdxIndex(records: DataFrame,
      captureTypes: Seq[String] = Seq("response", "conversion")): DataFrame = {
    import org.apache.spark.sql.functions._
    records.filter(col("warc_type").isin(captureTypes: _*))
      .withColumn("url_canon", graft.text.Urls.canonicalize(col("url")))
      .select(
        graft.text.Urls.surtKey(col("url_canon")).as("surt_key"),
        col("url_canon"), col("url"), col("fetch_ts"),
        col("http_status"), col("content_type").as("mime"),
        length(col("payload")).cast("long").as("payload_len"),
        col("warc_file"), col("rec_offset"))
  }

  /** SERVABLE CDX layout (i19): [[cdxIndex]] was a frame — "all
    * captures of host X" still scanned the whole index. This writes it as
    * a lookup STRUCTURE from parts the library already owns: range-
    * partition by `surt_key` (host labels reversed, so one domain's
    * captures are lexicographically contiguous → they land in few files),
    * sort within partitions, and commit the files as a [[VersionedTable]],
    * whose log carries each file's `surt_key` min/max — [[lookupHost]]
    * then plans its scan over only the files whose key range intersects
    * the prefix. At web-archive scale (10⁹+ captures, thousands of index
    * files) a host lookup touches ~1 file instead of all of them.
    *
    * `nFiles = 0` keeps the session's shuffle parallelism. Creates the
    * table, or commits a full [[VersionedTable.overwrite]] when it exists.
    */
  def writeCdx(index: DataFrame, path: String, nFiles: Int = 0): Unit = {
    import org.apache.spark.sql.functions.col
    val part =
      if (nFiles > 0) index.repartitionByRange(nFiles, col("surt_key"))
      else index.repartitionByRange(col("surt_key"))
    val laid = part.sortWithinPartitions(col("surt_key"))
    if (VersionedTable.exists(index.sparkSession, path)) VersionedTable.overwrite(laid, path)
    else VersionedTable.create(laid, path)
  }

  /** The SURT prefix owning every DEFAULT-PORT capture of `host`:
    * reversed labels + the `)` delimiter — `a.example` → `example,a)`.
    * `)` sorts below the label charset, so the half-open prefix interval
    * cannot swallow a sibling host that extends the last label
    * (`example,ab)…` sorts AFTER every `example,a)…` key but inside the
    * naive `example,a` prefix — the delimiter is what makes the range
    * exact). Non-default ports key as `example,a:8080)…` — [[lookupHost]]
    * widens a whole-host prefix to cover them too.
    */
  def surtHostPrefix(host: String): String =
    // Locale.ROOT: index keys come from Spark's locale-independent
    // lower(); a Turkish-default JVM would dotless-i the prefix and
    // miss them
    host.trim.toLowerCase(java.util.Locale.ROOT).split('.').reverse.mkString(",") + ")"

  /** Host-prefix lookup over a [[writeCdx]] layout: file-pruned by the
    * log's stats ([[VersionedTable.readWhere]] — touches only the files
    * whose surt range intersects), then filtered exactly, so the result EQUALS
    * the full-scan filter while reading ~1 file. `surtPrefix` is
    * [[surtHostPrefix]]'s output (a whole host) or any longer key prefix
    * (`example,a)/page`). A whole-host prefix (ending `)`) ALSO covers the
    * host's non-default-port captures: `:` sorts above `)`, so
    * `example,a:8443)…` keys live outside the base range — a second
    * range scans them and unions in (a sibling host extending the last
    * label matches neither range). Fetch a survivor's bytes with
    * [[fetchAt]] on its (warc_file, rec_offset).
    */
  def lookupHost(spark: SparkSession, cdxPath: String,
      surtPrefix: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    // U+FFFF caps each prefix interval: every key starting with the
    // prefix sorts within [prefix, prefix + U+FFFF] (keys are url-derived
    // ASCII, so U+FFFF never occurs in them)
    def range(p: String): DataFrame = {
      val k = col("surt_key")
      VersionedTable.readWhere(spark, cdxPath, k >= p && k <= p + "\uffff")
        .filter(k.startsWith(p))
    }
    val base = range(surtPrefix)
    if (surtPrefix.endsWith(")"))
      base.unionByName(range(surtPrefix.dropRight(1) + ":"))
    else base
  }

  /** The OTHER canonical archive query (r17): the capture of `url`
    * CLOSEST IN TIME to `at` — how Wayback and the Common Crawl index
    * are actually asked ("give me this page as of T"). Exact-URL lookup
    * over the same stats-pruned layout: the url canonicalizes and SURT-
    * keys through the IDENTICAL column expressions the index was built
    * with (a one-row local job — drift-proof by construction), the key's
    * own equality interval prunes the file list, then the argmin of
    * |fetch_ts − at| runs as a TakeOrdered over the handful of matching
    * captures. Ties break DETERMINISTICALLY: earlier capture first, then
    * (warc_file, rec_offset). Returns ≤ 1 row (empty = never captured);
    * feed the survivor's (warc_file, rec_offset) to [[fetchAt]].
    */
  def lookupAt(spark: SparkSession, cdxPath: String, url: String,
      at: java.sql.Timestamp): DataFrame = {
    import org.apache.spark.sql.functions._
    val key = spark.range(1).select(graft.text.Urls.surtKey(
      graft.text.Urls.canonicalize(lit(url))).as("k")).head.getString(0)
    if (key == null) // hostless url
      return VersionedTable.emptyFrame(spark, VersionedTable.snapshotAt(spark, cdxPath).schema)
    val atMicros = at.getTime * 1000L
    VersionedTable.readWhere(spark, cdxPath, col("surt_key") === key)
      .withColumn("_dist", abs(unix_micros(col("fetch_ts")) - lit(atMicros)))
      .orderBy(col("_dist"), col("fetch_ts"), col("warc_file"), col("rec_offset"))
      .limit(1)
      .drop("_dist")
  }

  /** Batched [[lookupAt]] — the index-nested-loop a REPLAY JOB runs: one
    * closest-in-time capture per DISTINCT requested (url, at), in one
    * pass. Per-request driver lookups would pay the planning cost × N;
    * here the request urls SURT-key through the index's own expressions,
    * the distinct keys collect BOUNDED (fails NAMED past `maxKeys` — a
    * corpus-scale request set should go through a join on the full index,
    * not a point-lookup API), the file list prunes to those whose logged
    * `surt_key` range contains ≥ 1 key (driver-side binary search per file
    * range — gaps between scattered keys are never read), and the winner
    * per request is one min-struct aggregate with [[lookupAt]]'s exact
    * tie order (dist, fetch_ts, warc_file, rec_offset). LEFT join back,
    * so never-captured and hostless requests surface as NULL capture
    * columns rather than vanishing. Equality with per-request [[lookupAt]]
    * is spec-pinned.
    */
  def lookupAtMany(spark: SparkSession, cdxPath: String, requests: DataFrame,
      urlCol: String = "url", atCol: String = "at",
      maxKeys: Int = 1 << 17): DataFrame = {
    import org.apache.spark.sql.functions._
    // ONE bounded job: the collected rows are the count check, the key
    // set, AND the (local, broadcastable) join side — the request scan,
    // distinct shuffle, and SURT-keying never re-execute. The bound is on
    // distinct (url, at) PAIRS — that is what broadcasts; bounding urls
    // alone would let 10 urls × 10⁷ timestamps through.
    val reqFrame = requests
      .select(col(urlCol).cast("string").as("req_url"),
        col(atCol).cast("timestamp").as("req_at"))
      .distinct()
      .withColumn("_key", graft.text.Urls.surtKey(
        graft.text.Urls.canonicalize(col("req_url"))))
    val reqRows = reqFrame.limit(maxKeys + 1).collect()
    require(reqRows.length <= maxKeys,
      s"lookupAtMany request set exceeds maxKeys=$maxKeys distinct (url, at) " +
        "requests — a corpus-scale request set should JOIN the index, not " +
        "point-look it up")
    // the frame's OWN schema — drift-proof against the pipeline above
    val reqs = spark.createDataFrame(
      spark.sparkContext.parallelize(reqRows.toIndexedSeq, 1), reqFrame.schema)
    val keys = reqRows.iterator.map(_.getString(2)).filter(_ != null)
      .toSeq.distinct
    val capCols = Seq("surt_key", "url_canon", "url", "fetch_ts",
      "http_status", "mime", "payload_len", "warc_file", "rec_offset")
    val snap = VersionedTable.snapshotAt(spark, cdxPath)
    if (keys.isEmpty) // every request is hostless: all-NULL captures
      return reqs.select((Seq(col("req_url"), col("req_at")) ++
        capCols.map(c => lit(null).cast(snap.schema(c).dataType).as(c))): _*)
    // Keys sort once in the log stats' own order (unsigned UTF-8 — Java's
    // UTF-16 order diverges on supplementary-plane text and would prune a
    // matching file), then one binary search per file: is the first key
    // >= the file's min also <= its max? An isin over the keys would bloat
    // the plan; the broadcast join below is the exact membership filter.
    val cmp = VersionedTable.compareStatVals _
    val sorted = keys.sortWith(cmp(_, _) < 0).toIndexedSeq
    def anyKeyIn(lo: Any, hi: Any): Boolean = {
      var l = 0; var r = sorted.length
      while (l < r) { val m = (l + r) >>> 1; if (cmp(sorted(m), lo) < 0) l = m + 1 else r = m }
      l < sorted.length && cmp(sorted(l), hi) <= 0
    }
    // no stats: keep (never mis-prune); all-null or zero-row: no key lives there
    val kept = snap.files.filter(f => f.rows > 0 && f.stats.get("surt_key")
      .forall(s => s.min.zip(s.max).exists { case (lo, hi) => anyKeyIn(lo, hi) }))
    val caps = VersionedTable.scanFiles(spark, cdxPath, kept, snap.schema)
    val winners = caps
      .join(reqs.hint("broadcast"), caps("surt_key") === reqs("_key"))
      .withColumn("_dist",
        abs(unix_micros(col("fetch_ts")) - unix_micros(col("req_at"))))
      .groupBy(col("req_url"), col("req_at"))
      .agg(min(struct((col("_dist") +: Seq("fetch_ts", "warc_file",
          "rec_offset", "surt_key", "url_canon", "url", "http_status",
          "mime", "payload_len").map(caps(_))): _*)).as("_w"))
    reqs.select(col("req_url"), col("req_at"))
      .join(winners, Seq("req_url", "req_at"), "left")
      .select((Seq(col("req_url"), col("req_at")) ++
        capCols.map(c => col(s"_w.$c").as(c))): _*)
  }

  /** FREE dedup signal from the archive itself (r17): crawls declare
    * exact re-fetches as `WARC-Type: revisit` records carrying the
    * original capture's `WARC-Payload-Digest` and
    * `WARC-Refers-To-Target-URI` (the Common Crawl convention) — the
    * crawler already hashed the page, so these lift at intake into
    * (duplicate_url, original_url, original_digest) dedup edges with no
    * content pass at all. Pure projection — scan-shaped at any archive
    * size. Feed [[dropDeclaredDuplicates]] (the q19 keep-the-original
    * semantics) and q91's `declared_dup_frac` intake metric.
    */
  def revisitEdges(records: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    records.filter(col("warc_type") === "revisit")
      .select(
        graft.text.Urls.canonicalize(col("url")).as("duplicate_url"),
        graft.text.Urls.canonicalize(col("refers_to_uri")).as("original_url"),
        col("payload_digest").as("original_digest"),
        col("fetch_ts"), col("warc_file"), col("rec_offset"))
  }

  /** Drop the CAPTURES the archive declared duplicates (a
    * [[revisitEdges]] frame) — q19's keep-the-original semantics with
    * the crawler's own digest standing in for the content hash. The key
    * is (canonical url, fetch_ts) — a revisit usually refers to an
    * EARLIER capture of the SAME url, so matching on url alone would
    * drop the original too; the timestamp pins exactly the re-fetch.
    * One equi anti-join; the edges side is the small one (revisits are
    * a fraction of captures) and broadcasts.
    */
  def dropDeclaredDuplicates(docs: DataFrame, edges: DataFrame,
      urlCol: String = "url", tsCol: String = "fetch_ts"): DataFrame = {
    import org.apache.spark.sql.functions._
    docs.join(
      broadcast(edges.select(col("duplicate_url").as("_dup_url"),
        col("fetch_ts").as("_dup_ts")).distinct()),
      graft.text.Urls.canonicalize(col(urlCol)) === col("_dup_url") &&
        col(tsCol) === col("_dup_ts"),
      "left_anti")
  }

  // ---------------------------------------------------------------------
  // Spark faces.
  // ---------------------------------------------------------------------

  /** Batch WARC read → (records, quarantine), ONE parse pass shared by
    * both frames: the parsed-items RDD is persisted (memory, spilling to
    * disk) so consuming records AND quarantine decompresses every gzip
    * member once, not twice — at 100 TB intake the second full decompress
    * pass was the cost of a whole extra read. The persist is
    * driver-GC-scoped: when the caller drops both frames, Spark's
    * ContextCleaner unpersists the RDD; to release eagerly at a batch
    * boundary, land the records frame and split from the landed copy (the
    * [[Sources.csvQuarantined]] bronze discipline).
    *
    * `persist = false` opts back into lazy unshared frames for a
    * SCAN-ONLY consumer (one frame, one action — e.g. a throughput probe
    * or a records-only pipeline stage): skipping the store avoids the
    * serialize-to-cache tax on a pass that will never be re-read, at the
    * cost of a full re-parse if the second frame IS later consumed.
    *
    * Parallelism = files (`binaryFiles`; WARC gzip members carry no split
    * index, so a file is the atomic task — crawls ship as many ~1 GB files,
    * which is exactly the width a 1000-executor cluster wants).
    */
  def read(spark: SparkSession, path: String,
      maxRecordBytes: Int = DefaultMaxRecordBytes,
      persist: Boolean = true): (DataFrame, DataFrame) = {
    val items0 = spark.sparkContext.binaryFiles(path)
      .flatMap { case (file, pds) =>
        parseFile(() => pds.open(), maxRecordBytes).map(item => (file, item))
      }
    val items =
      if (persist)
        items0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      else items0
    val recs = spark.createDataFrame(
      items.collect { case (f, Rec(off, t, u, ts, ct, st, p, dg, ru)) =>
        Row(f, off, t, u, ts, ct, st, p, dg, ru) },
      recordSchema)
    val quar = spark.createDataFrame(
      items.collect { case (f, Quar(off, r, d)) => Row(f, off, r, d) },
      quarantineSchema)
    (recs, quar)
  }

  /** html `response` records of a parsed WARC frame as a documents table:
    * (doc_id, url, fetch_ts, charset, html) with `doc_id` the (file,
    * offset) frame address — unique, deterministic, and independent of
    * split planning (the i03 `textLines` id discipline). Feeds
    * [[graft.text.HtmlExtract]] directly:
    * `HtmlExtract.mainText(Warc.htmlDocuments(recs), "doc_id", "html")`
    * is the crawl-to-clean-text intake.
    *
    * Decode is CHARSET-AWARE ([[graft.functions.CharsetSniff]]): the
    * Content-Type `charset=` parameter wins, then a meta-tag prescan of
    * the first 1024 bytes, then UTF-8 — a windows-1251 or Shift_JIS page
    * comes out as its real text instead of replacement-char mojibake
    * (which silently poisoned whole non-UTF-8 strata downstream: langid,
    * quality, every dedup gram). Malformed bytes REPLACE per character
    * (degrades one character, never fails the scan); the charset actually
    * used is emitted so mis-sniffs are diagnosable and q91's intake-mix
    * report can count non-UTF-8 strata. Requires the GraftExtensions
    * session extension (all graft sessions configure it).
    */
  def htmlDocuments(records: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    records
      .filter(col("warc_type") === "response" &&
        col("http_status") === 200 &&
        col("content_type").startsWith("text/html"))
      .withColumn("charset",
        call_function("graft_charset_sniff", col("content_type"), col("payload")))
      .select(
        concat_ws(":", col("warc_file"), col("rec_offset")).as("doc_id"),
        col("url"), col("fetch_ts"), col("charset"),
        call_function("graft_charset_decode", col("payload"), col("charset"))
          .as("html"))
  }

  /** The crawl's own robots.txt bodies as a (domain, robots_txt) frame —
    * a crawl archive carries the policy files it was fetched under as
    * ordinary `response` records, so [[graft.sources.Robots.verdicts]]
    * can gate the archive against itself with no external fetch. One
    * body per domain: latest fetch wins (robots change; the newest
    * snapshot is the operative one), min doc_id tiebreak via the same
    * min-struct shape as [[dedupByUrl]].
    */
  def robotsBodies(records: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val sentinel = lit("1970-01-01 00:00:00").cast("timestamp")
    records
      .filter(col("warc_type") === "response" &&
        col("http_status") === 200 &&
        col("url").rlike("^[A-Za-z][A-Za-z0-9+.-]*://[^/?]+/robots\\.txt$"))
      .select(
        graft.text.Urls.domain(graft.text.Urls.canonicalize(col("url")))
          .as("domain"),
        col("fetch_ts"), col("rec_offset"),
        decode(col("payload"), "UTF-8").as("robots_txt"))
      .groupBy(col("domain"))
      // latest ts wins; equal ts → lowest record offset (negated so the
      // max-struct picks it) — deterministic under re-fetch storms
      .agg(max(struct(coalesce(col("fetch_ts"), sentinel).as("ord_ts"),
        (-col("rec_offset")).as("ord_off"), col("robots_txt"))).as("k"))
      .select(col("domain"), col("k.robots_txt").as("robots_txt"))
  }

  /** The crawl's own sitemap responses as a (doc_id, url, fetch_ts, xml)
    * frame — a crawl archive carries the sitemap files it fetched as
    * ordinary `response` records, so [[graft.text.Sitemaps.entries]] can
    * seed the frontier from them with no external fetch. Candidates come
    * from URL shape (`…sitemap….xml(.gz)` path, query string allowed —
    * the sitemaps.org default, its indexed variants, and the protocol's
    * gzipped form, inflated through the CAPPED `graft_gunzip`) or, for
    * robots-declared NON-default paths ([[graft.text.Sitemaps.fromRobots]]
    * discovers those), from an XML content-type on a `.xml` url; EVERY
    * candidate must then open with a sitemap root element
    * (`<urlset`/`<sitemapindex` in the first 1024 decoded chars —
    * ubiquitous RSS/Atom feeds are also xml-typed `.xml` urls, and the
    * root element is the honest discriminator). Bodies decode UTF-8 (the
    * sitemap protocol requires it).
    */
  def sitemapBodies(records: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    // gzipped sitemaps (explicitly part of the protocol) ship as gzip
    // BYTES with no Content-Encoding — inflate through the CAPPED native
    // gunzip (zip-bomb-bounded; a bomb/corrupt stream nulls the body and
    // the row drops at the root-element check, never fails the scan)
    val isGz = col("url").rlike("(?i)\\.xml\\.gz($|\\?)")
    val body = when(isGz,
        call_function("graft_gunzip", col("payload"),
          lit(graft.functions.Gunzip.DefaultMaxBytes)))
      .otherwise(col("payload"))
    records
      .filter(col("warc_type") === "response" && col("http_status") === 200)
      .withColumn("_xml", decode(body, "UTF-8"))
      .filter(
        col("url").rlike("(?i)sitemap[^/]*\\.xml(\\.gz)?($|\\?)") ||
          (col("content_type").rlike("(?i)^(application|text)/xml") &&
            col("url").rlike("(?i)\\.xml($|\\?)")))
      .filter(substring(col("_xml"), 1, 1024)
        .rlike("(?is)<(urlset|sitemapindex)[\\s>]"))
      .select(
        concat_ws(":", col("warc_file"), col("rec_offset")).as("doc_id"),
        col("url"), col("fetch_ts"),
        col("_xml").as("xml"))
  }

  /** FIRST-FETCH-WINS canonical-URL dedup of a crawl documents frame
    * ([[htmlDocuments]] shape): the same page arrives under
    * `HTTP://WWW.Site.COM:80/a/?utm_source=x` and `http://site.com/a`,
    * and a crawl re-fetches it across snapshots — keep the EARLIEST
    * fetch per [[graft.text.Urls.canonicalize]] spelling (tiebreak
    * doc_id; an undated fetch loses to any dated one). Min-struct
    * first-occurrence aggregation (the q82/q72 discipline): ONE shuffle
    * on the canonical url, never a window over a hot key.
    */
  def dedupByUrl(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val sentinel = lit("9999-12-31 23:59:59").cast("timestamp")
    docs
      .withColumn("url_canon", graft.text.Urls.canonicalize(col("url")))
      .groupBy(col("url_canon"))
      .agg(min(struct(coalesce(col("fetch_ts"), sentinel).as("ord_ts"),
        col("doc_id"), col("url"), col("fetch_ts"), col("html"))).as("k"))
      .select(col("k.doc_id").as("doc_id"), col("url_canon"),
        col("k.url").as("url"), col("k.fetch_ts").as("fetch_ts"),
        col("k.html").as("html"))
  }

  /** Streaming WARC intake: new files under `path` become micro-batches
    * (the `binaryFile` stream source), parsed with the SAME frame parser
    * as the batch face. One unified frame — good records carry
    * `reason = null`, quarantined frames carry it set (a stream can't
    * return two frames; filter on `reason` to split). Composes into the
    * s20 html-extract sink: crawl files land → records parse → main text
    * extracts, one continuous flow.
    */
  def stream(spark: SparkSession, path: String,
      maxRecordBytes: Int = DefaultMaxRecordBytes): DataFrame = {
    import org.apache.spark.sql.functions.col
    val unified = StructType(recordSchema.fields ++ Seq(
      StructField("reason", StringType, nullable = true),
      StructField("detail", StringType, nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(unified)
    val binFileSchema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    spark.readStream.format("binaryFile").schema(binFileSchema).load(path)
      .select(col("path"), col("content"))
      .flatMap { row =>
        val file = row.getString(0)
        val bytes = row.getAs[Array[Byte]](1)
        parseFile(() => new ByteArrayInputStream(bytes), maxRecordBytes).map {
          case Rec(off, t, u, ts, ct, st, p, dg, ru) =>
            Row(file, off, t, u, ts, ct, st, p, dg, ru, null, null)
          case Quar(off, r, d) =>
            Row(file, off, null, null, null, null, null, null, null, null, r, d)
        }
      }(enc)
  }
}
