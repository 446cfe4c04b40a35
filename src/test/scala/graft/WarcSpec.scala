package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.functions._
import graft.sources.{VersionedTable, Warc}
import graft.text.HtmlExtract

/** i17 WARC intake: record framing, member-level quarantine + recovery,
  * plain-vs-gz parity, and the q93/s20 composition off a real crawl file.
  */
class WarcSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  // -- fixture builders (hand-rolled bytes, no library) -------------------

  private def warcRecord(typ: String, url: String, date: String,
      contentType: String, payload: Array[Byte]): Array[Byte] = {
    val hdr = s"WARC/1.0\r\nWARC-Type: $typ\r\nWARC-Target-URI: $url\r\n" +
      s"WARC-Date: $date\r\nWARC-Record-ID: <urn:test:$url>\r\n" +
      s"Content-Type: $contentType\r\nContent-Length: ${payload.length}\r\n\r\n"
    hdr.getBytes("UTF-8") ++ payload ++ "\r\n\r\n".getBytes("UTF-8")
  }

  private def httpResponse(status: Int, contentType: String, body: String): Array[Byte] =
    (s"HTTP/1.1 $status OK\r\nContent-Type: $contentType\r\n" +
      s"Server: test\r\n\r\n").getBytes("UTF-8") ++ body.getBytes("UTF-8")

  private def gzMember(bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(bos)
    g.write(bytes); g.close()
    bos.toByteArray
  }

  private val htmlA =
    "<html><head><script>var x=1;</script></head><body>" +
      "<p>The quick brown fox jumps over the lazy dog repeatedly.</p>" +
      "<div><a href=\"/x\">nav</a> <a href=\"/y\">more nav</a></div>" +
      "<p>A second paragraph of plain readable prose content here.</p>" +
      "</body></html>"
  private val htmlB =
    "<html><body><p>Entirely different page with its own long paragraph " +
      "of content for extraction.</p><footer><a href=\"/z\">links</a></footer>" +
      "</body></html>"

  private def goodRecords: Seq[Array[Byte]] = Seq(
    warcRecord("warcinfo", "urn:info", "2024-01-01T00:00:00Z",
      "application/warc-fields", "software: test\r\n".getBytes("UTF-8")),
    warcRecord("response", "http://a.example/page", "2024-01-02T03:04:05Z",
      "application/http; msgtype=response", httpResponse(200, "text/html; charset=utf-8", htmlA)),
    warcRecord("response", "http://b.example/page", "2024-01-03T00:00:00Z",
      "application/http; msgtype=response", httpResponse(200, "text/html", htmlB)),
    warcRecord("response", "http://c.example/miss", "2024-01-04T00:00:00Z",
      "application/http; msgtype=response", httpResponse(404, "text/html", "<html>gone</html>")),
    warcRecord("response", "http://d.example/img", "2024-01-05T00:00:00Z",
      "application/http; msgtype=response", httpResponse(200, "image/png", "notpixels")))

  private def writeGz(dir: String, name: String, members: Seq[Array[Byte]]): String = {
    val p = s"$dir/$name"
    val out = new ByteArrayOutputStream()
    members.foreach(m => out.write(m))
    Files.write(Paths.get(p), out.toByteArray)
    p
  }

  test("warc.gz: records frame with typed fields; http payload unwrapped") {
    val dir = tmp("warc")
    writeGz(dir, "crawl.warc.gz", goodRecords.map(gzMember))
    val (recs, quar) = Warc.read(spark, s"$dir/crawl.warc.gz")
    assert(quar.count() == 0)
    val rows = recs.orderBy("rec_offset").collect()
    assert(rows.length == 5)
    assert(rows.map(_.getString(2)).toSeq ==
      Seq("warcinfo", "response", "response", "response", "response"))
    val a = rows(1)
    assert(a.getString(3) == "http://a.example/page")
    assert(a.getTimestamp(4).toInstant == java.time.Instant.parse("2024-01-02T03:04:05Z"))
    assert(a.getString(5) == "text/html; charset=utf-8")
    assert(a.getInt(6) == 200)
    assert(new String(a.getAs[Array[Byte]](7), "UTF-8") == htmlA)
    // offsets are the compressed member starts: strictly increasing, first at 0
    val offs = rows.map(_.getLong(1)).toSeq
    assert(offs.head == 0L && offs == offs.sorted && offs.distinct == offs)
    // non-http record keeps its block verbatim
    assert(new String(rows(0).getAs[Array[Byte]](7), "UTF-8") == "software: test\r\n")
  }

  test("corrupt gzip member quarantines by offset; later members still parse") {
    val dir = tmp("warc")
    val members = goodRecords.map(gzMember)
    // Zero out 24 bytes of member 2's deflate data (no 1f 8b can appear).
    val bad = members(2).clone()
    java.util.Arrays.fill(bad, 12, 36, 0.toByte)
    val all = Seq(members(0), members(1), bad, members(3), members(4))
    writeGz(dir, "crawl.warc.gz", all)
    val (recs, quar) = Warc.read(spark, s"$dir/crawl.warc.gz")
    val qRows = quar.collect()
    assert(qRows.length == 1, qRows.mkString(";"))
    assert(qRows(0).getString(2) == "corrupt_gzip_member")
    assert(qRows(0).getLong(1) == members(0).length + members(1).length)
    // the two records before and the two after the corrupt member survive
    assert(recs.count() == 4)
    assert(recs.filter(col("url") === "http://c.example/miss").count() == 1)
  }

  test("plain .warc parses identically to the gz framing") {
    val dir = tmp("warc")
    writeGz(dir, "crawl.warc.gz", goodRecords.map(gzMember))
    writeGz(dir, "crawl.warc", Seq(goodRecords.flatten.toArray))
    val (gz, _) = Warc.read(spark, s"$dir/crawl.warc.gz")
    val (plain, pq) = Warc.read(spark, s"$dir/crawl.warc")
    assert(pq.count() == 0)
    val strip = (df: org.apache.spark.sql.DataFrame) => df
      .select(col("warc_type"), col("url"), col("fetch_ts"), col("content_type"),
        col("http_status"), decode(col("payload"), "UTF-8").as("p"))
      .orderBy("url").collect().toSeq
    assert(strip(gz) == strip(plain))
  }

  test("truncated record and bad version quarantine with named reasons") {
    val dir = tmp("warc")
    // Content-Length overruns the whole FRAME → record_too_large (the
    // allocation is bounded by the member's own decompressed length, so a
    // claim past it is rejected before any buffer exists).
    val overFrame = ("WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 999\r\n\r\n" +
      "short").getBytes("UTF-8")
    writeGz(dir, "t.warc.gz", Seq(gzMember(overFrame)))
    val (r1, q1) = Warc.read(spark, s"$dir/t.warc.gz")
    assert(r1.count() == 0 && q1.select("reason").as[String].collect().toSeq ==
      Seq("record_too_large"))
    // Content-Length within the frame but past the actual payload bytes →
    // truncated_record.
    val truncated = ("WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 40\r\n\r\n" +
      "short").getBytes("UTF-8")
    writeGz(dir, "tr.warc.gz", Seq(gzMember(truncated)))
    val (r1b, q1b) = Warc.read(spark, s"$dir/tr.warc.gz")
    assert(r1b.count() == 0 && q1b.select("reason").as[String].collect().toSeq ==
      Seq("truncated_record"))
    // Frame that isn't WARC at all → bad_warc_version.
    writeGz(dir, "v.warc.gz", Seq(gzMember("HELLO/9 not warc\r\n\r\n".getBytes)))
    val (r2, q2) = Warc.read(spark, s"$dir/v.warc.gz")
    assert(r2.count() == 0 && q2.select("reason").as[String].collect().toSeq ==
      Seq("bad_warc_version"))
  }

  test("cdxIndex + fetchAt: every capture addressable; latest-capture " +
      "lookup round-trips one member read (i19)") {
    val dir = tmp("warc")
    // two captures of the SAME canonical page (messy + clean spelling,
    // different fetch times) + one other host, one gz member per record
    val recs = Seq(
      warcRecord("warcinfo", "urn:info", "2024-01-01T00:00:00Z",
        "application/warc-fields", "software: test\r\n".getBytes("UTF-8")),
      warcRecord("response", "HTTP://WWW.A.Example:80/page/?utm_source=x",
        "2024-01-02T00:00:00Z", "application/http; msgtype=response",
        httpResponse(200, "text/html", "<html>old capture</html>")),
      warcRecord("response", "http://a.example/page", "2024-03-02T00:00:00Z",
        "application/http; msgtype=response",
        httpResponse(200, "text/html", "<html>new capture</html>")),
      warcRecord("response", "http://b.example:8080/x?q=1", "2024-01-03T00:00:00Z",
        "application/http; msgtype=response",
        httpResponse(404, "text/html", "<html>gone</html>")))
    val f = writeGz(dir, "crawl.warc.gz", recs.map(gzMember))
    val (records, _) = Warc.read(spark, f)
    val idx = Warc.cdxIndex(records).collect()
    assert(idx.length == 3, "warcinfo is not a capture")
    // SURT keys: reversed host labels, port kept, canonical path+query
    val keys = idx.map(r => r.getAs[String]("surt_key")).sorted.toSeq
    assert(keys == Seq("example,a)/page", "example,a)/page",
      "example,b:8080)/x?q=1"), keys)
    // the two a.example captures collapse onto ONE canonical spelling
    assert(idx.filter(_.getAs[String]("url_canon") == "http://a.example/page")
      .length == 2)
    // every capture's (file, offset) address fetches EXACTLY its record
    idx.foreach { r =>
      val got = Warc.fetchAt(r.getAs[String]("warc_file"),
        r.getAs[Long]("rec_offset"))
      assert(got.length == 1, got)
      assert(got.head.url == r.getAs[String]("url"))
      assert(got.head.payload.length == r.getAs[Long]("payload_len"))
    }
    // the CDX use: latest capture of the canonical page, fetched directly
    val latest = idx.filter(_.getAs[String]("url_canon") == "http://a.example/page")
      .maxBy(_.getAs[java.sql.Timestamp]("fetch_ts").getTime)
    val page = Warc.fetchAt(latest.getAs[String]("warc_file"),
      latest.getAs[Long]("rec_offset")).head
    assert(new String(page.payload, "UTF-8") == "<html>new capture</html>")
    // a mid-member address is not a frame: fails NAMED, never silent
    val e = intercept[Exception](Warc.fetchAt(f, latest.getAs[Long]("rec_offset") + 3))
    assert(e.getMessage.contains("offset"), e.getMessage)
  }

  test("plain .warc: per-record offsets are unique, addressable, and " +
      "keep htmlDocuments ids collision-free") {
    val dir = tmp("warc")
    val f = writeGz(dir, "crawl.warc", Seq(goodRecords.flatten.toArray))
    val (records, _) = Warc.read(spark, f)
    val offs = records.select("rec_offset").as[Long].collect().toSeq
    assert(offs.distinct.size == offs.size,
      s"plain-warc offsets must be per-record, got $offs")
    assert(offs.exists(_ > 0), "offsets are byte positions, not frame 0")
    // every offset round-trips through random access
    records.select("rec_offset", "url", "payload").collect().foreach { r =>
      val got = Warc.fetchAt(f, r.getAs[Long]("rec_offset"))
      assert(got.length == 1 && got.head.url == r.getAs[String]("url"))
      assert(java.util.Arrays.equals(got.head.payload, r.getAs[Array[Byte]]("payload")))
    }
    // the collision this fixes: 2 html docs → 2 DISTINCT doc_ids
    val ids = Warc.htmlDocuments(records).select("doc_id").as[String].collect()
    assert(ids.length == 2 && ids.distinct.length == 2, ids.toSeq)
  }

  test("writeWarcGz: WET-style export round-trips through read, indexes, " +
      "and random-accesses (i20)") {
    val dir = tmp("warc")
    val docs = Seq(
      ("https://a.example/p1", java.sql.Timestamp.valueOf("2024-01-02 03:04:05"),
        "first extracted text body"),
      ("https://a.example/p2", java.sql.Timestamp.valueOf("2024-02-03 04:05:06"),
        "second body with unicode: café — ok"),
      ("https://b.example/x", null.asInstanceOf[java.sql.Timestamp],
        "undated doc survives too"))
      .toDF("url", "fetch_ts", "text")
    Warc.writeWarcGz(docs, s"$dir/wet", shards = 2)
    val files = new java.io.File(s"$dir/wet").listFiles()
      .filter(_.getName.endsWith(".warc.gz"))
    assert(files.length == 2, files.map(_.getName).toSeq)
    // read-back parity: every row, typed, payload byte-exact
    val (recs, quar) = Warc.read(spark, s"$dir/wet/*.warc.gz")
    assert(quar.count() == 0)
    val got = recs.select(col("warc_type"), col("content_type"), col("url"),
        col("fetch_ts"), decode(col("payload"), "UTF-8").as("text"))
      .orderBy("url").collect().toSeq
    assert(got.map(_.getString(0)).forall(_ == "conversion"))
    assert(got.map(_.getString(1)).forall(_ == "text/plain"))
    assert(got.map(r => (r.getString(2), r.getTimestamp(3), r.getString(4))) ==
      docs.orderBy("url").collect().toSeq
        .map(r => (r.getString(0), r.getTimestamp(1), r.getString(2))))
    // our own output is a first-class archive: CDX-indexable + fetchable
    val idx = Warc.cdxIndex(recs).collect()
    assert(idx.length == 3, "conversion records are captures")
    idx.foreach { r =>
      val one = Warc.fetchAt(r.getAs[String]("warc_file"),
        r.getAs[Long]("rec_offset"))
      assert(one.length == 1 && one.head.url == r.getAs[String]("url"))
    }
    // record ids are per-record UNIQUE (re-crawled urls stay distinct
    // records to archive tooling) — ids aren't lifted into a column, so
    // read the raw member bytes (GZIPInputStream reads concatenated
    // members transparently)
    val rawIds = files.toSeq.flatMap { f =>
      scala.io.Source.fromInputStream(new java.util.zip.GZIPInputStream(
          new java.io.FileInputStream(f)), "UTF-8")
        .getLines().filter(_.startsWith("WARC-Record-ID:")).toList
    }
    assert(rawIds.length == 3 && rawIds.distinct.length == 3, rawIds)
    // atomic re-export REPLACES the archive (overwriteAtomic discipline)
    Warc.writeWarcGz(docs.limit(1), s"$dir/wet", shards = 1)
    val (recs2, _) = Warc.read(spark, s"$dir/wet/*.warc.gz")
    assert(recs2.count() == 1)
  }

  test("oversize records quarantine record_too_large and parsing CONTINUES " +
      "past them — both framings") {
    val dir = tmp("warc")
    // ACCURATE over-cap Content-Length: the skip must land exactly on the
    // next record so the good records on BOTH sides survive
    val bigBody = new Array[Byte](2 << 20) // 2 MB > the 1 MB cap below
    java.util.Arrays.fill(bigBody, 'x'.toByte)
    val big = warcRecord("resource", "urn:big", "2024-01-01T00:00:00Z",
      "application/octet-stream", bigBody)
    val members = Seq(goodRecords(1), big, goodRecords(2))

    // plain framing: one stream, per-record offsets, skip-don't-allocate
    val fp = writeGz(dir, "crawl.warc", Seq(members.flatten.toArray))
    val (pr, pq) = Warc.read(spark, s"$dir/crawl.warc", maxRecordBytes = 1 << 20)
    assert(pq.select("reason").as[String].collect().toSeq ==
      Seq("record_too_large"), "exactly the oversize record quarantines")
    assert(pr.select("url").as[String].collect().toSet ==
      Set("http://a.example/page", "http://b.example/page"),
      "records BEFORE AND AFTER the oversize one survive")

    // gz framing: the over-cap member DRAINS to its true end (no resync
    // scan), quarantines under the same reason, later members parse
    val fg = writeGz(dir, "crawl.warc.gz", members.map(gzMember))
    val (gr, gq) = Warc.read(spark, s"$dir/crawl.warc.gz", maxRecordBytes = 1 << 20)
    assert(gq.select("reason").as[String].collect().toSeq ==
      Seq("record_too_large"), gq.collect().mkString(";"))
    assert(gr.select("url").as[String].collect().toSet ==
      Set("http://a.example/page", "http://b.example/page"))
  }

  test("q93 composition: HtmlExtract over WARC equals the direct-text path") {
    val dir = tmp("warc")
    writeGz(dir, "crawl.warc.gz", goodRecords.map(gzMember))
    val (recs, _) = Warc.read(spark, s"$dir/crawl.warc.gz")
    val docs = Warc.htmlDocuments(recs)
    // only the two 200 text/html responses qualify
    assert(docs.select("url").as[String].collect().sorted.toSeq ==
      Seq("http://a.example/page", "http://b.example/page"))
    val viaWarc = HtmlExtract.mainText(docs, "url", "html")
      .select("url", "n_blocks", "n_kept", "main_text")
      .orderBy("url").collect().toSeq
    val direct = HtmlExtract.mainText(
      Seq(("http://a.example/page", htmlA), ("http://b.example/page", htmlB))
        .toDF("url", "html"), "url", "html")
      .select("url", "n_blocks", "n_kept", "main_text")
      .orderBy("url").collect().toSeq
    assert(viaWarc == direct)
    assert(viaWarc.forall(_.getString(3).nonEmpty))
  }

  test("chunked and gzip-encoded HTTP bodies decode; malformed framing degrades to raw") {
    def chunk(body: Array[Byte], sizes: Seq[Int]): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      var off = 0
      sizes.foreach { n =>
        out.write(s"${n.toHexString}\r\n".getBytes("US-ASCII"))
        out.write(body, off, n); off += n
        out.write("\r\n".getBytes("US-ASCII"))
      }
      assert(off == body.length, "test fixture must chunk the whole body")
      out.write("0\r\n\r\n".getBytes("US-ASCII"))
      out.toByteArray
    }
    def http(extraHeaders: String, body: Array[Byte]): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n$extraHeaders\r\n").getBytes("US-ASCII") ++ body
    val bodyBytes = htmlA.getBytes("UTF-8")
    // chunked
    val chunked = warcRecord("response", "http://c.example/chunked", "2024-01-06T00:00:00Z",
      "application/http; msgtype=response",
      http("Transfer-Encoding: chunked\r\n", chunk(bodyBytes, Seq(10, 50, bodyBytes.length - 60))))
    // gzip entity
    val gzBody = gzMember(bodyBytes) // a gzip stream (member == stream here)
    val gzipped = warcRecord("response", "http://c.example/gz", "2024-01-06T00:00:00Z",
      "application/http; msgtype=response",
      http("Content-Encoding: gzip\r\n", gzBody))
    // chunked AND gzipped (wire order: gzip entity, then chunk the wire bytes)
    val both = warcRecord("response", "http://c.example/both", "2024-01-06T00:00:00Z",
      "application/http; msgtype=response",
      http("Transfer-Encoding: chunked\r\nContent-Encoding: gzip\r\n",
        chunk(gzBody, Seq(gzBody.length / 2, gzBody.length - gzBody.length / 2))))
    // malformed chunk framing → raw bytes kept, record NOT dropped
    val badWire = "zz-not-hex\r\ngarbage".getBytes("US-ASCII")
    val bad = warcRecord("response", "http://c.example/bad", "2024-01-06T00:00:00Z",
      "application/http; msgtype=response",
      http("Transfer-Encoding: chunked\r\n", badWire))
    val dir = tmp("warcenc")
    writeGz(dir, "enc.warc.gz", Seq(chunked, gzipped, both, bad).map(gzMember))
    val (recs, quar) = Warc.read(spark, s"$dir/enc.warc.gz")
    assert(quar.count() == 0)
    val byUrl = recs.collect().map(r => r.getString(3) -> new String(r.getAs[Array[Byte]](7), "UTF-8")).toMap
    assert(byUrl("http://c.example/chunked") == htmlA, "dechunk must recover the entity")
    assert(byUrl("http://c.example/gz") == htmlA, "gzip body must decompress")
    assert(byUrl("http://c.example/both") == htmlA, "chunked+gzip must compose")
    assert(byUrl("http://c.example/bad") == new String(badWire, "UTF-8"),
      "malformed framing keeps the raw bytes instead of dropping the record")
  }

  test("dedupByUrl: first fetch wins per canonical spelling, undated loses") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val docs = Seq(
      // three spellings of ONE page, second fetch earliest → kept
      ("f1:0", "HTTP://WWW.A.com:80/x?utm_source=z", ts("2026-02-01 00:00:00"), "<p>v2</p>"),
      ("f1:9", "http://a.com/x", ts("2026-01-01 00:00:00"), "<p>v1</p>"),
      ("f2:0", "http://a.com/x/", ts("2026-03-01 00:00:00"), "<p>v3</p>"),
      // a different page on the same host survives independently
      ("f2:7", "http://a.com/y", ts("2026-01-05 00:00:00"), "<p>y</p>"),
      // undated re-fetch of /y loses to the dated one
      ("f3:0", "HTTP://A.com/y", null.asInstanceOf[java.sql.Timestamp], "<p>y-undated</p>"))
      .toDF("doc_id", "url", "fetch_ts", "html")
    val kept = Warc.dedupByUrl(docs)
      .select(col("url_canon"), col("doc_id"), col("html"))
      .as[(String, String, String)].collect().toSet
    assert(kept == Set(
      ("http://a.com/x", "f1:9", "<p>v1</p>"),
      ("http://a.com/y", "f2:7", "<p>y</p>")), kept.toString)
    // no window anywhere — the min-struct form is the plan
    val p = Warc.dedupByUrl(docs).queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"url dedup must stay on the min-struct agg:\n$p")
  }

  test("robots composition: the crawl's own robots.txt gates its pages (i17+i18)") {
    val dir = tmp("warcrobots")
    val members = Seq(
      warcRecord("response", "http://a.example/robots.txt", "2024-01-01T00:00:00Z",
        "application/http; msgtype=response",
        httpResponse(200, "text/plain", "User-agent: *\nAllow: /\n")),
      // a LATER robots fetch flips the policy — latest must win
      warcRecord("response", "http://a.example/robots.txt", "2024-02-01T00:00:00Z",
        "application/http; msgtype=response",
        httpResponse(200, "text/plain", "User-agent: *\nDisallow: /page\n")),
      warcRecord("response", "http://a.example/page", "2024-01-02T03:04:05Z",
        "application/http; msgtype=response", httpResponse(200, "text/html", htmlA)),
      warcRecord("response", "http://b.example/page", "2024-01-03T00:00:00Z",
        "application/http; msgtype=response", httpResponse(200, "text/html", htmlB)))
      .map(gzMember)
    writeGz(dir, "c.warc.gz", members)
    val (recs, _) = Warc.read(spark, s"$dir/c.warc.gz")
    val robots = Warc.robotsBodies(recs).as[(String, String)].collect().toMap
    assert(robots == Map("a.example" -> "User-agent: *\nDisallow: /page\n"),
      robots.toString)
    val verdicts = graft.sources.Robots.verdicts(spark,
        Warc.htmlDocuments(recs), "url", Warc.robotsBodies(recs), "graftbot")
      .select(col("url"), col("robots_allowed"))
      .as[(String, Boolean)].collect().toMap
    assert(verdicts == Map("http://a.example/page" -> false,
      "http://b.example/page" -> true), verdicts.toString)
  }

  test("sitemapBodies: url-shape and xml-content-type selection; frontier " +
      "seeding composes off the crawl's own sitemap records") {
    val dir = tmp("warcsm")
    val sm = """<?xml version="1.0"?><urlset>
      <url><loc>https://a.example/p1</loc></url>
      <url><loc>https://a.example/p2</loc></url></urlset>"""
    val members = Seq(
      // the default path
      warcRecord("response", "http://a.example/sitemap.xml", "2024-01-01T00:00:00Z",
        "application/http; msgtype=response", httpResponse(200, "application/xml", sm)),
      // query-string variant
      warcRecord("response", "http://a.example/sitemap.xml?part=2", "2024-01-01T00:00:00Z",
        "application/http; msgtype=response",
        httpResponse(200, "text/xml", "<urlset><url><loc>https://a.example/p3</loc></url></urlset>")),
      // robots-declared NON-default path: caught via the content-type branch
      warcRecord("response", "http://a.example/feeds/pages.xml", "2024-01-01T00:00:00Z",
        "application/http; msgtype=response",
        httpResponse(200, "application/xml", "<urlset><url><loc>https://a.example/p4</loc></url></urlset>")),
      // an html page must NOT be selected
      warcRecord("response", "http://a.example/page", "2024-01-02T00:00:00Z",
        "application/http; msgtype=response", httpResponse(200, "text/html", htmlA)),
      // an RSS feed is xml-typed at a .xml url but is NOT a sitemap —
      // the body's root element is the discriminator
      warcRecord("response", "http://a.example/feed.xml", "2024-01-02T00:00:00Z",
        "application/http; msgtype=response",
        httpResponse(200, "application/xml",
          "<?xml version=\"1.0\"?><rss version=\"2.0\"><channel>" +
            "<item><link>https://a.example/post</link></item></channel></rss>")),
      // the protocol's GZIPPED form: gzip bytes, no Content-Encoding —
      // inflated through the capped graft_gunzip
      warcRecord("response", "http://a.example/sitemap.xml.gz", "2024-01-03T00:00:00Z",
        "application/http; msgtype=response",
        ("HTTP/1.1 200 OK\r\nContent-Type: application/gzip\r\n\r\n").getBytes("US-ASCII") ++
          gzMember("<urlset><url><loc>https://a.example/p5</loc></url></urlset>"
            .getBytes("UTF-8"))),
      // a CORRUPT .xml.gz nulls its body and drops — never fails the scan
      warcRecord("response", "http://a.example/broken-sitemap.xml.gz",
        "2024-01-03T00:00:00Z", "application/http; msgtype=response",
        ("HTTP/1.1 200 OK\r\nContent-Type: application/gzip\r\n\r\n").getBytes("US-ASCII") ++
          "definitely not gzip".getBytes("UTF-8")))
    writeGz(dir, "c.warc.gz", members.map(gzMember))
    val (recs, _) = Warc.read(spark, s"$dir/c.warc.gz")
    val bodies = Warc.sitemapBodies(recs)
    assert(bodies.count() == 4, bodies.select("url").collect().mkString(","))
    assert(bodies.filter(col("url").contains("feed.xml")).count() == 0,
      "RSS feeds must not enter the sitemap frame")
    assert(bodies.filter(col("url").contains("broken-")).count() == 0,
      "a corrupt .xml.gz must drop, not fail")
    val locs = graft.text.Sitemaps.entries(bodies, "doc_id", "xml")
      .filter(col("kind") === "page").select("url").as[String].collect().toSet
    assert(locs == Set("https://a.example/p1", "https://a.example/p2",
      "https://a.example/p3", "https://a.example/p4",
      "https://a.example/p5"), locs.toString)
    // the cap is real: graft_gunzip nulls a payload that inflates past it
    import org.apache.spark.sql.functions.{call_function, lit => flit}
    val bomb = gzMember(new Array[Byte](1 << 20)) // 1 MB of zeros, ~1 KB gz
    val capped = Seq(Tuple1(bomb)).toDF("p")
      .select(call_function("graft_gunzip", col("p"), flit(1 << 16)))
      .head()
    assert(capped.isNullAt(0), "over-cap inflate must null, never OOM")
    val ok = Seq(Tuple1(bomb)).toDF("p")
      .select(call_function("graft_gunzip", col("p"), flit(2 << 20)))
      .head().getAs[Array[Byte]](0)
    assert(ok.length == (1 << 20), "under-cap inflate round-trips")
  }

  test("s20 composition: warc stream → htmlExtractSink equals the batch q93 path") {
    import graft.streaming.Streams
    val dir = tmp("warcs20")
    writeGz(dir, "crawl-000.warc.gz", goodRecords.map(gzMember))
    val state = s"$dir/state"
    val q = Warc.stream(spark, s"$dir/*.warc.gz")
      .filter(col("reason").isNull && col("warc_type") === "response" &&
        col("http_status") === 200 && col("content_type").startsWith("text/html"))
      .select(concat_ws(":", col("warc_file"), col("rec_offset")).as("doc_id"),
        decode(col("payload"), "UTF-8").as("html"))
      .writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
        Streams.htmlExtractSink(spark, state)(b, id))
      .option("checkpointLocation", tmp("warcs20chk"))
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = Streams.readExtracted(spark, state)
      .select("doc_id", "n_blocks", "n_kept", "main_text")
    val (recs, _) = Warc.read(spark, s"$dir/*.warc.gz")
    val batch = graft.text.HtmlExtract.mainText(
      Warc.htmlDocuments(recs), "doc_id", "html")
      .select("doc_id", "n_blocks", "n_kept", "main_text")
    assert(streamed.count() == 2)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "crawl-file streaming extraction must equal the batch composition")
  }

  test("servable CDX: sorted + stats-pruned layout makes a host lookup " +
      "touch only intersecting files and equal the full scan (i19+i15)") {
    val dir = tmp("warccdxsrv")
    // 24 hosts × 4 captures, shuffled in url order so the range
    // partitioner has real work to do
    val docs = (0 until 96).map { i =>
      val host = f"h${(i * 7) % 24}%02d.example"
      (s"https://$host/page/${i / 24}",
        java.sql.Timestamp.valueOf(f"2024-01-${1 + i % 27}%02d 00:00:00"),
        s"text body $i for $host")
    }.toDF("url", "fetch_ts", "text")
    Warc.writeWarcGz(docs, s"$dir/wet", shards = 3)
    val (recs, _) = Warc.read(spark, s"$dir/wet/*.warc.gz")
    val idx = Warc.cdxIndex(recs)
    Warc.writeCdx(idx, s"$dir/cdx", nFiles = 8)
    val nFiles = VersionedTable.snapshotAt(spark, s"$dir/cdx").files.size
    assert(nFiles == 8, s"fixture needs a multi-file index, got $nFiles")
    val prefix = Warc.surtHostPrefix("h05.example")
    assert(prefix == "example,h05)")
    val hit = Warc.lookupHost(spark, s"$dir/cdx", prefix)
    // exact: equals the full-scan filter, row for row
    val full = VersionedTable.read(spark, s"$dir/cdx")
      .filter(col("surt_key").startsWith(prefix))
    assert(hit.count() == 4)
    assert(hit.exceptAll(full).isEmpty && full.exceptAll(hit).isEmpty,
      "pruned lookup must equal the full scan exactly")
    // the lookup's plan touches ≤ the files whose logged key range
    // intersects the prefix — far fewer than the full index
    val touched = hit.select(input_file_name()).distinct().count()
    assert(touched <= 2, s"host lookup touched $touched of $nFiles files")
    // the full loop: index row → fetchAt → the page's actual bytes
    val cap = hit.orderBy("fetch_ts").collect().head
    val rec = Warc.fetchAt(cap.getAs[String]("warc_file"),
      cap.getAs[Long]("rec_offset")).head
    assert(rec.url == cap.getAs[String]("url"))
    assert(new String(rec.payload, "UTF-8").contains("for h05.example"))
    // a host that never appears prunes to zero files, zero rows, no error
    assert(Warc.lookupHost(spark, s"$dir/cdx",
      Warc.surtHostPrefix("nosuch.example")).count() == 0)
    // NON-DEFAULT-PORT captures of the host are covered by the same
    // whole-host lookup (':' sorts above ')' — a second range unions in),
    // and a sibling host extending the last label stays excluded
    val ported = (0 until 3).map(i =>
      (s"https://h05.example:8443/alt/$i",
        java.sql.Timestamp.valueOf("2024-02-01 00:00:00"), s"ported $i")) ++
      Seq(("https://h05x.example/decoy",
        java.sql.Timestamp.valueOf("2024-02-01 00:00:00"), "sibling decoy"))
    Warc.writeWarcGz((docs.collect().map(r =>
        (r.getString(0), r.getTimestamp(1), r.getString(2))).toSeq ++ ported)
      .toDF("url", "fetch_ts", "text"), s"$dir/wet2", shards = 3)
    val (recs2, _) = Warc.read(spark, s"$dir/wet2/*.warc.gz")
    Warc.writeCdx(Warc.cdxIndex(recs2), s"$dir/cdx2", nFiles = 8)
    val hit2 = Warc.lookupHost(spark, s"$dir/cdx2", Warc.surtHostPrefix("h05.example"))
      .select("url").as[String].collect().toSet
    assert(hit2.count(_.contains(":8443")) == 3,
      s"ported captures must be covered: $hit2")
    assert(hit2.size == 7 && !hit2.exists(_.contains("h05x")),
      s"default-port 4 + ported 3, sibling excluded: $hit2")
  }

  test("revisit records lift into dedup edges; dropDeclaredDuplicates keeps " +
      "the original capture; declared_dup_frac reports the fraction (r17)") {
    val dir = tmp("warcrevisit")
    def rec(headers: Seq[(String, String)], body: String): String = {
      val b = body.getBytes("UTF-8")
      "WARC/1.0\r\n" +
        headers.map { case (k, v) => s"$k: $v\r\n" }.mkString +
        s"Content-Length: ${b.length}\r\n\r\n" + body + "\r\n\r\n"
    }
    val warc =
      rec(Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> "https://a.example/p",
        "WARC-Date" -> "2024-01-01T00:00:00Z",
        "Content-Type" -> "text/plain"), "original page body") +
      // the re-fetch: archive stored BOTH the revisit declaration and a
      // duplicate capture (some archives do; the drop must hit only it)
      rec(Seq("WARC-Type" -> "revisit",
        "WARC-Target-URI" -> "https://a.example/p",
        "WARC-Date" -> "2024-02-01T00:00:00Z",
        "WARC-Payload-Digest" -> "sha1:ORIGDIGEST123",
        "WARC-Refers-To-Target-URI" -> "https://a.example/p",
        "Content-Type" -> "message/http"), "") +
      rec(Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> "https://a.example/p",
        "WARC-Date" -> "2024-02-01T00:00:00Z",
        "Content-Type" -> "text/plain"), "original page body") +
      rec(Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> "https://b.example/q",
        "WARC-Date" -> "2024-01-15T00:00:00Z",
        "Content-Type" -> "text/plain"), "unrelated page")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.warc"),
      warc.getBytes("UTF-8"))
    val (recs, quar) = Warc.read(spark, s"$dir/a.warc")
    assert(quar.count() == 0)
    // edges: exactly the declared re-fetch, digest + referred original
    val edges = Warc.revisitEdges(recs)
    val e = edges.collect()
    assert(e.length == 1)
    assert(e(0).getAs[String]("duplicate_url") == "https://a.example/p")
    assert(e(0).getAs[String]("original_url") == "https://a.example/p")
    assert(e(0).getAs[String]("original_digest") == "sha1:ORIGDIGEST123")
    // non-revisit records carry null provenance, revisit carries it
    assert(recs.filter(col("warc_type") === "response")
      .filter(col("payload_digest").isNotNull || col("refers_to_uri").isNotNull)
      .count() == 0)
    // keep-the-original drop: ONLY the Feb 1 duplicate capture leaves
    val docs = recs.filter(col("warc_type") === "response")
      .select(col("url"), col("fetch_ts"),
        col("payload").cast("string").as("text"))
    val kept = Warc.dropDeclaredDuplicates(docs, edges)
      .select(col("url"), col("fetch_ts").cast("string"))
      .as[(String, String)].collect().toSet
    assert(kept == Set(
      ("https://a.example/p", "2024-01-01 00:00:00"),
      ("https://b.example/q", "2024-01-15 00:00:00")), kept.toString)
    // the q91 intake metric: 1 declared dup of 3 captures → 0.3333
    val flagged = docs.withColumn("doc_id", col("fetch_ts").cast("long"))
      .join(edges.select(col("duplicate_url").as("url"),
          col("fetch_ts"), lit(true).as("declared_dup")),
        Seq("url", "fetch_ts"), "left")
      .withColumn("declared_dup", coalesce(col("declared_dup"), lit(false)))
    val frac = graft.text.CorpusReport.report(flagged, "doc_id", "text",
        langCol = None, declaredDupCol = Some("declared_dup"))
      .filter(col("metric") === "declared_dup_frac")
      .select("value").as[Double].head()
    assert(frac == 0.3333, s"declared_dup_frac $frac")
  }

  test("lookupAt: closest-in-time capture of an exact URL — equals the " +
      "full-scan argmin, pruned read, deterministic tie, fetchAt round-trip (i21)") {
    val dir = tmp("warclookupat")
    val url = "https://h1.example/page"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val docs = (Seq(
      (url, ts("2024-01-01 00:00:00"), "capture v1"),
      (url, ts("2024-01-10 00:00:00"), "capture v2"),
      (url, ts("2024-01-20 00:00:00"), "capture v3"),
      (s"$url/child", ts("2024-01-11 00:00:00"), "sub-path decoy"),
      ("https://h2.example/page", ts("2024-01-11 00:00:00"), "other-host decoy")) ++
      (0 until 40).map(i =>
        (s"https://bulk$i.example/x", ts("2024-01-05 00:00:00"), s"bulk $i")))
      .toDF("url", "fetch_ts", "text")
    Warc.writeWarcGz(docs, s"$dir/wet", shards = 3)
    val (recs, _) = Warc.read(spark, s"$dir/wet/*.warc.gz")
    Warc.writeCdx(Warc.cdxIndex(recs), s"$dir/cdx", nFiles = 8)
    // closest to Jan 12: v2 (Jan 10, 2 days) beats v3 (Jan 20, 8 days)
    val hit = Warc.lookupAt(spark, s"$dir/cdx", url, ts("2024-01-12 00:00:00"))
    val rows = hit.collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[String]("url") == url)
    assert(rows(0).getAs[java.sql.Timestamp]("fetch_ts") == ts("2024-01-10 00:00:00"))
    // equals the full-scan argmin exactly
    val full = VersionedTable.read(spark, s"$dir/cdx")
      .filter(col("url") === url).collect()
      .minBy(r => (math.abs(r.getAs[java.sql.Timestamp]("fetch_ts").getTime -
        ts("2024-01-12 00:00:00").getTime),
        r.getAs[java.sql.Timestamp]("fetch_ts").getTime))
    assert(rows(0).getAs[String]("warc_file") == full.getAs[String]("warc_file") &&
      rows(0).getAs[Long]("rec_offset") == full.getAs[Long]("rec_offset"))
    // the plan reads only intersecting index files
    val touched = Warc.lookupAt(spark, s"$dir/cdx", url, ts("2024-01-12 00:00:00"))
      .select(input_file_name()).distinct().count()
    assert(touched <= 2, s"exact-url lookup touched $touched of 8 files")
    // equidistant tie (Jan 15 between Jan 10 and Jan 20): EARLIER wins
    val tie = Warc.lookupAt(spark, s"$dir/cdx", url, ts("2024-01-15 00:00:00")).collect()
    assert(tie(0).getAs[java.sql.Timestamp]("fetch_ts") == ts("2024-01-10 00:00:00"),
      "tie must break to the earlier capture")
    // the full loop: winner's address fetches the page's actual bytes
    val rec = Warc.fetchAt(rows(0).getAs[String]("warc_file"),
      rows(0).getAs[Long]("rec_offset")).head
    assert(new String(rec.payload, "UTF-8") == "capture v2")
    // never-captured url: empty result, no error
    assert(Warc.lookupAt(spark, s"$dir/cdx",
      "https://nosuch.example/q", ts("2024-01-12 00:00:00")).count() == 0)
    // hostless junk: empty result, no error
    assert(Warc.lookupAt(spark, s"$dir/cdx",
      "not a url", ts("2024-01-12 00:00:00")).count() == 0)

    // ---- lookupAtMany: the batched replay-job shape over the same index
    val requests = Seq(
      (url, ts("2024-01-12 00:00:00")),              // → v2
      (url, ts("2024-01-15 00:00:00")),              // tie → earlier (v2)
      (url, ts("2024-01-19 00:00:00")),              // → v3
      (s"$url/child", ts("2024-01-12 00:00:00")),    // the decoy itself
      ("https://bulk7.example/x", ts("2024-02-01 00:00:00")),
      ("https://nosuch.example/q", ts("2024-01-12 00:00:00")), // never captured
      ("not a url", ts("2024-01-12 00:00:00")))      // hostless
      .toDF("url", "at")
    val many = Warc.lookupAtMany(spark, s"$dir/cdx", requests).collect()
      .map(r => (r.getAs[String]("req_url"), r.getAs[java.sql.Timestamp]("req_at")) -> r)
      .toMap
    assert(many.size == 7, s"one row per distinct request, got ${many.size}")
    // equality with per-request lookupAt on EVERY request (incl. the tie)
    requests.collect().foreach { r =>
      val (u, a) = (r.getString(0), r.getTimestamp(1))
      val single = Warc.lookupAt(spark, s"$dir/cdx", u, a).collect()
      val got = many((u, a))
      if (single.isEmpty)
        assert(got.isNullAt(got.fieldIndex("warc_file")),
          s"$u@$a: batched hit where single missed")
      else {
        assert(got.getAs[String]("warc_file") == single(0).getAs[String]("warc_file") &&
          got.getAs[Long]("rec_offset") == single(0).getAs[Long]("rec_offset"),
          s"$u@$a: batched winner differs from lookupAt")
      }
    }
    // the batched plan also prunes: 3 captured hosts ⇒ well under 8 files
    val manyTouched = Warc.lookupAtMany(spark, s"$dir/cdx", requests).inputFiles.length
    assert(manyTouched <= 4, s"batched lookup touched $manyTouched of 8 files")
  }

  test("charset-aware decode: header charset, meta sniff, header-beats-meta, " +
      "unknown falls back — real text, never mojibake") {
    val dir = tmp("warccs")
    val ru = "<html><body><p>Привет мир — настоящий текст страницы.</p></body></html>"
    val ja = "<html><head><meta charset=\"shift_jis\"></head>" +
      "<body><p>こんにちは世界のページ本文。</p></body></html>"
    def httpBytes(status: Int, ct: String, body: Array[Byte]): Array[Byte] =
      (s"HTTP/1.1 $status OK\r\nContent-Type: $ct\r\n\r\n").getBytes("US-ASCII") ++ body
    val members = Seq(
      // charset declared in the HTTP header only
      warcRecord("response", "http://ru.example/p", "2024-01-01T00:00:00Z",
        "application/http; msgtype=response",
        httpBytes(200, "text/html; charset=windows-1251", ru.getBytes("windows-1251"))),
      // charset declared ONLY in a meta tag (header is bare text/html)
      warcRecord("response", "http://ja.example/p", "2024-01-02T00:00:00Z",
        "application/http; msgtype=response",
        httpBytes(200, "text/html", ja.getBytes("Shift_JIS"))),
      // header BEATS a lying meta tag (the HTTP-layer declaration wins)
      warcRecord("response", "http://hb.example/p", "2024-01-03T00:00:00Z",
        "application/http; msgtype=response",
        httpBytes(200, "text/html; charset=windows-1251",
          ("<html><head><meta charset=\"utf-8\"></head><body><p>Ёлка и юмор" +
            " на зимней странице.</p></body></html>").getBytes("windows-1251"))),
      // unknown declared charset falls back to utf-8, named in the column
      warcRecord("response", "http://bogus.example/p", "2024-01-04T00:00:00Z",
        "application/http; msgtype=response",
        httpBytes(200, "text/html; charset=x-not-a-charset",
          "<html><body><p>plain ascii page body here</p></body></html>".getBytes("UTF-8"))))
    writeGz(dir, "cs.warc.gz", members.map(gzMember))
    val (recs, quar) = Warc.read(spark, s"$dir/cs.warc.gz")
    assert(quar.count() == 0)
    val docs = Warc.htmlDocuments(recs)
      .select(col("url"), col("charset"), col("html"))
      .as[(String, String, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(docs("http://ru.example/p")._1 == "windows-1251")
    assert(docs("http://ru.example/p")._2.contains("Привет мир"),
      "windows-1251 page must round-trip its real text")
    assert(!docs("http://ru.example/p")._2.contains("�"))
    assert(docs("http://ja.example/p")._1 == "shift_jis")
    assert(docs("http://ja.example/p")._2.contains("こんにちは世界"),
      "meta-sniffed Shift_JIS page must round-trip its real text")
    assert(docs("http://hb.example/p")._1 == "windows-1251",
      "the HTTP header declaration beats the meta tag")
    assert(docs("http://hb.example/p")._2.contains("Ёлка и юмор"))
    assert(docs("http://bogus.example/p")._1 == "utf-8",
      "an unknown declared charset falls back NAMED to utf-8")
    assert(docs("http://bogus.example/p")._2.contains("plain ascii page body"))
    // the old behavior this replaces: UTF-8 decode of the 1251 bytes is
    // mojibake — pin that the fixture actually discriminates
    assert(!new String(ru.getBytes("windows-1251"), "UTF-8").contains("Привет"))
    // the q91 composition: the intake-mix metric reads the REAL sniffed
    // column — 3 of the 4 pages decoded non-UTF-8
    val mix = graft.text.CorpusReport.report(
        Warc.htmlDocuments(recs), "doc_id", "html",
        langCol = None, charsetCol = Some("charset"))
      .filter(col("metric") === "non_utf8_frac")
      .select("value").as[Double].head()
    assert(mix == 0.75, s"expected non_utf8_frac 0.75, got $mix")
  }

  test("read parses each file ONCE when both frames are consumed (single-pass)") {
    val dir = tmp("warconce")
    val members = goodRecords.map(gzMember)
    val bad = members(2).clone()
    java.util.Arrays.fill(bad, 12, 36, 0.toByte)
    writeGz(dir, "crawl.warc.gz", Seq(members(0), members(1), bad, members(3), members(4)))
    val before = Warc.fileOpens.get()
    val (recs, quar) = Warc.read(spark, s"$dir/crawl.warc.gz")
    assert(recs.count() == 4)
    assert(quar.count() == 1)
    // a second action over either frame must also hit the persisted items
    // (the corrupt member took out one of the two html docs)
    assert(Warc.htmlDocuments(recs).count() == 1)
    val opens = Warc.fileOpens.get() - before
    assert(opens == 1L,
      s"records + quarantine + re-read must share ONE parse pass, saw $opens")
  }

  test("hostile header values: CRLF in a URL cannot inject WARC headers on export") {
    val dir = tmp("warcinj")
    val evil = "https://a.example/x\r\nWARC-Type: warcinfo\r\nX-Injected: yes"
    val docs = Seq((evil, java.sql.Timestamp.valueOf("2024-01-02 03:04:05"), "body"))
      .toDF("url", "fetch_ts", "text")
    Warc.writeWarcGz(docs, s"$dir/wet", shards = 1)
    val (recs, quar) = Warc.read(spark, s"$dir/wet/*.warc.gz")
    assert(quar.count() == 0, "the exported record must still frame cleanly")
    val r = recs.collect().head
    assert(r.getString(2) == "conversion",
      "injected WARC-Type must NOT override the real one")
    assert(r.getString(3).contains("%0D%0A"),
      s"CR/LF must be percent-encoded in the stored URL, got ${r.getString(3)}")
    assert(!r.getString(3).contains("\r"))
    // a LEGAL percent-encoded URL must round-trip UNCHANGED — escaping
    // '%' itself would corrupt every encoded URL in a real crawl
    val legal = "https://a.example/a%20b?q=50%25"
    Warc.writeWarcGz(Seq((legal,
        java.sql.Timestamp.valueOf("2024-01-02 03:04:05"), "body"))
      .toDF("url", "fetch_ts", "text"), s"$dir/wet2", shards = 1)
    val (recs2, _) = Warc.read(spark, s"$dir/wet2/*.warc.gz")
    assert(recs2.collect().head.getString(3) == legal,
      "percent-encoded URLs must export byte-identical")
  }

  test("hostile Content-Length in a small gz member quarantines without " +
      "allocating the claimed size") {
    val dir = tmp("warchostile")
    // claims ~1.9 GB; the member is a few hundred bytes — the allocation
    // bound is the member's own decompressed length
    val hostile = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: http://evil.example/\r\n" +
      "Content-Length: 1900000000\r\n\r\nshort").getBytes("UTF-8")
    writeGz(dir, "h.warc.gz", Seq(gzMember(hostile), gzMember(goodRecords(1))))
    val (recs, quar) = Warc.read(spark, s"$dir/h.warc.gz")
    assert(quar.select("reason").as[String].collect().toSeq == Seq("record_too_large"))
    assert(recs.select("url").as[String].collect().toSeq ==
      Seq("http://a.example/page"), "the good member after it still parses")
  }

  test("streaming face: crawl files land → records parse, quarantine named in-band") {
    val dir = tmp("warcstream")
    val members = goodRecords.map(gzMember)
    val bad = members(2).clone()
    java.util.Arrays.fill(bad, 12, 36, 0.toByte)
    writeGz(dir, "part-000.warc.gz", Seq(members(0), members(1), bad, members(3)))
    val q = Warc.stream(spark, s"$dir/*.warc.gz")
      .writeStream.format("memory").queryName("warc_stream")
      .option("checkpointLocation", tmp("warcchk")).start()
    try {
      q.processAllAvailable()
      // second file lands → next micro-batch picks it up
      writeGz(dir, "part-001.warc.gz", Seq(members(4)))
      q.processAllAvailable()
      val got = spark.table("warc_stream")
      assert(got.filter(col("reason").isNull).count() == 4)
      assert(got.filter(col("reason") === "corrupt_gzip_member").count() == 1)
      assert(got.filter(col("url") === "http://d.example/img").count() == 1)
    } finally q.stop()
  }
}
