package graft.sources

import java.io.ByteArrayOutputStream
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.functions._

/** Dev-only i17 scale probe (not part of the driver contract): renders the
  * sf documents table as a REAL sharded `.warc.gz` crawl (one gzip member
  * per record, http-wrapped html pages) and measures the intake path —
  * record parse and the full q93 composition — at 1 file vs many files.
  * The claim under measurement: WARC parallelism = files (a single file is
  * one sequential task; sharded files scale with cores until I/O binds).
  *
  * Run: `sbt 'runMain graft.sources.WarcScale'`
  * (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_WARC_FILES respected).
  */
object WarcScale {

  /** One http-response WARC record wrapping `html`, as its own gzip member. */
  private def member(url: String, html: String): Array[Byte] = {
    val body = html.getBytes("UTF-8")
    val http = (s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
      s"Server: warcscale\r\n\r\n").getBytes("US-ASCII") ++ body
    val rec = (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $url\r\n" +
      s"WARC-Date: 2024-01-01T00:00:00Z\r\n" +
      s"Content-Type: application/http; msgtype=response\r\n" +
      s"Content-Length: ${http.length}\r\n\r\n").getBytes("US-ASCII") ++
      http ++ "\r\n\r\n".getBytes("US-ASCII")
    val bos = new ByteArrayOutputStream(rec.length / 2)
    val gz = new GZIPOutputStream(bos)
    gz.write(rec); gz.close()
    bos.toByteArray
  }

  /** `f`'s result and its best (minimum) wall over two runs, timed by
    * [[graft.Measure.timePasses]]; `boundary` runs untimed between them. A
    * failing run fails the probe.
    */
  private def bestOf2[T](f: => T, boundary: () => Unit = () => ()): (T, Double) = {
    var out: Option[T] = None
    val best = graft.Measure.timePasses[Unit](Seq.fill(2)(Seq(())), _ => out = Some(f),
      onTiming = (_: Unit, t: graft.Measure.Timing, _: Option[graft.Measure.Timing]) =>
        t.error.foreach(e => throw e),
      boundary = _ => boundary())
    (out.get, best(()).sec)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nFiles = sys.env.get("SPARK_GRAFT_WARC_FILES").map(_.toInt).getOrElse(16)
    val spark = graft.Measure.session()
    import spark.implicits._

    val outRoot = java.nio.file.Files.createTempDirectory("warcscale").toString

    // SPARK_GRAFT_WARC_MODE=export: measure the i20 WET writer instead —
    // Warc.writeWarcGz over the documents table (min-of-2, atomic-swap
    // included), then read-back count as the integrity check.
    if (sys.env.get("SPARK_GRAFT_WARC_MODE").contains("export")) {
      val docsE = graft.Tables.documents(spark, sfDir)
        .select(concat(lit("https://ex.com/doc/"), col("doc_id")).as("url"),
          lit("2024-01-01 00:00:00").cast("timestamp").as("fetch_ts"),
          col("text"))
      val nDocs = docsE.count()
      val dir = s"$outRoot/wet"
      val (_, best) = bestOf2(Warc.writeWarcGz(docsE, dir, shards = nFiles))
      val bytes = new java.io.File(dir).listFiles().map(_.length()).sum
      val readBack = Warc.read(spark, s"$dir/*.warc.gz")._1.count()
      def f2(d: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
      println(s"""{"metric":"wet_export","docs":$nDocs,"files":$nFiles,""" +
        s""""bytes_gz":$bytes,"write_sec":${f2(best)},""" +
        s""""docs_per_sec":${f2(nDocs / best)},""" +
        s""""mb_per_sec":${f2(bytes / 1e6 / best)},"read_back":$readBack}""")
      spark.stop(); return
    }
    // Render every document as a page with nav chrome so mainText has
    // boilerplate to strip (the q93 workload, not a trivial passthrough).
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
    val nDocs = docs.count()

    def writeShards(dir: String, shards: Int): (Long, Double) = {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      val t0 = System.nanoTime()
      val bytes = docs.repartition(shards).rdd.mapPartitionsWithIndex { (i, it) =>
        val path = f"$dir/part-$i%05d.warc.gz"
        val out = new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(path), 1 << 16)
        var b = 0L
        it.foreach { case (id, text) =>
          val html = s"<html><head><title>doc $id</title></head><body>" +
            "<div><a href=\"/home\">home</a> <a href=\"/next\">next</a></div>" +
            s"<p>${text.replace("<", "&lt;")}</p>" +
            "<footer><a href=\"/terms\">terms of service and privacy policy</a></footer>" +
            "</body></html>"
          val m = member(s"http://ex.com/$id", html)
          out.write(m); b += m.length
        }
        out.close()
        Iterator.single(b)
      }.sum().toLong
      ((bytes), (System.nanoTime() - t0) / 1e9)
    }

    val (bytesMany, _) = writeShards(s"$outRoot/many", nFiles)
    val (bytesOne, _) = writeShards(s"$outRoot/one", 1)

    // warm the code paths once on the sharded copy
    Warc.read(spark, s"$outRoot/many/*.warc.gz", persist = false)._1.count()

    // scan-only probes run UNPERSISTED (one frame, one action — storing a
    // cache nothing re-reads would just tax the pass; see Warc.read)
    val (rowsMany, parseMany) = bestOf2(
      Warc.read(spark, s"$outRoot/many/*.warc.gz", persist = false)._1.count())
    val (rowsOne, parseOne) = bestOf2(
      Warc.read(spark, s"$outRoot/one/*.warc.gz", persist = false)._1.count())
    // the REAL read contract consumes BOTH frames (records + quarantine):
    // measure the default single-parse persisted path against the
    // two-parse unpersisted one — the trade the persist buys
    def unpersistAll(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    // the unpersist RPC runs OUTSIDE the timed block (between the passes,
    // and once after the last) — charging it to the persisted path would
    // bias the exact comparison this metric makes
    val (_, dualShared) = bestOf2({
      val (r, q) = Warc.read(spark, s"$outRoot/many/*.warc.gz")
      r.count(); q.count()
    }, boundary = unpersistAll)
    unpersistAll()
    val (_, dualReparse) = bestOf2 {
      val (r, q) = Warc.read(spark, s"$outRoot/many/*.warc.gz", persist = false)
      r.count() + q.count()
    }
    def q93(path: String): Long = {
      val (recs, _) = Warc.read(spark, path, persist = false)
      graft.text.HtmlExtract.mainText(Warc.htmlDocuments(recs), "doc_id", "html")
        .agg(sum(col("kept_chars"))).head(); nDocs
    }
    val (_, q93Many) = bestOf2(q93(s"$outRoot/many/*.warc.gz"))
    val (_, q93One) = bestOf2(q93(s"$outRoot/one/*.warc.gz"))

    def f2(d: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    println(s"""{"metric":"warc_scale","docs":$nDocs,"files":$nFiles,""" +
      s""""bytes_gz":$bytesMany,"bytes_gz_one":$bytesOne,""" +
      s""""records_many":$rowsMany,"records_one":$rowsOne,""" +
      s""""parse_many_sec":${f2(parseMany)},"parse_one_sec":${f2(parseOne)},""" +
      s""""parse_speedup":${f2(parseOne / parseMany)},""" +
      s""""dual_shared_sec":${f2(dualShared)},"dual_reparse_sec":${f2(dualReparse)},""" +
      s""""q93_many_sec":${f2(q93Many)},"q93_one_sec":${f2(q93One)},""" +
      s""""q93_speedup":${f2(q93One / q93Many)},""" +
      s""""mb_per_sec_many":${f2(bytesMany / 1e6 / parseMany)}}""")
    spark.stop()
  }
}
