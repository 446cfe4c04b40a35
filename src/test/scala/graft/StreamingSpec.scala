package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{BatchLog, Streams}
import graft.streaming.Streams.Event

class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  // Offset from epoch: the initial watermark is epoch 0 and stateful ops
  // drop events at-or-before it, so test events must sit strictly after.
  private def ts(min: Int) = new Timestamp((1440 + min) * 60000L)

  test("windowedAgg aggregates tumbling windows under a watermark") {
    val in = MemoryStream[Event]
    val q = Streams.windowedAgg(in.toDF(), "10 minutes", "1 hour")
      .writeStream.format("memory").queryName("win_out").outputMode("complete").start()
    try {
      in.addData(Event(1, ts(5), 1.0), Event(1, ts(30), 2.0), Event(2, ts(70), 3.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM win_out ORDER BY bucket_start").collect()
      assert(rows.length == 2)
      assert(rows(0).getLong(1) == 2 && rows(0).getDouble(2) == 3.0)
      assert(rows(1).getLong(1) == 1 && rows(1).getDouble(2) == 3.0)
    } finally q.stop()
  }

  test("sessionize emits closed sessions (in-batch gap + event-time timeout)") {
    val in = MemoryStream[Event]
    val q = Streams.sessionize(in.toDS(), gapMs = 30 * 60000L)
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try {
      // user 1: two events 10min apart (one session), then a 60min gap event
      in.addData(Event(1, ts(0), 1.0), Event(1, ts(10), 2.0), Event(1, ts(70), 3.0))
      q.processAllAvailable()
      // advance the watermark far past session end + gap to fire the timeout
      in.addData(Event(99, ts(500), 0.0))
      q.processAllAvailable()
      in.addData(Event(98, ts(1000), 0.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM sess_out WHERE user_id = 1 ORDER BY session_start")
        .collect()
      assert(rows.length == 2)
      assert(rows(0).getLong(3) == 2 && rows(0).getDouble(4) == 3.0) // 2-event session
      assert(rows(1).getLong(3) == 1 && rows(1).getDouble(4) == 3.0) // single event
    } finally q.stop()
  }

  test("dedupWithinWatermark drops repeated keys") {
    val in = MemoryStream[Event]
    val q = Streams.dedupWithinWatermark(in.toDF(), "1 hour", Seq("user_id"))
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      in.addData(Event(1, ts(0), 1.0), Event(1, ts(5), 2.0), Event(2, ts(6), 3.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM dedup_out").head().getLong(0) == 2)
    } finally q.stop()
  }

  test("intervalJoin matches right rows in [leftTs - window, leftTs] per key") {
    final case class Click(user_id: Long, cts: Timestamp, page: String)
    val clicks = MemoryStream[(Long, Timestamp, String)]
    val buys = MemoryStream[Event]
    val q = Streams.intervalJoin(
        clicks.toDF().toDF("user_id", "cts", "page"),
        buys.toDF().withColumnRenamed("ts", "bts"),
        "user_id", "cts", "bts", "10 minutes", "30 minutes")
      .select("user_id", "page", "value")
      .writeStream.format("memory").queryName("ij_out").outputMode("append").start()
    try {
      buys.addData(Event(1, ts(0), 10.0), Event(1, ts(100), 99.0), Event(2, ts(5), 7.0))
      clicks.addData((1L, ts(20), "a"), // matches the ts(0) buy (20 min before)
        (1L, ts(40), "b"),              // no buy within 30 min
        (2L, ts(5), "c"))               // exact-time match
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM ij_out ORDER BY page").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      assert(rows.toSeq == Seq((1L, "a", 10.0), (2L, "c", 7.0)))
    } finally q.stop()
  }

  test("enrichStream broadcast-joins the static dim onto each micro-batch") {
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val in = MemoryStream[Event]
    val q = Streams.enrichStream(in.toDF(), dim, "user_id", Seq("tier"))
      .writeStream.format("memory").queryName("enr_out").outputMode("append").start()
    try {
      in.addData(Event(1, ts(0), 5.0), Event(3, ts(1), 7.0)) // 3 has no dim row
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, tier FROM enr_out ORDER BY user_id")
        .collect().map(r => (r.getLong(0), Option(r.getString(1))))
      assert(rows.toSeq == Seq((1L, Some("gold")), (3L, None)))
    } finally q.stop()
  }

  test("nearDupSink finds dups within a batch and against the accumulated index") {
    val dir = Files.createTempDirectory("neardup").toFile.getAbsolutePath
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch(Streams.nearDupSink(spark, s"$dir/index", s"$dir/pairs") _)
      .start()
    try {
      in.addData(
        (1L, "alpha beta gamma delta epsilon zeta eta theta"),
        (2L, "one two three four five six seven eight"))
      q.processAllAvailable()
      // cross-batch near-dup of 1 + in-batch exact dup pair (5, 6)
      in.addData(
        (3L, "alpha beta gamma delta epsilon zeta eta iota"),
        (5L, "red green blue yellow purple orange pink black"),
        (6L, "red green blue yellow purple orange pink black"))
      q.processAllAvailable()
      val pairs = BatchLog.read(spark, s"$dir/pairs")
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(pairs.contains((1L, 3L)), s"cross-batch near-dup missed: $pairs")
      assert(pairs.contains((5L, 6L)), s"in-batch dup missed: $pairs")
      assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), s"false positive on 2: $pairs")
      // index accumulated one signature row per doc
      assert(BatchLog.read(spark, s"$dir/index").count() == 5)
    } finally q.stop()
  }

  test("scd2VersionedSink: row-level SCD2 merge on the transaction log — " +
      "time-travelable history, replay commits nothing (s04 riding i23/i24)") {
    val dir = Files.createTempDirectory("scd2vsink").toFile.getAbsolutePath
    val table = s"$dir/dim"
    val VT = graft.sources.VersionedTable
    // ensure-table step (the gold notebooks' DDL): empty dim with schema
    VT.create(Seq((0L, 0.0, new java.sql.Timestamp(0),
        null.asInstanceOf[java.sql.Timestamp], true))
      .toDF("user_id", "value", "valid_from", "valid_to", "is_current")
      .filter(lit(false)), table)
    val sink = Streams.scd2VersionedSink(spark, table, "s04",
      Seq("user_id"), Seq("value")) _
    sink(Seq(Event(1, ts(0), 1.0), Event(2, ts(0), 2.0)).toDF(), 0L)
    val v0 = VT.latestVersion(spark, table)
    sink(Seq(Event(1, ts(10), 5.0)).toDF(), 1L) // change user 1
    sink(Seq(Event(1, ts(10), 5.0)).toDF(), 1L) // foreachBatch REPLAY
    val dim = VT.read(spark, table)
    assert(dim.filter(col("is_current")).count() == 2)
    assert(dim.filter(!col("is_current")).count() == 1)
    assert(dim.filter(col("is_current") && col("user_id") === 1)
      .head().getAs[Double]("value") == 5.0)
    // the replay committed nothing: one merge version past v0
    assert(VT.latestVersion(spark, table) ==
      VT.snapshotAt(spark, table).txns("s04") + v0,
      "replay must not create a version")
    // Delta's free gift, preserved: the pre-batch-1 dimension
    assert(VT.readVersion(spark, table, v0)
      .filter(col("is_current") && col("user_id") === 1)
      .head().getAs[Double]("value") == 1.0)
    // an unchanged batch is a total no-op (no version, replay-safe)
    val vBefore = VT.latestVersion(spark, table)
    sink(Seq(Event(2, ts(20), 2.0)).toDF(), 2L)
    assert(VT.latestVersion(spark, table) == vBefore)
  }

  test("live silver→gold hop: versionedSink micro-batches feed through " +
      "feedInto exactly once (s34 + i27)") {
    val dir = Files.createTempDirectory("hop").toFile.getAbsolutePath
    val silver = s"$dir/silver"
    val gold = s"$dir/gold"
    val VT = graft.sources.VersionedTable
    VT.create(Seq((0L, 0.0)).toDF("user_id", "value").filter(lit(false)), silver)
    VT.create(Seq((0L, 0.0)).toDF("user_id", "total").filter(lit(false)), gold)
    def goldHop() = VT.feedInto(spark, silver, gold, "gold-agg")(
      df => df.groupBy(col("user_id")).agg(sum(col("value")).as("total")))
    val sink = Streams.versionedSink(silver, "ingest") _
    sink(Seq((1L, 1.0), (2L, 2.0)).toDF("user_id", "value"), 0L)
    assert(goldHop().isDefined)
    sink(Seq((1L, 10.0)).toDF("user_id", "value"), 1L)
    sink(Seq((1L, 10.0)).toDF("user_id", "value"), 1L) // replay: no commit
    assert(goldHop().isDefined)
    assert(goldHop().isEmpty) // caught up
    // gold holds per-hop partial aggregates consuming each row EXACTLY once
    val total = VT.read(spark, gold).groupBy(col("user_id"))
      .agg(sum(col("total")).as("t")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(total == Map(1L -> 11.0, 2L -> 2.0), total.toString)
  }

  test("ivfIndexSink maintains a streamed IVF index: drifted centroids, idempotent replay") {
    val dir = Files.createTempDirectory("ivfsink").toFile.getAbsolutePath
    val sink = Streams.ivfIndexSink(spark, s"$dir/index", s"$dir/stats", k = 2) _
    // Two well-separated clusters around (0,0) and (10,10).
    def near(id: Long, cx: Double, cy: Double) =
      (id, Seq(cx + id * 0.01, cy - id * 0.01))
    val b1 = Seq(near(1, 0, 0), near(2, 0, 0), near(3, 10, 10), near(4, 10, 10))
      .toDF("id", "vec")
    val b2 = Seq(near(5, 0, 0), near(6, 10, 10)).toDF("id", "vec")
    sink(b1, 0L) // bootstraps the quantizer
    sink(b2, 1L) // assigns against stats-derived centroids
    val idx = BatchLog.read(spark, s"$dir/index")
    assert(idx.count() == 6)
    val byLabel = idx.select("id", "label").as[(Long, Long)].collect()
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byLabel.values.toSet == Set(Set(1L, 2L, 5L), Set(3L, 4L, 6L)),
      s"cluster assignment broken: $byLabel")

    // Stats-derived centroids must equal the per-cell means of the indexed
    // corpus exactly (the stream-maintained stats ARE that aggregation).
    val fromStats = BatchLog.read(spark, s"$dir/stats")
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("s")) / sum(col("n"))).as("c"))
      .as[(Long, Int, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val fromIndex = graft.sim.Ann.cellCentroids(idx.drop("batch_id"))
      .select(col("label"), posexplode(col("cvec")).as(Seq("pos", "c")))
      .as[(Long, Int, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(fromStats.keySet == fromIndex.keySet)
    fromStats.foreach { case (key, c) =>
      assert(math.abs(c - fromIndex(key)) < 1e-9, s"centroid drift mismatch at $key")
    }

    // Replay after a simulated post-write failure: no duplicates, same state.
    sink(b2, 1L)
    assert(BatchLog.read(spark, s"$dir/index").count() == 6)
    // batch 2 = one vector per cell, two dims → four (label, pos) rows, n=1 each
    assert(BatchLog.read(spark, s"$dir/stats").filter(col("batch_id") === 1L)
      .select("n").as[Long].collect().sum == 4L)

    // The streamed index is directly queryable by the IVF prober
    // (re-read: the replay overwrote batch 1's files under the old listing).
    val q = Seq((100L, Seq(0.1, 0.1))).toDF("id", "vec")
    val fresh = BatchLog.read(spark, s"$dir/index")
    val top = graft.sim.Ann.ivfTopK(fresh.drop("batch_id"), q, 1, 1)
      .select("neighbor_id").as[Long].collect()
    assert(top.length == 1 && Set(1L, 2L, 5L).contains(top.head),
      s"IVF probe over streamed index returned $top")
  }

  test("ivfIndexSink drift signal rises under drift and resets after ivfRetrain") {
    val dir = Files.createTempDirectory("ivfdrift").toFile.getAbsolutePath
    val sink = Streams.ivfIndexSink(spark, s"$dir/index", s"$dir/stats", k = 2) _
    def near(id: Long, cx: Double, cy: Double) =
      (id, Seq(cx + id * 0.001, cy - id * 0.001))
    def batch(ids: Range, cx1: Double, cx2: Double) =
      ids.map(i => near(i, if (i % 2 == 0) cx1 else cx2, if (i % 2 == 0) cx1 else cx2))
        .toDF("id", "vec")

    sink(batch(1 to 4, 0, 10), 0L)   // bootstrap: cells near (0,0), (10,10)
    sink(batch(5 to 8, 0, 10), 1L)   // stationary batch
    sink(batch(9 to 12, 4, 14), 2L)  // drifted batch: both clusters moved +4

    def drift: Map[Long, Double] = BatchLog.read(spark, s"$dir/stats_drift")
      .select(col("batch_id").cast("long"), col("mean_displacement"))
      .as[(Long, Double)].collect().toMap
    val d = drift
    assert(d(0L) == 0.0, s"bootstrap batch must record zero drift: $d")
    assert(d(1L) < 0.1, s"stationary batch drift should be ~0: $d")
    assert(d(2L) > 1.0 && d(2L) > 10 * d(1L),
      s"drifted batch must show a rising displacement: $d")

    // Retrain re-centers the cells over the accumulated corpus and
    // collapses index + stats to the base partition ...
    Streams.ivfRetrain(spark, s"$dir/index", s"$dir/stats", k = 2)
    assert(BatchLog.read(spark, s"$dir/stats")
      .select(col("batch_id").cast("long")).distinct()
      .as[Long].collect().toSeq == Seq(Streams.BaseBatchId))
    assert(BatchLog.read(spark, s"$dir/index").count() == 12)

    // ... so a batch at the retrained centers reads as stationary again.
    // Retrained centroids: mean of 4x(0,0)+2x(4,4) per cell = (4/3, 4/3).
    sink(batch(13 to 16, 4.0 / 3, 10 + 4.0 / 3), 3L)
    val d3 = drift(3L)
    assert(d3 < 0.1 && d3 < drift(2L) / 10,
      s"retrain must reset the drift signal, got $d3 (pre-retrain ${drift(2L)})")
    assert(BatchLog.read(spark, s"$dir/index").count() == 16)
  }

  test("compactBatchLog folds old near-dup index partitions, replay stays exact") {
    val dir = Files.createTempDirectory("neardup_compact").toFile.getAbsolutePath
    val sink = Streams.nearDupSink(spark, s"$dir/index", s"$dir/pairs") _
    sink(Seq((1L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text"), 0L)
    val b1 = Seq(
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),
      (4L, "unrelated words entirely different from others here now")).toDF("doc_id", "text")
    sink(b1, 1L)

    assert(BatchLog.compact(spark, s"$dir/index", keepLast = 1))
    // layout: folded base + the newest batch, nothing else
    assert(BatchLog.read(spark, s"$dir/index")
      .select(col("batch_id").cast("long")).distinct()
      .as[Long].collect().toSet == Set(Streams.BaseBatchId, 1L))
    assert(BatchLog.read(spark, s"$dir/index").count() == 3)
    // nothing left to fold -> no-op
    assert(!BatchLog.compact(spark, s"$dir/index", keepLast = 1))

    // replay of the (kept) last batch after compaction: still idempotent,
    // still sees the folded base signatures
    sink(b1, 1L)
    val pairs = BatchLog.read(spark, s"$dir/pairs")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 3L)), s"replay after compaction broke pairs: $pairs")
    assert(BatchLog.read(spark, s"$dir/index").count() == 3)
  }

  test("compactGoldAgg preserves the aggregate and replay-exactness") {
    val dir = Files.createTempDirectory("goldagg_compact").toFile.getAbsolutePath
    val sink = Streams.goldAggSink(spark, s"$dir/stats", Seq("event_type"), "value") _
    val b2 = Seq(("click", 10.00), ("purchase", 5.75)).toDF("event_type", "value")
    sink(Seq(("click", 1.25), ("view", 2.50), ("click", 0.25)).toDF("event_type", "value"), 0L)
    sink(Seq(("view", 4.00), ("click", 3.00)).toDF("event_type", "value"), 1L)
    sink(b2, 2L)

    def agg: Map[String, (Long, Double)] =
      Streams.readGoldAgg(spark, s"$dir/stats", Seq("event_type"))
        .select(col("event_type"), col("n_rows"), col("sum_value").cast("double"))
        .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val before = agg
    assert(BatchLog.compact(spark, s"$dir/stats", keepLast = 1,
      _.groupBy(col("event_type")).agg(sum(col("_n")).as("_n"), sum(col("_s")).as("_s"))))
    assert(agg == before, s"compaction changed the aggregate: $agg vs $before")
    // folded base + newest batch; row count is groups, not history
    assert(BatchLog.read(spark, s"$dir/stats")
      .select(col("batch_id").cast("long")).distinct()
      .as[Long].collect().toSet == Set(Streams.BaseBatchId, 2L))
    // replay of the kept batch after compaction: aggregate unchanged
    sink(b2, 2L)
    assert(agg == before, s"replay after compaction drifted: $agg vs $before")
  }

  test("goldAggSink maintains exact incremental aggregates across batches and replays") {
    val dir = Files.createTempDirectory("goldagg").toFile.getAbsolutePath
    val sink = Streams.goldAggSink(spark, s"$dir/stats", Seq("event_type"), "value") _
    val b1 = Seq(("click", 1.25), ("view", 2.50), ("click", 0.25)).toDF("event_type", "value")
    val b2 = Seq(("click", 10.00), ("purchase", 5.75)).toDF("event_type", "value")
    sink(b1, 0L)
    sink(b2, 1L)
    sink(b2, 1L) // replay after a simulated post-write failure
    val agg = Streams.readGoldAgg(spark, s"$dir/stats", Seq("event_type"))
      .select(col("event_type"), col("n_rows"), col("sum_value").cast("double"))
      .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // equals the one-pass aggregation over all data, no duplicates from replay
    assert(agg == Map(
      "click" -> ((3L, 11.50)), "view" -> ((1L, 2.50)), "purchase" -> ((1L, 5.75))), agg)
    // state is metadata-rate: one row per (batch, group), not per input row
    // (batch 0 has 3 input rows but 2 groups; batch 1 has 2 groups)
    assert(BatchLog.read(spark, s"$dir/stats").count() == 4)
  }

  test("linkGraphSink: accumulated host graph equals the batch rollup on " +
      "the union; replay + compaction exact (s26)") {
    val dir = Files.createTempDirectory("linkgraph").toFile.getAbsolutePath
    val sink = Streams.linkGraphSink(spark, s"$dir/edges") _
    def page(id: Long, hrefs: Seq[String]): (Long, String, String) =
      (id, "<html><body>" +
        hrefs.map(h => s"""<a href="$h">x</a>""").mkString(" ") +
        "</body></html>", s"https://site$id.example/en/doc/$id")
    val b1 = Seq(
      page(1L, Seq("https://hub.example/a", "//cdn.example/lib", "/self")),
      page(2L, Seq("https://hub.example/a", "mailto:x@y.com"))).toDF("doc_id", "html", "base_url")
    val b2 = Seq(
      page(3L, Seq("https://hub.example/b", "https://hub.example/c")),
      page(1L, Seq("https://hub.example/a"))) // re-crawl: a NEW capture
      .toDF("doc_id", "html", "base_url")
    sink(b1, 0L)
    sink(b2, 1L)
    sink(b2, 1L) // replay after a simulated post-write failure
    def rollup(df: org.apache.spark.sql.DataFrame) =
      graft.text.HtmlExtract.links(df, "doc_id", "html", "base_url")
        .filter(col("target_host") =!= col("src_host"))
        .groupBy(col("src_host"), col("target_host"))
        .agg(count(lit(1)).as("n_links"), countDistinct(col("doc_id")).as("n_docs"))
    val expected = rollup(b1).unionByName(rollup(b2))
      .groupBy(col("src_host"), col("target_host"))
      .agg(sum("n_links").as("n_links"), sum("n_docs").as("n_docs"))
    val got = Streams.readLinkGraph(spark, s"$dir/edges")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      s"stream rollup diverged:\n${got.collect().mkString("\n")}\nvs\n" +
        expected.collect().mkString("\n"))
    // spot values: hub.example is cited by site1 (twice: b1 + re-crawl),
    // site2, site3; the self link and mailto contributed nothing
    val hub = got.filter(col("target_host") === "hub.example")
      .select("src_host", "n_links", "n_docs")
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(hub == Map("site1.example" -> ((2L, 2L)), "site2.example" -> ((1L, 1L)),
      "site3.example" -> ((2L, 1L))), hub)
    // compaction folds batch 0 into the base; the read face is unchanged
    assert(BatchLog.compact(spark, s"$dir/edges", keepLast = 1,
      _.groupBy(col("src_host"), col("target_host"))
        .agg(sum(col("_n_links")).as("_n_links"), sum(col("_n_docs")).as("_n_docs"))))
    val after = Streams.readLinkGraph(spark, s"$dir/edges")
    assert(after.exceptAll(expected).isEmpty && expected.exceptAll(after).isEmpty)
    // the q106 composition: the accumulated graph ranks directly
    val ranks = graft.ops.Graph.pageRank(
      Streams.readLinkGraph(spark, s"$dir/edges"), "src_host", "target_host", 3)
    val top = ranks.orderBy(col("rank").desc).select("node").as[String].head()
    assert(top == "hub.example", s"the cited hub must outrank its citers: $top")
  }

  test("frontierSink: cited-then-crawled targets leave the frontier; " +
      "replay + compaction exact (s28)") {
    val dir = Files.createTempDirectory("frontier").toFile.getAbsolutePath
    val sink = Streams.frontierSink(spark, s"$dir/state") _
    def page(id: Long, base: String, hrefs: Seq[String]) =
      (id, "<html><body>" +
        hrefs.map(h => s"""<a href="$h">x</a>""").mkString(" ") +
        "</body></html>", base)
    val b0 = Seq(
      page(1L, "https://src.example/a",
        Seq("https://hub.example/x", "https://next.example/b")),
      page(2L, "https://src.example/c", Seq("https://hub.example/x")))
      .toDF("doc_id", "html", "base_url")
    // batch 1 CRAWLS the target batch 0 cited — it must leave the frontier
    val b1 = Seq(
      page(3L, "https://next.example/b", Seq("https://hub.example/x")))
      .toDF("doc_id", "html", "base_url")
    sink(b0, 0L)
    val before = Streams.readFrontier(spark, s"$dir/state", 10)
      .select("target_url", "n_citations").as[(String, Long)].collect().toMap
    assert(before == Map("https://hub.example/x" -> 2L,
      "https://next.example/b" -> 1L), before)
    sink(b1, 1L)
    sink(b1, 1L) // replay after a simulated post-write failure
    val after = Streams.readFrontier(spark, s"$dir/state", 10)
      .select("target_url", "n_citations").as[(String, Long)].collect().toMap
    assert(after == Map("https://hub.example/x" -> 3L), after)
    // compaction: cites re-sum, crawled identity — frontier unchanged
    assert(BatchLog.compact(spark, s"$dir/state/cites", keepLast = 1,
      df => df.groupBy(col("target_url"), col("target_host"))
        .agg(sum(col("_n")).as("_n"))))
    assert(BatchLog.compact(spark, s"$dir/state/crawled", keepLast = 1))
    val compacted = Streams.readFrontier(spark, s"$dir/state", 10)
      .select("target_url", "n_citations").as[(String, Long)].collect().toMap
    assert(compacted == after, compacted)
  }

  test("readFrontier honors the robots crawl-delay budget: a Crawl-delay-10 " +
      "host gets floor(window/delay) slots, delay-less hosts keep k (i18→s28)") {
    val dir = Files.createTempDirectory("frontierdelay").toFile.getAbsolutePath
    val sink = Streams.frontierSink(spark, s"$dir/state") _
    def page(id: Long, base: String, hrefs: Seq[String]) =
      (id, "<html><body>" +
        hrefs.map(h => s"""<a href="$h">x</a>""").mkString(" ") +
        "</body></html>", base)
    // one crawled page cites 8 urls on a slow host and 8 on a fast one
    val slow = (1 to 8).map(i => s"https://slow.example/p$i")
    val fast = (1 to 8).map(i => s"https://fast.example/p$i")
    sink(Seq(page(1L, "https://src.example/a", slow ++ fast))
      .toDF("doc_id", "html", "base_url"), 0L)
    val delays = Seq(("slow.example", Some(10.0)), ("fast.example", None))
      .toDF("domain", "crawl_delay")
    val f = Streams.readFrontier(spark, s"$dir/state", k = 8,
        crawlDelays = Some(delays), windowSec = 60)
      .select("target_host", "target_url", "crawl_delay")
      .as[(String, String, Option[Double])].collect().toSeq
    val byHost = f.groupBy(_._1).view.mapValues(_.size).toMap
    // 60s window / 10s delay = 6 slots; the unrestricted host keeps k=8
    assert(byHost("slow.example") == 6, byHost.toString)
    assert(byHost("fast.example") == 8, byHost.toString)
    // crawl_delay is emitted on every candidate for downstream pacing
    assert(f.filter(_._1 == "slow.example").forall(_._3.contains(10.0)))
    assert(f.filter(_._1 == "fast.example").forall(_._3.isEmpty))
    // a delay longer than the window schedules NOTHING this window
    val f2 = Streams.readFrontier(spark, s"$dir/state", k = 8,
        crawlDelays = Some(Seq(("slow.example", 120.0)).toDF("domain", "crawl_delay")),
        windowSec = 60)
      .select("target_host").as[String].collect().toSeq
    assert(!f2.contains("slow.example") && f2.count(_ == "fast.example") == 8)
    // no dim at all → the pre-r17 behavior, schema stable
    val f3 = Streams.readFrontier(spark, s"$dir/state", k = 8)
      .select("target_host", "crawl_delay")
      .as[(String, Option[Double])].collect().toSeq
    assert(f3.size == 16 && f3.forall(_._2.isEmpty))
  }

  test("sequencePackSink: boundary-straddling sequence keeps filling " +
      "across batches; accumulated manifest equals batch q113; replay (s31)") {
    val dir = Files.createTempDirectory("seqpack").toFile.getAbsolutePath
    val state = s"$dir/state"
    val sink = Streams.sequencePackSink(spark, state, seqLen = 10,
      bucketSize = 4) _
    // 27 tokens in batch 0 → sequence 2 is mid-fill at the boundary;
    // batch 1 continues it
    val b0 = Seq((0L, 3L), (1L, 17L), (4L, 7L)).toDF("doc_id", "n_tokens")
    val b1 = Seq((7L, 9L), (8L, 14L)).toDF("doc_id", "n_tokens")
    sink(b0, 0L)
    sink(b1, 1L)
    sink(b1, 1L) // replay after a simulated post-write failure
    val streamed = Streams.readSequencePack(spark, state)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    val batch = graft.ops.SequencePack.manifest(
        b0.unionByName(b1), "doc_id", "n_tokens", seqLen = 10, bucketSize = 4)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(streamed.toSeq == batch.toSeq,
      s"stream ${streamed.toSeq} vs batch ${batch.toSeq}")
    // the straddle is real: sequence 2 holds spans from BOTH batches
    val seq2docs = streamed.filter(_._1 == 2L).map(_._2).toSet
    assert(seq2docs.contains(4L) && seq2docs.contains(7L),
      s"sequence 2 must straddle the batch boundary: $seq2docs")
    // count-strict: the replay did not duplicate
    assert(streamed.length == batch.length)
  }

  test("revisitLogSink: late-arriving revisit declarations still gate earlier " +
      "captures; equals the batch composition; replay idempotent (s33)") {
    val dir = Files.createTempDirectory("revisitgate").toFile.getAbsolutePath
    val state = s"$dir/state"
    def rec(headers: Seq[(String, String)], body: String): String = {
      val b = body.getBytes("UTF-8")
      "WARC/1.0\r\n" +
        headers.map { case (k, v) => s"$k: $v\r\n" }.mkString +
        s"Content-Length: ${b.length}\r\n\r\n" + body + "\r\n\r\n"
    }
    def resp(url: String, ts: String, body: String) =
      rec(Seq("WARC-Type" -> "response", "WARC-Target-URI" -> url,
        "WARC-Date" -> ts, "Content-Type" -> "text/plain"), body)
    def revisit(url: String, ts: String) =
      rec(Seq("WARC-Type" -> "revisit", "WARC-Target-URI" -> url,
        "WARC-Date" -> ts, "WARC-Payload-Digest" -> "sha1:D1",
        "WARC-Refers-To-Target-URI" -> url,
        "Content-Type" -> "message/http"), "")
    def parse(warc: String, tag: String) = {
      val f = s"$dir/$tag.warc"
      java.nio.file.Files.write(java.nio.file.Paths.get(f), warc.getBytes("UTF-8"))
      graft.sources.Warc.read(spark, f)._1
    }
    // batch 0: the original AND a re-fetch capture of /p, plus /q
    val b0 = parse(
      resp("https://a.example/p", "2024-01-01T00:00:00Z", "original") +
      resp("https://a.example/p", "2024-02-01T00:00:00Z", "refetch copy") +
      resp("https://b.example/q", "2024-01-05T00:00:00Z", "other"), "b0")
    // batch 1: the revisit record declaring batch 0's Feb 1 capture a dup
    val b1 = parse(revisit("https://a.example/p", "2024-02-01T00:00:00Z") +
      resp("https://c.example/r", "2024-02-02T00:00:00Z", "new page"), "b1")
    val sink = Streams.revisitLogSink(spark, state) _
    sink(b0, 0L)
    assert(Streams.readRevisitGated(spark, state).count() == 3,
      "no declarations yet - all captures stand")
    sink(b1, 1L)
    sink(b1, 1L) // replay after a simulated post-write failure
    val gated = Streams.readRevisitGated(spark, state)
      .select(col("url"), col("fetch_ts").cast("string"))
      .as[(String, String)].collect().toSet
    // the LATE declaration removed batch 0's Feb 1 capture; the Jan 1
    // original and everything else stand
    assert(gated == Set(
      ("https://a.example/p", "2024-01-01 00:00:00"),
      ("https://b.example/q", "2024-01-05 00:00:00"),
      ("https://c.example/r", "2024-02-02 00:00:00")), gated.toString)
    // equals the batch composition over the union
    val union = b0.unionByName(b1)
    val batchGated = graft.sources.Warc.dropDeclaredDuplicates(
        union.filter(col("warc_type") === "response"),
        graft.sources.Warc.revisitEdges(union))
      .select(col("url"), col("fetch_ts").cast("string"))
      .as[(String, String)].collect().toSet
    assert(gated == batchGated)
  }

  test("tokenShardSink: complete sequences land as loader shards, the open " +
      "sequence carries across batches, accumulated == batch i22, replay (s32)") {
    val dir = Files.createTempDirectory("tokshardsink").toFile.getAbsolutePath
    val state = s"$dir/state"
    val sink = Streams.tokenShardSink(spark, state, seqLen = 8,
      seqsPerShard = 2, bucketSize = 4) _
    def doc(id: Long, n: Int): (Long, Seq[Int]) =
      (id, (0 until n).map(k => (id * 100 + k).toInt))
    // batch 0: 19 tokens → 2 complete sequences + a 3-token open tail
    val b0 = Seq(doc(0L, 5), doc(1L, 9), doc(2L, 5)).toDF("doc_id", "tokens")
    // batch 1: 13 tokens → closes the open sequence, opens another
    val b1 = Seq(doc(5L, 6), doc(6L, 7)).toDF("doc_id", "tokens")
    sink(b0, 0L)
    // after batch 0: sequences 0,1 materialized, carry = 3 tokens
    val afterB0 = Streams.readTokenShards(spark, state)
      .as[(Long, Seq[Int])].collect().toMap
    assert(afterB0.keySet == Set(0L, 1L), afterB0.keySet.toString)
    sink(b1, 1L)
    sink(b1, 1L) // replay after a simulated post-write failure
    val streamed = Streams.readTokenShards(spark, state)
      .as[(Long, Seq[Int])].collect().toMap
    // batch-mode i22 over the ordered union
    val all = b0.unionByName(b1)
      .withColumn("n_tokens", size(col("tokens")).cast("long"))
    val manifest = graft.ops.SequencePack.manifest(
      all.select(col("doc_id"), col("n_tokens")), "doc_id", "n_tokens",
      seqLen = 8, bucketSize = 4)
    val batchSeqs = graft.sources.TokenShards.fullSequences(
        graft.sources.TokenShards.assemble(all, manifest), 8)
      .as[(Long, Seq[Int])].collect().toMap
    assert(streamed == batchSeqs,
      s"stream ${streamed.toSeq.sortBy(_._1)} vs batch ${batchSeqs.toSeq.sortBy(_._1)}")
    // the straddle is real: sequence 2 holds tokens from docs 2 AND 5
    assert(streamed(2L).exists(_ >= 500) && streamed(2L).exists(t => t >= 200 && t < 300),
      s"sequence 2 must straddle the boundary: ${streamed(2L)}")
    // count-strict: replay did not duplicate shard files
    val files = new java.io.File(s"$state/shards").listFiles()
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .filter(_.getName.endsWith(".tok"))
    assert(files.map(_.getName).toSeq.sorted ==
      files.map(_.getName).distinct.toSeq.sorted)
    // format parity: every file opens with the standard reader already
    // (readTokenShards IS TokenShards' parser); headers carry seqLen 8
    val bb = java.nio.ByteBuffer.wrap(
      java.nio.file.Files.readAllBytes(files.head.toPath))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.position(12)
    assert(bb.getInt == 8, "header seq_len")
  }

  test("unigramDriftSink: unk_rate spikes on unseen-alphabet shift, " +
      "unigramRetrain restores, replay idempotent (s29)") {
    val dir = Files.createTempDirectory("unidrift").toFile.getAbsolutePath
    val state = s"$dir/state"
    val sink = Streams.unigramDriftSink(spark, state, vocabSize = 48) _
    val vocabA = Seq("the", "then", "these", "stone", "holes")
    // digits never appear in A → every B char is an UNK fallback
    val vocabB = Seq("0123", "3210", "1032", "2301")
    val rnd = new scala.util.Random(7)
    def docs(vocab: Seq[String], ids: Range): org.apache.spark.sql.DataFrame =
      ids.map(i => (i.toLong,
        (1 to 10).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")))
        .toDF("doc_id", "text")
    def drift(b: Long): (Double, Double) =
      Streams.readUnigramDrift(spark, state)
        .filter(col("batch_id") === b).select("fertility", "unk_rate")
        .as[(Double, Double)].head()
    // empty batches must not bootstrap (the s22 discipline)
    sink(Seq.empty[(Long, String)].toDF("doc_id", "text"), 0L)
    assert(!new java.io.File(s"$state/vocab").exists())
    sink(docs(vocabA, 1 to 8), 0L) // bootstrap
    // the tiny fixture has fewer distinct substrings than vocabSize —
    // the table holds all of them (≤ vocabSize is the contract)
    val deployed = Streams.readUnigramVocab(spark, state)
    assert(deployed.nonEmpty && deployed.size <= 48)
    sink(docs(vocabA, 9 to 16), 1L) // stationary
    val (fertA, unkA) = drift(1L)
    assert(fertA < 2.5, s"A under A-table should compress: $fertA")
    assert(unkA == 0.0, s"A chars are all covered: $unkA")
    // replay idempotence
    val fixed = docs(vocabA, 17 to 20)
    sink(fixed, 2L)
    val snap1 = drift(2L)
    sink(fixed, 2L)
    assert(drift(2L) == snap1, "replay must reproduce the drift row")
    // alphabet shift: every B word is 4 unseen chars → 4 UNK pieces
    sink(docs(vocabB, 21 to 28), 3L)
    val (fertB, unkB) = drift(3L)
    assert(fertB == 4.0, s"4 unk pieces per 4-char word: $fertB")
    assert(unkB == 1.0, s"every B occurrence used a fallback: $unkB")
    // retrain on the accumulated counts; the swapped table serves next
    val retrained = Streams.unigramRetrain(spark, state, vocabSize = 48)
    assert(Streams.readUnigramVocab(spark, state) == retrained)
    sink(docs(vocabB, 31 to 38), 4L)
    val (fertB2, unkB2) = drift(4L)
    assert(unkB2 == 0.0, s"retrained table covers the digits: $unkB2")
    assert(fertB2 < fertB, s"retrain must restore fertility: $fertB2 vs $fertB")
    // the A side stays healthy under the joint table
    sink(docs(vocabA, 41 to 44), 5L)
    val (fertA2, unkA2) = drift(5L)
    assert(fertA2 < 3.0 && unkA2 == 0.0, s"joint table keeps A healthy: $fertA2/$unkA2")
  }

  test("sitemapSink: declared-only URLs enter the frontier tagged, leave " +
      "when crawled, respect the per-host cap; replay exact (s28 sitemap channel)") {
    val dir = Files.createTempDirectory("frontier_sm").toFile.getAbsolutePath
    val state = s"$dir/state"
    val sink = Streams.frontierSink(spark, state) _
    val smSink = Streams.sitemapSink(spark, state) _
    def page(id: Long, base: String, hrefs: Seq[String]) =
      (id, "<html><body>" +
        hrefs.map(h => s"""<a href="$h">x</a>""").mkString(" ") +
        "</body></html>", base)
    // anchors cite hub; the sitemap DECLARES three more pages on one host
    // (cap test) + an entity-escaped loc + a child-sitemap ref (excluded)
    val sm = Seq(("s1", """<?xml version="1.0"?><urlset>
      <url><loc>https://declared.example/a</loc><lastmod>2024-01-01</lastmod></url>
      <url><loc>https://declared.example/b</loc></url>
      <url><loc> https://declared.example/c?x=1&amp;y=2 </loc></url>
      <url><loc>https://hub.example/x</loc></url>
      <sitemap><loc>https://declared.example/sitemap2.xml</loc></sitemap>
      </urlset>""")).toDF("doc_id", "xml")
    sink(Seq(page(1L, "https://src.example/a", Seq("https://hub.example/x")))
      .toDF("doc_id", "html", "base_url"), 0L)
    smSink(sm, 0L)
    smSink(sm, 0L) // replay after a simulated post-write failure
    val f1 = Streams.readFrontier(spark, state, 2)
      .select("target_url", "n_citations", "source", "rn")
      .as[(String, Long, String, Int)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // hub is cited AND declared; declared-only pages carry 0 citations
    assert(f1("https://hub.example/x") == ((1L, "both", 1)))
    assert(f1("https://declared.example/a") == ((0L, "sitemap", 1)))
    assert(f1("https://declared.example/b") == ((0L, "sitemap", 2)))
    // per-host cap (k=2): the third declared page is capped out; the
    // child-sitemap ref never entered
    assert(!f1.contains("https://declared.example/c?x=1&y=2") &&
      !f1.contains("https://declared.example/sitemap2.xml"), f1.toString)
    // entity-decoded loc IS in the candidate set: k=3 admits it
    val f3 = Streams.readFrontier(spark, state, 3)
      .select("target_url").as[String].collect().toSet
    assert(f3.contains("https://declared.example/c?x=1&y=2"), f3.toString)
    // crawling a declared page removes it — sitemap-only entries leave too
    sink(Seq(page(2L, "https://declared.example/a", Seq.empty))
      .toDF("doc_id", "html", "base_url"), 1L)
    val f2 = Streams.readFrontier(spark, state, 3)
      .select("target_url").as[String].collect().toSet
    assert(!f2.contains("https://declared.example/a"), f2.toString)
    assert(f2.contains("https://declared.example/b"))
  }

  test("pcaScatterSink: folded model matches the batch fit; replay and " +
      "compaction exact (s27)") {
    val dir = Files.createTempDirectory("pcastream").toFile.getAbsolutePath
    val sink = Streams.pcaScatterSink(spark, s"$dir/stats", "vec") _
    val d = 6
    val u1 = Array(1.0, 1.0, 0.0, 0.0, 0.0, 0.0).map(_ / math.sqrt(2))
    val u2 = Array(0.0, 0.0, 1.0, -1.0, 0.0, 0.0).map(_ / math.sqrt(2))
    def mk(lo: Int, hi: Int) = (lo until hi).map { i =>
      val a = math.sin(i * 0.37) * 10.0
      val b = math.cos(i * 0.53) * 3.0
      (i.toLong, Array.tabulate(d)(j =>
        ((a * u1(j) + b * u2(j) + math.sin(i * 1.1 + j * 2.3) * 0.05)).toFloat))
    }
    val b1 = mk(0, 90).toDF("id", "vec")
    val b2 = mk(90, 200).toDF("id", "vec")
    sink(b1, 0L)
    sink(b2, 1L)
    sink(b2, 1L) // replay after a simulated post-write failure
    // one model-rate row per batch, no duplicates from the replay
    assert(BatchLog.read(spark, s"$dir/stats").count() == 2)
    val streamed = Streams.readPcaModel(spark, s"$dir/stats", 3)
    val batch = graft.sim.Pca.fit(b1.unionByName(b2), "vec", 3)
    // fold vs partition-order summation: float tolerance, never bit
    streamed.eigenvalues.zip(batch.eigenvalues).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"$a vs $b")
    }
    streamed.components.zip(batch.components).foreach { case (sa, ba) =>
      val cos = sa.zip(ba).map(t => t._1 * t._2).sum
      assert(math.abs(cos - 1.0) < 1e-9, s"axis drifted: cos=$cos")
    }
    // compaction (identity merge — the read fold re-sums): model unchanged
    assert(BatchLog.compact(spark, s"$dir/stats", keepLast = 1))
    val after = Streams.readPcaModel(spark, s"$dir/stats", 3)
    // (float tolerance: compaction reorders the folded rows, and double
    // addition is order-sensitive)
    after.eigenvalues.zip(streamed.eigenvalues).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"compaction changed the fold: $a vs $b")
    }
  }

  test("curateSink: first-seen-wins streaming curation, idempotent replay") {
    val dir = Files.createTempDirectory("curate_stream").toFile.getAbsolutePath
    val sink = Streams.curateSink(spark, s"$dir/state") _
    val goodA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      "kilo lima mike november oscar papa quebec romeo sierra tango"
    val goodB = "amber basalt copper dune ember flint gneiss harbor iron jasper " +
      "karst lagoon marble nickel onyx pumice quartz ridge slate topaz"
    sink(Seq(
      (1L, goodA),
      (2L, goodA + " "),          // exact copy modulo whitespace → dropped
      (3L, "??? !!! ;;; :::")     // junk → quality gate drops it
    ).toDF("doc_id", "text"), 0L)
    val b1 = Seq(
      (4L, goodA.replace("tango", "tempo")), // near-dup of KEPT doc 1 → dropped
      (5L, goodB)                            // novel → kept
    ).toDF("doc_id", "text")
    sink(b1, 1L)
    sink(b1, 1L) // replay after a simulated post-write failure
    val kept = Streams.readCurated(spark, s"$dir/state")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 5L), s"curated keep set wrong: $kept")
    // state logs hold only kept docs (dup/junk never claim state)
    assert(BatchLog.read(spark, s"$dir/state/fps").count() == 2)
    assert(BatchLog.read(spark, s"$dir/state/sigs").count() == 2)
    // an all-junk batch writes nothing and breaks nothing downstream
    sink(Seq((6L, "@@@ ###")).toDF("doc_id", "text"), 2L)
    assert(Streams.readCurated(spark, s"$dir/state").count() == 2)
    // the state logs are compactable like every other batch log
    assert(BatchLog.compact(spark, s"$dir/state/sigs", keepLast = 1))
    sink(Seq((7L, goodB.replace("topaz", "topas"))).toDF("doc_id", "text"), 3L)
    assert(Streams.readCurated(spark, s"$dir/state")
      .select("doc_id").as[Long].collect().toSet == Set(1L, 5L),
      "near-dup of a compacted kept doc must still be dropped")
  }

  test("batch↔streaming curation parity: ordered arrival agrees, out-of-order pins the divergence") {
    // The migration contract between Curate.keepSet (cluster keep-BEST) and
    // curateSink (first-seen-WINS): they agree whenever quality order aligns
    // with arrival/id order — the best variant of every near-dup cluster
    // carries the smallest id — and deliberately diverge when a better
    // variant arrives after a kept near-dup (a streaming curator cannot
    // un-keep). Both sides run the ONE shared formula TF.qualityGrid, so
    // any disagreement here is survivorship policy, never scoring.
    val goodA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      "kilo lima mike november oscar papa quebec romeo sierra tango"
    val goodB = "amber basalt copper dune ember flint gneiss harbor iron jasper " +
      "karst lagoon marble nickel onyx pumice quartz ridge slate topaz"
    val lowA = goodA + " !!! ??? ;;;" // same tokens → jaccard 1.0, lower quality

    // AGREE: one ordered corpus (best variant first). doc 1 beats its
    // near-dup 2 on quality AND id; 3 is junk; 4 an exact copy of 1; 5 novel.
    val ordered = Seq(
      (1L, goodA), (2L, lowA), (3L, "??? !!! ;;; :::"), (4L, goodA + "  "), (5L, goodB))
    val batchKept = graft.text.Curate
      .keepSet(ordered.toDF("doc_id", "text"), "doc_id", "text", minQuality = 4000)
      .select("doc_id", "quality_score").as[(Long, Double)].collect().toMap
    val dirA = Files.createTempDirectory("curate_par_a").toFile.getAbsolutePath
    Streams.curateSink(spark, s"$dirA/state")(ordered.toDF("doc_id", "text"), 0L)
    val streamKept = Streams.readCurated(spark, s"$dirA/state")
      .select("doc_id", "quality_score").as[(Long, Double)].collect().toMap
    assert(batchKept == streamKept,
      s"ordered-arrival parity broken: batch=$batchKept stream=$streamKept")
    assert(batchKept.keySet == Set(1L, 5L))

    // DIVERGE: the better variant arrives after its near-dup (higher id,
    // later batch). Batch keep-best keeps 12; streaming keeps 11 — pinned.
    val unordered = Seq((11L, lowA), (12L, goodA))
    val batchKept2 = graft.text.Curate
      .keepSet(unordered.toDF("doc_id", "text"), "doc_id", "text", minQuality = 4000)
      .select("doc_id").as[Long].collect().toSet
    val dirB = Files.createTempDirectory("curate_par_b").toFile.getAbsolutePath
    val sinkB = Streams.curateSink(spark, s"$dirB/state") _
    sinkB(Seq((11L, lowA)).toDF("doc_id", "text"), 0L)
    sinkB(Seq((12L, goodA)).toDF("doc_id", "text"), 1L)
    val streamKept2 = Streams.readCurated(spark, s"$dirB/state")
      .select("doc_id").as[Long].collect().toSet
    assert(batchKept2 == Set(12L), s"batch keep-best should keep the better doc: $batchKept2")
    assert(streamKept2 == Set(11L), s"streaming first-seen should keep the earlier doc: $streamKept2")
  }

  test("drift→retrain loop e2e: caller polls the signal, retrains past threshold, recall recovers") {
    import graft.sim.Ann
    val dir = Files.createTempDirectory("ivfe2e").toFile.getAbsolutePath
    val sink = Streams.ivfIndexSink(spark, s"$dir/index", s"$dir/stats", k = 3) _
    def driftOf(b: Long): Double = BatchLog.read(spark, s"$dir/stats_drift")
      .filter(col("batch_id").cast("long") === b)
      .select("mean_displacement").as[Double].head()
    // The caller policy under spec: after each batch, poll the signal and
    // retrain past the threshold.
    val threshold = 0.5
    def policyFired(b: Long): Boolean =
      if (driftOf(b) > threshold) {
        Streams.ivfRetrain(spark, s"$dir/index", s"$dir/stats", k = 3); true
      } else false

    // Corpus: clusters A≈(0,10) and B≈(10,0); the drifted batch lands a NEW
    // cluster C on A/B's perpendicular bisector (x=y), each point offset to
    // one side — so stale cells split C, which is what kills nprobe=1
    // recall until a retrain gives C its own cell.
    def ab(id: Long) =
      if (id % 2 == 0) (id, Seq(0.0 + id * 0.001, 10.0 - id * 0.001))
      else (id, Seq(10.0 - id * 0.001, 0.0 + id * 0.001))
    def cpt(id: Long) = {
      val d = if (id % 2 == 0) 0.3 else -0.3
      (id, Seq(5.2 + d + id * 0.001, 5.2 - d - id * 0.001))
    }
    sink((1L to 8L).map(ab).toDF("id", "vec"), 0L) // bootstrap (trains k=3)
    sink((9L to 12L).map(ab).toDF("id", "vec"), 1L) // stationary
    assert(!policyFired(1L), s"stationary batch must not trigger a retrain: ${driftOf(1L)}")

    sink((21L to 28L).map(cpt).toDF("id", "vec"), 2L) // drifted: cluster C appears

    val queries = Seq((101L, Seq(5.19, 5.21)), (102L, Seq(5.23, 5.17)))
      .toDF("id", "vec")
    def recallAt8: Double = {
      val corpus = BatchLog.read(spark, s"$dir/index").drop("batch_id")
      def sets(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "neighbor_id").as[(Long, Long)].collect()
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val truth = sets(Ann.bruteforceTopK(corpus.select(col("id"), col("vec")), queries, 8))
      val got = sets(Ann.ivfTopK(corpus, queries, 1, 8))
      truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty[Long]).intersect(t).size.toDouble / t.size
      }.sum / truth.size
    }

    val before = recallAt8
    assert(before <= 0.75, s"stale cells should split cluster C (recall@8 ~0.5), got $before")
    assert(policyFired(2L), s"drifted batch must trigger the retrain: ${driftOf(2L)}")
    val after = recallAt8
    assert(after >= 0.9 && after > before,
      s"retrain must recover post-drift recall: before=$before after=$after")

    // The loop keeps running after the retrain: a batch at the new centers
    // reads as stationary again.
    sink((31L to 34L).map(cpt).toDF("id", "vec"), 3L)
    assert(!policyFired(3L), s"post-retrain C batch should be stationary: ${driftOf(3L)}")
  }

  test("containmentSink drops quoted fragments against kept state, idempotent replay") {
    val dir = Files.createTempDirectory("containment_stream").toFile.getAbsolutePath
    val sink = Streams.containmentSink(spark, s"$dir/state") _
    val quote = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val wrapper = "intro words before the quotation " + quote +
      " and a long commentary tail following the quoted passage here"
    sink(Seq(
      (1L, wrapper),
      (2L, "entirely different content about other things altogether")
    ).toDF("doc_id", "text"), 0L)
    val b1 = Seq(
      (3L, quote),                       // fully contained in kept doc 1 → dropped
      (4L, "novel material nothing shares with the existing corpus state")
    ).toDF("doc_id", "text")
    sink(b1, 1L)
    sink(b1, 1L) // replay after a simulated post-write failure
    def kept = Streams.readContainmentKept(spark, s"$dir/state")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 4L), s"kept set wrong: $kept")
    // dropped docs never claim shingle state
    assert(BatchLog.read(spark, s"$dir/state/shingles")
      .select("doc_id").distinct().as[Long].collect().toSet == Set(1L, 2L, 4L))

    // Within a batch the earlier id wins: a LATER wrapper covering an
    // earlier fragment does not evict it, but a later fragment of an
    // earlier doc drops (greedy-by-id).
    val frag = "solar lunar stellar orbital cosmic astral"
    sink(Seq(
      (5L, "prefix chatter " + frag + " suffix chatter closing words here"),
      (6L, frag) // contained in batch-mate 5 (smaller id) → dropped
    ).toDF("doc_id", "text"), 2L)
    assert(kept == Set(1L, 2L, 4L, 5L), s"within-batch greedy-by-id broken: $kept")

    // No-shingle docs (under two tokens) pass through untouched.
    sink(Seq((7L, "solo")).toDF("doc_id", "text"), 3L)
    assert(kept.contains(7L))

    // The shingle log is compactable like every other batch log, and a
    // fragment of a COMPACTED kept doc still drops.
    assert(BatchLog.compact(spark, s"$dir/state/shingles", keepLast = 1))
    sink(Seq((8L, quote)).toDF("doc_id", "text"), 4L)
    assert(!kept.contains(8L), "fragment of a compacted kept doc must still drop")
  }

  test("semDedupSink: q86 parity on one batch, first-seen-wins across batches, idempotent replay, compactable") {
    val dir = Files.createTempDirectory("semdedup_stream").toFile.getAbsolutePath
    val sink = Streams.semDedupSink(spark, s"$dir/state") _
    // near-parallel pair (10, 11) + an orthogonal vector
    val b0 = Seq((10L, Seq(1.0, 0.0)), (11L, Seq(0.999, 0.01)), (12L, Seq(0.0, 1.0)))
      .toDF("id", "vec")
    sink(b0, 0L)
    def kept = Streams.readSemDedupKept(spark, s"$dir/state")
      .select("id").as[Long].collect().toSet
    // single batch over empty state == q86's covered-by-earlier verdicts
    val batchKept = graft.sim.Ann
      .semDedup(b0, graft.sim.Ann.hyperplaneBuckets(b0, 8), 0.35)
      .filter(col("dropped_by").isNull).select("id").as[Long].collect().toSet
    assert(kept == batchKept, s"single-batch parity broken: $kept vs $batchKept")
    assert(kept == Set(10L, 12L), s"kept set wrong: $kept")

    // FIRST-SEEN-WINS: id 5 arrives later and is covered by ALREADY-KEPT
    // id 10 — it drops despite the smaller id (stream order, not id
    // order); the opposite-direction vector is kept.
    val b1 = Seq((5L, Seq(1.0, 0.005)), (20L, Seq(-1.0, 0.0))).toDF("id", "vec")
    sink(b1, 1L)
    sink(b1, 1L) // replay after a simulated post-write failure
    assert(kept == Set(10L, 12L, 20L), s"first-seen-wins broken: $kept")
    // replay left exactly one state row per kept id
    val rows = BatchLog.read(spark, s"$dir/state/kept").groupBy(col("id"))
      .count().filter(col("count") > 1).count()
    assert(rows == 0L, "replay must not duplicate kept state")

    // the kept log compacts like every batch log; a near-dup of a
    // COMPACTED kept vector still drops
    assert(BatchLog.compact(spark, s"$dir/state/kept", keepLast = 1))
    sink(Seq((30L, Seq(1.0, -0.005))).toDF("id", "vec"), 2L)
    assert(!kept.contains(30L), "near-dup of a compacted kept vector must still drop")
    assert(kept == Set(10L, 12L, 20L))

    // The kept log carries the PRECOMPUTED norm (the cosinePre shape):
    // norms are paid once per kept vector, never per candidate pair.
    val cols = BatchLog.read(spark, s"$dir/state/kept").columns.toSet
    assert(cols.contains("nrm"), s"kept log must persist norms: $cols")
  }

  test("semDedupSink: replay keeping nothing deletes the stale kept partition (tau drift)") {
    val dir = Files.createTempDirectory("semdedup_replay").toFile.getAbsolutePath
    def kept = Streams.readSemDedupKept(spark, s"$dir/state")
      .select("id").as[Long].collect().toSet
    Streams.semDedupSink(spark, s"$dir/state")(
      Seq((1L, Seq(1.0, 0.0))).toDF("id", "vec"), 0L)
    // batch 1 under a strict tau: the near-parallel vector survives
    // (cos ~0.99995 < 0.9999999)
    val b1 = Seq((2L, Seq(0.999, 0.01))).toDF("id", "vec")
    Streams.semDedupSink(spark, s"$dir/state", tau = 0.9999999)(b1, 1L)
    assert(kept == Set(1L, 2L), s"strict-tau batch should keep: $kept")
    // REPLAY batch 1 after a config change (loose tau): the recomputation
    // keeps NOTHING — the stale batch_id=1 partition must be deleted, not
    // silently resurrected (the qualityCutoffSink discipline).
    Streams.semDedupSink(spark, s"$dir/state", tau = 0.5)(b1, 1L)
    assert(kept == Set(1L), s"stale kept partition resurrected: $kept")
    assert(BatchLog.read(spark, s"$dir/state/kept").filter(col("batch_id") === 1L).isEmpty,
      "stale batch 1 rows must be gone")
  }

  test("semDedupSink: pre-r11 kept log without the nrm column fails named") {
    val dir = Files.createTempDirectory("semdedup_legacy").toFile.getAbsolutePath
    BatchLog.write(Seq((1L, 3L, Seq(1.0, 0.0))).toDF("id", "bucket", "vec"),
      s"$dir/state/kept", 0L)
    val e = intercept[IllegalArgumentException] {
      Streams.semDedupSink(spark, s"$dir/state")(
        Seq((2L, Seq(0.0, 1.0))).toDF("id", "vec"), 1L)
    }
    assert(e.getMessage.contains("nrm"), s"migration diagnosis missing: ${e.getMessage}")
  }

  test("semDedupSinkAuto derives planes from the expected corpus (planesFor parity)") {
    val dirA = Files.createTempDirectory("semdedup_auto").toFile.getAbsolutePath
    val dirB = Files.createTempDirectory("semdedup_fixed").toFile.getAbsolutePath
    val b0 = Seq((10L, Seq(1.0, 0.0)), (11L, Seq(0.999, 0.01)), (12L, Seq(0.0, 1.0)))
      .toDF("id", "vec")
    Streams.semDedupSinkAuto(spark, s"$dirA/state", expectedCorpus = 1000L)(b0, 0L)
    Streams.semDedupSink(spark, s"$dirB/state",
      planes = graft.sim.Ann.planesFor(1000L))(b0, 0L)
    def k(d: String) = Streams.readSemDedupKept(spark, s"$d/state")
      .select("id").as[Long].collect().toSet
    assert(k(dirA) == k(dirB) && k(dirA).nonEmpty,
      s"auto/fixed divergence: ${k(dirA)} vs ${k(dirB)}")
  }

  test("batch↔streaming containment parity: ordered arrival agrees on drops, direction pins the divergence") {
    // Contract mirror of the curation parity spec: the BATCH join reports
    // both directions of coverage; the SINK drops only the contained side,
    // and only when the covering doc arrived earlier (smaller id / earlier
    // batch). When wrappers arrive before their fragments, the sink's
    // dropped set equals the batch join's covered-by-earlier side; a
    // fragment arriving BEFORE its wrapper survives streaming (cannot
    // un-keep) while the batch join still reports it covered.
    val frag = "orange violet indigo crimson amber teal maroon olive"
    val wrap = "heading text " + frag + " trailing commentary of substantial further length"
    val ordered = Seq((1L, wrap), (2L, frag), (3L, "unrelated material on a wholly different topic"))
    val batchPairs = graft.text.Containment
      .containmentJoin(ordered.toDF("doc_id", "text"), "doc_id", "text", 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(batchPairs == Set((2L, 1L)), s"batch join should report fragment→wrapper: $batchPairs")
    val dirA = Files.createTempDirectory("cont_par_a").toFile.getAbsolutePath
    Streams.containmentSink(spark, s"$dirA/state")(ordered.toDF("doc_id", "text"), 0L)
    val keptA = Streams.readContainmentKept(spark, s"$dirA/state")
      .select("doc_id").as[Long].collect().toSet
    // streaming drops exactly the batch-reported contained-in-earlier docs
    assert(keptA == Set(1L, 3L), s"ordered-arrival parity broken: $keptA")

    // Divergence: fragment first (batch 0), wrapper later (batch 1) —
    // streaming keeps BOTH; the batch join over the same corpus still
    // reports the containment.
    val dirB = Files.createTempDirectory("cont_par_b").toFile.getAbsolutePath
    val sinkB = Streams.containmentSink(spark, s"$dirB/state") _
    sinkB(Seq((11L, frag)).toDF("doc_id", "text"), 0L)
    sinkB(Seq((12L, wrap)).toDF("doc_id", "text"), 1L)
    val keptB = Streams.readContainmentKept(spark, s"$dirB/state")
      .select("doc_id").as[Long].collect().toSet
    assert(keptB == Set(11L, 12L), s"first-seen fragment must survive: $keptB")
    val batchPairsB = graft.text.Containment
      .containmentJoin(Seq((11L, frag), (12L, wrap)).toDF("doc_id", "text"),
        "doc_id", "text", 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(batchPairsB == Set((11L, 12L)), s"batch still reports the coverage: $batchPairsB")
  }

  test("decontaminateSink routes eval-gram collisions to flagged, batch parity, idempotent replay") {
    val dir = Files.createTempDirectory("decon_stream").toFile.getAbsolutePath
    val evalDocs = Seq((0L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    val evalGrams = Streams.evalGramSet(evalDocs, "text").cache()
    val sink = Streams.decontaminateSink(spark, s"$dir/state", evalGrams) _
    val contaminated = "one two three four five six seven eight nine tail"
    val b0 = Seq(
      (1L, contaminated),                                       // shares 2 eval 8-grams
      (2L, "completely different words with no overlap at all here"),
      (3L, "short")) // no 8-grams → clean by construction
      .toDF("doc_id", "text")
    sink(b0, 0L)
    sink(b0, 0L) // replay after a simulated post-write failure
    def clean = Streams.readDecontaminated(spark, s"$dir/state")
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(2L, 3L), s"clean set wrong: $clean")
    val flagged = BatchLog.read(spark, s"$dir/state/flagged")
      .select("doc_id", "n_hits").as[(Long, Long)].collect().toMap
    assert(flagged == Map(1L -> 2L), s"flagged wrong: $flagged")
    // STATELESS across batches: verdicts depend only on the static eval
    // set, so streaming equals the batch operator on the union — exact
    // parity, not the ordered-arrival-only kind the stateful sinks pin.
    val b1 = Seq((4L, "tail " + contaminated), (5L, "more novel prose entirely")).toDF("doc_id", "text")
    sink(b1, 1L)
    val batchClean = graft.text.Decontaminate.clean(
      evalDocs.withColumn("src", lit("eval"))
        .unionByName(b0.withColumn("src", lit("web")))
        .unionByName(b1.withColumn("src", lit("web"))),
      "doc_id", "text", col("src") === "eval", 8)
      .select("doc_id").as[Long].collect().toSet
    assert(clean == batchClean, s"stream $clean != batch $batchClean")
    // an all-flagged batch writes no clean partition and breaks nothing
    sink(Seq((6L, contaminated)).toDF("doc_id", "text"), 2L)
    assert(clean == batchClean)
    // the logs are compactable like every other batch log
    assert(BatchLog.compact(spark, s"$dir/state/clean", keepLast = 1))
    assert(clean == batchClean, "compaction must not change the clean set")
    evalGrams.unpersist()
  }

  test("decontaminateSink: a stream whose every doc is flagged reads an EMPTY clean set") {
    val dir = Files.createTempDirectory("decon_allflagged").toFile.getAbsolutePath
    val evalGrams = Streams.evalGramSet(
      Seq((0L, "one two three four five six seven eight nine")).toDF("doc_id", "text"),
      "text")
    Streams.decontaminateSink(spark, s"$dir/state", evalGrams)(
      Seq((1L, "one two three four five six seven eight nine tail")).toDF("doc_id", "text"), 0L)
    val clean = Streams.readDecontaminated(spark, s"$dir/state")
    assert(clean.isEmpty)
    assert(clean.columns.toSeq == Seq("doc_id"), clean.columns.mkString(","))
  }

  test("decontaminateSink: a replay under an eval set that flags nothing leaves " +
      "no stale flagged row — no doc is both clean and flagged") {
    val dir = Files.createTempDirectory("decon_replay").toFile.getAbsolutePath
    def grams(text: String) =
      Streams.evalGramSet(Seq((0L, text)).toDF("doc_id", "text"), "text")
    val b0 = Seq((1L, "one two three four five six seven eight nine tail"),
      (2L, "completely different words with no overlap at all here")).toDF("doc_id", "text")
    Streams.decontaminateSink(spark, s"$dir/state",
      grams("one two three four five six seven eight nine"))(b0, 0L)
    // the replay runs after the eval suite changed: nothing is flagged now
    Streams.decontaminateSink(spark, s"$dir/state",
      grams("an eval suite sharing no eight word window with the batch at all"))(b0, 0L)
    val clean = Streams.readDecontaminated(spark, s"$dir/state")
      .select("doc_id").as[Long].collect().toSet
    val flagged = BatchLog.rows(spark, s"$dir/state/flagged")
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(1L, 2L), s"clean: $clean")
    assert(flagged.isEmpty, s"stale flagged rows survived the replay: $flagged")
  }

  test("only BatchLog names the sink-state format: no other streaming file " +
      "writes or reads a batch_id log by hand") {
    val dir = new java.io.File("src/main/scala/graft/streaming")
    assert(dir.isDirectory, s"run from the project root (cwd ${new java.io.File(".").getAbsolutePath})")
    val handWritten = Seq("dynamicOverwrite", "writeBatchPartition", "compactBatchLog")
    // the deployed artifacts (bloom filter, eval grams, weights, policy
    // table, tokenizer tables) are plain tables, not logs
    val artifact = "(bloom|eval_grams|weights|robots|merges|vocab)"
    val plainRead = ("""(parquetIfExists\(spark, |spark\.read\.parquet\()s"\$stateDir/""" +
      artifact + "\"").r
    val offenders = dir.listFiles().filter(f =>
        f.getName.endsWith(".scala") && f.getName != "BatchLog.scala")
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toList.zipWithIndex.collect {
          case (line, i) if handWritten.exists(line.contains) ||
              ((line.contains("parquetIfExists") || line.contains("spark.read.parquet")) &&
                plainRead.findFirstIn(line).isEmpty) ||
              // the TokenShards .tok tree is a file format, not a log: the
              // one batch directory built by hand
              (line.contains("batch_id=") &&
                !line.contains("s\"$stateDir/shards/batch_id=$batchId\"") &&
                !line.trim.startsWith("*")) =>
            s"${f.getName}:${i + 1}: ${line.trim}"
        } finally src.close()
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("a plain-parquet batch_id log fails named; its one-time rewrite resumes the stream") {
    val dir = Files.createTempDirectory("batchlog_legacy").toFile.getAbsolutePath
    val sink = Streams.goldAggSink(spark, s"$dir/stats", Seq("event_type"), "value") _
    // the layout sinks wrote before BatchLog: hive batch_id=<n> directories
    Seq(("click", 2L, BigDecimal("1.50"), 0L)).toDF("event_type", "_n", "_s", "batch_id")
      .withColumn("_s", col("_s").cast("decimal(38,6)"))
      .write.partitionBy("batch_id").parquet(s"$dir/legacy")
    val e = intercept[IllegalArgumentException](
      Streams.goldAggSink(spark, s"$dir/legacy", Seq("event_type"), "value")(
        Seq(("view", 1.0)).toDF("event_type", "value"), 1L))
    assert(e.getMessage.contains("plain parquet") && e.getMessage.contains("VersionedTable.create"),
      e.getMessage)
    // the rewrite the message names, then the stream carries on
    graft.sources.VersionedTable.create(spark.read.parquet(s"$dir/legacy")
      .withColumn("batch_id", col("batch_id").cast("long")), s"$dir/stats", Seq("batch_id"))
    sink(Seq(("view", 1.0), ("click", 0.5)).toDF("event_type", "value"), 1L)
    val agg = Streams.readGoldAgg(spark, s"$dir/stats", Seq("event_type"))
      .select(col("event_type"), col("n_rows"), col("sum_value").cast("double"))
      .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(agg == Map("click" -> ((3L, 2.0)), "view" -> ((1L, 1.0))), agg)
  }

  test("htmlExtractSink under a REAL StreamingQuery (MemoryStream + foreachBatch)") {
    // The r12 sinks are unit-driven elsewhere (the established direct-call
    // pattern); this one rides an actual micro-batch runtime end to end —
    // checkpointing, batch-id assignment, processAllAvailable — the
    // nearDupSink integration template extended to the intake family.
    val dir = Files.createTempDirectory("html_rt").toFile.getAbsolutePath
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "html")
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch(Streams.htmlExtractSink(spark, s"$dir/state") _)
      .start()
    try {
      in.addData((1L,
        "<div class=\"nav\"><a href=\"/\">Home</a> <a href=\"/a\">About</a></div>" +
        "<p>the first real paragraph with enough prose to keep</p>"))
      q.processAllAvailable()
      in.addData((2L, "<p>a second batch paragraph also long enough</p>" +
        "<div class=\"footer\"><a href=\"/t\">Terms</a> (c) site</div>"))
      q.processAllAvailable()
      val got = Streams.readExtracted(spark, s"$dir/state")
        .select("doc_id", "main_text").as[(Long, String)].collect().toMap
      assert(got(1L) == "the first real paragraph with enough prose to keep", got(1L))
      assert(got(2L) == "a second batch paragraph also long enough", got(2L))
    } finally q.stop()
  }

  test("shardPackSink packs on BPE weights: single-batch parity with q96") {
    // The weight column is the sink's composition seam: projecting
    // model-tokenizer counts upstream gives the live intake q96's
    // honest-budget packing with zero sink changes.
    val dir = Files.createTempDirectory("bpe_pack_stream").toFile.getAbsolutePath
    val sink = Streams.shardPackSink(spark, s"$dir/state",
      weightCol = "n_bpe_tokens", budget = 512, bucketSize = 64) _
    val weighted = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        aggregate(transform(graft.text.TextFunctions.tokens(col("text")),
          t => size(graft.text.Bpe.encode(t, graft.text.Bpe.FixedMerges))),
          lit(0L), (a, x) => a + x).as("n_bpe_tokens"))
    sink(weighted, 0L)
    val got = BatchLog.read(spark, s"$dir/state/docs")
      .select("doc_id", "shard_id").as[(Long, Long)].collect().toMap
    val want = SparkEntry.queries("q96_bpe_pack")(spark, sfDir)
      .select("doc_id", "shard_id").as[(Long, Long)].collect().toMap
    assert(got == want, s"stream ${got.size} != q96 ${want.size}")
  }

  test("noveltySink: ordered-arrival parity with q99, first-seen monotonic, replay (s21)") {
    val dir = Files.createTempDirectory("novelty_stream").toFile.getAbsolutePath
    val sink = Streams.noveltySink(spark, s"$dir/state") _
    val block = (1 to 10).map(i => s"shr$i").mkString(" ")
    val b0 = Seq(
      (1L, block),                                  // owns its grams
      (2L, block),                                  // batch-mate copy: 0.0
      (3L, s"$block plus four fresh tokens here"))  // partial
      .toDF("doc_id", "text")
    val b1 = Seq(
      (4L, block),                                  // prior-batch repeat: 0.0
      (5L, "entirely new material never before seen in any batch at all"))
      .toDF("doc_id", "text")
    sink(b0, 0L)
    sink(b0, 0L) // replay after a simulated post-write failure
    sink(b1, 1L)
    def got = Streams.readNovelty(spark, s"$dir/state")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // batches arrive in id order → the rollup EQUALS batch q99 on the union
    val want = graft.text.SpanDedup.novelty(
        b0.unionByName(b1), "doc_id", "text", 8)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got == want, s"stream $got != batch $want")
    assert(got(1L)._4 == 1.0 && got(2L)._4 == 0.0 && got(4L)._4 == 0.0)
    assert(got(3L)._4 > 0.0 && got(3L)._4 < 1.0 && got(5L)._4 == 1.0)
    // compaction must preserve gram COVERAGE, not just the rollup: a
    // post-compaction batch repeating the block must still score 0.0
    assert(BatchLog.compact(spark, s"$dir/state/seen", keepLast = 1,
      merge = _.distinct()))
    sink(Seq((6L, block)).toDF("doc_id", "text"), 2L)
    assert(got(6L)._4 == 0.0, s"compacted seen log lost coverage: ${got(6L)}")
    assert(got.filter(_._1 != 6L) == want, "earlier scores must not re-open")
    // misuse guard: the q99/noveltySql gram-width precondition
    intercept[IllegalArgumentException] {
      Streams.noveltySink(spark, s"$dir/state", n = 1)(b0, 3L)
    }
  }

  test("htmlExtractSink: batch parity, idempotent replay, compaction (s20)") {
    val dir = Files.createTempDirectory("html_stream").toFile.getAbsolutePath
    val sink = Streams.htmlExtractSink(spark, s"$dir/state") _
    def page(id: Long, body: String) =
      (id, "<div class=\"nav\"><a href=\"/\">Home</a> <a href=\"/a\">About</a></div>" +
        s"<p>$body</p><div class=\"footer\"><a href=\"/t\">Terms</a> (c) site</div>")
    val b0 = Seq(
      page(1L, "a first long-enough paragraph of real prose content"),
      page(2L, "short"), // under minLen → dropped, row still emitted
      (3L, "")).toDF("doc_id", "html")
    val b1 = Seq(page(4L, "a second batch paragraph that also passes the rule"))
      .toDF("doc_id", "html")
    sink(b0, 0L)
    sink(b0, 0L) // replay after a simulated post-write failure
    sink(b1, 1L)
    def got = Streams.readExtracted(spark, s"$dir/state")
      .select("doc_id", "n_blocks", "n_kept", "kept_chars", "main_text")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    // STATELESS: streaming equals the batch operator on the union —
    // exact parity on any batch split
    val want = graft.text.HtmlExtract.mainText(
        b0.unionByName(b1), "doc_id", "html")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(got == want, s"stream $got != batch $want")
    assert(got.exists { case (id, _, k, _, t) =>
      id == 1L && k == 1L && t.contains("first long-enough") && !t.contains("Home") })
    assert(got.exists { case (id, _, k, _, t) => id == 3L && k == 0L && t == "" })
    // the log compacts like every other batch log
    assert(BatchLog.compact(spark, s"$dir/state/extracted", keepLast = 1))
    assert(got == want, "compaction must not change the extracted set")
  }

  test("bloomDecontaminateSink: parity with decontaminateSink, replay, compaction (s19)") {
    val dir = Files.createTempDirectory("bloom_decon_stream").toFile.getAbsolutePath
    val evalDocs = Seq((0L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    // un-prepared state fails named, never reads as an empty suite
    val unprep = intercept[IllegalArgumentException] {
      Streams.bloomDecontaminateSink(spark, s"$dir/state")(
        Seq((9L, "x")).toDF("doc_id", "text"), 0L)
    }
    assert(unprep.getMessage.contains("prepareBloomDecontamination"), unprep.getMessage)
    // deployment step builds the filter ONCE; a 1-bit/gram filter
    // saturates with false positives — the exact verify must still win
    Streams.prepareBloomDecontamination(spark, s"$dir/state", evalDocs,
      bitsPerGram = 1)
    val sink = Streams.bloomDecontaminateSink(spark, s"$dir/state") _
    val contaminated = "one two three four five six seven eight nine tail"
    val b0 = Seq(
      (1L, contaminated),
      (2L, "completely different words with no overlap at all here"),
      (3L, "short"))
      .toDF("doc_id", "text")
    sink(b0, 0L)
    sink(b0, 0L) // replay after a simulated post-write failure
    def clean = Streams.readDecontaminated(spark, s"$dir/state")
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(2L, 3L), s"clean set wrong: $clean")
    val flagged = BatchLog.read(spark, s"$dir/state/flagged")
      .select("doc_id", "n_hits").as[(Long, Long)].collect().toMap
    assert(flagged == Map(1L -> 2L), s"flagged wrong: $flagged")
    // row-for-row parity with the broadcast sink on the same batches
    val dir2 = Files.createTempDirectory("bloom_decon_ref").toFile.getAbsolutePath
    val evalGrams = Streams.evalGramSet(evalDocs, "text").cache()
    val refSink = Streams.decontaminateSink(spark, s"$dir2/state", evalGrams) _
    val b1 = Seq((4L, "tail " + contaminated), (5L, "more novel prose entirely"))
      .toDF("doc_id", "text")
    refSink(b0, 0L); refSink(b1, 1L)
    sink(b1, 1L)
    val refClean = Streams.readDecontaminated(spark, s"$dir2/state")
      .select("doc_id").as[Long].collect().toSet
    assert(clean == refClean, s"bloom $clean != broadcast $refClean")
    val refFlagged = BatchLog.read(spark, s"$dir2/state/flagged")
      .select("doc_id", "n_hits").as[(Long, Long)].collect().toMap
    val bloomFlagged = BatchLog.read(spark, s"$dir/state/flagged")
      .select("doc_id", "n_hits").as[(Long, Long)].collect().toMap
    assert(bloomFlagged == refFlagged, s"$bloomFlagged != $refFlagged")
    evalGrams.unpersist()
    // logs compact like every other batch log
    assert(BatchLog.compact(spark, s"$dir/state/clean", keepLast = 1))
    assert(clean == refClean, "compaction must not change the clean set")
  }

  test("mixtureSink(temperature=2): single-batch parity with q98") {
    val dir = Files.createTempDirectory("mixture_temp_stream").toFile.getAbsolutePath
    val sink = Streams.mixtureSink(spark, s"$dir/state", temperature = 2) _
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "text")
    sink(docs, 0L)
    val kept = Streams.readMixtureKept(spark, s"$dir/state")
      .select("doc_id").as[Long].collect().toSet
    val batchKept = SparkEntry.queries("q98_temperature_sample")(spark, sfDir)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == batchKept, s"stream ${kept.size} != q98 ${batchKept.size}")
    intercept[IllegalArgumentException] {
      Streams.mixtureSink(spark, s"$dir/state", temperature = 3)(docs, 1L)
    }
  }

  test("mixtureSink: single-batch parity with q81, idempotent replay, incremental refold") {
    val dir = Files.createTempDirectory("mixture_stream").toFile.getAbsolutePath
    val sink = Streams.mixtureSink(spark, s"$dir/state") _
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "text")
    sink(docs, 0L)
    sink(docs, 0L) // replay after a simulated post-write failure
    def kept = Streams.readMixtureKept(spark, s"$dir/state")
      .select("doc_id").as[Long].collect().toSet
    // Single-batch stream == the batch operator (thresholds derive from
    // the same cumulative counts; identical integer+hash arithmetic).
    val batchKept = SparkEntry.queries("q81_mixture_sample")(spark, sfDir)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == batchKept, s"stream ${kept.size} != batch ${batchKept.size}")
    // replay must not double-fold the counts partials
    val totals = BatchLog.read(spark, s"$dir/state/counts")
      .groupBy("lang").agg(sum("n").as("n"))
      .as[(String, Long)].collect().toMap
    val direct = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(totals == direct, s"counts log double-folded: $totals vs $direct")
    // Incremental: a second batch skewing one stratum tightens ITS
    // threshold (cumulative counts), earlier batches stay as written.
    val skew = (0 until 40).map(i => (10000L + i, "en", s"filler text $i"))
      .toDF("doc_id", "lang", "text")
    sink(skew, 1L)
    val cum = direct.map { case (l, n) => l -> (n + (if (l == "en") 40L else 0L)) }
    val nMin = cum.values.min
    val expectB1 = skew
      .filter(pmod(graft.ops.Cdm.hash60(col("doc_id").cast("string")), lit(1000000L))
        < lit(nMin * 1000000L / cum("en")))
      .select("doc_id").as[Long].collect().toSet
    val b1Kept = BatchLog.read(spark, s"$dir/state/kept")
      .filter(col("batch_id") === 1L).select("doc_id").as[Long].collect().toSet
    assert(b1Kept == expectB1, s"batch-1 gate wrong: $b1Kept vs $expectB1")
    assert(kept == batchKept ++ b1Kept, "earlier batches were retro-resampled")
    // kept log compacts like every other batch log
    assert(BatchLog.compact(spark, s"$dir/state/kept", keepLast = 1))
    assert(kept == batchKept ++ b1Kept, "compaction must not change the kept set")
    // ...and the counts log refolds by its own merge algebra: cumulative
    // totals (the threshold inputs) are identical after compaction.
    assert(BatchLog.compact(spark, s"$dir/state/counts", keepLast = 1,
      _.groupBy(col("lang")).agg(sum(col("n")).as("n"))))
    val refolded = BatchLog.read(spark, s"$dir/state/counts")
      .groupBy("lang").agg(sum("n").as("n")).as[(String, Long)].collect().toMap
    assert(refolded == cum, s"counts refold drifted: $refolded vs $cum")
    // A NULL stratum fails fast instead of silently tightening every
    // named stratum's threshold (via nMin) while its own rows drop —
    // and a stratum literally named "null" must NOT be confused with it.
    val nullStratum = Seq((20000L, null.asInstanceOf[String], "x"),
      (20001L, "null", "y")).toDF("doc_id", "lang", "text")
    val e = intercept[IllegalArgumentException](sink(nullStratum, 2L))
    assert(e.getMessage.contains("stratum is NULL"))
    val literalNull = Seq((20002L, "null", "y")).toDF("doc_id", "lang", "text")
    sink(literalNull, 3L) // the string "null" is a perfectly good stratum
  }

  test("qualityCutoffSink: q84 parity, replay, cumulative cutoffs, compaction") {
    val dir = Files.createTempDirectory("qcut_stream").toFile.getAbsolutePath
    val sink = Streams.qualityCutoffSink(spark, s"$dir/state") _
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    sink(docs, 0L)
    sink(docs, 0L) // replay after a simulated post-write failure
    def kept = Streams.readQualityKept(spark, s"$dir/state")
      .select("doc_id").as[Long].collect().toSet
    // Single-batch stream == the batch operator: same kept set AND the
    // same per-source cutoffs (the histogram rank rule vs approx_percentile).
    val batchQ84 = SparkEntry.queries("q84_quality_cutoff")(spark, sfDir)
    val batchKept = batchQ84.select("doc_id").as[Long].collect().toSet
    assert(kept == batchKept, s"stream ${kept.size} != batch ${batchKept.size}")
    val streamCuts = Streams.readQualityKept(spark, s"$dir/state")
      .select("source", "cutoff_grid").distinct()
      .as[(String, Long)].collect().toMap
    val batchCuts = batchQ84.select("source", "cutoff_grid").distinct()
      .as[(String, Long)].collect().toMap
    assert(streamCuts == batchCuts, s"cutoffs diverge: $streamCuts vs $batchCuts")
    // replay must not double-fold the histogram partials
    val total = BatchLog.read(spark, s"$dir/state/hist")
      .agg(sum("n")).as[Long].head()
    assert(total == docs.count(), s"hist log double-folded: $total")
    // Batch 1 gates by the CUMULATIVE distribution (batch 0 + itself):
    // expected = approx_percentile cutoffs over the union, applied to
    // batch 1's rows only; earlier batches stay as written.
    val scored = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("doc_id"), col("source"),
        graft.text.TextFunctions.qualityGrid(col("text")).cast("long")
          .as("quality_grid"))
    val b1 = (0 until 60).map(i =>
      (90000L + i, if (i % 2 == 0) "src0" else "src1",
        "the quick brown fox jumps over the lazy dog and keeps going " * (1 + i % 3)))
      .toDF("doc_id", "source", "text")
    sink(b1, 1L)
    val cumCuts = scored(docs).unionByName(scored(b1))
      .groupBy(col("source"))
      .agg(expr("approx_percentile(quality_grid, 0.25, 10000000)").as("cutoff_grid"))
    val expectB1 = scored(b1).join(cumCuts, Seq("source"))
      .filter(col("quality_grid") >= col("cutoff_grid"))
      .select("doc_id").as[Long].collect().toSet
    val b1Kept = BatchLog.read(spark, s"$dir/state/kept")
      .filter(col("batch_id") === 1L).select("doc_id").as[Long].collect().toSet
    assert(b1Kept == expectB1, s"batch-1 gate wrong: ${b1Kept.size} vs ${expectB1.size}")
    assert(kept == batchKept ++ b1Kept, "earlier batches were retro-gated")
    // kept log compacts like every other batch log
    assert(BatchLog.compact(spark, s"$dir/state/kept", keepLast = 1))
    assert(kept == batchKept ++ b1Kept, "compaction must not change the kept set")
    // ...and the histogram log refolds by its own merge algebra: the
    // cumulative histogram (the cutoff input) is identical after.
    val histBefore = BatchLog.read(spark, s"$dir/state/hist")
      .groupBy("source", "quality_grid").agg(sum("n").as("n"))
      .as[(String, Long, Long)].collect().toSet
    assert(BatchLog.compact(spark, s"$dir/state/hist", keepLast = 1,
      _.groupBy(col("source"), col("quality_grid")).agg(sum(col("n")).as("n"))))
    val histAfter = BatchLog.read(spark, s"$dir/state/hist")
      .groupBy("source", "quality_grid").agg(sum("n").as("n"))
      .as[(String, Long, Long)].collect().toSet
    assert(histAfter == histBefore, "hist refold drifted")
    // NULL source fails fast instead of silently dropping its rows at the
    // equality join-back (the mixture-family discipline; batch twin below).
    val nullSrc = Seq((30000L, null.asInstanceOf[String], "some text here"))
      .toDF("doc_id", "source", "text")
    val e = intercept[Throwable](sink(nullSrc, 9L))
    assert(String.valueOf(e.getMessage).contains("source is NULL") ||
      String.valueOf(e.getCause).contains("source is NULL"), s"wrong error: $e")
    val eBatch = intercept[Throwable](
      graft.queries.TextQueries.qualityCutoff(nullSrc).collect())
    assert(String.valueOf(eBatch.getMessage).contains("source is NULL") ||
      String.valueOf(eBatch.getCause).contains("source is NULL"), s"wrong error: $eBatch")
  }

  test("qualityCutoffSink: a replay that keeps NOTHING clears the stale kept partition") {
    // Dynamic overwrite of an empty frame writes no partitions — so an
    // empty recomputed kept set (cutoff drift after compaction, config
    // change) must DELETE the batch's old partition explicitly, or the
    // replay silently resurrects rows the replayed batch no longer keeps.
    val dir = Files.createTempDirectory("qcut_replay").toFile.getAbsolutePath
    val sink = Streams.qualityCutoffSink(spark, s"$dir/state") _
    val good = (1 to 90).map(i =>
      (i.toLong, "s", "many plain english words with letters only " * 4))
      .toDF("doc_id", "source", "text")
    sink(good, 0L)
    // stale pre-drift state: batch 7 once kept a row
    BatchLog.write(
      Seq((777L, "s", 9999L, 1L)).toDF("doc_id", "source", "quality_grid", "cutoff_grid"),
      s"$dir/state/kept", 7L)
    // replayed batch 7: pure-punctuation junk scores far below the
    // cumulative cutoff set by the 90 good docs → kept set is EMPTY
    val junk = (1 to 20).map(i => (1000L + i, "s", "!!!! ???? ;;;; ####"))
      .toDF("doc_id", "source", "text")
    sink(junk, 7L)
    val keptLog = BatchLog.read(spark, s"$dir/state/kept")
    assert(keptLog.filter(col("batch_id") === 7L).count() == 0,
      "stale batch-7 kept partition survived an empty replay")
    assert(keptLog.filter(col("batch_id") === 0L).count() > 0,
      "other batches' kept partitions must be untouched")
  }

  test("lineDedupSink: batch parity, cross-batch first-seen-wins, replay, compaction") {
    val dir = Files.createTempDirectory("linededup_stream").toFile.getAbsolutePath
    val sink = Streams.lineDedupSink(spark, s"$dir/state") _
    val b0 = Seq((1L, "alpha\nbeta\ngamma"), (2L, "beta\ndelta"))
      .toDF("doc_id", "text")
    sink(b0, 0L)
    sink(b0, 0L) // replay after a simulated post-write failure
    def out = Streams.readLineDedup(spark, s"$dir/state")
      .as[(Long, Long, Long, Double, Option[String])].collect()
      .sortBy(_._1).toSeq
    // single processed batch == the batch operator exactly
    val batchOut = graft.text.LineDedup.dedupRollup(b0, "doc_id", "text")
      .as[(Long, Long, Long, Double, Option[String])].collect()
      .sortBy(_._1).toSeq
    assert(out == batchOut, s"single-batch parity broken:\n$out\nvs\n$batchOut")
    // a later batch loses lines already seen, keeps its novel ones
    sink(Seq((3L, "beta\nepsilon")).toDF("doc_id", "text"), 1L)
    def fp(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val d3 = out.find(_._1 == 3L).get
    assert(d3 == ((3L, 2L, 1L, 0.5, Some(fp("epsilon")))), s"cross-batch verdict wrong: $d3")
    assert(out.filter(_._1 <= 2L) == batchOut, "earlier rollups were rewritten")
    // the seen log compacts; dedup still holds afterwards
    assert(BatchLog.compact(spark, s"$dir/state/seen", keepLast = 1))
    sink(Seq((4L, "epsilon")).toDF("doc_id", "text"), 2L)
    val d4 = out.find(_._1 == 4L).get
    assert(d4 == ((4L, 1L, 0L, 0.0, None)),
      s"compacted seen state lost a hash — duplicate survived: $d4")
  }

  test("spanDedupSink: single-batch parity with q87, cross-batch first-seen, replay, compaction") {
    val dir = Files.createTempDirectory("spandedup_stream").toFile.getAbsolutePath
    val sink = Streams.spanDedupSink(spark, s"$dir/state") _
    val shared = (1 to 12).map(i => s"dup$i").mkString(" ")
    val b0 = Seq(
      (1L, s"alpha beta $shared tail1 tail2 tail3"),
      (2L, s"$shared other words here now"),
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    sink(b0, 0L)
    sink(b0, 0L) // replay after a simulated post-write failure
    def spans = Streams.readSpans(spark, s"$dir/state")
      .as[(Long, Int, Int, Int)].collect().sortBy(s => (s._1, s._2)).toSeq
    // one batch over empty state == the batch operator exactly
    val batchOut = graft.text.SpanDedup.dupSpans(b0, "doc_id", "text", 8)
      .as[(Long, Int, Int, Int)].collect().sortBy(s => (s._1, s._2)).toSeq
    assert(spans == batchOut && spans.nonEmpty,
      s"single-batch parity broken:\n$spans\nvs\n$batchOut")
    // a later doc repeating batch-0 content is flagged; history is NOT
    // re-opened (first-seen asymmetry), unrelated docs stay clean
    val b1 = Seq(
      (10L, s"fresh opener $shared closing words"),
      (11L, "entirely novel content with no repeats anywhere at all today"))
      .toDF("doc_id", "text")
    sink(b1, 1L)
    assert(spans.filter(_._1 <= 3L) == batchOut, "history was re-opened")
    val d10 = spans.filter(_._1 == 10L)
    // shared run at tokens 3..14 → grams pos 3..7 → span [3, 15)
    assert(d10 == Seq((10L, 3, 15, 12)), s"cross-batch span wrong: $d10")
    assert(!spans.exists(_._1 == 11L), "novel doc falsely flagged")
    // gram log compacts; coverage survives
    assert(BatchLog.compact(spark, s"$dir/state/seen", keepLast = 1))
    sink(Seq((20L, s"$shared again appended here")).toDF("doc_id", "text"), 2L)
    assert(spans.exists(_._1 == 20L), "compacted seen log lost gram coverage")
    // a replay that no longer produces spans deletes its stale partitions
    sink(Seq((21L, "totally different text with zero gram overlap whatsoever")).toDF("doc_id", "text"), 2L)
    assert(!spans.exists(_._1 == 20L),
      "stale spans partition survived a span-free replay")
  }

  test("shardPackSink: continues shards across batches, equals batch operator, replays clean") {
    val dir = Files.createTempDirectory("shardpack_stream").toFile.getAbsolutePath
    val sink = Streams.shardPackSink(spark, s"$dir/state", budget = 100, bucketSize = 4) _
    // batch 0 ends mid-shard (total 230 → shard 2 is open at 30/100)
    val b0 = Seq((1L, 80L), (2L, 70L), (3L, 80L)).toDF("doc_id", "n_tokens")
    sink(b0, 0L)
    sink(b0, 0L) // replay after a simulated post-write failure
    // batch 1's first doc must CONTINUE shard 2, not restart at 0
    val b1 = Seq((4L, 50L), (5L, 40L)).toDF("doc_id", "n_tokens")
    sink(b1, 1L)
    def got = Streams.readShardPack(spark, s"$dir/state")
      .select("doc_id", "shard_id").as[(Long, Long)].collect().toMap
    // cum-before: 0,80,150,230,280 → shards 0,0,1,2,2
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 2L, 5L -> 2L), s"$got")
    // ordered arrival == the batch operator on the union
    val batchOp = graft.ops.ShardPack.assign(
        b0.unionByName(b1), "doc_id", "n_tokens", budget = 100, bucketSize = 4)
      .select("doc_id", "shard_id").as[(Long, Long)].collect().toMap
    assert(got == batchOp, s"stream $got != batch $batchOp")
    // replay of a MIDDLE batch reproduces identical rows (totals read
    // excludes itself, so the offset is unchanged)
    sink(b1, 1L)
    assert(got == batchOp, "replay shifted the running offset")
  }

  test("nearDupSink replays of the same batch are idempotent (no duplicate pairs)") {
    val dir = Files.createTempDirectory("neardup_replay").toFile.getAbsolutePath
    val sink = Streams.nearDupSink(spark, s"$dir/index", s"$dir/pairs") _
    sink(Seq((1L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text"), 0L)
    val b1 = Seq(
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),
      (4L, "unrelated words entirely different from others here now")).toDF("doc_id", "text")
    sink(b1, 1L)
    sink(b1, 1L) // replay after a simulated post-write failure
    val pairs = BatchLog.read(spark, s"$dir/pairs")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 3L)), s"replay duplicated or corrupted pairs: $pairs")
    // index holds exactly one signature row per doc, not one per attempt
    assert(BatchLog.read(spark, s"$dir/index").count() == 3)
  }

  test("classifierScoreSink: batch parity under deployed weights, replay, named missing-deploy (s23)") {
    val dir = Files.createTempDirectory("clsink").toFile.getAbsolutePath
    val state = s"$dir/state"
    // train on a labeled frame, deploy, score the stream
    val goodV = Seq("measured", "careful", "rigorous")
    val junkV = Seq("clickbait", "spamword", "scamword")
    val train = ((1L to 8L).map(i => (i, (goodV ++ goodV).mkString(" "), 1)) ++
      (9L to 16L).map(i => (i, (junkV ++ junkV).mkString(" "), 0)))
      .toDF("doc_id", "text", "label")
    val w = graft.text.QualityClassifier.train(train, "doc_id", "text", "label",
      dim = 1024, epochs = 20, lr = 2.0)
    Graft.releaseCaches()
    // the undeployed sink fails NAMED (never an empty-weights zero score)
    val sink = Streams.classifierScoreSink(spark, state) _
    val b1 = Seq((101L, "measured careful rigorous text"),
      (102L, "clickbait spamword scamword junk")).toDF("doc_id", "text")
    val missing = intercept[IllegalArgumentException](sink(b1, 0L))
    assert(missing.getMessage.contains("prepareClassifier"), missing.getMessage)
    Streams.prepareClassifier(spark, state, w)
    assert(Streams.readClassifierWeights(spark, state).toSeq == w.toSeq,
      "deployed weights must round-trip exactly")
    sink(b1, 0L)
    val b2 = Seq((103L, "rigorous measured prose"), (104L, "")).toDF("doc_id", "text")
    sink(b2, 1L)
    // single-batch parity with the batch scoring face (exact doubles)
    val streamed = Streams.readClassifierScores(spark, state)
    val batchRef = graft.text.QualityClassifier.score(b1.unionByName(b2),
      "doc_id", "text", w)
    assert(streamed.exceptAll(batchRef).isEmpty && batchRef.exceptAll(streamed).isEmpty,
      "streamed scores must equal the batch scoring face")
    // the learned gate splits the live intake
    val byId = streamed.select(col("doc_id"), col("pass"))
      .as[(Long, Boolean)].collect().toMap
    assert(byId(101L) && !byId(102L) && byId(103L) && !byId(104L), byId.toString)
    // replay: same frame, same batch id → identical partition
    sink(b1, 0L)
    val replayed = Streams.readClassifierScores(spark, state)
    assert(replayed.count() == 4 &&
      replayed.exceptAll(batchRef).isEmpty, "replay must not duplicate or drift")
  }

  test("imageDedupSink: cross-batch pairs, member quarantine, batch parity, replay (s24)") {
    import graft.multimodal.{Binary, ImageHash}
    val dir = Files.createTempDirectory("imgdedup").toFile.getAbsolutePath
    val state = s"$dir/state"
    def pngs(docs: Seq[(Long, String)]) =
      Binary.toPngPayloads(spark, docs.toDF("doc_id", "text")).toDF()
        .select(col("doc_id"), col("payload"))
    val t = "the quick brown fox jumps over the lazy dog " * 3
    val b1docs = Seq((1L, t), (2L, t.replace("quick", "quack")),
      (3L, ('!' to '~').mkString * 2))
    val b2docs = Seq((4L, t), (5L, "z" * 200))
    val sink = Streams.imageDedupSink(spark, state) _
    // batch 1 carries one corrupt member: truncated IDAT → quarantined, not fatal
    val corrupt = Binary.toPngPayloads(spark, Seq((99L, "x" * 100)).toDF("doc_id", "text"))
      .collect().head.payload.dropRight(20)
    sink(pngs(b1docs).unionByName(
      Seq((99L, corrupt)).toDF("doc_id", "payload")), 0L)
    val quarantined = BatchLog.read(spark, s"$state/quarantine")
      .select(col("doc_id"), col("decode_error")).as[(Long, String)].collect()
    assert(quarantined.map(_._1).toSeq == Seq(99L) && quarantined.head._2.nonEmpty,
      quarantined.mkString(","))
    sink(pngs(b2docs), 1L)
    // exact re-upload across batches: doc 4 == doc 1 → hamming-0 pair
    val pairs = Streams.readImagePairs(spark, state)
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs.contains((1L, 4L, 0)), pairs.toString)
    // ordered-arrival parity: accumulated pairs == batch q101 machinery on
    // the union (cap never bites at this size)
    val expected = ImageHash.nearPairs(
        ImageHash.dhashes(Binary.toPngPayloads(spark,
          (b1docs ++ b2docs).toDF("doc_id", "text"))), maxHamming = 16)
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs == expected, s"stream $pairs vs batch $expected")
    // the index holds only clean members
    assert(BatchLog.read(spark, s"$state/index").select("doc_id")
      .as[Long].collect().toSet == Set(1L, 2L, 3L, 4L, 5L))
    // replay of the LATEST batch (the replay contract): identical state,
    // no duplicate pairs — count-strict, not just set-equal
    sink(pngs(b2docs), 1L)
    val replayed = Streams.readImagePairs(spark, state)
      .as[(Long, Long, Int)].collect()
    assert(replayed.toSet == expected && replayed.length == expected.size,
      "replay must not duplicate or drift")
    assert(BatchLog.read(spark, s"$state/quarantine").count() == 1)
    // the index is an identity-merge batch log: compaction preserves it
    val preCompact = BatchLog.read(spark, s"$state/index")
      .select(col("doc_id"), col("dhash")).as[(Long, Long)].collect().toSet
    assert(BatchLog.compact(spark, s"$state/index", keepLast = 1))
    val postCompact = BatchLog.read(spark, s"$state/index")
      .select(col("doc_id"), col("dhash")).as[(Long, Long)].collect().toSet
    assert(postCompact == preCompact, "compaction must preserve the index")
  }

  test("audioDedupSink: re-encoded upload pairs cross-batch at hamming 0, " +
      "member quarantine, batch parity, replay (s30)") {
    import graft.multimodal.Audio
    val dir = Files.createTempDirectory("auddedup").toFile.getAbsolutePath
    val state = s"$dir/state"
    val base = Array.tabulate(600)(k => ((k * 53 % 171) - 80) * 200)
    val other = Array.tabulate(600)(k => ((k * 89 % 137) - 50) * 200)
    val third = Array.tabulate(600)(k => ((k * 29 % 191) - 95) * 200)
    def wav(s: Array[Int], rate: Int = 8000) = Audio.encodePcm16Wav(rate, s)
    val sink = Streams.audioDedupSink(spark, state) _
    // batch 0: two distinct clips + one corrupt member → quarantined, not fatal
    sink(Seq((1L, wav(base)), (2L, wav(other)),
        (99L, "not audio".getBytes("UTF-8")))
      .toDF("doc_id", "payload"), 0L)
    val quarantined = BatchLog.read(spark, s"$state/quarantine")
      .select(col("doc_id"), col("decode_error")).as[(Long, String)].collect()
    assert(quarantined.map(_._1).toSeq == Seq(99L) &&
      quarantined.head._2.contains("RIFF"), quarantined.mkString(","))
    // batch 1: a half-volume re-encode of clip 1 (different rate header
    // too — the re-upload reality) + a genuinely new clip
    sink(Seq((4L, wav(base.map(_ / 2), rate = 16000)), (5L, wav(third)))
      .toDF("doc_id", "payload"), 1L)
    val pairs = Streams.readAudioPairs(spark, state)
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs.contains((1L, 4L, 0)),
      s"the volume-scaled re-upload must pair at hamming 0: $pairs")
    // ordered-arrival parity: accumulated pairs == the batch q111 pair
    // machinery on the union (cap never bites at this size)
    val payloads = Seq(
      graft.multimodal.Binary.MediaPayload(1L, wav(base), "audio/wav"),
      graft.multimodal.Binary.MediaPayload(2L, wav(other), "audio/wav"),
      graft.multimodal.Binary.MediaPayload(4L, wav(base.map(_ / 2), 16000), "audio/wav"),
      graft.multimodal.Binary.MediaPayload(5L, wav(third), "audio/wav"))
    val clips = Audio.clipRows(spark.createDataset(payloads)(
      org.apache.spark.sql.Encoders.product[graft.multimodal.Binary.MediaPayload]))
      .toDF()
    val expected = Audio.nearPairs(clips, maxHamming = 8)
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs == expected, s"stream $pairs vs batch $expected")
    // index holds only clean clips; replay is count-strict idempotent
    assert(BatchLog.read(spark, s"$state/index").select("doc_id")
      .as[Long].collect().toSet == Set(1L, 2L, 4L, 5L))
    sink(Seq((4L, wav(base.map(_ / 2), rate = 16000)), (5L, wav(third)))
      .toDF("doc_id", "payload"), 1L)
    val replayed = Streams.readAudioPairs(spark, state)
      .as[(Long, Long, Int)].collect()
    assert(replayed.toSet == expected && replayed.length == expected.size,
      "replay must not duplicate or drift")
  }

  test("robotsGateSink: deployed-policy parity, named missing-deploy, replay (s25)") {
    val dir = Files.createTempDirectory("robotsgate").toFile.getAbsolutePath
    val state = s"$dir/state"
    val robots = Seq(
      ("a.com", "User-agent: *\nDisallow: /private/"),
      ("b.com", "User-agent: graftbot\nDisallow: /")).toDF("domain", "robots_txt")
    val sink = Streams.robotsGateSink(spark, state, "graftbot") _
    val b1 = Seq((1L, "http://a.com/private/x"), (2L, "http://a.com/ok"))
      .toDF("doc_id", "url")
    // serving before deployment fails NAMED — ungated must never look gated
    val missing = intercept[IllegalArgumentException](sink(b1, 0L))
    assert(missing.getMessage.contains("prepareRobots"), missing.getMessage)
    Streams.prepareRobots(spark, state, robots)
    sink(b1, 0L)
    val b2 = Seq((3L, "http://b.com/anything"), (4L, "http://c.com/free"))
      .toDF("doc_id", "url")
    sink(b2, 1L)
    val streamed = Streams.readRobotsVerdicts(spark, state)
    // stateless sink: exact parity with the batch verdicts on the union
    val batchRef = graft.sources.Robots.verdicts(spark,
      b1.unionByName(b2), "url", robots, "graftbot")
    assert(streamed.exceptAll(batchRef).isEmpty && batchRef.exceptAll(streamed).isEmpty,
      "streamed verdicts must equal the batch face")
    val byId = streamed.select(col("doc_id"), col("robots_allowed"))
      .as[(Long, Boolean)].collect().toMap
    assert(byId == Map(1L -> false, 2L -> true, 3L -> false, 4L -> true), byId.toString)
    // replay of the latest batch: identical partition, no duplicates
    sink(b2, 1L)
    val replayed = Streams.readRobotsVerdicts(spark, state)
      .as[(Long, String, Boolean)].collect()
    assert(replayed.length == 4, s"replay duplicated: ${replayed.length}")
  }

  test("tokenizerDriftSink: fertility rises under vocab shift, bpeRetrain restores, replay idempotent (s22)") {
    val dir = Files.createTempDirectory("tokdrift").toFile.getAbsolutePath
    val state = s"$dir/state"
    val sink = Streams.tokenizerDriftSink(spark, state, numMerges = 64) _
    // Two byte-disjoint vocabularies: merges trained on A apply to NOTHING
    // in B, so the drift is structural, not statistical.
    val vocabA = Seq("the", "then", "these", "stone", "holes")
    val vocabB = Seq("zqxv", "vxqz", "qzvx", "xvzq", "qvxz", "zxqv")
    val rnd = new scala.util.Random(5)
    def docs(vocab: Seq[String], ids: Range): org.apache.spark.sql.DataFrame =
      ids.map(i => (i.toLong,
        (1 to 12).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")))
        .toDF("doc_id", "text")
    def drift(b: Long): (Double, Double) = {
      val r = Streams.readTokenizerDrift(spark, state)
        .filter(col("batch_id") === b).select("fertility", "oov_rate")
        .as[(Double, Double)].head()
      r
    }
    // an empty first batch must NOT bootstrap an empty merge table or log
    // a null-metric drift row (the curateSink empty-batch discipline); nor
    // may a non-empty batch of word-free texts
    sink(Seq.empty[(Long, String)].toDF("doc_id", "text"), 0L)
    sink(Seq((0L, "   ")).toDF("doc_id", "text"), 0L)
    assert(!new java.io.File(s"$state/merges").exists(),
      "empty batches must not deploy a tokenizer")
    assert(BatchLog.readIfExists(spark, s"$state/drift").isEmpty,
      "empty batches must not log drift rows")
    sink(docs(vocabA, 1 to 8), 0L) // bootstrap: trains the deployed table on A
    sink(docs(vocabA, 9 to 16), 1L) // stationary
    val (fertA, oovA) = drift(1L)
    assert(fertA < 2.0, s"A-batch under A-merges should compress: fertility $fertA")
    assert(oovA < 0.1, s"A-batch oov should be ~0: $oovA")
    // replay idempotence: drive the SAME frame twice under one batch id —
    // words partition and drift row must come out identical
    val fixed = docs(vocabA, 17 to 20)
    sink(fixed, 2L)
    val snap1 = (BatchLog.read(spark, s"$state/words").filter(col("batch_id") === 2L)
      .orderBy("w").collect().toSeq, drift(2L))
    sink(fixed, 2L)
    val snap2 = (BatchLog.read(spark, s"$state/words").filter(col("batch_id") === 2L)
      .orderBy("w").collect().toSeq, drift(2L))
    assert(snap1 == snap2, "replaying the same batch must reproduce identical state")
    // vocabulary shift: fertility jumps, oov → 1 (no A-merge applies to B)
    sink(docs(vocabB, 21 to 28), 3L)
    val (fertB, oovB) = drift(3L)
    assert(fertB == 5.0, s"B words are 4 bytes + eow with zero merges applied: $fertB")
    assert(oovB == 1.0, s"every B occurrence is fully unmerged: $oovB")
    assert(fertB > fertA + 1.0, "the drift signal must be unmistakable")
    // caller policy fires: retrain on the ACCUMULATED counts, table swaps
    val retrained = Streams.bpeRetrain(spark, state, numMerges = 64)
    assert(Streams.readMerges(spark, state) == retrained,
      "the swapped table must be the one subsequent batches read")
    sink(docs(vocabB, 31 to 38), 4L)
    val (fertB2, oovB2) = drift(4L)
    assert(fertB2 < fertB - 2.0, s"retrain must restore fertility: $fertB2 vs $fertB")
    assert(oovB2 == 0.0, s"retrained table covers B: oov $oovB2")
    // and the A side still compresses under the joint table
    sink(docs(vocabA, 41 to 44), 5L)
    val (fertA2, oovA2) = drift(5L)
    assert(fertA2 < 2.5 && oovA2 < 0.1, s"joint table keeps A healthy: $fertA2/$oovA2")
  }

  test("versionedSink: exactly-once micro-batch commits, replay commits " +
      "nothing, the change feed serves each consumer its increment (s34)") {
    val dir = Files.createTempDirectory("vsink").toFile.getAbsolutePath
    val t = s"$dir/table"
    val VT = graft.sources.VersionedTable
    // the ensure-table step (the gold notebooks' CREATE IF NOT EXISTS)
    VT.create(Seq((0L, "seed")).toDF("id", "v").filter(lit(false)), t)
    val sink = Streams.versionedSink(t, "intake") _
    sink(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
    val afterB0 = VT.latestVersion(spark, t)
    sink(Seq((3L, "c")).toDF("id", "v"), 1L)
    val afterB1 = VT.latestVersion(spark, t)
    // replay after a simulated crash between write and checkpoint:
    // the (app, batch) pair is already in the log — nothing commits
    sink(Seq((3L, "c")).toDF("id", "v"), 1L)
    assert(VT.latestVersion(spark, t) == afterB1, "replay must not commit")
    assert(VT.read(spark, t).select("id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L))
    // a change-feed consumer that saw afterB0 gets EXACTLY batch 1's rows
    assert(VT.readChangesSince(spark, t, afterB0)
      .select("id").as[Long].collect().toSet == Set(3L))
    // a second app on the SAME table is independent exactly-once state
    Streams.versionedSink(t, "backfill")(Seq((9L, "z")).toDF("id", "v"), 0L)
    assert(VT.read(spark, t).count() == 4L)
    // schema drift in the stream fails the batch named, never casts
    val e = intercept[IllegalArgumentException] {
      sink(Seq((4, "d")).toDF("id", "v"), 2L)
    }
    assert(e.getMessage.contains("schema drift"), e.getMessage)
  }

  test("imageGateSink: q122 live — member quarantine, per-rule drop reasons, " +
      "batch parity, count-strict replay (s35)") {
    val dir = Files.createTempDirectory("imggate").toFile.getAbsolutePath
    val state = s"$dir/state"
    val B = graft.multimodal.Binary
    def ppm(id: Long, text: String) =
      (id, B.toPpmPayloads(spark, Seq((id, text)).toDF("doc_id", "text"))
        .collect()(0).payload, "image/ppm")
    val good = ppm(1L, "m" * 384)          // h=4, full: passes all
    val tiny = ppm(2L, "x" * 96)           // h=1: too_small + bad_aspect
    val padded = ppm(3L, "m" * 200)        // h=3: too_small + under_filled
    val corrupt = (4L, "not a ppm".getBytes("UTF-8"), "image/ppm")
    val sink = Streams.imageGateSink(spark, state) _
    sink(Seq(good, tiny).toDF("doc_id", "payload", "media_type"), 0L)
    sink(Seq(padded, corrupt).toDF("doc_id", "payload", "media_type"), 1L)
    sink(Seq(padded, corrupt).toDF("doc_id", "payload", "media_type"), 1L) // replay
    // survivors: exactly the good image, once
    val kept = Streams.readImageGate(spark, state).collect()
    assert(kept.map(_.getLong(0)).toSeq == Seq(1L), kept.mkString(", "))
    // drops carry the NAMED failed rules
    val dropped = BatchLog.read(spark, s"$state/dropped")
      .select("doc_id", "reasons").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dropped(2L) == "too_small,bad_aspect", dropped(2L))
    assert(dropped(3L) == "too_small,under_filled", dropped(3L))
    // the corrupt member cost ONE quarantine row, not the batch
    val q = BatchLog.read(spark, s"$state/quarantine")
      .select("doc_id", "reason").collect()
    assert(q.length == 1 && q(0).getLong(0) == 4L &&
      q(0).getString(1).contains("ppm"), q.mkString(", "))
    // batch parity with q122's rules: same integers, same verdicts
    val stats = B.imageStats(spark,
      Seq(good, tiny, padded).toDF("doc_id", "payload", "media_type")
        .as(org.apache.spark.sql.Encoders.product[B.MediaPayload]))
      .collect().map(i => i.doc_id ->
        (i.width * i.height >= 128 &&
          math.max(i.width, i.height) * 100 <= math.min(i.width, i.height) * 1100 &&
          i.sum_bytes >= i.width.toLong * i.height * 3 * 80)).toMap
    assert(stats(1L) && !stats(2L) && !stats(3L))
  }

  test("imageGateSink: 32-bit aspect wrap guarded; all-dropped gate reads EMPTY, " +
      "not path-not-found (s35)") {
    val dir = Files.createTempDirectory("imggate2").toFile.getAbsolutePath
    val state = s"$dir/state"
    // hand-built degenerate PPM: 25_000_000 × 1 — ×100 cross-multiply
    // wraps a 32-bit int negative (2.5e9 > Int.MaxValue) and would PASS
    // the aspect gate it exists to fail
    val w = 25000000
    val header = s"P6\n$w 1\n255\n".getBytes("US-ASCII")
    val payload = new Array[Byte](header.length + w * 3)
    System.arraycopy(header, 0, payload, 0, header.length)
    java.util.Arrays.fill(payload, header.length, payload.length, 200.toByte)
    Streams.imageGateSink(spark, state)(
      Seq((7L, payload, "image/ppm")).toDF("doc_id", "payload", "media_type"), 0L)
    // the only member was dropped → kept/ was never created; the read is
    // EMPTY with the contract schema, never an error
    val kept = Streams.readImageGate(spark, state)
    assert(kept.isEmpty)
    assert(kept.columns.toSeq == Seq("doc_id", "width", "height", "sum_bytes"))
    val dropped = BatchLog.read(spark, s"$state/dropped")
      .select("doc_id", "reasons").collect()
    assert(dropped.length == 1 && dropped(0).getLong(0) == 7L &&
      dropped(0).getString(1).contains("bad_aspect"),
      dropped.mkString(", "))
  }

  // ------------------------------- r19: s36 streaming source over the log

  test("versioned streaming source: micro-batch per commit range, " +
      "bootstrap snapshot, restart from checkpoint consumes nothing twice (s36)") {
    import graft.sources.VersionedTable
    val dir = Files.createTempDirectory("vtsrc").toFile.getAbsolutePath
    val t = s"$dir/t"
    val ckpt = s"$dir/ckpt"
    VersionedTable.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)

    val out = s"$dir/out"
    // parquet sink: checkpoint-recoverable, so the restart leg is real
    def startQuery() = spark.readStream
      .format("graft.streaming.VersionedStreamProvider")
      .option("path", t)
      .load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    def sunk(): Set[Long] =
      spark.read.parquet(out).collect().map(_.getLong(0)).toSet

    val q = startQuery()
    try {
      q.processAllAvailable()
      // bootstrap batch = the full snapshot
      assert(sunk() == Set(1L, 2L))
      // two appends land → consumed as the next commit range, exactly once
      VersionedTable.append(Seq((3L, "c")).toDF("id", "v"), t)
      VersionedTable.append(Seq((4L, "d")).toDF("id", "v"), t)
      q.processAllAvailable()
      assert(sunk() == Set(1L, 2L, 3L, 4L))
    } finally q.stop()

    // restart from the checkpoint: an append while DOWN is consumed once,
    // and nothing replays (a bootstrap replay would double ids 1-4)
    VersionedTable.append(Seq((5L, "e")).toDF("id", "v"), t)
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      assert(sunk() == Set(1L, 2L, 3L, 4L, 5L))
      val counts = spark.read.parquet(out).groupBy("id").count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(counts.values.forall(_ == 1L),
        s"restart must consume nothing twice, got $counts")
    } finally q2.stop()
  }

  test("versioned streaming source, CDF face: merge/delete flow through as " +
      "typed change rows instead of failing the stream (s36 × i29)") {
    import graft.sources.VersionedTable
    val dir = Files.createTempDirectory("vtsrccdf").toFile.getAbsolutePath
    val t = s"$dir/t"
    VersionedTable.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t,
      changeFeed = true)
    // the SHORT name exercises the META-INF/services registration — the
    // spelling the provider's own scaladoc documents
    val q = spark.readStream
      .format("graft-versioned")
      .option("path", t).option("readChangeFeed", "true")
      .load()
      .writeStream.format("memory").queryName("vt_cdf_out")
      .option("checkpointLocation", s"$dir/ckpt").outputMode("append").start()
    try {
      q.processAllAvailable()
      VersionedTable.merge(Seq((1L, "A")).toDF("id", "v"), t, Seq("id"))
      VersionedTable.delete(spark, t, col("id") === 2L)
      q.processAllAvailable()
      val got = spark.table("vt_cdf_out")
        .select("id", "v", VersionedTable.ChangeTypeCol)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(got == Set(
        (1L, "a", "insert"), (2L, "b", "insert"),            // bootstrap
        (1L, "a", "update_preimage"), (1L, "A", "update_postimage"),
        (2L, "b", "delete")), s"got $got")
    } finally q.stop()
  }

  test("versioned source rate limit: maxVersionsPerBatch drains a " +
      "10-commit backlog in exactly ceil(10/3) bounded batches, " +
      "exactly-once, append and CDF faces (s36, r20)") {
    import graft.sources.VersionedTable
    for (cdfFace <- Seq(false, true)) {
      val dir = Files.createTempDirectory(s"vtrate$cdfFace").toFile.getAbsolutePath
      val t = s"$dir/t"
      VersionedTable.create(Seq((0L, "seed")).toDF("id", "v"), t,
        changeFeed = cdfFace)
      // the backlog: 10 commits land while no stream is running
      (1L to 10L).foreach(i =>
        VersionedTable.append(Seq((i, s"v$i")).toDF("id", "v"), t))
      val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
      val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = spark.readStream.format("graft-versioned")
        .option("path", t)
        .option("startingVersion", "0")
        .option("maxVersionsPerBatch", "3")
        .option("readChangeFeed", cdfFace.toString)
        .load()
        .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val ids = df.select("id").collect().map(_.getLong(0))
          batchSizes.synchronized { batchSizes += ids.length.toLong
            seen ++= ids }
          ()
        }
        .option("checkpointLocation", s"$dir/ckpt").start()
      try {
        q.processAllAvailable()
        // startingVersion = 0 is INCLUSIVE (Delta's binding, r21 advice
        // fix), so the seed commit is served too: [0,2](2,5](5,8](8,10] —
        // four batches, never more than 3 commits
        val nonEmpty = batchSizes.filter(_ > 0)
        assert(nonEmpty.toSeq == Seq(3L, 3L, 3L, 2L),
          s"face cdf=$cdfFace: batch sizes ${batchSizes.toSeq}")
        assert(seen.sorted.toSeq == (0L to 10L).toSeq,
          s"face cdf=$cdfFace: exactly-once drain, got ${seen.sorted.toSeq}")
      } finally q.stop()
    }
  }

  test("versioned source: a caller-declared schema that diverges from the " +
      "table fails NAMED instead of being silently dropped (r19 advice)") {
    import graft.sources.VersionedTable
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = Files.createTempDirectory("vtschema").toFile.getAbsolutePath
    val t = s"$dir/t"
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), t)
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("graft-versioned")
        .schema(StructType(Seq(StructField("wrong", LongType))))
        .option("path", t).load()
    }
    assert(e.getMessage.contains("declared read schema"), e.getMessage)
    // an EXACT declaration is accepted (harmless spelling of the truth)
    val ok = spark.readStream.format("graft-versioned")
      .schema(VersionedTable.snapshotAt(spark, t).schema)
      .option("path", t).load()
    assert(ok.isStreaming)
  }
}
