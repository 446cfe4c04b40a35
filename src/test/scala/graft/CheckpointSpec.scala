package graft.sources

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** r20: the parquet checkpoint format (verdict #5), the checkpoint-bounded
  * timestamp resolution (r19 advice #4), and the writer-features guard
  * (verdict #8). Lives in graft.sources to drive the package-private
  * checkpoint IO directly where the contract demands it.
  */
class CheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def fs =
    new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmpTable(tag: String): String =
    Files.createTempDirectory(s"ckpt_$tag").resolve("t").toString

  test("parquet checkpoint carries the FULL table state: snapshot replay " +
      "works with the pre-checkpoint commits GONE — partitions, stats " +
      "pruning, deletion vectors, constraints, txns, changeFeed all survive") {
    val VT = VersionedTable
    val t = tmpTable("full")
    VT.create((1L to 10L).map(i => (i, s"v$i", i % 3))
      .toDF("id", "v", "p").coalesce(1), t,
      partitionBy = Seq("p"), changeFeed = true)               // v0
    VT.addConstraint(spark, t, "id_pos", "id > 0")             // v1
    (2 to 8).foreach(i =>                                      // v2..v8
      VT.txnAppend((i * 10L to i * 10L + 5L).map(j => (j, s"v$j", j % 3))
        .toDF("id", "v", "p").coalesce(1), t, app = "ck", batch = i.toLong))
    VT.deleteVectors(spark, t, col("id") === 21L)              // v9
    VT.append(Seq((999L, "x", 0L)).toDF("id", "v", "p"), t)    // v10 → checkpoint
    assert(fs.exists(new Path(
      s"$t/${VT.LogDirName}/${"%020d".format(10)}.checkpoint.parquet")),
      "v10 must have rolled a parquet checkpoint")
    val expected = VT.read(spark, t).collect().map(_.toSeq).toSet

    // the checkpoint IS the recovery path: with every pre-checkpoint
    // commit file gone, the head still reads (bounded replay from the
    // checkpoint), and all state is served from IT alone
    (0L to 9L).foreach(v =>
      fs.delete(new Path(s"$t/${VT.LogDirName}/${"%020d".format(v)}.json"), false))
    assert(VT.read(spark, t).collect().map(_.toSeq).toSet == expected)
    // DV survived: the deleted row stays deleted
    assert(!VT.read(spark, t).collect().exists(_.getLong(0) == 21L))
    // per-file stats + partitions survived: a partition predicate prunes
    val all = VT.snapshotAt(spark, t).files.size
    val pruned = VT.survivingFiles(spark, t, col("p") === 0L).size
    assert(pruned < all, s"partition pruning must survive the checkpoint " +
      s"($pruned vs $all files)")
    // constraints survived: a violating append fails named, nothing lands
    val e = intercept[RuntimeException] {
      VT.append(Seq((-1L, "bad", 0L)).toDF("id", "v", "p"), t) }
    assert(e.getMessage.contains("id_pos"), e.getMessage)
    // txns survived: the replayed (app, batch) commits nothing
    assert(VT.txnAppend(Seq((1000L, "y", 1L)).toDF("id", "v", "p"), t,
      app = "ck", batch = 8L).isEmpty, "batch 8 must be a replay no-op")
    // changeFeed survived: DML still writes sidecars the feed serves
    VT.delete(spark, t, col("id") === 999L)
    val feed = VT.readChangeFeed(spark, t, 10L)
      .filter(col(VT.ChangeTypeCol) === "delete").collect()
    assert(feed.map(_.getLong(0)).toSet == Set(999L))
    // time travel BELOW the checkpoint now fails NAMED (commits gone)
    val e2 = intercept[IllegalArgumentException] {
      VT.snapshotAt(spark, t, 5L) }
    assert(e2.getMessage.contains("no version 5"), e2.getMessage)
  }

  test("10^5-add checkpoint round-trips exactly through the parquet format " +
      "(write and read timed)") {
    val VT = VersionedTable
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType))).json
    val files = (0 until 100000).map { i =>
      VT.AddFile(s"data/files-${i / 100}/part-$i.parquet", rows = 1000L + i,
        bytes = 4096L * (i % 77 + 1),
        partitions = Map("day" -> f"2024-01-${i % 28 + 1}%02d"),
        stats = Map(
          "id" -> VT.ColStats(Some(i.toLong), Some(i.toLong + 999L), i % 3),
          "v" -> VT.ColStats(Some(s"a$i"), Some(s"z$i"), 0L)),
        dataChange = i % 5 != 0,
        dv = if (i % 50 == 0) Some(VT.DvDesc(s"data/dv-${i / 1000}", i % 7 + 1L)) else None)
    }
    val snap = VT.Snapshot(100L, schemaJson, files,
      txns = Map("app-a" -> 12L, "app-b" -> 7L), vacuumHorizon = 3L,
      partitionBy = Seq("day"), readerFeatures = Set("deletion-vectors"),
      changeFeed = true, constraints = Map("c1" -> "id > 0"),
      maxCommitTs = Some(1700000000123L),
      writerFeatures = Set("deletion-vectors", "change-data-feed"))

    val tP = tmpTable("pq")
    fs.mkdirs(new Path(s"$tP/${VT.LogDirName}"))
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = body
      (r, (System.nanoTime() - t0) / 1e6)
    }
    val (_, wP) = timed(VT.writeCheckpoint(fs, tP, snap))
    val (backP, rP) = timed(VT.readCheckpoint(fs, tP, 100L))
    info(f"100k-add checkpoint: parquet write $wP%.0f ms read $rP%.0f ms")
    // parquet round-trip is EXACT, including every add field
    assert(backP == snap, "parquet checkpoint must round-trip exactly")
  }

  test("a CORRUPT checkpoint is skipped, never a crash: reads fall back " +
      "to an older checkpoint or raw-commit replay (self-healing derived state)") {
    val VT = VersionedTable
    val t = tmpTable("corrupt")
    VT.create(Seq((0L, "r0")).toDF("id", "v"), t)
    (1 to 12).foreach(i =>
      VT.append(Seq((i.toLong, s"r$i")).toDF("id", "v"), t))
    val want = VT.read(spark, t).collect().map(_.toSeq).toSet
    // truncate the v10 parquet checkpoint to garbage (delete the .crc
    // sidecar or Hadoop's checksum layer fails first)
    val ckpt = new Path(s"$t/${VT.LogDirName}/${"%020d".format(10)}.checkpoint.parquet")
    fs.delete(new Path(ckpt.getParent, s".${ckpt.getName}.crc"), false)
    val out = fs.create(ckpt, true)
    out.write("not parquet at all".getBytes("UTF-8")); out.close()
    // snapshot reads fall back to full replay; timestamp resolution
    // skips the unusable probe — both still exact
    assert(VT.read(spark, t).collect().map(_.toSeq).toSet == want)
    assert(VT.versionAtTimestamp(spark, t, System.currentTimeMillis() + 1000L)
      == 12L)
  }

  test("versionAtTimestamp is checkpoint-bounded (A4) and stays exact " +
      "across stamped commits, checkpoint boundaries, and a checkpoint " +
      "without the maxTs field") {
    val VT = VersionedTable
    val t = tmpTable("ts")
    val c0 = 1700000000000L
    try {
      var now = c0
      VT.clock = () => now
      VT.create(Seq((0L, "s")).toDF("id", "v"), t)
      (1 to 25).foreach { i =>
        now = c0 + i * 1000L
        VT.append(Seq((i.toLong, s"v$i")).toDF("id", "v"), t)
      }
      // checkpoints exist at 10 and 20; resolution must agree with the
      // ground truth at every boundary shape
      assert(fs.exists(new Path(
        s"$t/${VT.LogDirName}/${"%020d".format(20)}.checkpoint.parquet")))
      assert(VT.versionAtTimestamp(spark, t, c0) == 0L)
      assert(VT.versionAtTimestamp(spark, t, c0 + 10000L) == 10L)
      assert(VT.versionAtTimestamp(spark, t, c0 + 10500L) == 10L)
      assert(VT.versionAtTimestamp(spark, t, c0 + 20000L) == 20L)
      assert(VT.versionAtTimestamp(spark, t, c0 + 19999L) == 19L)
      assert(VT.versionAtTimestamp(spark, t, c0 + 999999L) == 25L)
      intercept[IllegalArgumentException] {
        VT.versionAtTimestamp(spark, t, c0 - 1L) }

      // a checkpoint without maxTs (its prefix's running max unknown):
      // resolution falls back without trusting an absent bound
      VT.writeCheckpoint(fs, t, VT.snapshotAt(spark, t, 20L).copy(maxCommitTs = None))
      assert(VT.versionAtTimestamp(spark, t, c0 + 20000L) == 20L)
      assert(VT.versionAtTimestamp(spark, t, c0 + 9500L) == 9L)
    } finally VT.clock = () => System.currentTimeMillis()
  }

  test("a table whose only checkpoint is a legacy .checkpoint.json reads " +
      "exactly from its commits and resolves versionAtTimestamp") {
    val VT = VersionedTable
    val t = tmpTable("legacy")
    val c0 = 1700000000000L
    try {
      var now = c0
      VT.clock = () => now
      VT.create(Seq((0L, "s")).toDF("id", "v"), t)
      (1 to 12).foreach { i =>
        now = c0 + i * 1000L
        VT.append(Seq((i.toLong, s"v$i")).toDF("id", "v"), t)
      }
      val want = VT.read(spark, t).collect().map(_.toSeq).toSet
      val want5 = VT.readVersion(spark, t, 5L).collect().map(_.toSeq).toSet
      // what a pre-parquet writer left at version 10: the JSON checkpoint
      // format, hand-written, in place of the parquet one
      val log = s"$t/${VT.LogDirName}"
      val pq = new Path(s"$log/${"%020d".format(10)}.checkpoint.parquet")
      fs.delete(new Path(pq.getParent, s".${pq.getName}.crc"), false)
      fs.delete(pq, false)
      val snap10 = VT.snapshotAt(spark, t, 10L)
      val files = snap10.files.map(f => s"""{"path":"${f.path}","rows":${f.rows}}""")
      val json = s"""{"version":10,"schema":${new com.fasterxml.jackson.databind
        .ObjectMapper().writeValueAsString(snap10.schemaJson)},"horizon":0,""" +
        s""""files":[${files.mkString(",")}],"txns":{}}"""
      Files.write(java.nio.file.Paths.get(s"$log/${"%020d".format(10)}.checkpoint.json"),
        json.getBytes("UTF-8"))
      assert(!fs.exists(pq))
      assert(VT.read(spark, t).collect().map(_.toSeq).toSet == want)
      assert(VT.readVersion(spark, t, 5L).collect().map(_.toSeq).toSet == want5)
      assert(VT.versionAtTimestamp(spark, t, c0 + 10000L) == 10L)
      assert(VT.versionAtTimestamp(spark, t, c0 + 11500L) == 11L)
      assert(VT.versionAtTimestamp(spark, t, c0 + 999999L) == 12L)
      // the next checkpoint-interval commit rolls a parquet checkpoint
      (13 to 20).foreach { i =>
        now = c0 + i * 1000L
        VT.append(Seq((i.toLong, s"v$i")).toDF("id", "v"), t)
      }
      assert(fs.exists(new Path(s"$log/${"%020d".format(20)}.checkpoint.parquet")))
      assert(VT.read(spark, t).count() == 21L)
      assert(VT.versionAtTimestamp(spark, t, c0 + 15500L) == 15L)
    } finally VT.clock = () => System.currentTimeMillis()
  }

  test("writer-features guard (r20 #8): a stale writer fails EVERY commit " +
      "named — append, DML, vacuum — while reads keep serving; an " +
      "up-to-date writer proceeds") {
    val VT = VersionedTable
    val t = tmpTable("wf")
    VT.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)
    VT.enableChangeFeed(spark, t) // commits the change-data-feed writer feature
    VT.append(Seq((3L, "c")).toDF("id", "v"), t)
    val full = VT.SupportedWriterFeatures
    try {
      // simulate the STALE writer: this build minus the CDF feature
      VT.SupportedWriterFeatures = full - "change-data-feed"
      val e1 = intercept[IllegalArgumentException] {
        VT.append(Seq((4L, "d")).toDF("id", "v"), t) }
      assert(e1.getMessage.contains("writer features") &&
        e1.getMessage.contains("change-data-feed"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        VT.delete(spark, t, col("id") === 1L) }
      assert(e2.getMessage.contains("writer features"), e2.getMessage)
      val e3 = intercept[IllegalArgumentException] {
        VT.vacuum(spark, t, graceMs = 0L) }
      assert(e3.getMessage.contains("writer features"), e3.getMessage)
      // reads are UNAFFECTED: the same build keeps serving rows
      assert(VT.read(spark, t).collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L, 3L))
      assert(VT.readVersion(spark, t, 0L).count() == 2L)
    } finally VT.SupportedWriterFeatures = full
    // the up-to-date writer commits cleanly again
    VT.append(Seq((4L, "d")).toDF("id", "v"), t)
    assert(VT.read(spark, t).count() == 4L)
  }
}
