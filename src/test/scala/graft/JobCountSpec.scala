package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.meta.{Audit, LoadConfig}
import graft.pipeline.Runner
import graft.sources.VersionedTable

/** Spark jobs per call of the medallion's bookkeeping paths and the table
  * writes, counted the way a user reads them: a `SparkListener` keeping
  * the jobs of one job group. Metadata-rate work (an audit row, a merge's
  * counts and key ranges) must not cost jobs of its own; a reintroduced
  * one fails here.
  */
class JobCountSpec extends SparkSpec {
  import spark.implicits._

  test("the job counter sees jobs: one count() is at least one job") {
    assert(jobsOf(spark.range(10).count()) >= 1)
  }

  test("Audit.log launches no Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("audit_jobs").toFile.getAbsolutePath
    val run = Audit.Run("r1", "bank_a", "tx", "incremental", "ts", null, 0L, "running",
      new Timestamp(1000), new Timestamp(1000))
    assert(jobsOf(Audit.log(spark, s"$dir/log", run)) == 0)
    assert(jobsOf(Audit.log(spark, s"$dir/log",
      run.copy(status = "succeeded", rows_processed = 7L))) == 0)
    assert(Audit.latestRuns(spark, s"$dir/log").collect().map(_.getAs[Long]("rows_processed"))
      .toSeq == Seq(7L))
  }

  test("LoadConfig.activeEntries reads the config on the driver: no job") {
    val cfg = java.nio.file.Files.createTempDirectory("cfg_jobs").toFile.getAbsolutePath +
      "/load_config.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfg),
      "source_type,source_system,table_name,is_active,load_mode,watermark_column\n" +
        "sql,bank_a,tx,1,incremental,ts\nsql,bank_b,tx,0,full,\n")
    var entries = Seq.empty[LoadConfig.Entry]
    val jobs = jobFramesOf { entries = LoadConfig.activeEntries(spark, cfg) }
    assert(jobs.isEmpty, s"LoadConfig.activeEntries ran:\n${jobs.mkString("\n")}")
    assert(entries.map(_.qualifiedName) == Seq("bank_a.tx"))
  }

  test("one incremental Runner.run runs one job per table write plus one audit read") {
    val dir = java.nio.file.Files.createTempDirectory("runner_jobs").toFile.getAbsolutePath
    val names = Seq("t1", "t2", "t3")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/load_config.csv"),
      "source_type,table_name,is_active,load_mode,watermark_column\n" +
        names.map(n => s"sql,$n,1,incremental,ts\n").mkString)
    def source(day: Int)(name: String) = (1 to day).map(d =>
      (d.toLong, new Timestamp(d * 86400000L))).toDF("id", "ts")
    def run(runId: String, day: Int) = Runner.run(spark, s"$dir/load_config.csv",
      s"$dir/out", s"$dir/audit", runId, source(day))
    assert(run("run1", 1).forall(_.status == "succeeded")) // bootstrap loads
    var res = Seq.empty[Runner.LoadResult]
    val jobs = jobFramesOf { res = run("run2", 2) }
    assert(res.map(r => (r.status, r.rows)) == names.map(_ => ("succeeded", 1L)))
    // the audit log's one read (no schema inference, one single-partition
    // dedup) and one append per table; the config read is driver-side and
    // the watermark and row counts ride the writes. The appends run on the
    // run's pool threads, counted here because those threads keep the
    // caller's job group.
    assert(jobs.size == names.size + 1, s"Runner.run ran ${jobs.size} jobs:\n${jobs.mkString("\n")}")
  }

  test("building VersionedTable.read over 40 and 200 live files runs no job") {
    val dir = java.nio.file.Files.createTempDirectory("read_jobs").toFile.getAbsolutePath
    for (n <- Seq(40, 200)) {
      val t = s"$dir/t$n"
      VersionedTable.create(spark.range(0L, n.toLong, 1L, n).toDF("id"), t)
      assert(VersionedTable.snapshotAt(spark, t).files.size == n)
      // the scan plans from the log's file list: listing those paths again
      // is a Spark job once there are more than 32 of them
      assert(jobsOf(VersionedTable.read(spark, t)) == 0, s"$n files")
      assert(VersionedTable.read(spark, t).count() == n)
    }
  }

  test("one Scd2.mergeVersioned batch runs a pinned number of jobs") {
    val ts = (d: Int) => new Timestamp(d * 86400000L)
    val t = java.nio.file.Files.createTempDirectory("scd2_jobs").toFile.getAbsolutePath + "/dim"
    val dim0 = (1L to 6L).map(i =>
      (i, s"addr-$i", ts(1), null.asInstanceOf[Timestamp], true))
      .toDF("id", "addr", "valid_from", "valid_to", "is_current")
    VersionedTable.create(dim0.repartition(3, col("id")), t)
    // two changed keys, one unchanged repeat, two new keys
    val staged = Seq((1L, "addr-1b"), (2L, "addr-2b"), (3L, "addr-3"),
      (7L, "addr-7"), (8L, "addr-8")).toDF("id", "addr")
    var v: Option[Long] = None
    val jobs = jobFramesOf {
      v = graft.ops.Scd2.mergeVersioned(spark, t, staged, Seq("id"), Seq("addr"), lit(ts(2)),
        app = "silver", batch = 1L)
    }
    assert(v.isDefined)
    val current = VersionedTable.read(spark, t).filter(col("is_current"))
      .select("id", "addr").as[(Long, String)].collect().toMap
    assert(current == Map(1L -> "addr-1b", 2L -> "addr-2b", 3L -> "addr-3", 4L -> "addr-4",
      5L -> "addr-5", 6L -> "addr-6", 7L -> "addr-7", 8L -> "addr-8"))
    // three executions: the upsert checkpoint (the current versions'
    // broadcast, the shuffle counting rows per (key, valid_from), the
    // checkpoint itself), which also observes its row count, key ranges,
    // the most rows one key has and the files its expired rows replace;
    // the survivor write (the staged keys' broadcast, the write); the
    // staged write. A duplicate-key collect (2 jobs) or a matched-file
    // scan (5) would re-derive what the checkpoint already observed.
    assert(jobs.size == 6, s"mergeVersioned ran ${jobs.size} jobs:\n${jobs.mkString("\n")}")
    // an unchanged batch runs only the upsert checkpoint's jobs and
    // commits nothing
    val noop = jobFramesOf {
      v = graft.ops.Scd2.mergeVersioned(spark, t, Seq((4L, "addr-4")).toDF("id", "addr"),
        Seq("id"), Seq("addr"), lit(ts(3)), app = "silver", batch = 2L)
    }
    assert(v.isEmpty && noop.size == 2,
      s"no-op mergeVersioned ran ${noop.size} jobs:\n${noop.mkString("\n")}")
  }

  test("one decontaminateSink batch (two logs) runs a pinned number of jobs") {
    val dir = java.nio.file.Files.createTempDirectory("decon_jobs").toFile.getAbsolutePath
    val evalGrams = graft.streaming.Streams.evalGramSet(
      Seq((0L, "one two three four five six seven eight nine")).toDF("doc_id", "text"),
      "text").cache()
    val sink = graft.streaming.Streams.decontaminateSink(spark, s"$dir/state", evalGrams) _
    def batch(id: Long) = Seq((id, "one two three four five six seven eight nine tail"),
      (id + 1, "completely different words with no overlap at all here")).toDF("doc_id", "text")
    evalGrams.count()
    sink(batch(1L), 0L) // both logs exist from here on
    // the hit count and the two log writes, nothing else: skipping empty
    // writes behind clean/flagged emptiness checks cost this batch 11
    val jobs = jobsOf(sink(batch(3L), 1L))
    assert(jobs == 7, s"decontaminateSink ran $jobs jobs")
    assert(graft.streaming.Streams.readDecontaminated(spark, s"$dir/state").count() == 2L)
    evalGrams.unpersist()
  }

  test("one row-level DML call and one optimize(zorderBy) run pinned numbers of jobs") {
    val dir = java.nio.file.Files.createTempDirectory("dml_jobs").toFile.getAbsolutePath
    // 24 rows in 8 small files; a fresh table per call
    def fixture(name: String, changeFeed: Boolean): String = {
      val t = s"$dir/$name"
      VersionedTable.create((1L to 24L).map(i => (i, (i * 7L) % 24L, s"v$i"))
        .toDF("id", "score", "v").repartition(8, col("id")), t)
      if (changeFeed) VersionedTable.enableChangeFeed(spark, t)
      t
    }
    val hit = col("id") === 5L
    val set = Map("v" -> lit("x"))
    def dml(changeFeed: Boolean): Map[String, Int] = {
      val cdf = if (changeFeed) "+cdf" else ""
      def run(op: String)(call: String => Option[(Long, Long)]): (String, Int) = {
        val t = fixture(s"$op$cdf", changeFeed)
        var out: Option[(Long, Long)] = None
        val jobs = jobsOf { out = call(t) }
        assert(out.map(_._2).contains(1L), s"$op$cdf changed ${out.map(_._2)} rows")
        s"$op$cdf" -> jobs
      }
      Map(
        run("delete")(VersionedTable.delete(spark, _, hit)),
        run("deleteVectors")(VersionedTable.deleteVectors(spark, _, hit)),
        run("update")(VersionedTable.update(spark, _, hit, set)),
        run("updateVectors")(VersionedTable.updateVectors(spark, _, hit, set)))
    }
    val t = fixture("optimize", changeFeed = false)
    val bytes = VersionedTable.snapshotAt(spark, t).files.map(_.bytes).sum
    val optimizeJobs = jobsOf(assert(VersionedTable.optimize(spark, t,
      targetBytes = bytes / 2 + 1, zorderBy = Some(("id", "score"))).isDefined))
    assert(VersionedTable.snapshotAt(spark, t).files.size == 2)
    val got = dml(changeFeed = false) ++ dml(changeFeed = true) +
      ("optimize(zorderBy)" -> optimizeJobs)
    // the discovery scan, the rewrite or the deletion vector (plus a
    // post-image append), the change-data sidecar when the feed is on;
    // the discovery scan reads its file paths with no lookup join
    assert(got == Map("delete" -> 3, "delete+cdf" -> 4,
      "deleteVectors" -> 5, "deleteVectors+cdf" -> 6,
      "update" -> 3, "update+cdf" -> 5,
      "updateVectors" -> 6, "updateVectors+cdf" -> 7,
      "optimize(zorderBy)" -> 5), got.toSeq.sortBy(_._1).mkString(", "))
  }

  test("one MERGE INTO (equi ON, matched update plus not-matched insert) runs a pinned number of jobs") {
    val t = java.nio.file.Files.createTempDirectory("mergeinto_jobs").toFile.getAbsolutePath + "/t"
    // 24 rows in 8 small files; one source row updates id 5, one inserts id 99
    VersionedTable.create((1L to 24L).map(i => (i, s"v$i"))
      .toDF("id", "v").repartition(8, col("id")), t)
    val source = Seq((5L, "x"), (99L, "new")).toDF("id", "v")
    var m: graft.sources.MergeIntoBuilder.MergeMetrics = null
    val jobs = jobsOf {
      m = VersionedTable.mergeInto(spark, t, source, expr("t.id = s.id"), "t", "s")
        .whenMatchedUpdate(Map("v" -> col("s.v")))
        .whenNotMatchedInsertAll()
        .execute()
    }
    assert(m.committed && m.rowsUpdated == 1L && m.rowsInserted == 1L, m.toString)
    assert(VersionedTable.read(spark, t).count() == 25L)
    // the source checkpoint (its key ranges observed on the same job),
    // the match discovery, the checkpointed join and the one collect
    // that decides its rewrite, and the survivor, update and insert
    // writes; a separate key-range aggregation over the source would add
    // two jobs, and one collect per decision (multiple-match check,
    // per-action counts, rewrite files) five more, and a lookup join
    // from each scanned row's file URI to its logged path two
    assert(jobs == 18, s"MERGE INTO ran $jobs jobs")
  }
}
