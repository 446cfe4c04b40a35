package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.Runner

class RunnerSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("Runner drives full + incremental loads from config, audits, carries watermarks") {
    val dir = Files.createTempDirectory("runner").toFile.getAbsolutePath
    val cfg = s"$dir/load_config.csv"
    Files.write(java.nio.file.Paths.get(cfg),
      ("source_type,table_name,is_active,load_mode,watermark_column\n" +
        "sql,tx,1,incremental,ts\n" +
        "sql,dim,1,full,\n" +
        "sql,skipped,0,full,\n").getBytes)

    val tx1 = Seq((1L, ts("2024-01-01 10:00:00"), 10.0), (2L, ts("2024-01-02 10:00:00"), 20.0))
      .toDF("id", "ts", "amt")
    val dim = Seq((1L, "a"), (2L, "b")).toDF("id", "name")

    // run 1: everything loads in full (no prior watermark)
    val r1 = Runner.run(spark, cfg, s"$dir/out", s"$dir/audit", "run1",
      Map("tx" -> tx1, "dim" -> dim).apply)
    assert(r1.map(r => r.table -> r.status).toMap == Map("tx" -> "succeeded", "dim" -> "succeeded"))
    assert(r1.find(_.table == "tx").get.newWatermark.contains("2024-01-02 10:00:00.0"))
    assert(spark.read.parquet(s"$dir/out/tx").count() == 2)

    // run 2: tx has one new row past the watermark + one old row (ignored)
    val tx2 = tx1.union(Seq(
      (3L, ts("2024-01-03 10:00:00"), 30.0),
      (0L, ts("2023-12-01 10:00:00"), 5.0)).toDF("id", "ts", "amt"))
    val r2 = Runner.run(spark, cfg, s"$dir/out", s"$dir/audit", "run2",
      Map("tx" -> tx2, "dim" -> dim).apply)
    assert(r2.find(_.table == "tx").get.newWatermark.contains("2024-01-03 10:00:00.0"))
    assert(spark.read.parquet(s"$dir/out/tx").count() == 3) // appended only the new row
    assert(spark.read.parquet(s"$dir/out/dim").count() == 2) // full refresh

    // audit log: a `running` start row + a terminal row per (run, table)
    val audit = spark.read.parquet(s"$dir/audit")
    assert(audit.count() == 8)
    assert(audit.filter(col("status") === "succeeded").count() == 4)
    assert(audit.filter(col("status") === "running").count() == 4)
    // the status view prefers the terminal row of each completed load
    val latest = graft.meta.Audit.latestRuns(spark, s"$dir/audit")
    assert(latest.filter(col("status") =!= "succeeded").count() == 0)
  }

  test("Runner isolates per-table failures and audits them") {
    val dir = Files.createTempDirectory("runner2").toFile.getAbsolutePath
    val cfg = s"$dir/load_config.csv"
    Files.write(java.nio.file.Paths.get(cfg),
      ("source_type,table_name,is_active,load_mode,watermark_column\n" +
        "sql,good,1,full,\n" +
        "sql,bad,1,full,\n").getBytes)
    val good = Seq((1L, "x")).toDF("id", "v")
    val src: String => DataFrame = {
      case "good" => good
      case other  => throw new RuntimeException(s"source $other unavailable")
    }
    val res = Runner.run(spark, cfg, s"$dir/out", s"$dir/audit", "run1", src)
    assert(res.map(r => r.table -> r.status).toMap ==
      Map("good" -> "succeeded", "bad" -> "failed"))
    val audit = spark.read.parquet(s"$dir/audit")
    assert(audit.filter(col("status") === "failed").count() == 1)
    assert(spark.read.parquet(s"$dir/out/good").count() == 1)
  }

  test("Runner onFailure fires per failed table; a throwing callback keeps isolation") {
    val dir = Files.createTempDirectory("runner_cb").toFile.getAbsolutePath
    val cfg = s"$dir/load_config.csv"
    Files.write(java.nio.file.Paths.get(cfg),
      ("source_type,table_name,is_active,load_mode,watermark_column\n" +
        "sql,good,1,full,\n" +
        "sql,bad1,1,full,\n" +
        "sql,bad2,1,full,\n").getBytes)
    val good = Seq((1L, "x")).toDF("id", "v")
    val src: String => DataFrame = {
      case "good" => good
      case other  => throw new RuntimeException(s"source $other unavailable")
    }
    val fired = scala.collection.mutable.ArrayBuffer[String]()
    val res = Runner.run(spark, cfg, s"$dir/out", s"$dir/audit", "run1", src,
      onFailure = { r =>
        fired.synchronized { fired += r.table }
        // Alternate the two callback failure classes isolation must absorb:
        // a plain exception AND a LinkageError (fatal per NonFatal — the
        // mis-packaged-pager-client case the catch carves out explicitly).
        if (fired.size % 2 == 0) throw new NoClassDefFoundError("pager client")
        else throw new RuntimeException("pager is down")
      })
    // fired exactly for the failures — never for the success...
    assert(fired.sorted == Seq("bad1", "bad2"), s"callback fired for: $fired")
    // ...and the throwing callback broke neither isolation nor the audit.
    assert(res.map(r => r.table -> r.status).toMap ==
      Map("good" -> "succeeded", "bad1" -> "failed", "bad2" -> "failed"))
    assert(spark.read.parquet(s"$dir/audit")
      .filter(col("status") === "failed").count() == 2)
    assert(spark.read.parquet(s"$dir/out/good").count() == 1)
  }

  test("Runner.master onFailure fires for the failed stage only, not gated skips") {
    val dir = Files.createTempDirectory("runner_mcb").toFile.getAbsolutePath
    val fired = scala.collection.mutable.ArrayBuffer[String]()
    val res = Runner.master(spark, s"$dir/audit", "run1", Seq(
      Runner.Stage("ingest", _ => true),
      Runner.Stage("silver", _ => false),
      Runner.Stage("gold", _ => true)),
      onFailure = { st => fired += st.stage; throw new RuntimeException("boom") })
    assert(fired == Seq("silver"), s"one page per incident, got: $fired")
    assert(res.map(r => r.stage -> r.status) ==
      Seq("ingest" -> "succeeded", "silver" -> "failed", "gold" -> "skipped"))
  }

  test("Runner drives full + incremental loads over JDBC with watermark pushdown") {
    val dir = Files.createTempDirectory("runner_jdbc").toFile.getAbsolutePath
    val cfg = s"$dir/load_config.csv"
    // Derby reports uppercase identifiers; the config's watermark column
    // must match the JDBC schema's casing (schema lookup is case-sensitive).
    Files.write(java.nio.file.Paths.get(cfg),
      ("source_type,table_name,is_active,load_mode,watermark_column\n" +
        "sql,JTX,1,incremental,TS\n").getBytes)
    val url = "jdbc:derby:memory:runnerdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE jtx (id BIGINT, ts TIMESTAMP, amt DOUBLE)")
      st.execute("INSERT INTO jtx VALUES " +
        "(1, TIMESTAMP('2024-01-01 10:00:00'), 10.0)," +
        "(2, TIMESTAMP('2024-01-02 10:00:00'), 20.0)")

      val src = graft.sources.Sources.jdbcSource(spark, url)
      val r1 = Runner.run(spark, cfg, s"$dir/out", s"$dir/audit", "run1", src)
      assert(r1.head.status == "succeeded" && r1.head.rows == 2)
      assert(r1.head.newWatermark.contains("2024-01-02 10:00:00.0"))

      // new DB row past the watermark; run 2 must ship only that row
      st.execute("INSERT INTO jtx VALUES (3, TIMESTAMP('2024-01-03 10:00:00'), 30.0)")
      val r2 = Runner.run(spark, cfg, s"$dir/out", s"$dir/audit", "run2", src)
      assert(r2.head.rows == 1, s"incremental load shipped ${r2.head.rows} rows")
      assert(r2.head.newWatermark.contains("2024-01-03 10:00:00.0"))
      assert(spark.read.parquet(s"$dir/out/JTX").count() == 3)

      // the watermark window must execute IN the database, not post-transfer
      val windowed = graft.ops.Incremental.after(src("JTX"), col("TS"),
        lit("2024-01-02 10:00:00").cast("timestamp"))
      val plan = windowed.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(TS"), plan)
    } finally conn.close()
  }

  test("Runner re-bootstraps (not duplicates) an incremental table after audit loss") {
    val dir = Files.createTempDirectory("runner_boot").toFile.getAbsolutePath
    val cfg = s"$dir/load_config.csv"
    Files.write(java.nio.file.Paths.get(cfg),
      ("source_type,table_name,is_active,load_mode,watermark_column\n" +
        "sql,tx,1,incremental,ts\n").getBytes)
    val tx = Seq((1L, ts("2024-01-01 10:00:00"), 10.0), (2L, ts("2024-01-02 10:00:00"), 20.0))
      .toDF("id", "ts", "amt")
    Runner.run(spark, cfg, s"$dir/out", s"$dir/audit", "run1", Map("tx" -> tx).apply)
    assert(spark.read.parquet(s"$dir/out/tx").count() == 2)
    // audit log lost -> no watermark -> the next run is a BOOTSTRAP:
    // full atomic overwrite, not an appended duplicate copy
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/audit"))
    Runner.run(spark, cfg, s"$dir/out", s"$dir/audit", "run2", Map("tx" -> tx).apply)
    assert(spark.read.parquet(s"$dir/out/tx").count() == 2,
      "re-bootstrap duplicated the table")
  }

  test("Runner carries the last SUCCEEDED watermark past a failed run: no re-bootstrap") {
    val dir = Files.createTempDirectory("runner_failwm").toFile.getAbsolutePath
    val cfg = s"$dir/load_config.csv"
    Files.write(java.nio.file.Paths.get(cfg),
      ("source_type,table_name,is_active,load_mode,watermark_column\n" +
        "sql,tx,1,incremental,ts\n").getBytes)
    val tx1 = Seq((1L, ts("2024-01-01 10:00:00"), 10.0), (2L, ts("2024-01-02 10:00:00"), 20.0))
      .toDF("id", "ts", "amt")
    val r1 = Runner.run(spark, cfg, s"$dir/out", s"$dir/audit", "run1", Map("tx" -> tx1).apply)
    assert(r1.map(_.status) == Seq("succeeded"))
    // run 2: the source is down; the load fails and is audited `failed`
    val r2 = Runner.run(spark, cfg, s"$dir/out", s"$dir/audit", "run2",
      _ => sys.error("source unreachable"))
    assert(r2.map(_.status) == Seq("failed"))
    // run 3: the source now keeps only rows newer than run 1's watermark.
    // A lost watermark would re-bootstrap and overwrite bronze with them.
    val tx3 = Seq((3L, ts("2024-01-03 10:00:00"), 30.0)).toDF("id", "ts", "amt")
    val r3 = Runner.run(spark, cfg, s"$dir/out", s"$dir/audit", "run3", Map("tx" -> tx3).apply)
    assert(r3.map(r => (r.status, r.rows)) == Seq(("succeeded", 1L)))
    assert(r3.head.newWatermark.contains("2024-01-03 10:00:00.0"))
    assert(spark.read.parquet(s"$dir/out/tx").select("id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 3L), "run 3 must append to run 1's rows, not replace them")
  }

  test("Runner keys watermarks by (source_system, table): two banks, same table name") {
    val dir = Files.createTempDirectory("runner_banks").toFile.getAbsolutePath
    val cfg = s"$dir/load_config.csv"
    Files.write(java.nio.file.Paths.get(cfg),
      ("source_type,source_system,table_name,is_active,load_mode,watermark_column\n" +
        "sql,bank_a,orders,1,incremental,ts\n" +
        "sql,bank_b,orders,1,incremental,ts\n").getBytes)
    // bank_a is ahead of bank_b: its watermark after run 1 is Jan 05,
    // bank_b's is Jan 02. A collided (table-name-only) watermark would
    // make bank_b's Jan 03 row in run 2 look already-loaded.
    val aDay1 = Seq((1L, ts("2024-01-05 10:00:00"), 1.0)).toDF("id", "ts", "amt")
    val bDay1 = Seq((2L, ts("2024-01-02 10:00:00"), 2.0)).toDF("id", "ts", "amt")
    val r1 = Runner.run(spark, cfg, s"$dir/out", s"$dir/audit", "run1",
      Map("bank_a.orders" -> aDay1, "bank_b.orders" -> bDay1).apply)
    assert(r1.find(_.table == "bank_a.orders").get.newWatermark.contains("2024-01-05 10:00:00.0"))
    assert(r1.find(_.table == "bank_b.orders").get.newWatermark.contains("2024-01-02 10:00:00.0"))

    val bDay2 = bDay1.union(Seq((3L, ts("2024-01-03 10:00:00"), 3.0)).toDF("id", "ts", "amt"))
    val r2 = Runner.run(spark, cfg, s"$dir/out", s"$dir/audit", "run2",
      Map("bank_a.orders" -> aDay1, "bank_b.orders" -> bDay2).apply)
    assert(r2.find(_.table == "bank_b.orders").get.rows == 1,
      "bank_b's Jan 03 row sits behind bank_a's watermark — it must still load")
    assert(spark.read.parquet(s"$dir/out/bank_b.orders").count() == 2)
    assert(spark.read.parquet(s"$dir/out/bank_a.orders").count() == 1)
    val audit = spark.read.parquet(s"$dir/audit")
    // 2 runs × (running + succeeded) rows
    assert(audit.filter(col("source_system") === "bank_b").count() == 4)
  }

  test("Runner dispatches tables concurrently with per-table failure isolation") {
    val dir = Files.createTempDirectory("runner_par").toFile.getAbsolutePath
    val cfg = s"$dir/load_config.csv"
    Files.write(java.nio.file.Paths.get(cfg),
      ("source_type,table_name,is_active,load_mode,watermark_column\n" +
        "sql,t1,1,full,\n" +
        "sql,t2,1,full,\n" +
        "sql,boom,1,full,\n").getBytes)
    val data = Seq((1L, "x")).toDF("id", "v")
    // Interleaving proof: each good table's source blocks until BOTH good
    // sources have been entered — only concurrent dispatch releases the
    // latch; sequential dispatch times out and fails the run.
    val latch = new java.util.concurrent.CountDownLatch(2)
    val src: String => DataFrame = {
      case "boom" => throw new RuntimeException("source down")
      case _ =>
        latch.countDown()
        assert(latch.await(30, java.util.concurrent.TimeUnit.SECONDS),
          "table loads did not overlap — dispatch is not concurrent")
        data
    }
    val res = Runner.run(spark, cfg, s"$dir/out", s"$dir/audit", "run1", src)
    assert(res.map(r => r.table -> r.status).toMap ==
      Map("t1" -> "succeeded", "t2" -> "succeeded", "boom" -> "failed"))
    assert(spark.read.parquet(s"$dir/out/t1").count() == 1)
    assert(spark.read.parquet(s"$dir/out/t2").count() == 1)
    val audit = spark.read.parquet(s"$dir/audit")
    assert(audit.count() == 6 && audit.filter(col("status") === "failed").count() == 1)
  }

  test("Runner: a load killed mid-write leaves a crash-visible running row") {
    val dir = Files.createTempDirectory("runner_crash").toFile.getAbsolutePath
    val cfg = s"$dir/load_config.csv"
    Files.write(java.nio.file.Paths.get(cfg),
      ("source_type,table_name,is_active,load_mode,watermark_column\n" +
        "sql,tx,1,incremental,ts\n").getBytes)
    val tx1 = Seq((1L, ts("2024-01-01 10:00:00"), 10.0), (2L, ts("2024-01-02 10:00:00"), 20.0))
      .toDF("id", "ts", "amt")
    Runner.run(spark, cfg, s"$dir/out", s"$dir/audit", "run1", Map("tx" -> tx1).apply)

    // run 2 "dies" mid-load: a fatal Error (not Exception) rips through the
    // load after the start row is written — the same audit trace a SIGKILL
    // leaves. The output must be untouched and the running row visible.
    intercept[AssertionError] {
      Runner.run(spark, cfg, s"$dir/out", s"$dir/audit", "run2",
        Map("tx" -> tx1).apply,
        transform = Map("tx" -> { _: DataFrame => throw new AssertionError("killed") }))
    }
    val latest = graft.meta.Audit.latestRuns(spark, s"$dir/audit")
      .filter(col("source_object") === "tx").collect()
    assert(latest.length == 1 && latest(0).getAs[String]("status") == "running",
      "a killed load must read as `running`, not vanish")

    // run 3: watermark carry-forward reads THROUGH the running row to the
    // last succeeded watermark — incremental append, not a re-bootstrap
    val tx3 = tx1.union(Seq((3L, ts("2024-01-03 10:00:00"), 30.0)).toDF("id", "ts", "amt"))
    val r3 = Runner.run(spark, cfg, s"$dir/out", s"$dir/audit", "run3", Map("tx" -> tx3).apply)
    assert(r3.head.rows == 1, s"expected the one post-watermark row, got ${r3.head.rows}")
    assert(spark.read.parquet(s"$dir/out/tx").count() == 3)
  }

  test("Runner.master gates later stages on a failed stage") {
    val dir = Files.createTempDirectory("runner_master").toFile.getAbsolutePath
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    def stage(name: String, ok: Boolean) = Runner.Stage(name, { _ => ran += name; ok })

    // green path: all three stages run, in order
    val green = Runner.master(spark, s"$dir/audit", "m1",
      Seq(stage("ingestion", true), stage("silver", true), stage("gold", true)))
    assert(green.map(r => r.stage -> r.status) ==
      Seq("ingestion" -> "succeeded", "silver" -> "succeeded", "gold" -> "succeeded"))
    assert(ran.toSeq == Seq("ingestion", "silver", "gold"))

    // failing ingestion gates silver AND gold — neither body runs
    ran.clear()
    val red = Runner.master(spark, s"$dir/audit", "m2",
      Seq(stage("ingestion", false), stage("silver", true), stage("gold", true)))
    assert(red.map(r => r.stage -> r.status) ==
      Seq("ingestion" -> "failed", "silver" -> "skipped", "gold" -> "skipped"))
    assert(ran.toSeq == Seq("ingestion"), "a gated stage body must not execute")

    // a throwing stage body is a failure, not a crash of the master loop
    val boom = Runner.master(spark, s"$dir/audit", "m3",
      Seq(Runner.Stage("ingestion", _ => throw new RuntimeException("down")),
        stage("silver", true)))
    assert(boom.map(_.status) == Seq("failed", "skipped"))

    // per-stage audit rows under the `master` system key
    val audit = spark.read.parquet(s"$dir/audit").filter(col("source_system") === "master")
    assert(audit.filter(col("run_id") === "m1" && col("status") === "succeeded").count() == 3)
    assert(audit.filter(col("run_id") === "m2" && col("status") === "skipped").count() == 2)
    val m2Latest = graft.meta.Audit.latestRuns(spark, s"$dir/audit")
      .filter(col("source_system") === "master" && col("source_object") === "ingestion")
    // m3's failed ingestion is the latest word on that stage
    assert(m2Latest.collect()(0).getAs[String]("status") == "failed")
  }

  test("Runner fails loudly on a corrupt audit log instead of re-bootstrapping") {
    val dir = Files.createTempDirectory("runner_corrupt").toFile.getAbsolutePath
    val cfg = s"$dir/load_config.csv"
    Files.write(java.nio.file.Paths.get(cfg),
      ("source_type,table_name,is_active,load_mode,watermark_column\n" +
        "sql,tx,1,incremental,ts\n").getBytes)
    // an audit "log" that exists but is not parquet: answering "no
    // watermarks" to this would silently full-overwrite every
    // incremental table and mask the corruption
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/audit"))
    Files.write(java.nio.file.Paths.get(s"$dir/audit/garbage.bin"),
      "not parquet at all".getBytes)
    val tx = Seq((1L, ts("2024-01-01 10:00:00"), 10.0)).toDF("id", "ts", "amt")
    intercept[Exception] {
      Runner.run(spark, cfg, s"$dir/out", s"$dir/audit", "run1", Map("tx" -> tx).apply)
    }
    assert(!new java.io.File(s"$dir/out/tx").exists(),
      "no load may run off a corrupt audit log")
  }

  test("Runner.master drives the full staged flow: ingest -> silver -> gold") {
    val dir = Files.createTempDirectory("runner_e2e").toFile.getAbsolutePath
    val cfg = s"$dir/load_config.csv"
    Files.write(java.nio.file.Paths.get(cfg),
      ("source_type,table_name,is_active,load_mode,watermark_column\n" +
        "sql,tx,1,full,\n").getBytes)
    val tx = Seq(
      (1L, ts("2024-01-01 10:00:00"), 10.0),
      (1L, ts("2024-01-02 10:00:00"), 12.0),  // later version of key 1
      (2L, ts("2024-01-01 11:00:00"), -5.0)). // quarantined (negative)
      toDF("id", "ts", "amt")
    val res = Runner.master(spark, s"$dir/audit", "m1", Seq(
      Runner.Stage("ingestion", s =>
        Runner.run(s, cfg, s"$dir/bronze", s"$dir/audit", "m1", Map("tx" -> tx).apply)
          .forall(_.status == "succeeded")),
      Runner.Stage("silver", { s =>
        val silver = graft.pipeline.Medallion.silver(
          Seq(s.read.parquet(s"$dir/bronze/tx")),
          cdm = identity,
          rules = Seq(graft.ops.Quality.Rule("neg_amt", col("amt") < 0)),
          keys = Seq("id"), recency = Seq(col("ts").desc))
        graft.sources.Sinks.overwriteAtomic(silver, s"$dir/silver/tx"); true
      }),
      Runner.Stage("gold", { s =>
        val gold = s.read.parquet(s"$dir/silver/tx")
          .filter(!col("is_quarantined"))
          .agg(count(lit(1)).as("n"), sum(col("amt")).as("total"))
        graft.sources.Sinks.overwriteAtomic(gold, s"$dir/gold/tx_summary"); true
      })))
    assert(res.map(_.status) == Seq("succeeded", "succeeded", "succeeded"), res)
    // silver deduped key 1 to its latest version; gold excludes quarantine
    val gold = spark.read.parquet(s"$dir/gold/tx_summary")
      .as[(Long, Double)].collect().head
    assert(gold == ((1L, 12.0)), s"gold summary wrong: $gold")
    // one audit trail carries the table load AND the three stage records
    val audit = spark.read.parquet(s"$dir/audit")
    assert(audit.filter(col("source_system") === "master").count() == 6) // 3×(running+terminal)
    assert(audit.filter(col("source_object") === "tx" &&
      col("status") === "succeeded").count() == 1)
  }

  test("Medallion.runVersioned: two micro-batches through versioned silver " +
      "and gold — row-level merges, exactly-once gold hop, replay no-ops (r18)") {
    val dir = Files.createTempDirectory("medallion_vt").toFile.getAbsolutePath
    val VT = graft.sources.VersionedTable
    val silverT = s"$dir/silver_tx"
    val goldT = s"$dir/gold_tx"
    // ensure-table DDL: silver dim schema, gold summary schema
    VT.create(Seq((0L, 0.0, ts("2024-01-01 00:00:00"),
        null.asInstanceOf[java.sql.Timestamp], true))
      .toDF("id", "amt", "valid_from", "valid_to", "is_current")
      .filter(lit(false)), silverT)
    VT.create(Seq((0L, 0.0)).toDF("id", "cur_amt").filter(lit(false)), goldT)
    def runBatch(src: DataFrame, batch: Long, asOfDay: String) =
      graft.pipeline.Medallion.runVersioned(spark,
        sources = Seq(src), cdm = identity,
        rules = Seq(graft.ops.Quality.Rule("neg_amt", col("amt") < 0)),
        keys = Seq("id"), recency = Seq(col("ts").desc), attrs = Seq("amt"),
        silverTable = silverT, goldTable = goldT,
        goldTransform = df => df.filter(col("is_current"))
          .select(col("id"), col("amt").as("cur_amt")),
        asOf = lit(ts(asOfDay)), app = "med", batch = batch)
    val b0 = Seq(
      (1L, ts("2024-01-01 10:00:00"), 10.0),
      (2L, ts("2024-01-01 11:00:00"), -5.0)). // quarantined, never lands
      toDF("id", "ts", "amt")
    val (sv0, gv0) = runBatch(b0, 0L, "2024-01-01 12:00:00")
    assert(sv0.isDefined && gv0.isDefined)
    // batch 1 changes key 1; replay of batch 1 must commit nothing anywhere
    val b1 = Seq((1L, ts("2024-01-02 10:00:00"), 12.0)).toDF("id", "ts", "amt")
    val (sv1, gv1) = runBatch(b1, 1L, "2024-01-02 12:00:00")
    assert(sv1.isDefined && gv1.isDefined)
    val vAfter = VT.latestVersion(spark, silverT)
    val (svR, gvR) = runBatch(b1, 1L, "2024-01-02 12:00:00")
    assert(svR.isEmpty && gvR.isEmpty, "replay must be a total no-op")
    assert(VT.latestVersion(spark, silverT) == vAfter)
    // silver carries the SCD2 history row-level; quarantine never entered
    val silver = VT.read(spark, silverT)
    assert(silver.filter(col("id") === 2L).count() == 0)
    assert(silver.filter(col("id") === 1L && !col("is_current"))
      .head().getAs[Double]("amt") == 10.0)
    // gold consumed each silver commit exactly once — EXACT row
    // accounting (dataChange semantics: a merge hop serves exactly the
    // staged upsert, never the survivor rewrites): hop 1 = the bootstrap
    // current row (10.0), hop 2 = the new current version (12.0)
    val gold = VT.read(spark, goldT).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(gold == Seq((1L, 10.0), (1L, 12.0)), gold.toString)
    // time travel below the change still serves amt=10 as current
    assert(VT.readVersion(spark, silverT, sv0.get)
      .filter(col("is_current")).head().getAs[Double]("amt") == 10.0)
  }

  test("Medallion.runVersionedCdf: the gold hop SURVIVES a GDPR delete to " +
      "silver — signed deltas stay recompute-equal (r19, i29)") {
    val dir = Files.createTempDirectory("medallion_cdf").toFile.getAbsolutePath
    val VT = graft.sources.VersionedTable
    val CT = VT.ChangeTypeCol
    val silverT = s"$dir/silver_tx"
    val goldT = s"$dir/gold_tx"
    VT.create(Seq((0L, 0.0, ts("2024-01-01 00:00:00"),
        null.asInstanceOf[java.sql.Timestamp], true))
      .toDF("id", "amt", "valid_from", "valid_to", "is_current")
      .filter(lit(false)), silverT, changeFeed = true)
    VT.create(Seq((0L, 0.0)).toDF("id", "delta").filter(lit(false)), goldT)
    // signed-delta gold: +amt when a CURRENT row state appears, -amt when
    // one disappears; historical states contribute nothing
    def runBatch(src: DataFrame, batch: Long, asOfDay: String) =
      graft.pipeline.Medallion.runVersionedCdf(spark,
        sources = Seq(src), cdm = identity,
        rules = Seq(graft.ops.Quality.Rule("neg_amt", col("amt") < 0)),
        keys = Seq("id"), recency = Seq(col("ts").desc), attrs = Seq("amt"),
        silverTable = silverT, goldTable = goldT,
        goldTransform = df => df.filter(col("is_current"))
          .select(col("id"),
            (col("amt") * when(col(CT).isin("insert", "update_postimage"), 1.0)
              .otherwise(-1.0)).as("delta")),
        asOf = lit(ts(asOfDay)), app = "medcdf", batch = batch)
    def goldView(): Map[Long, Double] =
      VT.read(spark, goldT).groupBy("id").agg(sum("delta").as("s"))
        .filter(col("s") =!= 0.0)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def silverCurrent(): Map[Long, Double] =
      VT.read(spark, silverT).filter(col("is_current"))
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("amt")).toMap

    val b0 = Seq((1L, ts("2024-01-01 10:00:00"), 10.0),
      (2L, ts("2024-01-01 11:00:00"), 20.0)).toDF("id", "ts", "amt")
    assert(runBatch(b0, 0L, "2024-01-01 12:00:00")._2.isDefined)
    assert(goldView() == silverCurrent())
    val b1 = Seq((1L, ts("2024-01-02 10:00:00"), 12.0)).toDF("id", "ts", "amt")
    assert(runBatch(b1, 1L, "2024-01-02 12:00:00")._2.isDefined)
    assert(goldView() == silverCurrent())

    // GDPR: erase key 1 from silver ENTIRELY — runVersioned's append-only
    // hop dies named here; the CDF hop must keep flowing
    assert(VT.delete(spark, silverT, col("id") === 1L).isDefined)
    val b2 = Seq((3L, ts("2024-01-03 10:00:00"), 7.0)).toDF("id", "ts", "amt")
    val (sv2, gv2) = runBatch(b2, 2L, "2024-01-03 12:00:00")
    assert(sv2.isDefined && gv2.isDefined,
      "the CDF gold hop must survive the delete")
    assert(goldView() == silverCurrent(),
      s"gold ${goldView()} diverged from silver ${silverCurrent()}")
    assert(!goldView().contains(1L), "the erased key must leave the gold view")
    // replay of batch 2 is a total no-op
    assert(runBatch(b2, 2L, "2024-01-03 12:00:00")._1.isEmpty)
    assert(goldView() == silverCurrent())
  }

  test("Runner retries transient source failures up to maxAttempts") {
    val dir = Files.createTempDirectory("runner3").toFile.getAbsolutePath
    val cfg = s"$dir/load_config.csv"
    Files.write(java.nio.file.Paths.get(cfg),
      ("source_type,table_name,is_active,load_mode,watermark_column\n" +
        "sql,flaky,1,full,\n").getBytes)
    val flaky = Seq((1L, "x")).toDF("id", "v")
    var calls = 0
    val src: String => DataFrame = { _ =>
      calls += 1
      if (calls < 3) throw new RuntimeException("transient") else flaky
    }
    val res = Runner.run(spark, cfg, s"$dir/out", s"$dir/audit", "run1", src,
      maxAttempts = 3)
    assert(res.head.status == "succeeded" && calls == 3)
  }
}
