package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{Sinks, Sources, VersionedTable}

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  test("csv reader honors an explicit schema (no inference scan)") {
    val dir = tmp("csv")
    Files.write(java.nio.file.Paths.get(s"$dir/data.csv"),
      "id,amt\n1,1.5\n2,2.5\n".getBytes)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("amt", DoubleType)))
    val df = Sources.csv(spark, s"$dir/data.csv", Some(schema))
    assert(df.schema == schema)
    assert(df.as[(Long, Double)].collect().sorted.toSeq == Seq((1L, 1.5), (2L, 2.5)))
  }

  test("orc round-trips and pushes filters to the scan") {
    val dir = tmp("orc")
    (1L to 100L).map(i => (i, i * 2.0)).toDF("id", "v").write.orc(s"$dir/t")
    val back = Sources.orc(spark, s"$dir/t").filter(col("id") > 90)
    assert(back.count() == 10)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(id,90"), plan)
  }

  test("readEvolved: additive evolution reads, drift fails loudly with the column named") {
    val dir = tmp("evolve")
    // v1 files (id, v) then v2 files (id, v, extra) — the long-lived-table shape.
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/t")
    Seq((3L, "c", 1.5)).toDF("id", "v", "extra").write.mode("append").parquet(s"$dir/t")
    val v2 = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("v", StringType), StructField("extra", DoubleType)))
    // Contract = newest schema: older rows read with null extra.
    val got = Sources.readEvolved(spark, s"$dir/t", v2)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v", "extra"))
    assert(got.count() == 3 && got.filter(col("extra").isNull).count() == 2)
    // Contract = old schema: the new upstream column drops silently by
    // default, or fails when the caller wants to NOTICE it.
    val v1 = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    assert(Sources.readEvolved(spark, s"$dir/t", v1).schema.fieldNames.toSeq == Seq("id", "v"))
    val newCol = intercept[IllegalStateException](
      Sources.readEvolved(spark, s"$dir/t", v1, failOnNewColumns = true))
    assert(newCol.getMessage.contains("extra"))
    // A nullable contract column no file carries yet backfills as nulls...
    val v3 = v2.add(StructField("later", LongType, nullable = true))
    assert(Sources.readEvolved(spark, s"$dir/t", v3)
      .filter(col("later").isNull).count() == 3)
    // ...but a required absent column, and a type change, fail loudly.
    intercept[IllegalStateException](Sources.readEvolved(spark, s"$dir/t",
      v2.add(StructField("must", LongType, nullable = false))))
    val typed = intercept[IllegalStateException](Sources.readEvolved(spark, s"$dir/t",
      StructType(Seq(StructField("id", LongType), StructField("v", DoubleType)))))
    assert(typed.getMessage.contains("v:") && typed.getMessage.contains("double"))
  }

  test("compact folds small files into the target count atomically") {
    // compaction is one optimize commit on the versioned table
    val path = s"${tmp("compact")}/t"
    VersionedTable.create((1L to 1000L).map(i => (i, s"row$i")).toDF("id", "v")
      .repartition(40), path)
    val before = VersionedTable.snapshotAt(spark, path).files.size
    assert(before >= 40, s"fixture should start fragmented, had $before files")
    assert(VersionedTable.optimize(spark, path, targetBytes = 1L << 30).isDefined)
    val after = VersionedTable.snapshotAt(spark, path).files.size
    assert(after == 1, s"one target-sized file expected, got $after")
    val back = VersionedTable.read(spark, path)
    assert(back.count() == 1000 && back.agg(sum(col("id"))).head().getLong(0) == 500500L)
    // the fragmented version still reads: nothing was rewritten in place
    assert(VersionedTable.readVersion(spark, path, 0).count() == 1000)
  }

  /** `data` as a versioned table of 64 small files, compacted into 16 by
    * `optimize(zorderBy = (x, y))` — the one z-order writer.
    */
  private def zordered(data: org.apache.spark.sql.DataFrame, t: String): String = {
    VersionedTable.create(data.repartition(64), t)
    val bytes = VersionedTable.snapshotAt(spark, t).files.map(_.bytes).sum
    assert(VersionedTable.optimize(spark, t, targetBytes = bytes / 16 + 1,
      zorderBy = Some(("x", "y"))).isDefined)
    assert(VersionedTable.snapshotAt(spark, t).files.size == 16)
    t
  }

  /** Files a predicate cannot rule out by the log's per-file stats. */
  private def filesTouched(t: String, pred: org.apache.spark.sql.Column): Int =
    VersionedTable.survivingFiles(spark, t, pred).size

  test("zorderWrite clusters both dimensions: thin slabs touch ~sqrt files, not all") {
    val dir = tmp("zorder")
    // 256×256 uniform grid, 16 files → each z-ordered file should cover a
    // ~64×64 REGION; a thin slab in either dimension then crosses ~4
    // region files, while a single-column sort is perfect on its own
    // column and touches EVERY file for the other.
    val data = spark.range(1L << 16).select(
      (col("id") % 256).as("x"), (col("id") / 256).as("y"))
    val z = zordered(data, s"$dir/z")
    VersionedTable.create(data.repartitionByRange(16, col("x")).sortWithinPartitions("x"),
      s"$dir/xsort")
    val xSlab = col("x") >= 100 && col("x") < 105
    val ySlab = col("y") >= 100 && col("y") < 105
    assert(filesTouched(s"$dir/xsort", xSlab) <= 2) // perfect on its sort column
    assert(filesTouched(s"$dir/xsort", ySlab) == 16) // blind on the other
    val (zx, zy) = (filesTouched(z, xSlab), filesTouched(z, ySlab))
    assert(zx <= 8 && zy <= 8, s"z-order locality too weak: x-slab=$zx y-slab=$zy of 16")
    // layout move only — the data itself is intact
    assert(VersionedTable.read(spark, z).count() == (1L << 16))
    assert(VersionedTable.read(spark, z).agg(sum(col("x"))).head().getLong(0) ==
      data.agg(sum(col("x"))).head().getLong(0))
  }

  test("zorderWriteRanked holds the pruning bound on zipf-skewed data where linear binning fails") {
    val dir = tmp("zorder-rank")
    // Zipf-ish x: 256 distinct values v(k)=1e6/k — half the distinct
    // values (and half the ROWS) live below ~78e3, i.e. inside 0.4% of the
    // value range. Linear binning maps that entire dense mass to one or two
    // buckets, so the curve cannot separate it and a selective predicate
    // there degenerates to most files (it failed this bound). Rank bins
    // are equi-DEPTH, so the same predicate covers ~2% of rank space and
    // locality survives.
    val data = spark.range(1L << 16).select(
      floor(lit(1000000.0) / ((col("id") % 256) + 1)).cast("double").as("x"),
      (col("id") / 256).cast("double").as("y"))
    val z = zordered(data, s"$dir/zr")
    // thin slab in the DENSE region: k in (100..105] ≈ 2% of rows
    val denseSlab = col("x") >= 1000000.0 / 105 && col("x") < 1000000.0 / 100
    // thin slab in the uniform dimension
    val ySlab = col("y") >= 100 && col("y") < 105
    val (rx, ry) = (filesTouched(z, denseSlab), filesTouched(z, ySlab))
    assert(rx <= 8 && ry <= 8,
      s"rank-binned locality too weak on zipf data: dense-slab=$rx y-slab=$ry of 16")
    // layout move only — the data itself is intact
    assert(VersionedTable.read(spark, z).count() == (1L << 16))
    assert(VersionedTable.read(spark, z).agg(sum(col("x"))).head().getDouble(0) ==
      data.agg(sum(col("x"))).head().getDouble(0))
  }

  test("zorderValue interleaves bits and rejects bad knobs") {
    // Morton property on exact small values: a's bits at even positions,
    // b's at odd — z(1,0)=1, z(0,1)=2, z(3,3)=15.
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 3L), (255L, 0L), (0L, 255L))
      .toDF("a", "b")
    val z = VersionedTable.interleaveBits(col("a"), col("b"), bits = 8)
    val m = df.select(col("a"), col("b"), z.as("z"))
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(m((0L, 0L)) == 0L)
    assert(m((1L, 0L)) == 1L)   // a's bit 0 → position 0
    assert(m((0L, 1L)) == 2L)   // b's bit 0 → position 1
    assert(m((3L, 3L)) == 15L)  // both low bit-pairs set
    assert(m((255L, 0L)) == 0x5555L) // a fills even positions
    assert(m((0L, 255L)) == 0xAAAAL) // b fills odd positions
    intercept[IllegalArgumentException](
      VersionedTable.interleaveBits(col("a"), col("b"), bits = 40))
    // a z-column with nothing to bin on (all-null, or one value) falls
    // back to the plain compaction instead of failing
    val t = s"${tmp("zorder-degenerate")}/t"
    VersionedTable.create((1L to 40L).map(i => (i, 7L)).toDF("a", "b")
      .withColumn("n", lit(null).cast("double")).repartition(4), t)
    assert(VersionedTable.optimize(spark, t, zorderBy = Some(("a", "n"))).isDefined)
    assert(VersionedTable.optimize(spark, t, zorderBy = Some(("a", "b"))).isEmpty)
    VersionedTable.append((41L to 80L).map(i => (i, 7L)).toDF("a", "b")
      .withColumn("n", lit(null).cast("double")).repartition(4), t)
    assert(VersionedTable.optimize(spark, t, zorderBy = Some(("a", "b"))).isDefined)
    assert(VersionedTable.read(spark, t).agg(sum(col("a"))).head().getLong(0) == 3240L)
  }

  test("only VersionedTable writes a z-order: no other main source names _graft_z " +
      "or builds a Morton interleave") {
    val src = new java.io.File("src/main")
    assert(src.isDirectory, s"run from the project root (cwd ${new java.io.File(".").getAbsolutePath})")
    // the working column, and the interleave's fold step (a shifted bit
    // OR-ed into the accumulating curve value)
    val zorder = """_graft_z|interleaveBits|bitwiseOR\(\s*shiftleft""".r
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val writers = files(src).filter { f =>
      zorder.findFirstIn(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).isDefined
    }.map(_.getPath.replace('\\', '/')).sorted
    assert(writers == Seq("src/main/scala/graft/sources/VersionedTable.scala"))
  }

  test("only VersionedTable writes a commit: no other main source names a log-line " +
      "builder or the commit loop") {
    val src = new java.io.File("src/main")
    assert(src.isDirectory, s"run from the project root (cwd ${new java.io.File(".").getAbsolutePath})")
    val commitInternals = """\b(addLine|removeLine|cdcLine|txnLine|commitLoop)\b""".r
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val writers = files(src).filter { f =>
      commitInternals.findFirstIn(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).isDefined
    }.map(_.getPath.replace('\\', '/')).sorted
    assert(writers == Seq("src/main/scala/graft/sources/VersionedTable.scala"))
  }

  test("dynamicOverwrite replaces only the partitions present in the batch") {
    val t = s"${tmp("dynpart")}/t"
    val day1 = Seq(("2024-01-01", 1L), ("2024-01-02", 2L)).toDF("dt", "v")
    VersionedTable.create(day1, t, partitionBy = Seq("dt"))
    // restate only 01-02; 01-01 must survive
    val restate = Seq(("2024-01-02", 99L)).toDF("dt", "v")
    VersionedTable.overwritePartitions(restate, t)
    val out = VersionedTable.read(spark, t).select("dt", "v")
      .as[(String, Long)].collect().sorted.toSeq
    assert(out == Seq(("2024-01-01", 1L), ("2024-01-02", 99L)))
  }

  // Embedded Derby (ships with Spark's jars) stands in for the reference's
  // SQL-database sources — same JDBC surface, zero egress.
  private def derby(db: String): String = {
    val url = s"jdbc:derby:memory:$db;create=true"
    java.sql.DriverManager.getConnection(url).close()
    url
  }

  test("jdbc reader pulls a table and pushes filters into the database query") {
    val url = derby("srcdb")
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE tx (id BIGINT, ts TIMESTAMP, amt DOUBLE)")
      st.execute("INSERT INTO tx VALUES " +
        "(1, TIMESTAMP('2024-01-01 10:00:00'), 10.0)," +
        "(2, TIMESTAMP('2024-01-02 10:00:00'), 20.0)," +
        "(3, TIMESTAMP('2024-01-03 10:00:00'), 30.0)")
    } finally conn.close()
    val df = Sources.jdbc(spark, url, "tx")
      .filter(col("ts") > lit("2024-01-01 12:00:00").cast("timestamp"))
    assert(df.count() == 2)
    // the watermark predicate must reach the DB, not filter post-transfer
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(TS"), plan)
  }

  test("jdbc partitioned read splits the table across parallel cursors") {
    val url = derby("pardb")
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE big (id BIGINT, v DOUBLE)")
      (1 to 100).grouped(20).foreach { g =>
        st.execute("INSERT INTO big VALUES " +
          g.map(i => s"($i, ${i * 1.5})").mkString(","))
      }
    } finally conn.close()
    val df = Sources.jdbc(spark, url, "big", partitioning = Some(("id", 1L, 101L, 4)))
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == 100)
    assert(df.agg(sum("v")).head.getDouble(0) == (1 to 100).map(_ * 1.5).sum)
  }

  test("ApiExtract parses FX payloads, lands bronze, and serves latest rates") {
    import graft.sources.ApiExtract
    val dir = tmp("fx")
    val payloads = Seq(
      """{"base":"EUR","as_of":"2024-01-04","rates":{"USD":1.08,"GBP":0.85}}""",
      """{"base":"EUR","as_of":"2024-01-05","rates":{"USD":1.09,"GBP":0.86,"JPY":158.2}}""",
      """not json at all""")
    val written = ApiExtract.landFx(spark, payloads, s"$dir/bronze")
    assert(written == 5) // 2 + 3 rates; malformed snapshot skipped
    val latest = ApiExtract.latestRates(spark.read.parquet(s"$dir/bronze"))
      .select("currency", "rate").as[(String, Double)].collect().toMap
    assert(latest == Map("USD" -> 1.09, "GBP" -> 0.86, "JPY" -> 158.2))
    // a second run appends; latest view is unchanged by older snapshots
    ApiExtract.landFx(spark,
      Seq("""{"base":"EUR","as_of":"2024-01-03","rates":{"USD":1.01}}"""), s"$dir/bronze")
    val latest2 = ApiExtract.latestRates(spark.read.parquet(s"$dir/bronze"))
      .filter(col("currency") === "USD").select("rate").as[Double].head()
    assert(latest2 == 1.09)
  }

  test("ApiExtract.fetchWithRetry: transient failures retry with backoff, hangs time out") {
    import graft.sources.ApiExtract
    // Succeeds on attempt 3; sleeps recorded, not slept (injectable clock).
    var calls = 0
    val slept = scala.collection.mutable.ArrayBuffer[Long]()
    val got = ApiExtract.fetchWithRetry(
      () => { calls += 1; if (calls < 3) throw new RuntimeException("503") else "body" },
      maxAttempts = 3, backoffMs = 100, sleep = slept += _)
    assert(got == "body" && calls == 3)
    assert(slept.toSeq == Seq(100L, 200L), s"backoff must double: $slept")
    // Exhausted attempts carry the LAST cause out.
    val failed = intercept[ApiExtract.FetchFailed](ApiExtract.fetchWithRetry(
      () => throw new RuntimeException("boom"), maxAttempts = 2, sleep = _ => ()))
    assert(failed.attempts == 2 && failed.cause.getMessage == "boom")
    // A hung endpoint costs one bounded timeout per attempt, not a wedge.
    val hung = intercept[ApiExtract.FetchFailed](ApiExtract.fetchWithRetry(
      () => { Thread.sleep(60000); "never" },
      maxAttempts = 1, attemptTimeoutMs = 200))
    assert(hung.cause.isInstanceOf[java.util.concurrent.TimeoutException])
  }

  test("ApiExtract.landFxValidated fails loudly when a batch parses to nothing") {
    import graft.sources.ApiExtract
    val dir = tmp("fxv")
    // Healthy batch with one bad snapshot: lands fine (skip-bad contract).
    val ok = ApiExtract.landFxValidated(spark, Seq(
      """{"base":"EUR","as_of":"2024-01-04","rates":{"USD":1.08}}""",
      "garbage"), s"$dir/bronze")
    assert(ok == 1)
    // Endpoint shape change (every payload malformed): must fail the run,
    // not land an empty append that reads as a clean load.
    intercept[IllegalArgumentException](
      ApiExtract.landFxValidated(spark, Seq("garbage", "also garbage"), s"$dir/bronze"))
    assert(spark.read.parquet(s"$dir/bronze").count() == 1, "failed batch must land nothing")
  }

  test("overwriteAtomic swaps cleanly: data replaced, no temp/old leftovers") {
    val dir = tmp("atomic")
    val path = s"$dir/t"
    Sinks.overwriteAtomic(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    Sinks.overwriteAtomic(Seq((3L, "c")).toDF("id", "v"), path)
    val out = spark.read.parquet(path).as[(Long, String)].collect().toSeq
    assert(out == Seq((3L, "c")))
    val leftovers = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.contains("__tmp") || n.contains("__old"))
    assert(leftovers.isEmpty, s"swap left garbage: ${leftovers.toSeq}")
  }

  test("csvQuarantined routes malformed rows to quarantine, loads the rest") {
    val dir = tmp("csvq")
    Files.write(java.nio.file.Paths.get(s"$dir/data.csv"),
      ("id,ts,amt\n" +
        "1,2024-01-01 10:00:00,10.5\n" +
        "2,not-a-timestamp,20.0\n" +
        "3,2024-01-03 10:00:00,30.5\n" +
        "4,2024-01-04 10:00:00,not-a-number\n").getBytes)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("ts", TimestampType),
      StructField("amt", DoubleType)))
    val (good, bad) = Sources.csvQuarantined(spark, s"$dir/data.csv", schema)
    assert(good.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    val raw = bad.as[String].collect()
    assert(raw.length == 2 && raw.exists(_.contains("not-a-timestamp"))
      && raw.exists(_.contains("not-a-number")), raw.toSeq)
  }

  test("jsonQuarantined routes unparseable lines to quarantine") {
    val dir = tmp("jsonq")
    Files.write(java.nio.file.Paths.get(s"$dir/d.json"),
      ("{\"id\":1,\"v\":\"a\"}\n" +
        "{\"id\":2,\"v\":\n" +
        "{\"id\":3,\"v\":\"c\"}\n").getBytes)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    val (good, bad) = Sources.jsonQuarantined(spark, s"$dir/d.json", schema)
    assert(good.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    assert(bad.as[String].collect().toSeq == Seq("{\"id\":2,\"v\":"))
  }

  test("textLines: one doc per line, deterministic contiguous ids, feeds the B block") {
    val dir = tmp("textlines")
    Files.write(java.nio.file.Paths.get(s"$dir/corpus.txt"),
      "first document line here\nsecond line of text\nthird one\n".getBytes)
    val df = Sources.textLines(spark, s"$dir/corpus.txt")
    val rows = df.as[(Long, String)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L), "contiguous 0-based ids")
    assert(rows(0)._2 == "first document line here" && rows(2)._2 == "third one")
    // stable across re-reads (the min-id keeper family premise)
    assert(Sources.textLines(spark, s"$dir/corpus.txt")
      .as[(Long, String)].collect().sortBy(_._1).toSeq == rows.toSeq)
    // and the frame is directly consumable by the text operators
    assert(graft.text.SpanDedup.novelty(df, "doc_id", "text", 2).count() == 3)
    // r15: id assignment is SHUFFLE-FREE — two map-only scans (per-split
    // counts → driver prefix sum → partition-local ranks). The previous
    // spelling range-shuffled the whole corpus through sortByKey.
    val lineage = df.rdd.toDebugString
    assert(!lineage.contains("Shuffle"), lineage)
  }

  test("textLines ids are a pure function of the file set — split planning can't renumber") {
    // The r12 spelling (textFile + zipWithIndex) was deterministic only
    // for a fixed split plan: a different maxSplitSize/cluster could
    // renumber documents and silently move min-id keepers (q82/q99).
    // Ids now rank (file path, byte offset), so forcing a pathological
    // split plan must yield the SAME ids, and multi-file globs must rank
    // shards in path order with in-file line order inside each.
    val dir = tmp("textlines_stable")
    Files.write(java.nio.file.Paths.get(s"$dir/a_shard.txt"),
      "alpha line one\nalpha line two with more bytes in it\nalpha three\n".getBytes)
    Files.write(java.nio.file.Paths.get(s"$dir/b_shard.txt"),
      "beta first\nbeta second\n".getBytes)
    val normal = Sources.textLines(spark, s"$dir/*.txt")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(normal.map(_._1) == (0L until 5L),
      "contiguous ids across a multi-file glob")
    assert(normal.map(_._2) == Seq(
      "alpha line one", "alpha line two with more bytes in it", "alpha three",
      "beta first", "beta second"), "path order ranks shards, offset order ranks lines")
    // Force many tiny splits (TextInputFormat still stitches lines that
    // straddle split boundaries) and require identical numbering.
    val conf = spark.sparkContext.hadoopConfiguration
    val key = "mapreduce.input.fileinputformat.split.maxsize"
    val prior = Option(conf.get(key))
    conf.set(key, "16")
    try {
      val tiny = Sources.textLines(spark, s"$dir/*.txt")
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(tiny == normal, "split planning changed the ids")
    } finally prior.fold(conf.unset(key))(conf.set(key, _))
  }

  test("json reader with schema reads nested props") {
    val dir = tmp("json")
    Files.write(java.nio.file.Paths.get(s"$dir/d.json"),
      "{\"id\":1,\"props\":{\"k\":5}}\n{\"id\":2,\"props\":{\"k\":7}}\n".getBytes)
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("props", StructType(Seq(StructField("k", IntegerType))))))
    val df = Sources.json(spark, s"$dir/d.json", Some(schema))
    assert(df.select(col("id"), col("props.k")).as[(Long, Int)].collect().sorted.toSeq
      == Seq((1L, 5), (2L, 7)))
  }
}
