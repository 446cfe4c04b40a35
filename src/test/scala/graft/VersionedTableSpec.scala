package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sources.{VersionedTable, Warc}

class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmpTable(tag: String): String =
    Files.createTempDirectory(s"vt_$tag").resolve("t").toString

  /** The files readWhere plans for `p`, checked against the files a plain
    * read under the same filter reads: one pruner, at build and at scan.
    */
  private def surviving(t: String, p: org.apache.spark.sql.Column) = {
    val s = VersionedTable.survivingFiles(spark, t, p)
    val scanned = plannedFiles(VersionedTable.read(spark, t).filter(p))
    assert(scanned == s.size, s"read(t).filter($p) read $scanned files, readWhere plans ${s.size}")
    s
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.select(col("id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("create / append / overwrite with time travel to every version") {
    val t = tmpTable("basic")
    val v0 = VersionedTable.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)
    assert(v0 == 0L)
    val v1 = VersionedTable.append(Seq((3L, "c")).toDF("id", "v"), t)
    assert(v1 == 1L)
    val v2 = VersionedTable.overwrite(Seq((9L, "z")).toDF("id", "v"), t)
    assert(v2 == 2L)
    assert(VersionedTable.latestVersion(spark, t) == 2L)

    assert(rows(VersionedTable.read(spark, t)) == Set((9L, "z")))
    assert(rows(VersionedTable.readVersion(spark, t, 0)) == Set((1L, "a"), (2L, "b")))
    assert(rows(VersionedTable.readVersion(spark, t, 1)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(rows(VersionedTable.readVersion(spark, t, 2)) == Set((9L, "z")))

    // the read plans from the LOG, not a directory listing: a stray
    // parquet dropped into data/ is invisible
    Seq((666L, "ghost")).toDF("id", "v").write
      .parquet(s"$t/${VersionedTable.DataDirName}/files-stray")
    assert(rows(VersionedTable.read(spark, t)) == Set((9L, "z")))

    val h = VersionedTable.history(spark, t)
      .select("version", "op", "n_removes").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    // the overwrite removes EVERY live file: create's two part files
    // (two non-empty partitions) plus the append's one
    assert(h == Set((0L, "create", 0), (1L, "append", 0), (2L, "overwrite", 3)))

    // create over an existing table fails named
    val dup = intercept[IllegalArgumentException] {
      VersionedTable.create(Seq((1L, "x")).toDF("id", "v"), t)
    }
    assert(dup.getMessage.contains("already exists"))
  }

  test("schema drift on append fails named; column order is forgiven") {
    val t = tmpTable("schema")
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), t)
    // reordered columns align silently (same set, same types)
    VersionedTable.append(Seq(("b", 2L)).toDF("v", "id"), t)
    assert(rows(VersionedTable.read(spark, t)) == Set((1L, "a"), (2L, "b")))
    // a missing / extra column fails named
    val missing = intercept[IllegalArgumentException] {
      VersionedTable.append(Seq(Tuple1(3L)).toDF("id"), t)
    }
    assert(missing.getMessage.contains("schema drift") &&
      missing.getMessage.contains("missing v"), missing.getMessage)
    // a changed type fails named, never silently casts
    val retyped = intercept[IllegalArgumentException] {
      VersionedTable.append(Seq((4, "d")).toDF("id", "v"), t)
    }
    assert(retyped.getMessage.contains("changed type") &&
      retyped.getMessage.contains("id"), retyped.getMessage)
    // failed appends committed nothing
    assert(VersionedTable.latestVersion(spark, t) == 1L)
  }

  test("a torn commit file fails reads named — never a half-applied transaction") {
    val t = tmpTable("torn")
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), t)
    // a commit file missing its terminal marker (writer died mid-publish)
    val torn = new Path(s"$t/${VersionedTable.LogDirName}/${"0" * 19}1.json")
    val out = fs.create(torn, false)
    out.write("{\"add\":{\"path\":\"data/files-dead/part-0.parquet\",\"rows\":1}}\n".getBytes)
    out.close()
    val e = intercept[RuntimeException] { VersionedTable.read(spark, t) }
    assert(e.getMessage.contains("terminal commit marker") &&
      e.getMessage.contains("manual recovery"), e.getMessage)
  }

  test("losing the publish race retries at the next version") {
    val t = tmpTable("race")
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), t)
    // a concurrent writer took version 1: a complete foreign commit file
    val foreign = new Path(s"$t/${VersionedTable.LogDirName}/${"0" * 19}1.json")
    val out = fs.create(foreign, false)
    out.write("{\"commit\":{\"op\":\"append\"}}\n".getBytes)
    out.close()
    // our append must land at version 2, not clobber 1
    val v = VersionedTable.append(Seq((2L, "b")).toDF("id", "v"), t)
    assert(v == 2L)
    assert(rows(VersionedTable.read(spark, t)) == Set((1L, "a"), (2L, "b")))
  }

  test("txnAppend is idempotent per (app, batch) — the streaming replay contract") {
    val t = tmpTable("txn")
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), t)
    val first = VersionedTable.txnAppend(Seq((2L, "b")).toDF("id", "v"), t, "job", 0L)
    assert(first.contains(1L))
    // the replay: same (app, batch) commits NOTHING
    val replay = VersionedTable.txnAppend(Seq((2L, "b")).toDF("id", "v"), t, "job", 0L)
    assert(replay.isEmpty)
    assert(rows(VersionedTable.read(spark, t)) == Set((1L, "a"), (2L, "b")))
    assert(VersionedTable.latestVersion(spark, t) == 1L)
    // the replay's never-referenced data files were swept, not leaked
    val dataDirs = fs.listStatus(new Path(s"$t/${VersionedTable.DataDirName}"))
    assert(dataDirs.length == 2, dataDirs.map(_.getPath.getName).mkString(", "))
    // a NEW batch from the same app commits; an OLD one (regression) skips
    assert(VersionedTable.txnAppend(Seq((3L, "c")).toDF("id", "v"), t, "job", 1L).contains(2L))
    assert(VersionedTable.txnAppend(Seq((0L, "x")).toDF("id", "v"), t, "job", 0L).isEmpty)
    // a different app is independent
    assert(VersionedTable.txnAppend(Seq((4L, "d")).toDF("id", "v"), t, "other", 0L).contains(3L))
    assert(rows(VersionedTable.read(spark, t)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("readChangesSince serves exactly the appended rows; an overwrite breaks it named") {
    val t = tmpTable("cdc")
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), t)
    VersionedTable.append(Seq((2L, "b")).toDF("id", "v"), t)
    VersionedTable.append(Seq((3L, "c"), (4L, "d")).toDF("id", "v"), t)
    assert(rows(VersionedTable.readChangesSince(spark, t, 0L)) ==
      Set((2L, "b"), (3L, "c"), (4L, "d")))
    assert(rows(VersionedTable.readChangesSince(spark, t, 1L)) ==
      Set((3L, "c"), (4L, "d")))
    assert(VersionedTable.readChangesSince(spark, t, 2L).count() == 0L)
    VersionedTable.overwrite(Seq((9L, "z")).toDF("id", "v"), t)
    val e = intercept[RuntimeException] {
      VersionedTable.readChangesSince(spark, t, 1L)
    }
    assert(e.getMessage.contains("is a overwrite") &&
      e.getMessage.contains("reconsume"), e.getMessage)
    // ... but changes since the overwrite itself flow again
    VersionedTable.append(Seq((10L, "y")).toDF("id", "v"), t)
    assert(rows(VersionedTable.readChangesSince(spark, t, 3L)) == Set((10L, "y")))
  }

  test("checkpoints bound replay: latest reads survive losing pre-checkpoint commits") {
    val t = tmpTable("ckpt")
    VersionedTable.create(Seq((0L, "r0")).toDF("id", "v"), t)
    (1 to 12).foreach { i =>
      VersionedTable.append(Seq((i.toLong, s"r$i")).toDF("id", "v"), t)
    }
    val ckpt = new Path(s"$t/${VersionedTable.LogDirName}/${"0" * 18}10.checkpoint.parquet")
    assert(fs.exists(ckpt), "checkpoint at version 10 missing")
    val want = (0 to 12).map(i => (i.toLong, s"r$i")).toSet
    assert(rows(VersionedTable.read(spark, t)) == want)
    // delete the pre-checkpoint commit files: latest reads must still plan
    // (they start from the checkpoint) — proof the checkpoint is USED
    (1 to 9).foreach { v =>
      fs.delete(new Path(f"$t/${VersionedTable.LogDirName}/$v%020d.json"), false)
    }
    assert(rows(VersionedTable.read(spark, t)) == want)
    assert(rows(VersionedTable.readVersion(spark, t, 11)) ==
      (0 to 11).map(i => (i.toLong, s"r$i")).toSet)
  }

  test("vacuum deletes unreferenced files and orphans; below-horizon time travel fails named") {
    val t = tmpTable("vac")
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), t)      // v0
    VersionedTable.overwrite(Seq((2L, "b")).toDF("id", "v"), t)   // v1
    VersionedTable.append(Seq((3L, "c")).toDF("id", "v"), t)      // v2
    // an orphan from a crashed writer: data files, no commit
    Seq((666L, "ghost")).toDF("id", "v").write
      .parquet(s"$t/${VersionedTable.DataDirName}/files-orphan")
    val before = rows(VersionedTable.read(spark, t))
    // grace 0 — the test's files are seconds old; production default (24 h)
    // protects a concurrent writer's not-yet-committed data files
    val deleted = VersionedTable.vacuum(spark, t, retainVersions = 2,
      graceMs = 0L) // keeps v1, v2
    assert(deleted >= 2, s"deleted only $deleted files") // v0's file + the orphan
    // latest and retained versions still read exactly
    assert(rows(VersionedTable.read(spark, t)) == before)
    assert(rows(VersionedTable.readVersion(spark, t, 1)) == Set((2L, "b")))
    assert(rows(VersionedTable.readVersion(spark, t, 2)) == Set((2L, "b"), (3L, "c")))
    // the orphan directory is gone
    assert(!fs.exists(new Path(s"$t/${VersionedTable.DataDirName}/files-orphan")))
    // below the horizon: named failure, not a FileNotFound surprise
    val e = intercept[IllegalArgumentException] {
      VersionedTable.readVersion(spark, t, 0)
    }
    assert(e.getMessage.contains("vacuumed") &&
      e.getMessage.contains("horizon"), e.getMessage)
    // vacuum logged itself: history shows the op, latest bumped
    val ops = VersionedTable.history(spark, t).select("op")
      .collect().map(_.getString(0))
    assert(ops.count(_ == "vacuum") == 1)
    // the GRACE WINDOW: a fresh unreferenced file (a concurrent writer's
    // not-yet-committed data) survives a default-grace vacuum
    Seq((667L, "inflight")).toDF("id", "v").write
      .parquet(s"$t/${VersionedTable.DataDirName}/files-inflight")
    VersionedTable.vacuum(spark, t, retainVersions = 2) // default 24 h grace
    assert(fs.exists(new Path(s"$t/${VersionedTable.DataDirName}/files-inflight")),
      "vacuum deleted a within-grace unreferenced file — a concurrent " +
        "writer's uncommitted data would be destroyed")
  }

  test("appendEvolve: new columns widen the schema, omitted columns land " +
      "NULL, history keeps its shape, retypes still fail named") {
    val t = tmpTable("evolve")
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), t)
    // a source starts shipping an extra column: the table widens
    VersionedTable.appendEvolve(
      Seq((2L, "b", 0.5)).toDF("id", "v", "score"), t)
    val widened = VersionedTable.read(spark, t)
    assert(widened.schema.fieldNames.toSeq == Seq("id", "v", "score"))
    val byId = widened.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).isNullAt(2), "pre-widening rows read the new column as NULL")
    assert(byId(2L).getDouble(2) == 0.5)
    // a frame OMITTING a column under evolve: typed NULLs, no failure
    VersionedTable.appendEvolve(Seq(Tuple1(3L)).toDF("id"), t)
    val r3 = VersionedTable.read(spark, t).filter(col("id") === 3L).collect()(0)
    assert(r3.isNullAt(1) && r3.isNullAt(2))
    // time travel below the widening serves the ORIGINAL schema
    assert(VersionedTable.readVersion(spark, t, 0)
      .schema.fieldNames.toSeq == Seq("id", "v"))
    // plain append still enforces strictly — evolution is the caller's
    // explicit choice, never a default
    val strict = intercept[IllegalArgumentException] {
      VersionedTable.append(Seq((4L, "d", 1.0, true)).toDF("id", "v", "score", "flag"), t)
    }
    assert(strict.getMessage.contains("schema drift"), strict.getMessage)
    // a retype under evolve fails named — widening never retypes
    val retyped = intercept[IllegalArgumentException] {
      VersionedTable.appendEvolve(Seq((5, "e")).toDF("id", "v"), t)
    }
    assert(retyped.getMessage.contains("never retypes"), retyped.getMessage)
  }

  test("publish temps are invisible to readers and swept by vacuum") {
    val t = tmpTable("tmps")
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), t)
    // a crashed publisher's straggler: written, never renamed
    val straggler = new Path(
      s"$t/${VersionedTable.LogDirName}/.${"0" * 19}1.json.dead.tmp")
    val out = fs.create(straggler, false)
    out.write("{\"add\":{\"path\":\"data/x/y.parquet\",\"rows\":1}}\n".getBytes)
    out.close()
    // reads and writes are unaffected (listLog matches only NNN.json)
    assert(rows(VersionedTable.read(spark, t)) == Set((1L, "a")))
    assert(VersionedTable.append(Seq((2L, "b")).toDF("id", "v"), t) == 1L)
    // zero-grace vacuum sweeps it
    VersionedTable.vacuum(spark, t, retainVersions = 2, graceMs = 0L)
    assert(!fs.exists(straggler), "vacuum left the publish straggler")
  }

  test("the reference's MERGE-into-Delta pattern: Scd2.merge commits as a " +
      "version, time travel serves the pre-merge dimension") {
    // 4_silver/silver_customers.py:103-170 runs two Delta MERGEs per batch;
    // the re-expression is Scd2.merge (one transform) + a versioned
    // overwrite commit — and what Delta gives for free (the pre-merge
    // snapshot) time travel gives here.
    val t = tmpTable("scd2")
    val ts = (d: Int) => new java.sql.Timestamp(d * 86400000L)
    val dim0 = Seq(
      (1L, "addr-a", ts(1), null.asInstanceOf[java.sql.Timestamp], true),
      (2L, "addr-b", ts(1), null.asInstanceOf[java.sql.Timestamp], true))
      .toDF("id", "addr", "valid_from", "valid_to", "is_current")
    VersionedTable.create(dim0, t)
    val staged = Seq((1L, "addr-a2"), (3L, "addr-c")).toDF("id", "addr")
    val merged = graft.ops.Scd2.merge(VersionedTable.read(spark, t), staged,
      Seq("id"), Seq("addr"), lit(ts(2)))
    val v = VersionedTable.overwrite(merged, t)
    val cur = VersionedTable.read(spark, t).filter(col("is_current"))
      .select(col("id"), col("addr")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(cur == Set((1L, "addr-a2"), (2L, "addr-b"), (3L, "addr-c")))
    // the expired version is retained with its close-out timestamp
    val expired = VersionedTable.read(spark, t)
      .filter(!col("is_current") && col("id") === 1L).collect()
    assert(expired.length == 1 &&
      expired(0).getAs[java.sql.Timestamp]("valid_to") == ts(2))
    // and the pre-merge dimension is served exactly by time travel
    assert(VersionedTable.readVersion(spark, t, v - 1).collect().toSet ==
      dim0.collect().toSet)
  }

  test("concurrent writers: every append lands exactly once under the " +
      "hard-link put-if-absent race") {
    val t = tmpTable("race8")
    VersionedTable.create(Seq((-1L, "seed")).toDF("id", "v"), t)
    // 8 threads × 3 appends, all racing for version slots; the loser of a
    // slot must retry at the next — never replace, never double-commit
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val work = Future.sequence((0 until 8).map { w =>
      Future {
        (0 until 3).map { k =>
          VersionedTable.append(
            Seq(((w * 3 + k).toLong, s"w$w-$k")).toDF("id", "v"), t)
        }
      }
    })
    val versions = Await.result(work, 120.seconds).flatten
    pool.shutdown()
    // 24 appends → 24 DISTINCT versions 1..24 (no slot won twice)
    assert(versions.toSet == (1L to 24L).toSet,
      s"versions not unique/contiguous: ${versions.sorted}")
    // and every row landed exactly once
    val got = VersionedTable.read(spark, t).select("id").as[Long]
      .collect().sorted.toSeq
    assert(got == (-1L until 24L).toSeq, s"rows lost or duplicated: $got")
  }

  test("empty appends and empty tables round-trip with the declared schema") {
    val t = tmpTable("empty")
    val df = Seq((1L, "a")).toDF("id", "v")
    VersionedTable.create(df.filter(lit(false)), t)
    val empty = VersionedTable.read(spark, t)
    assert(empty.count() == 0L)
    assert(empty.schema.fieldNames.toSeq == Seq("id", "v"))
    VersionedTable.append(Seq((1L, "a")).toDF("id", "v"), t)
    assert(rows(VersionedTable.read(spark, t)) == Set((1L, "a")))
  }

  // ------------------------------------------------------- r18: i25 stats

  test("adds carry footer stats; readWhere plans only surviving files and " +
      "stays exact (i25)") {
    val t = tmpTable("stats")
    // three appends = three files with disjoint id ranges and string tags
    VersionedTable.create(
      (1L to 10L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1), t)
    VersionedTable.append(
      (11L to 20L).map(i => (i, s"b$i")).toDF("id", "v").coalesce(1), t)
    VersionedTable.append(
      (21L to 30L).map(i => (i, s"c$i")).toDF("id", "v").coalesce(1), t)
    val snap = VersionedTable.snapshotAt(spark, t)
    assert(snap.files.size == 3)
    // every add carries id stats straight from the parquet footers
    assert(snap.files.forall(f => f.stats.get("id").exists(s =>
      s.min.isDefined && s.max.isDefined && s.nulls == 0)))
    assert(snap.files.forall(_.bytes > 0))

    // numeric point lookup: one file survives planning
    val hit = surviving(t, col("id") === 25L)
    assert(hit.size == 1, hit.map(_.path).mkString(", "))
    assert(rows(VersionedTable.readWhere(spark, t, col("id") === 25L)) ==
      Set((25L, "c25")))
    // the DataFrame itself plans only the surviving file
    assert(VersionedTable.readWhere(spark, t, col("id") === 25L)
      .inputFiles.length == 1)
    // range + conjunction
    assert(surviving(t,
      col("id") > 10L && col("id") <= 20L).size == 1)
    // string predicate prunes in UTF-8 order
    assert(surviving(t, col("v") === "b15").size == 1)
    // IN list touches two files
    assert(surviving(t,
      col("id").isin(5L, 25L)).size == 2)
    // un-prunable predicate keeps everything and stays exact
    assert(rows(VersionedTable.readWhere(spark, t, col("v").endsWith("15"))) ==
      Set((15L, "b15")))
    // results NEVER differ from the unpruned read + filter
    assert(rows(VersionedTable.readWhere(spark, t, col("id") >= 28L)) ==
      rows(VersionedTable.read(spark, t).filter(col("id") >= 28L)))
  }

  test("null-aware pruning: IS NULL prunes all-non-null files, IS NOT NULL " +
      "prunes all-null files, equality skips all-null chunks (i25)") {
    val t = tmpTable("nulls")
    VersionedTable.create(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), t)
    VersionedTable.append(
      Seq((3L, null.asInstanceOf[String]), (4L, null.asInstanceOf[String]))
        .toDF("id", "v").coalesce(1), t)
    assert(surviving(t, col("v").isNull).size == 1)
    assert(surviving(t, col("v").isNotNull).size == 1)
    // equality can never match inside an all-null chunk
    assert(surviving(t, col("v") === "a").size == 1)
    assert(VersionedTable.readWhere(spark, t, col("v").isNull)
      .select("id").as[Long].collect().toSet == Set(3L, 4L))
  }

  test("checkpoint replay carries stats: pruning survives losing " +
      "pre-checkpoint commits (i25)") {
    val t = tmpTable("ckstats")
    VersionedTable.create(Seq((0L, "seed")).toDF("id", "v").coalesce(1), t)
    (1 to 10).foreach { i =>
      VersionedTable.append(
        Seq((i.toLong * 100, s"r$i")).toDF("id", "v").coalesce(1), t)
    }
    // v10 rolled a checkpoint; drop the pre-checkpoint commits
    (0L to 9L).foreach(v => fs.delete(new Path(s"$t/_graft_log/" + f"$v%020d.json"), false))
    val hit = surviving(t, col("id") === 700L)
    assert(hit.size == 1, s"checkpoint must carry per-file stats: ${hit.size} files")
    assert(rows(VersionedTable.readWhere(spark, t, col("id") === 700L)) ==
      Set((700L, "r7")))
  }

  // -------------------------------------------------- r18: i26 partitions

  test("partitioned tables: partition values in the log, pruned reads, " +
      "dynamic partition overwrite (i26)") {
    val t = tmpTable("part")
    val d0 = Seq((1L, "2024-01-01", "a"), (2L, "2024-01-02", "b"),
      (3L, "2024-01-02", "c")).toDF("id", "day", "v")
    VersionedTable.create(d0, t, partitionBy = Seq("day"))
    val snap = VersionedTable.snapshotAt(spark, t)
    assert(snap.partitionBy == Seq("day"))
    // files are partition-pure and carry their values in the log
    assert(snap.files.nonEmpty &&
      snap.files.forall(f => f.partitions.keySet == Set("day")))
    assert(snap.files.map(_.partitions("day")).toSet ==
      Set("2024-01-01", "2024-01-02"))
    // the data files KEEP the partition column (no re-attach dance)
    val full = VersionedTable.read(spark, t)
    assert(full.columns.toSeq == Seq("id", "day", "v"))
    assert(full.count() == 3)
    // partition pruning IS stats pruning: one partition's files survive
    val surv = surviving(t, col("day") === "2024-01-01")
    assert(surv.nonEmpty && surv.forall(_.partitions("day") == "2024-01-01"))
    assert(surv.size < snap.files.size)
    // dynamic partition overwrite: only the touched partition changes
    val before = VersionedTable.snapshotAt(spark, t).files
      .filter(_.partitions("day") == "2024-01-01").map(_.path).toSet
    VersionedTable.overwritePartitions(
      Seq((20L, "2024-01-02", "B2")).toDF("id", "day", "v"), t)
    val after = VersionedTable.snapshotAt(spark, t)
    assert(after.files.filter(_.partitions("day") == "2024-01-01")
      .map(_.path).toSet == before, "untouched partition must keep its files")
    assert(VersionedTable.read(spark, t).select("id").as[Long].collect().toSet ==
      Set(1L, 20L))
    // time travel to the pre-overwrite snapshot still serves all rows
    assert(VersionedTable.readVersion(spark, t, 0).count() == 3)
    // appends inherit the partitioning
    VersionedTable.append(Seq((30L, "2024-01-03", "d")).toDF("id", "day", "v"), t)
    assert(VersionedTable.snapshotAt(spark, t).files
      .exists(_.partitions("day") == "2024-01-03"))
    // overwritePartitions on an unpartitioned table fails named
    val t2 = tmpTable("unpart")
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), t2)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.overwritePartitions(Seq((2L, "b")).toDF("id", "v"), t2)
    }
    assert(e.getMessage.contains("unpartitioned"))
  }

  // ------------------------------------------------------ r18: i24 merge

  test("merge: copy-on-write upsert rewrites ONLY matched files; time " +
      "travel serves the pre-merge table (i24)") {
    val t = tmpTable("merge")
    VersionedTable.create(
      (1L to 10L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1), t)
    VersionedTable.append(
      (11L to 20L).map(i => (i, s"b$i")).toDF("id", "v").coalesce(1), t)
    VersionedTable.append(
      (21L to 30L).map(i => (i, s"c$i")).toDF("id", "v").coalesce(1), t)
    val pre = VersionedTable.snapshotAt(spark, t)
    assert(pre.files.size == 3)
    val untouched = pre.files.filter(f =>
      f.stats("id").max.exists(_.asInstanceOf[Long] <= 10L) ||
      f.stats("id").min.exists(_.asInstanceOf[Long] >= 21L)).map(_.path).toSet
    assert(untouched.size == 2)

    // upsert: 15 changes, 99 inserts — only the middle file holds matches
    val v = VersionedTable.merge(
      Seq((15L, "B15"), (99L, "new")).toDF("id", "v"), t, Seq("id"))
    val post = VersionedTable.snapshotAt(spark, t)
    assert(untouched.subsetOf(post.files.map(_.path).toSet),
      "files without matched keys must NOT be rewritten")
    assert(!post.files.map(_.path).contains(
      pre.files.map(_.path).toSet.diff(untouched).head),
      "the matched file must be swapped out")
    val got = rows(VersionedTable.read(spark, t))
    assert(got.size == 31)
    assert(got((15L, "B15")) && got((99L, "new")) && got((14L, "b14")) &&
      !got.contains((15L, "b15")))
    // pre-merge snapshot intact
    assert(rows(VersionedTable.readVersion(spark, t, v - 1))
      .contains((15L, "b15")))
    // history names the op — merge_update, because matched rows were
    // REPLACED (the append face serves it as exactly the staged batch)
    assert(VersionedTable.history(spark, t)
      .filter(col("op") === "merge_update").count() == 1)
  }

  test("merge: duplicate staged keys fail named; pure-insert merge leaves " +
      "every live file in place (i24)") {
    val t = tmpTable("mergedup")
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v").coalesce(1), t)
    val dup = intercept[IllegalArgumentException] {
      VersionedTable.merge(Seq((7L, "x"), (7L, "y")).toDF("id", "v"), t, Seq("id"))
    }
    assert(dup.getMessage.contains("multiple rows"), dup.getMessage)
    val pre = VersionedTable.snapshotAt(spark, t).files.map(_.path).toSet
    VersionedTable.merge(Seq((2L, "b")).toDF("id", "v"), t, Seq("id"))
    val post = VersionedTable.snapshotAt(spark, t).files.map(_.path).toSet
    assert(pre.subsetOf(post), "a no-match merge is a pure append")
    assert(rows(VersionedTable.read(spark, t)) == Set((1L, "a"), (2L, "b")))
  }

  test("merge conflict: a concurrent non-vacuum commit between snapshot " +
      "and publish fails NAMED — merges do not commute (i24)") {
    val t = tmpTable("mergeconf")
    VersionedTable.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)
    // interleave a concurrent append exactly in the decide→commit window
    VersionedTable.testHookBeforeCommit = () => {
      VersionedTable.testHookBeforeCommit = () => ()
      VersionedTable.append(Seq((3L, "c")).toDF("id", "v"), t)
      ()
    }
    try {
      val e = intercept[RuntimeException] {
        VersionedTable.merge(Seq((1L, "A")).toDF("id", "v"), t, Seq("id"))
      }
      assert(e.getMessage.contains("conflicts"), e.getMessage)
      assert(e.getMessage.contains("op=append"), e.getMessage)
    } finally VersionedTable.testHookBeforeCommit = () => ()
    // the failed merge committed nothing; the append won
    assert(rows(VersionedTable.read(spark, t)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // re-run on the fresh snapshot succeeds
    VersionedTable.merge(Seq((1L, "A")).toDF("id", "v"), t, Seq("id"))
    assert(rows(VersionedTable.read(spark, t)) ==
      Set((1L, "A"), (2L, "b"), (3L, "c")))
  }

  test("txnMerge is exactly-once per (app, batch) — the streaming SCD2 " +
      "replay contract (i24)") {
    val t = tmpTable("txnmerge")
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), t)
    val v1 = VersionedTable.txnMerge(
      Seq((1L, "A")).toDF("id", "v"), t, Seq("id"), "app1", 7L)
    assert(v1.isDefined)
    // replay: same (app, batch) commits NOTHING
    assert(VersionedTable.txnMerge(
      Seq((1L, "A-replayed")).toDF("id", "v"), t, Seq("id"), "app1", 7L).isEmpty)
    assert(rows(VersionedTable.read(spark, t)) == Set((1L, "A")))
    assert(VersionedTable.latestVersion(spark, t) == v1.get)
  }

  // --------------------------------------------------- r18: i28 optimize

  test("optimize: compaction as a commit — rows identical, fewer files, " +
      "pre-compaction time travel still reads (i28)") {
    val t = tmpTable("opt")
    VersionedTable.create(Seq((0L, "r0")).toDF("id", "v").coalesce(1), t)
    (1 to 6).foreach(i => VersionedTable.append(
      Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), t))
    val pre = VersionedTable.snapshotAt(spark, t)
    assert(pre.files.size == 7)
    val preRows = rows(VersionedTable.read(spark, t))
    val ov = VersionedTable.optimize(spark, t)
    assert(ov.isDefined)
    val post = VersionedTable.snapshotAt(spark, t)
    assert(post.files.size < pre.files.size,
      s"${pre.files.size} -> ${post.files.size}")
    assert(rows(VersionedTable.read(spark, t)) == preRows, "data must be identical")
    // pre-compaction version still reads (files live until vacuum)
    assert(rows(VersionedTable.readVersion(spark, t, ov.get - 1)) == preRows)
    // idempotent: nothing left to compact
    assert(VersionedTable.optimize(spark, t).isEmpty)
  }

  test("optimize under concurrency: concurrent append commutes, concurrent " +
      "removal of a source file fails named (i28)") {
    val t = tmpTable("optconc")
    VersionedTable.create(Seq((0L, "r0")).toDF("id", "v").coalesce(1), t)
    (1 to 3).foreach(i => VersionedTable.append(
      Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1), t))
    // concurrent APPEND in the decide→commit window: optimize proceeds
    VersionedTable.testHookBeforeCommit = () => {
      VersionedTable.testHookBeforeCommit = () => ()
      VersionedTable.append(Seq((50L, "mid")).toDF("id", "v").coalesce(1), t)
      ()
    }
    try assert(VersionedTable.optimize(spark, t).isDefined)
    finally VersionedTable.testHookBeforeCommit = () => ()
    assert(VersionedTable.read(spark, t).count() == 5,
      "the concurrent append's rows must survive the compaction commit")
    // concurrent REMOVAL (an overwrite) of a source file: named conflict
    VersionedTable.append(Seq((60L, "x")).toDF("id", "v").coalesce(1), t)
    VersionedTable.append(Seq((61L, "y")).toDF("id", "v").coalesce(1), t)
    VersionedTable.testHookBeforeCommit = () => {
      VersionedTable.testHookBeforeCommit = () => ()
      VersionedTable.overwrite(Seq((99L, "wiped")).toDF("id", "v"), t)
      ()
    }
    try {
      val e = intercept[RuntimeException] { VersionedTable.optimize(spark, t) }
      assert(e.getMessage.contains("removed"), e.getMessage)
    } finally VersionedTable.testHookBeforeCommit = () => ()
  }

  test("optimize converges on partitioned tables (second run = None) and " +
      "vacuum never sweeps a fresh dirs-only staging tree (r18)") {
    val t = tmpTable("poptc")
    VersionedTable.create(
      Seq((0L, "d1", "x"), (1L, "d2", "y")).toDF("id", "day", "v"),
      t, partitionBy = Seq("day"))
    (1 to 3).foreach { i =>
      VersionedTable.append(
        Seq((i * 10L, "d1", s"a$i"), (i * 10L + 1, "d2", s"b$i"))
          .toDF("id", "day", "v"), t)
    }
    val pre = VersionedTable.snapshotAt(spark, t).files
    val preRows = VersionedTable.read(spark, t).collect().map(_.toSeq).toSet
    assert(VersionedTable.optimize(spark, t).isDefined)
    val post = VersionedTable.snapshotAt(spark, t).files
    assert(post.size < pre.size, s"${pre.size} -> ${post.size}")
    // partition-pure after compaction, data identical
    assert(post.forall(f => f.partitions.keySet == Set("day")))
    assert(VersionedTable.read(spark, t).collect().map(_.toSeq).toSet == preRows)
    // CONVERGENCE: a second optimize finds nothing (no eternal rewrite
    // commits aborting concurrent DML)
    assert(VersionedTable.optimize(spark, t).isEmpty)

    // a concurrent writer's dirs-only staging skeleton (no files yet)
    // survives an IN-GRACE vacuum: the dir sweep spares dirs younger than
    // the cutoff it didn't empty itself. (graceMs = 0 offers NO such
    // protection by definition — grace IS the concurrency contract, which
    // is why the production default is 24 h and only tests pass 0.)
    val staging = new Path(s"$t/${VersionedTable.DataDirName}/files-live/_temporary/0")
    fs.mkdirs(staging)
    VersionedTable.vacuum(spark, t, retainVersions = 1, graceMs = 60000L)
    assert(fs.exists(staging),
      "vacuum swept an in-flight write's staging tree")
  }

  test("optimize ZORDER BY: the compacted rewrite clusters on the Morton " +
      "curve so the log's own stats prune BOTH columns afterwards (i28+i14+i25)") {
    val t = tmpTable("zopt")
    // shuffled appends: every file spans nearly the full range of both
    // columns, so pre-optimize NO predicate prunes anything
    val rows100 = (0L until 100L).map(i => (i, (i * 37L) % 100L, s"p$i"))
    val shuffled = new scala.util.Random(7).shuffle(rows100)
    VersionedTable.create(shuffled.take(1).toDF("id", "score", "v"), t)
    shuffled.drop(1).grouped(11).foreach(g =>
      VersionedTable.append(g.toDF("id", "score", "v").coalesce(1), t))
    val pre = VersionedTable.snapshotAt(spark, t).files
    val preSurvive = surviving(t,
      col("id") < 25L && col("score") < 25L)
    assert(preSurvive.size >= pre.size - 1,
      s"fixture broken: shuffled appends should defeat pruning almost " +
        s"entirely (${preSurvive.size} of ${pre.size})")
    val preRows = rows(VersionedTable.read(spark, t))

    // compact with clustering; tiny target so several output files emerge
    val totalBytes = pre.map(_.bytes).sum
    assert(VersionedTable.optimize(spark, t, targetBytes = totalBytes / 3,
      zorderBy = Some(("id", "score"))).isDefined)
    val post = VersionedTable.snapshotAt(spark, t).files
    assert(post.size >= 3, s"want several clustered files, got ${post.size}")
    assert(rows(VersionedTable.read(spark, t)) == preRows, "data must be identical")
    // the 2-D corner predicate now prunes: compact curve regions mean
    // most files provably exclude it
    val postSurvive = surviving(t,
      col("id") < 25L && col("score") < 25L)
    assert(postSurvive.size < post.size,
      s"z-ordered files must prune the 2-D corner: ${postSurvive.size} of ${post.size}")
    // absent zorder column fails named
    val e = intercept[IllegalArgumentException] {
      VersionedTable.optimize(spark, t, zorderBy = Some(("id", "nope")))
    }
    assert(e.getMessage.contains("zorderBy"), e.getMessage)
  }

  // ------------------------------------------------ r18: i27 change feed

  test("feedInto: exactly-once silver→gold hop — bootstrap, incremental " +
      "consume, replay consumes nothing (i27)") {
    val src = tmpTable("feedsrc")
    val tgt = tmpTable("feedtgt")
    VersionedTable.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), src)
    VersionedTable.create(
      Seq((0L, 0L)).toDF("id", "len").filter(lit(false)), tgt)
    def hop() = VersionedTable.feedInto(spark, src, tgt, "gold")(
      df => df.select(col("id"), length(col("v")).cast("long").as("len")))
    // bootstrap: the full current snapshot
    val first = hop()
    assert(first.exists(_._1 == 0L), s"$first")
    assert(VersionedTable.read(spark, tgt).count() == 2)
    // caught up: nothing to consume
    assert(hop().isEmpty)
    // two source appends, one hop: exactly the delta
    VersionedTable.append(Seq((3L, "ccc")).toDF("id", "v"), src)
    VersionedTable.append(Seq((4L, "dd")).toDF("id", "v"), src)
    val second = hop()
    assert(second.exists(_._1 == 2L), s"$second")
    val got = VersionedTable.read(spark, tgt).select("id", "len").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 1L), (2L, 1L), (3L, 3L), (4L, 2L)))
    // replay after a "crash": the txn table already records version 2
    assert(hop().isEmpty)
    // the consumer's progress is visible in the target's txn state
    assert(VersionedTable.snapshotAt(spark, tgt).txns("gold") == 2L)
  }

  test("change feed over merges and optimizes: survivor/compacted rewrites " +
      "are dataChange=false and never double-served (i27)") {
    val t = tmpTable("cdf")
    VersionedTable.create(
      (1L to 6L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1), t)
    val v0 = VersionedTable.latestVersion(spark, t)
    // merge: update id 2, insert id 99 — survivors of the matched file
    // (ids 1,3..6) are rewrites, NOT changes
    VersionedTable.merge(Seq((2L, "B2"), (99L, "new")).toDF("id", "v"), t, Seq("id"))
    val delta = rows(VersionedTable.readChangesSince(spark, t, v0))
    assert(delta == Set((2L, "B2"), (99L, "new")),
      s"merge delta must be exactly the staged batch: $delta")
    // optimize: compaction feeds NOTHING
    val v1 = VersionedTable.latestVersion(spark, t)
    VersionedTable.append(Seq((50L, "x")).toDF("id", "v").coalesce(1), t)
    assert(VersionedTable.optimize(spark, t).isDefined)
    assert(rows(VersionedTable.readChangesSince(spark, t, v1)) == Set((50L, "x")))
    // feedInto across a merge-driven source consumes each staged row ONCE
    val tgt = tmpTable("cdftgt")
    VersionedTable.create(
      Seq((0L, "z")).toDF("id", "v").filter(lit(false)), tgt)
    def hop() = VersionedTable.feedInto(spark, t, tgt, "app")(identity)
    assert(hop().isDefined)
    val afterBootstrap = VersionedTable.read(spark, tgt).count()
    assert(afterBootstrap == 8, s"bootstrap = full snapshot: $afterBootstrap")
    VersionedTable.merge(Seq((2L, "C2")).toDF("id", "v"), t, Seq("id"))
    assert(hop().isDefined)
    assert(rows(VersionedTable.read(spark, tgt))
      .count { case (id, _) => id == 2L } == 2, // bootstrap B2 + merged C2, once each
      "a merge hop must add exactly the staged rows")
    // a delete breaks the feed NAMED (rows vanished — reconsume)
    val vDel = VersionedTable.latestVersion(spark, t)
    assert(VersionedTable.delete(spark, t, col("id") === 4L).isDefined)
    val e = intercept[RuntimeException] {
      VersionedTable.readChangesSince(spark, t, vDel).collect()
    }
    assert(e.getMessage.contains("delete"), e.getMessage)
  }

  test("delete: copy-on-write row erasure rewrites only hit files; " +
      "null predicates keep rows; no-match is a no-op (r18)") {
    val t = tmpTable("del")
    VersionedTable.create(
      (1L to 10L).map(i => (i, if (i == 5) null else s"a$i")).toDF("id", "v")
        .coalesce(1), t)
    VersionedTable.append(
      (11L to 20L).map(i => (i, s"b$i")).toDF("id", "v").coalesce(1), t)
    val pre = VersionedTable.snapshotAt(spark, t)
    val untouched = pre.files.filter(
      _.stats("id").min.exists(_.asInstanceOf[Long] >= 11L)).map(_.path).toSet
    assert(untouched.size == 1)
    // DELETE WHERE v = 'a3': only the first file holds hits; id 5's NULL
    // v makes the predicate NULL there — SQL semantics keep the row
    val Some((v, n)) = VersionedTable.delete(spark, t, col("v") === "a3")
    assert(n == 1L, s"deleted $n")
    val got = VersionedTable.read(spark, t)
    assert(got.count() == 19)
    assert(got.filter(col("id") === 3L).count() == 0)
    assert(got.filter(col("id") === 5L).count() == 1, "NULL predicate keeps the row")
    assert(VersionedTable.snapshotAt(spark, t).files.map(_.path).toSet
      .intersect(untouched) == untouched, "un-hit files must not rewrite")
    // time travel to the pre-delete version still reads the erased row
    assert(rows(VersionedTable.readVersion(spark, t, v - 1)).contains((3L, "a3")))
    // no-match delete commits nothing
    assert(VersionedTable.delete(spark, t, col("v") === "zzz").isEmpty)
    assert(VersionedTable.latestVersion(spark, t) == v)
    // stats pruning: a predicate outside every file range scans nothing
    assert(surviving(t, col("id") > 1000L).isEmpty)
  }

  test("update: copy-on-write SET on matched rows only, typed casts, " +
      "no-match no-op, feed breaks named (r18)") {
    val t = tmpTable("upd")
    VersionedTable.create(
      (1L to 10L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1), t)
    VersionedTable.append(
      (11L to 20L).map(i => (i, s"b$i")).toDF("id", "v").coalesce(1), t)
    val untouched = VersionedTable.snapshotAt(spark, t).files.filter(
      _.stats("id").min.exists(_.asInstanceOf[Long] >= 11L)).map(_.path).toSet
    val vFeed = VersionedTable.latestVersion(spark, t)
    val Some((v, n)) = VersionedTable.update(spark, t,
      col("id") <= 2L, Map("v" -> concat(col("v"), lit("!"))))
    assert(n == 2L)
    val got = rows(VersionedTable.read(spark, t))
    assert(got((1L, "a1!")) && got((2L, "a2!")) && got((3L, "a3")) &&
      got.size == 20, got.toString)
    // only the hit file rewrote
    assert(VersionedTable.snapshotAt(spark, t).files.map(_.path).toSet
      .intersect(untouched) == untouched)
    // pre-update version intact
    assert(rows(VersionedTable.readVersion(spark, t, v - 1)).contains((1L, "a1")))
    // the append feed cannot represent replaced row states — named break
    val e = intercept[RuntimeException] {
      VersionedTable.readChangesSince(spark, t, vFeed).collect()
    }
    assert(e.getMessage.contains("update"), e.getMessage)
    // no-match update commits nothing; absent column fails named
    assert(VersionedTable.update(spark, t, col("id") > 999L,
      Map("v" -> lit("x"))).isEmpty)
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.update(spark, t, col("id") === 1L, Map("nope" -> lit("x")))
    }
    assert(e2.getMessage.contains("absent columns"), e2.getMessage)
  }

  test("review fixes: partitioned vacuum keeps live files; Int-literal and " +
      "cast predicates still prune; oversized-string stats never mis-prune; " +
      "stale-read merge conflicts named; update type drift fails named (r18)") {
    // 1. vacuum on a PARTITIONED table: live three-segment paths must
    // survive a grace-0 vacuum (the two-segment reconstruction deleted
    // every live partitioned file)
    val t = tmpTable("pvac")
    VersionedTable.create(
      Seq((1L, "d1", "a"), (2L, "d2", "b")).toDF("id", "day", "v"),
      t, partitionBy = Seq("day"))
    VersionedTable.overwritePartitions(
      Seq((20L, "d2", "B")).toDF("id", "day", "v"), t)
    val removed = VersionedTable.vacuum(spark, t, retainVersions = 1, graceMs = 0)
    assert(VersionedTable.read(spark, t).select("id").as[Long].collect().toSet ==
      Set(1L, 20L), "vacuum must never delete live partitioned files")
    assert(removed >= 1, "the overwritten partition's old file must be swept")

    // 2. pruning survives the analyzer's cast wrapping: an Int literal
    // against the Long column (cast(25 as bigint)) must still plan 1 file
    val t2 = tmpTable("castprune")
    VersionedTable.create((1L to 10L).map(i => (i, s"a$i")).toDF("id", "v")
      .coalesce(1), t2)
    VersionedTable.append((21L to 30L).map(i => (i, s"c$i")).toDF("id", "v")
      .coalesce(1), t2)
    assert(surviving(t2, col("id") === 25).size == 1,
      "Int-literal (cast-wrapped) point lookup must prune")
    assert(surviving(t2,
      col("id") === lit(5).cast("long")).size == 1)

    // 3. a column whose values overflow parquet's stats size limit
    // (binary min/max omitted, null_count present) must NOT be treated as
    // all-null — the file holds the match and must be planned
    val t3 = tmpTable("bigstats")
    val big = "x" * 5000
    VersionedTable.create(
      Seq((1L, big + "A"), (2L, big + "B")).toDF("id", "v").coalesce(1), t3)
    val snap3 = VersionedTable.snapshotAt(spark, t3)
    assert(rows(VersionedTable.readWhere(spark, t3, col("v") === (big + "A")))
      == Set((1L, big + "A")),
      s"oversized-string stats must never mis-prune (stats: ${snap3.files.map(_.stats.keySet)})")
    // and delete through the same path finds the row
    assert(VersionedTable.delete(spark, t3, col("v") === (big + "B"))
      .exists(_._2 == 1L), "erasure must not be silently skipped")

    // 4. a merge whose staged batch was derived from a STALE read
    // conflicts named even when txnMerge's own snapshot is current
    val t4 = tmpTable("stale")
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), t4)
    val readV = VersionedTable.latestVersion(spark, t4)
    VersionedTable.append(Seq((2L, "b")).toDF("id", "v"), t4) // lands after the read
    val e = intercept[RuntimeException] {
      VersionedTable.txnMerge(Seq((1L, "A")).toDF("id", "v"), t4, Seq("id"),
        app = null, batch = 0L, readVersion = readV)
    }
    assert(e.getMessage.contains("conflicts"), e.getMessage)

    // 5. a type-drifting SET expression fails named, never lands NULLs:
    // a coercible-but-malformed value dies on the ANSI cast
    // (CAST_INVALID_INPUT), a widening type drift dies on align's schema
    // check — both loud, both pre-commit
    val t5 = tmpTable("updrift")
    VersionedTable.create(Seq((1L, 2.5)).toDF("id", "amt"), t5)
    val e2 = intercept[Exception] {
      VersionedTable.update(spark, t5, col("id") === 1L,
        Map("amt" -> lit("not a number")))
    }
    assert(e2.getMessage.contains("CAST_INVALID_INPUT") ||
      e2.getMessage.contains("schema drift"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      VersionedTable.update(spark, t5, col("id") === 1L,
        Map("id" -> col("amt"))) // double expr WIDENS the long column
    }
    assert(e3.getMessage.contains("schema drift"), e3.getMessage)
    assert(VersionedTable.read(spark, t5).head().getDouble(1) == 2.5)
    assert(VersionedTable.latestVersion(spark, t5) == 0L,
      "a failed update must commit nothing")
  }

  // ---------------------------------------- r18: Scd2.mergeVersioned

  test("Scd2.mergeVersioned == Scd2.merge semantics, committed row-level: " +
      "untouched dimension files stay in place (i24)") {
    val ts = (d: Int) => new java.sql.Timestamp(d * 86400000L)
    val dim0 = Seq(
      (1L, "addr-a", ts(1), null.asInstanceOf[java.sql.Timestamp], true),
      (2L, "addr-b", ts(1), null.asInstanceOf[java.sql.Timestamp], true),
      (3L, "addr-c", ts(1), null.asInstanceOf[java.sql.Timestamp], true))
      .toDF("id", "addr", "valid_from", "valid_to", "is_current")
    val staged = Seq((1L, "addr-a2"), (4L, "addr-d")).toDF("id", "addr")

    // the full-rewrite spelling (the existing contract)
    val expect = graft.ops.Scd2.merge(dim0, staged, Seq("id"), Seq("addr"),
      lit(ts(2))).collect().map(_.toSeq).toSet

    // the log-native row-level spelling
    val t = tmpTable("scd2v")
    // one file per row so copy-on-write is observable
    VersionedTable.create(dim0.repartition(3, col("id")), t)
    val v = graft.ops.Scd2.mergeVersioned(spark, t, staged,
      Seq("id"), Seq("addr"), lit(ts(2)))
    assert(v.isDefined)
    val got = VersionedTable.read(spark, t).collect().map(_.toSeq).toSet
    assert(got == expect, s"got $got\nexpected $expect")
    // an UNCHANGED staged batch commits nothing at all
    assert(graft.ops.Scd2.mergeVersioned(spark, t,
      Seq((2L, "addr-b")).toDF("id", "addr"),
      Seq("id"), Seq("addr"), lit(ts(3))).isEmpty)
    assert(VersionedTable.latestVersion(spark, t) == v.get)
    // exactly-once under (app, batch)
    assert(graft.ops.Scd2.mergeVersioned(spark, t,
      Seq((2L, "addr-b9")).toDF("id", "addr"),
      Seq("id"), Seq("addr"), lit(ts(4)), app = "s04", batch = 1L).isDefined)
    assert(graft.ops.Scd2.mergeVersioned(spark, t,
      Seq((2L, "addr-b10")).toDF("id", "addr"),
      Seq("id"), Seq("addr"), lit(ts(5)), app = "s04", batch = 1L).isEmpty)
  }

  test("Scd2.mergeVersioned edge cases: a duplicate staged key and an asOf equal to " +
      "a changed current row's valid_from fail named and commit nothing") {
    val ts = (d: Int) => new java.sql.Timestamp(d * 86400000L)
    val t = tmpTable("scd2edge")
    VersionedTable.create(Seq(
      (1L, "addr-a", ts(1), null.asInstanceOf[java.sql.Timestamp], true),
      (2L, "addr-b", ts(2), null.asInstanceOf[java.sql.Timestamp], true))
      .toDF("id", "addr", "valid_from", "valid_to", "is_current").repartition(2, col("id")), t)
    val before = VersionedTable.read(spark, t).collect().map(_.toSeq).toSet
    def merge(staged: Seq[(Long, String)], asOf: Int) = graft.ops.Scd2.mergeVersioned(
      spark, t, staged.toDF("id", "addr"), Seq("id"), Seq("addr"), lit(ts(asOf)))
    // two changed rows for key 1: two expirations of one live row
    val dup = intercept[IllegalArgumentException](merge(Seq((1L, "x"), (1L, "y")), 3))
    assert(dup.getMessage.contains("multiple rows"), dup.getMessage)
    // key 2 changes at its own valid_from: its expiration and its new
    // version would share one (key, valid_from)
    val same = intercept[IllegalArgumentException](merge(Seq((2L, "addr-b2")), 2))
    assert(same.getMessage.contains("multiple rows"), same.getMessage)
    assert(VersionedTable.latestVersion(spark, t) == 0L, "a failed merge must commit nothing")
    assert(VersionedTable.read(spark, t).collect().map(_.toSeq).toSet == before)
    assert(VersionedTable.read(spark, t).groupBy("id", "valid_from").count()
      .filter(col("count") > 1).isEmpty)
  }

  test("Scd2.mergeVersioned: two null-key staged rows land as inserts (r19 rule)") {
    val ts = (d: Int) => new java.sql.Timestamp(d * 86400000L)
    val t = tmpTable("scd2nullkeys")
    VersionedTable.create(Seq(
      (1L, "addr-a", ts(1), null.asInstanceOf[java.sql.Timestamp], true))
      .toDF("id", "addr", "valid_from", "valid_to", "is_current"), t)
    val staged = Seq[(java.lang.Long, String)]((null, "n1"), (null, "n2"), (1L, "addr-a2"))
      .toDF("id", "addr")
    assert(graft.ops.Scd2.mergeVersioned(spark, t, staged, Seq("id"), Seq("addr"),
      lit(ts(2))).isDefined)
    val got = VersionedTable.read(spark, t)
      .select("id", "addr", "valid_from", "is_current").collect().map(_.toSeq).toSet
    assert(got == Set(Seq(null, "n1", ts(2), true), Seq(null, "n2", ts(2), true),
      Seq(1L, "addr-a", ts(1), false), Seq(1L, "addr-a2", ts(2), true)), s"got $got")
  }

  test("Scd2.mergeVersioned into a silver table holding deletion vectors merges to the " +
      "same rows as into its copy-on-write twin") {
    val ts = (d: Int) => new java.sql.Timestamp(d * 86400000L)
    val dim0 = (1L to 8L).map(i => (i, s"addr-$i", ts(1), null.asInstanceOf[java.sql.Timestamp],
      true)).toDF("id", "addr", "valid_from", "valid_to", "is_current").repartition(2, col("id"))
    val dv = tmpTable("scd2dv")
    val cow = tmpTable("scd2cow")
    VersionedTable.create(dim0, dv)
    VersionedTable.create(dim0, cow)
    VersionedTable.deleteVectors(spark, dv, col("id") === 2L)
    VersionedTable.delete(spark, cow, col("id") === 2L)
    assert(VersionedTable.snapshotAt(spark, dv).files.exists(_.dv.isDefined))
    // every surviving key changes, so the DV'd file is rewritten too; a
    // new key lands as an insert
    val staged = ((1L to 8L).filterNot(_ == 2L).map(i => (i, s"addr-$i-b")) :+ ((9L, "addr-9")))
      .toDF("id", "addr")
    def merged(t: String) = {
      assert(graft.ops.Scd2.mergeVersioned(spark, t, staged, Seq("id"), Seq("addr"),
        lit(ts(2))).isDefined)
      VersionedTable.read(spark, t).collect().map(_.toSeq).toSeq
    }
    val got = merged(dv)
    assert(got.sortBy(_.toString) == merged(cow).sortBy(_.toString))
    assert(got.size == 15 && got.count(_(4) == true) == 8, got.mkString("\n"))
  }

  test("merge of an empty staged batch commits an empty version; only " +
      "Scd2.mergeVersioned treats an empty upsert as a no-op") {
    val t = tmpTable("emptymerge")
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), t)
    // a statically empty frame and one that is empty only once executed
    assert(VersionedTable.merge(Seq.empty[(Long, String)].toDF("id", "v"), t, Seq("id")) == 1L)
    assert(VersionedTable.merge(Seq((2L, "b")).toDF("id", "v").filter(col("id") > 5L),
      t, Seq("id")) == 2L)
    assert(VersionedTable.latestVersion(spark, t) == 2L)
    assert(VersionedTable.read(spark, t).as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }

  // ------------------------------------------------ r19: ADVICE fixes

  test("merge: null staged keys are legal — two null-key rows land as " +
      "inserts, never a multiple-match error (r19 advice)") {
    val t = tmpTable("nullkeys")
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), t)
    // a staged batch with TWO null-key rows: the dup precheck must not
    // group them as equal (that made a deterministic poison-pill
    // micro-batch under the s04 streaming replay)
    val staged = Seq[(java.lang.Long, String)]((null, "n1"), (null, "n2"), (1L, "A"))
      .toDF("id", "v")
    assert(VersionedTable.merge(staged, t, Seq("id")) == 1L)
    val got = VersionedTable.read(spark, t)
      .collect().map(r => (Option(r.get(0)), r.getString(1))).toSet
    assert(got == Set((Some(1L), "A"), (None, "n1"), (None, "n2")))
    // a genuine non-null dup still fails named
    val e = intercept[IllegalArgumentException] {
      VersionedTable.merge(Seq((1L, "x"), (1L, "y")).toDF("id", "v"), t, Seq("id"))
    }
    assert(e.getMessage.contains("multiple rows"), e.getMessage)
  }

  test("merge sweeps its data files on EVERY abandoned path — txn replay " +
      "detected inside the commit loop and conflict throws (r19 advice)") {
    def orphanDirs(t: String): Set[String] = {
      // orphan = a data dir NO version references (removed-but-historical
      // files are retained for time travel — vacuum's business, not sweep's)
      val dataRoot = new Path(s"$t/${VersionedTable.DataDirName}")
      val referenced = (0L to VersionedTable.latestVersion(spark, t))
        .flatMap(v => VersionedTable.snapshotAt(spark, t, v).files)
        .map(_.path.split("/")(1)).toSet
      fs.listStatus(dataRoot).map(_.getPath.getName)
        .filter(!referenced.contains(_)).toSet
    }
    // path 1: the (app, batch) replay lands AFTER the cheap pre-check —
    // injected via the commit hook, so the loop's own txn re-check is what
    // abandons the merge, after its data files were already written
    val t = tmpTable("mergesweep1")
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), t)
    VersionedTable.testHookBeforeCommit = () => {
      VersionedTable.testHookBeforeCommit = () => ()
      VersionedTable.txnMerge(Seq((1L, "won")).toDF("id", "v"), t, Seq("id"), "appX", 3L)
      ()
    }
    try {
      assert(VersionedTable.txnMerge(
        Seq((1L, "lost")).toDF("id", "v"), t, Seq("id"), "appX", 3L).isEmpty)
    } finally VersionedTable.testHookBeforeCommit = () => ()
    assert(rows(VersionedTable.read(spark, t)) == Set((1L, "won")))
    assert(orphanDirs(t).isEmpty,
      s"abandoned merge leaked data dirs: ${orphanDirs(t)}")

    // path 2: conflictGuard throws mid-loop — the failed merge's files
    // must not wait for vacuum either
    val t2 = tmpTable("mergesweep2")
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), t2)
    VersionedTable.testHookBeforeCommit = () => {
      VersionedTable.testHookBeforeCommit = () => ()
      VersionedTable.append(Seq((2L, "b")).toDF("id", "v"), t2)
      ()
    }
    try intercept[RuntimeException] {
      VersionedTable.merge(Seq((1L, "A")).toDF("id", "v"), t2, Seq("id"))
    } finally VersionedTable.testHookBeforeCommit = () => ()
    assert(orphanDirs(t2).isEmpty,
      s"conflicted merge leaked data dirs: ${orphanDirs(t2)}")
  }

  test("overwritePartitions with an empty frame is a NO-OP — no commit, " +
      "change-feed consumers keep working (r19 advice)") {
    val t = tmpTable("emptyop")
    VersionedTable.create(
      Seq((1L, "d1", "a"), (2L, "d2", "b")).toDF("id", "day", "v"),
      t, partitionBy = Seq("day"))
    val before = VersionedTable.latestVersion(spark, t)
    // the no-op refresh: zero-row frame touches no partition
    assert(VersionedTable.overwritePartitions(
      Seq((0L, "dx", "z")).toDF("id", "day", "v").filter(lit(false)), t) == before)
    assert(VersionedTable.latestVersion(spark, t) == before,
      "an empty dynamic overwrite must not commit a version")
    // the feed reads straight through — no overwrite_partitions op to trip on
    assert(VersionedTable.readChangesSince(spark, t, 0L).count() == 0L)
  }

  // ------------------------------------- data skipping over one table format

  test("readWhere over a range-partitioned layout: an interval read equals " +
      "the full-scan filter, an empty intersection plans no file, zero-row " +
      "files are never planned") {
    val t = tmpTable("interval")
    // an empty create commits a zero-row file; the appended layout then
    // gives each of 8 files a contiguous id range
    VersionedTable.create(Seq((0L, "x")).toDF("id", "v").filter(lit(false)), t)
    VersionedTable.append(spark.range(0L, 4000L)
      .select(col("id"), concat(lit("v"), col("id")).as("v"))
      .repartitionByRange(8, col("id")), t)
    val files = VersionedTable.snapshotAt(spark, t).files
    assert(files.count(_.rows == 0) == 1 && files.count(_.rows > 0) == 8,
      s"fixture needs 8 data files and one zero-row file: ${files.map(_.rows)}")
    val full = VersionedTable.read(spark, t)
    val interval = col("id") >= 1000L && col("id") <= 1500L
    val hit = VersionedTable.readWhere(spark, t, interval)
    assert(hit.inputFiles.length < full.inputFiles.length,
      s"no files pruned: ${hit.inputFiles.length} of ${full.inputFiles.length}")
    assert(rows(hit) == rows(full.filter(interval)) && rows(hit).size == 501)
    // empty intersection: zero rows without planning any data file
    val none = VersionedTable.readWhere(spark, t, col("id") > 5000L)
    assert(none.inputFiles.isEmpty && none.count() == 0)
    // a zero-row file survives no prunable predicate
    Seq(col("id") === 5L, col("v").isNull, col("v").isNotNull, interval).foreach { p =>
      assert(surviving(t, p).forall(_.rows > 0), p.toString)
    }
  }

  test("readWhere pays for Sinks.zorderWrite: a 2-D conjunction prunes a " +
      "converted z-ordered layout") {
    val dir = Files.createTempDirectory("vt_zconv").resolve("li").toString
    // 128×128 grid in 16 z-ordered files: each covers a compact region,
    // so a thin 2-D box crosses a few files, not all 16. The layout is
    // optimize(zorderBy)'s: 64 small files compacted into 16.
    val grid = spark.range(1L << 14).select(
      (col("id") % 128).as("x"), (col("id") / 128).cast("long").as("y"))
    VersionedTable.create(grid.repartition(64), dir)
    val bytes = VersionedTable.snapshotAt(spark, dir).files.map(_.bytes).sum
    assert(VersionedTable.optimize(spark, dir, targetBytes = bytes / 16 + 1,
      zorderBy = Some(("x", "y"))).isDefined)
    assert(VersionedTable.snapshotAt(spark, dir).files.size == 16)
    val box = col("x").between(40L, 60L) && col("y").between(40L, 60L)
    val hit = VersionedTable.readWhere(spark, dir, box)
    assert(hit.inputFiles.length <= 8, s"2-D pruning too weak: ${hit.inputFiles.length} of 16")
    def xy(df: org.apache.spark.sql.DataFrame) =
      df.select("x", "y").as[(Long, Long)].collect().toSet
    assert(xy(hit) == xy(VersionedTable.read(spark, dir).filter(box)) && xy(hit).size == 21 * 21)
  }

  test("a table created from non-null array elements takes rewrites of its own " +
      "rows: overwrite, delete, update, updateVectors, optimize(zorderBy), appendEvolve") {
    val t = tmpTable("nonnull")
    // a Scala Seq[Double] column: array<double> with containsNull = false,
    // while every read of the table comes back nullable
    val df = (1L to 12L).map(i => (i, s"v$i", Seq(i.toDouble, 0.5))).toDF("id", "v", "vec")
    assert(!df.schema("vec").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .containsNull, "fixture must carry non-null elements")
    VersionedTable.create(df.repartition(4), t)
    VersionedTable.overwrite(VersionedTable.read(spark, t).repartition(4), t)
    assert(VersionedTable.delete(spark, t, col("id") === 1L).map(_._2).contains(1L))
    assert(VersionedTable.update(spark, t, col("id") === 2L, Map("v" -> lit("u")))
      .map(_._2).contains(1L))
    assert(VersionedTable.updateVectors(spark, t, col("id") === 3L, Map("v" -> lit("w")))
      .map(_._2).contains(1L))
    assert(VersionedTable.optimize(spark, t, zorderBy = Some(("id", "id"))).isDefined)
    // a real type change still fails by name
    val e = intercept[IllegalArgumentException](VersionedTable.append(
      df.withColumn("vec", col("vec").cast("array<float>")), t))
    assert(e.getMessage.contains("changed type") && e.getMessage.contains("vec"), e.getMessage)
    VersionedTable.appendEvolve(VersionedTable.read(spark, t).filter(col("id") === 12L)
      .withColumn("id", lit(13L)).withColumn("v", lit("v13")).withColumn("extra", lit(1L)), t)
    assert(rows(VersionedTable.read(spark, t)) ==
      (2L to 13L).map(i => i -> (if (i == 2L) "u" else if (i == 3L) "w" else s"v$i")).toSet)
    assert(VersionedTable.read(spark, t).filter(col("id") === 12L)
      .select("vec").as[Seq[Double]].head() == Seq(12.0, 0.5))
  }

  test("supplementary-plane keys: readWhere (=, range) and Warc.lookupAtMany " +
      "keep a file whose only match sorts above U+E000 in UTF-8 order") {
    import graft.text.Urls
    val t = tmpTable("utf8order")
    val at = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def captures(urls: String*) = urls.map(u => (u, at, 200, "text/html", 1L, "w.warc", 0L))
      .toDF("url", "fetch_ts", "http_status", "mime", "payload_len", "warc_file", "rec_offset")
      .withColumn("url_canon", Urls.canonicalize(col("url")))
      .withColumn("surt_key", Urls.surtKey(col("url_canon")))
      .coalesce(1)
    val (pua, emoji) = ("https://a.example/\uE000", "https://a.example/\uD83D\uDE00")
    VersionedTable.create(captures("https://a.example/a"), t)
    VersionedTable.append(captures(pua, emoji), t)
    val (puaKey, emojiKey) = ("example,a)/\uE000", "example,a)/\uD83D\uDE00")
    // the fixture bites: UTF-16 order puts the emoji key BELOW the file's
    // logged min, UTF-8 order (the stats' own) inside [min, max]
    assert(emojiKey.compareTo(puaKey) < 0)
    val second = VersionedTable.snapshotAt(spark, t).files.filter(_.rows == 2)
    assert(second.size == 1 && second.head.stats("surt_key").min.contains(puaKey) &&
      second.head.stats("surt_key").max.contains(emojiKey), second.toString)
    def keysOf(df: org.apache.spark.sql.DataFrame) = df.select("surt_key").as[String].collect().toSet
    assert(keysOf(VersionedTable.readWhere(spark, t, col("surt_key") === emojiKey)) == Set(emojiKey))
    assert(keysOf(VersionedTable.readWhere(spark, t, col("surt_key") > puaKey)) == Set(emojiKey))
    val many = Warc.lookupAtMany(spark, t, Seq((emoji, at)).toDF("url", "at"))
    assert(many.select("surt_key").as[String].collect().toSeq == Seq(emojiKey))
    assert(many.inputFiles.length == 1, many.inputFiles.mkString(", "))
  }

  test("one table format: no main source names the side stats manifest or " +
      "a version pointer file") {
    val main = new java.io.File("src/main")
    assert(main.isDirectory, s"run from the project root (cwd ${new java.io.File(".").getAbsolutePath})")
    val banned = Seq("_graft_stats".r, "(?<![A-Za-z0-9_])_current(?![A-Za-z0-9_])".r)
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val hits = files(main).filter { f =>
      val text = new String(Files.readAllBytes(f.toPath), "UTF-8")
      banned.exists(_.findFirstIn(text).isDefined)
    }.map(_.getPath)
    assert(hits.isEmpty, s"side-format names in: ${hits.mkString(", ")}")
  }
}
