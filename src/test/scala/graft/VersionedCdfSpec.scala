package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sources.VersionedTable
import graft.sources.VersionedTable.{ChangeTypeCol, CommitVersionCol}

/** r19: the Delta feature set the reference leans on implicitly via
  * `USING DELTA` — CDF row-level change types (i29), merge-on-read
  * deletion vectors (i30), timestamp time travel + RESTORE (i31), and the
  * protocol reader-features guard that keeps a future table from being
  * silently mis-served.
  */
class VersionedCdfSpec extends SparkSpec {
  import spark.implicits._

  private def fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmpTable(tag: String): String =
    Files.createTempDirectory(s"vcdf_$tag").resolve("t").toString

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.select(col("id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  private def changes(df: org.apache.spark.sql.DataFrame): Set[(Long, String, String, Long)] =
    df.select(col("id"), col("v"), col(ChangeTypeCol), col(CommitVersionCol))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet

  // ------------------------------------------------------ protocol guard

  test("protocol guard: a commit carrying an unknown reader feature fails " +
      "reads NAMED; versions before it stay readable (r19)") {
    val t = tmpTable("proto")
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), t)
    VersionedTable.append(Seq((2L, "b")).toDF("id", "v"), t)
    // hand-publish a version-2 commit introducing a feature this build
    // does not know — the forward-compat scenario the guard exists for
    val body =
      """{"protocol":{"readerFeatures":["time-crystals"]}}""" + "\n" +
      """{"commit":{"op":"append","writer":"w","ts":1}}""" + "\n"
    val p = new Path(s"$t/${VersionedTable.LogDirName}/${"%020d".format(2)}.json")
    val out = fs.create(p, false)
    out.write(body.getBytes("UTF-8")); out.close()

    val e = intercept[IllegalArgumentException] { VersionedTable.read(spark, t) }
    assert(e.getMessage.contains("time-crystals"), e.getMessage)
    assert(e.getMessage.contains("reader features"), e.getMessage)
    // the feature arrived at v2: time travel BELOW it is still served
    assert(rows(VersionedTable.readVersion(spark, t, 1)) ==
      Set((1L, "a"), (2L, "b")))

    // the change feed's closed-world op guard (separate table, no protocol
    // line — the op NAME is the feed's protocol surface): an op this
    // reader does not know fails named, never misread as appends
    val t2 = tmpTable("protoop")
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), t2)
    val body2 =
      """{"add":{"path":"data/bogus/x.parquet","rows":1}}""" + "\n" +
      """{"commit":{"op":"quantum_merge","writer":"w","ts":2}}""" + "\n"
    val p2 = new Path(s"$t2/${VersionedTable.LogDirName}/${"%020d".format(1)}.json")
    val out2 = fs.create(p2, false)
    out2.write(body2.getBytes("UTF-8")); out2.close()
    val e2 = intercept[RuntimeException] {
      VersionedTable.readChangesSince(spark, t2, 0L) }
    assert(e2.getMessage.contains("quantum_merge"), e2.getMessage)
    val e3 = intercept[RuntimeException] {
      VersionedTable.readChangeFeed(spark, t2, 0L) }
    assert(e3.getMessage.contains("quantum_merge"), e3.getMessage)
  }

  // ------------------------------------------- timestamp travel + restore

  test("timestamp time travel: versionAtTimestamp resolves the last commit " +
      "at-or-before t; before-creation fails named (i31)") {
    val t = tmpTable("tstravel")
    var now = 0L
    VersionedTable.clock = () => now
    try {
      now = 1000L; VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), t)
      now = 2000L; VersionedTable.append(Seq((2L, "b")).toDF("id", "v"), t)
      now = 5000L; VersionedTable.overwrite(Seq((9L, "z")).toDF("id", "v"), t)

      assert(VersionedTable.versionAtTimestamp(spark, t, 1000L) == 0L)
      assert(VersionedTable.versionAtTimestamp(spark, t, 1500L) == 0L)
      assert(VersionedTable.versionAtTimestamp(spark, t, 2000L) == 1L)
      assert(VersionedTable.versionAtTimestamp(spark, t, 4999L) == 1L)
      assert(VersionedTable.versionAtTimestamp(spark, t, 99999L) == 2L)
      assert(rows(VersionedTable.readTimestamp(spark, t, 3000L)) ==
        Set((1L, "a"), (2L, "b")))
      val e = intercept[IllegalArgumentException] {
        VersionedTable.versionAtTimestamp(spark, t, 999L) }
      assert(e.getMessage.contains("before"), e.getMessage)
      // history surfaces the wall-times
      val h = VersionedTable.history(spark, t)
        .select("version", "ts_millis").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(h == Set((0L, 1000L), (1L, 2000L), (2L, 5000L)))
      // writer clock skew: v3 stamped EARLIER than v2 (slow-clock writer).
      // Resolution monotonizes — t=4999 must still serve v1, never the
      // skew-stamped v3 whose state includes v2's later changes
      now = 3000L; VersionedTable.append(Seq((4L, "w")).toDF("id", "v"), t)
      assert(VersionedTable.versionAtTimestamp(spark, t, 4999L) == 1L)
      assert(VersionedTable.versionAtTimestamp(spark, t, 5000L) == 3L)
    } finally VersionedTable.clock = () => System.currentTimeMillis()
  }

  test("restore: the bad-batch recovery — target file-set committed as a " +
      "NEW version, history preserved, restore reversible (i31)") {
    val t = tmpTable("restore")
    VersionedTable.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)   // v0
    VersionedTable.append(Seq((3L, "c")).toDF("id", "v"), t)              // v1
    VersionedTable.overwrite(Seq((666L, "bad")).toDF("id", "v"), t)       // v2 bad batch
    val v3 = VersionedTable.restore(spark, t, 1L)
    assert(v3 == 3L)
    assert(rows(VersionedTable.read(spark, t)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // history preserved: the bad version is still time-travelable
    assert(rows(VersionedTable.readVersion(spark, t, 2)) == Set((666L, "bad")))
    // restore is itself reversible
    VersionedTable.restore(spark, t, 2L)
    assert(rows(VersionedTable.read(spark, t)) == Set((666L, "bad")))
    // the append-only feed cannot represent a restore: named failure
    val e = intercept[RuntimeException] {
      VersionedTable.readChangesSince(spark, t, 0L) }
    assert(e.getMessage.contains("restore"), e.getMessage)
    // vacuum after restore keeps the restored files readable at head
    VersionedTable.restore(spark, t, 1L)
    VersionedTable.vacuum(spark, t, retainVersions = 1, graceMs = 0L)
    assert(rows(VersionedTable.read(spark, t)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // restoring to the CURRENT state is a NO-OP: an idempotent recovery-
    // script re-run must not commit an empty 'restore' version (which
    // would break every append-face consumer while changing nothing)
    val head = VersionedTable.latestVersion(spark, t)
    assert(VersionedTable.restore(spark, t, head) == head)
    assert(VersionedTable.latestVersion(spark, t) == head)
  }

  // ------------------------------------------------------------ CDF (i29)

  test("readChangeFeed serves row-level change types across append, merge, " +
      "delete, update and overwrite (i29)") {
    val t = tmpTable("cdf")
    VersionedTable.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t,
      changeFeed = true)                                                   // v0
    VersionedTable.append(Seq((3L, "c")).toDF("id", "v"), t)               // v1
    VersionedTable.merge(Seq((1L, "A"), (4L, "d")).toDF("id", "v"), t,
      Seq("id"))                                                           // v2
    VersionedTable.delete(spark, t, col("id") === 2L)                      // v3
    VersionedTable.update(spark, t, col("id") === 3L,
      Map("v" -> lit("C!")))                                               // v4

    val feed = changes(VersionedTable.readChangeFeed(spark, t, 0L))
    assert(feed == Set(
      (3L, "c", "insert", 1L),
      (1L, "a", "update_preimage", 2L), (1L, "A", "update_postimage", 2L),
      (4L, "d", "insert", 2L),
      (2L, "b", "delete", 3L),
      (3L, "c", "update_preimage", 4L), (3L, "C!", "update_postimage", 4L)),
      s"got $feed")
    // bounded range: only the merge's changes
    assert(changes(VersionedTable.readChangeFeed(spark, t, 1L, 2L)) ==
      Set((1L, "a", "update_preimage", 2L), (1L, "A", "update_postimage", 2L),
        (4L, "d", "insert", 2L)))
    // the table itself is consistent with the feed's net effect
    assert(rows(VersionedTable.read(spark, t)) ==
      Set((1L, "A"), (3L, "C!"), (4L, "d")))

    // overwrite: COMPUTED changes — old rows delete, new rows insert
    VersionedTable.overwrite(Seq((7L, "x")).toDF("id", "v"), t)            // v5
    val ow = changes(VersionedTable.readChangeFeed(spark, t, 4L))
    assert(ow == Set(
      (1L, "A", "delete", 5L), (3L, "C!", "delete", 5L), (4L, "d", "delete", 5L),
      (7L, "x", "insert", 5L)), s"got $ow")
  }

  test("a cdc action logs its sidecar's byte size; a line logged without one still reads") {
    val t = tmpTable("cdcbytes")
    VersionedTable.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t,
      changeFeed = true)                                                   // v0
    VersionedTable.merge(Seq((1L, "A"), (3L, "c")).toDF("id", "v"), t, Seq("id")) // v1
    val commit = new Path(s"$t/${VersionedTable.LogDirName}/${"%020d".format(1)}.json")
    def lines = scala.io.Source.fromInputStream(fs.open(commit), "UTF-8")
      .getLines().toList
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val cdc = lines.map(json.readTree).filter(_.has("cdc")).map(_.get("cdc"))
    assert(cdc.nonEmpty)
    cdc.foreach { c =>
      assert(c.get("bytes").asLong() == fs.getFileStatus(new Path(s"$t/${c.get("path").asText()}"))
        .getLen, c.toString)
    }
    val feed = changes(VersionedTable.readChangeFeed(spark, t, 0L))
    assert(feed == Set((1L, "a", "update_preimage", 1L), (1L, "A", "update_postimage", 1L),
      (3L, "c", "insert", 1L)), s"got $feed")
    // the same commit as a log written before sizes were: no `bytes` on
    // its cdc lines; the feed stats the sidecars and serves the same rows
    val old = lines.map { l =>
      val n = json.readTree(l)
      if (n.has("cdc")) { n.get("cdc").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .remove("bytes"); json.writeValueAsString(n) } else l
    }
    assert(old.exists(_.contains("\"cdc\"")) && !old.exists(l => l.contains("\"cdc\"") &&
      l.contains("bytes")))
    val out = fs.create(commit, true)
    out.write(old.mkString("", "\n", "\n").getBytes("UTF-8")); out.close()
    assert(changes(VersionedTable.readChangeFeed(spark, t, 0L)) == feed)
  }

  test("CDF discipline: DML on a table without the change feed fails the " +
      "CDF read named; enableChangeFeed turns it on from there (i29)") {
    val t = tmpTable("cdfoff")
    VersionedTable.create(Seq((1L, "a")).toDF("id", "v"), t)               // v0, feed OFF
    VersionedTable.merge(Seq((1L, "A")).toDF("id", "v"), t, Seq("id"))     // v1 no sidecar
    val e = intercept[RuntimeException] {
      VersionedTable.readChangeFeed(spark, t, 0L) }
    assert(e.getMessage.contains("WITHOUT"), e.getMessage)
    val venable = VersionedTable.enableChangeFeed(spark, t)                // v2
    assert(VersionedTable.enableChangeFeed(spark, t) == venable,
      "enable is idempotent — no second commit")
    VersionedTable.merge(Seq((1L, "B")).toDF("id", "v"), t, Seq("id"))     // v3 sidecar
    assert(changes(VersionedTable.readChangeFeed(spark, t, 2L)) ==
      Set((1L, "A", "update_preimage", 3L), (1L, "B", "update_postimage", 3L)))
  }

  test("feedChangesInto: the gold hop SURVIVES silver deletes/updates with " +
      "signed deltas — exactly-once, recompute-equal (i29)") {
    val src = tmpTable("cdfsrc")
    val tgt = tmpTable("cdftgt")
    VersionedTable.create(
      Seq((1L, "x", 10.0), (2L, "x", 20.0), (3L, "y", 5.0))
        .toDF("id", "grp", "amt"), src, changeFeed = true)
    VersionedTable.create(
      Seq(("z", 0.0)).toDF("grp", "delta").filter(lit(false)), tgt)
    // signed-delta transform: +amt on insert/postimage, -amt on delete/preimage
    val signed: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      ch => ch.select(col("grp"),
        (col("amt") * when(col(ChangeTypeCol).isin("insert", "update_postimage"), 1.0)
          .otherwise(-1.0)).as("delta"))
    def goldAgg(): Map[String, Double] =
      VersionedTable.read(spark, tgt).groupBy("grp").agg(sum("delta"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    def recompute(): Map[String, Double] =
      VersionedTable.read(spark, src).groupBy("grp").agg(sum("amt"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

    // bootstrap
    assert(VersionedTable.feedChangesInto(spark, src, tgt, "hop")(signed).isDefined)
    assert(goldAgg() == recompute())
    // a GDPR delete + an update + an upsert land on silver
    VersionedTable.delete(spark, src, col("id") === 2L)
    VersionedTable.update(spark, src, col("id") === 3L, Map("amt" -> lit(7.5)))
    VersionedTable.merge(Seq((1L, "x", 11.0), (4L, "y", 2.0))
      .toDF("id", "grp", "amt"), src, Seq("id"))
    // the hop keeps flowing — where feedInto dies named
    val hop = VersionedTable.feedChangesInto(spark, src, tgt, "hop")(signed)
    assert(hop.isDefined)
    assert(goldAgg() == recompute(), s"gold ${goldAgg()} vs silver ${recompute()}")
    // caught up: None; replay-idempotent
    assert(VersionedTable.feedChangesInto(spark, src, tgt, "hop")(signed).isEmpty)
    assert(goldAgg() == recompute())
  }

  // ------------------------------------------------ CHECK constraints (i33)

  test("CHECK constraints: adds validate existing data, writes enforce " +
      "transactionally (violating batch sweeps, commits nothing), NULL " +
      "checks violate, drop lifts, evolution keeps them (i33)") {
    val t = tmpTable("check")
    VersionedTable.create(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amt"), t)
    // a constraint the data already violates fails named with an example
    val e0 = intercept[IllegalArgumentException] {
      VersionedTable.addConstraint(spark, t, "big", "amt > 15.0") }
    assert(e0.getMessage.contains("existing data violates") &&
      e0.getMessage.contains("big"), e0.getMessage)
    VersionedTable.addConstraint(spark, t, "pos", "amt > 0.0")

    // a violating APPEND fails named, commits nothing, leaks no files
    val vBefore = VersionedTable.latestVersion(spark, t)
    val e1 = intercept[RuntimeException] {
      VersionedTable.append(Seq((3L, -1.0)).toDF("id", "amt"), t) }
    assert(e1.getMessage.contains("pos") && e1.getMessage.contains("1 rows"),
      e1.getMessage)
    assert(VersionedTable.latestVersion(spark, t) == vBefore)
    val referenced = (0L to vBefore)
      .flatMap(v => VersionedTable.snapshotAt(spark, t, v).files)
      .map(_.path.split("/")(1)).toSet
    val onDisk = fs.listStatus(new Path(s"$t/data")).map(_.getPath.getName).toSet
    assert((onDisk -- referenced).isEmpty,
      s"violating write leaked data dirs: ${onDisk -- referenced}")

    // NULL check results VIOLATE (a CHECK must hold, not merely not-fail)
    val e2 = intercept[RuntimeException] {
      VersionedTable.append(
        Seq((3L, null.asInstanceOf[java.lang.Double])).toDF("id", "amt"), t) }
    assert(e2.getMessage.contains("pos"), e2.getMessage)
    // merge staged batches and COW update SETs are enforced too
    val e3 = intercept[RuntimeException] {
      VersionedTable.merge(Seq((1L, -5.0)).toDF("id", "amt"), t, Seq("id")) }
    assert(e3.getMessage.contains("pos"), e3.getMessage)
    val e4 = intercept[RuntimeException] {
      VersionedTable.update(spark, t, col("id") === 1L,
        Map("amt" -> lit(-9.0))) }
    assert(e4.getMessage.contains("pos"), e4.getMessage)
    assert(VersionedTable.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((1L, 10.0), (2L, 20.0)), "no violating write may land")
    // a CLEAN write flows through the same single observed pass
    VersionedTable.append(Seq((4L, 4.0)).toDF("id", "amt"), t)
    assert(VersionedTable.read(spark, t).count() == 3L)

    // schema evolution keeps constraints (omitted-key meta semantics)
    VersionedTable.appendEvolve(Seq((5L, 5.0, "x")).toDF("id", "amt", "tag"), t)
    assert(VersionedTable.snapshotAt(spark, t).constraints.contains("pos"))
    val e5 = intercept[RuntimeException] {
      VersionedTable.append(
        Seq((6L, -6.0, "y")).toDF("id", "amt", "tag"), t) }
    assert(e5.getMessage.contains("pos"), e5.getMessage)

    // SQL twins, lockstep: add via statement, violate, drop, pass
    graft.sql.SqlDml.run(spark,
      s"ALTER TABLE '$t' ADD CONSTRAINT small CHECK (amt < 100.0)")
    Seq((7L, 999.0, "z")).toDF("id", "amt", "tag")
      .createOrReplaceTempView("huge_stage")
    val e7 = intercept[RuntimeException] {
      graft.sql.SqlDml.run(spark,
        s"MERGE INTO '$t' USING huge_stage ON KEYS (id)") }
    assert(e7.getMessage.contains("small"), e7.getMessage)
    graft.sql.SqlDml.run(spark, s"ALTER TABLE '$t' DROP CONSTRAINT small")
    graft.sql.SqlDml.run(spark, s"MERGE INTO '$t' USING huge_stage ON KEYS (id)")
    assert(VersionedTable.read(spark, t).filter(col("id") === 7L).count() == 1L)
    // the append-face feed flows straight through constraint commits
    assert(VersionedTable.readChangesSince(spark, t, vBefore).count() > 0)
    // checkpoint survival: force past the interval and re-read
    (1L to 10L).foreach(i =>
      VersionedTable.append(Seq((100L + i, 1.0, "c")).toDF("id", "amt", "tag"), t))
    assert(VersionedTable.snapshotAt(spark, t).constraints.contains("pos"))
  }

  test("constraint races and restore interplay: a concurrent ADD CONSTRAINT " +
      "fails an in-flight append named; restore restores the constraint set " +
      "with the schema (i33, r19 review)") {
    // race: the append's data was enforced against the PRE-constraint
    // snapshot; letting its retry publish would land unchecked rows under
    // the new rule — the commit loop must fail it named instead. The hook
    // interleaves the ADD CONSTRAINT exactly in the decide→commit window.
    val t = tmpTable("crace")
    VersionedTable.create(Seq((1L, 1.0)).toDF("id", "amt"), t)
    VersionedTable.testHookBeforeCommit = () => {
      VersionedTable.testHookBeforeCommit = () => ()
      VersionedTable.addConstraint(spark, t, "pos", "amt > 0.0")
      ()
    }
    try {
      val e = intercept[RuntimeException] {
        VersionedTable.append(Seq((2L, -1.0)).toDF("id", "amt"), t) }
      assert(e.getMessage.contains("constraints changed concurrently"),
        e.getMessage)
    } finally VersionedTable.testHookBeforeCommit = () => ()
    // nothing committed, nothing leaked, and a compliant re-run enforces
    assert(VersionedTable.read(spark, t).count() == 1L)
    val e2 = intercept[RuntimeException] {
      VersionedTable.append(Seq((2L, -1.0)).toDF("id", "amt"), t) }
    assert(e2.getMessage.contains("pos"), e2.getMessage)
    VersionedTable.append(Seq((2L, 2.0)).toDF("id", "amt"), t)
    assert(VersionedTable.read(spark, t).count() == 2L)

    // restore: constraint on an evolved-in column, then restore BELOW the
    // evolution — writes must keep working (the constraint must not
    // survive pointing at a column the schema no longer has)
    val t2 = tmpTable("crestore")
    VersionedTable.create(Seq((1L, 1.0)).toDF("id", "amt"), t2)          // v0
    VersionedTable.appendEvolve(Seq((2L, 2.0, "x")).toDF("id", "amt", "tag"), t2) // v1
    VersionedTable.addConstraint(spark, t2, "t_ok", "tag = 'x' OR tag IS NULL") // v2
    VersionedTable.restore(spark, t2, 0L)                                 // v3
    assert(VersionedTable.snapshotAt(spark, t2).constraints.isEmpty,
      "restore must restore the constraint set with the schema")
    // the write that would have been bricked flows again
    VersionedTable.append(Seq((3L, 3.0)).toDF("id", "amt"), t2)
    assert(VersionedTable.read(spark, t2).count() == 2L)
  }

  // ------------------------------------------------- deletion vectors (i30)

  test("deleteVectors: merge-on-read delete — reads exclude the rows, the " +
      "file bytes stay, re-delete unions, COW amplification bounded (i30)") {
    val t = tmpTable("dv")
    // four sizeable files so the O(DV)-vs-O(file) write bound is observable
    VersionedTable.create(
      (1L to 400L).map(i => (i, "pad" * 80 + i)).toDF("id", "v")
        .repartition(4, col("id")), t)
    val dataBytes0 = fs.getContentSummary(new Path(s"$t/data")).getLength

    val r1 = VersionedTable.deleteVectors(spark, t, col("id") === 42L)
    assert(r1.isDefined && r1.get._2 == 1L)
    val dataBytes1 = fs.getContentSummary(new Path(s"$t/data")).getLength
    // amplification bound: a 1-row delete writes O(DV) bytes, not O(file) —
    // the data dir grows by less than one data file's size
    val oneFile = dataBytes0 / 4
    assert(dataBytes1 - dataBytes0 < oneFile,
      s"DV delete wrote ${dataBytes1 - dataBytes0} bytes; a file is ~$oneFile")
    assert(VersionedTable.read(spark, t).count() == 399L)
    assert(VersionedTable.read(spark, t).filter(col("id") === 42L).count() == 0L)
    // time travel to the pre-delete version still serves the row
    assert(VersionedTable.readVersion(spark, t, 0L)
      .filter(col("id") === 42L).count() == 1L)
    // the protocol feature landed with the commit
    assert(VersionedTable.snapshotAt(spark, t).readerFeatures
      .contains("deletion-vectors"))

    // re-delete on already-DV'd files unions (no lost positions)
    val r2 = VersionedTable.deleteVectors(spark, t, col("id") <= 10L)
    assert(r2.get._2 == 10L)
    assert(VersionedTable.read(spark, t).count() == 389L)
    // deleting an already-deleted row is a no-op, not a recount
    assert(VersionedTable.deleteVectors(spark, t, col("id") === 42L).isEmpty)

    // readWhere (stats pruning) composes with the DV anti-join
    assert(VersionedTable.readWhere(spark, t, col("id") === 5L).count() == 0L)
    assert(VersionedTable.readWhere(spark, t, col("id") === 50L).count() == 1L)

    // DML on DV'd files stays exact: COW update must not resurrect
    VersionedTable.update(spark, t, col("id") === 50L, Map("v" -> lit("fifty")))
    val live = VersionedTable.read(spark, t)
    assert(live.count() == 389L)
    assert(live.filter(col("id") === 50L).select("v").head().getString(0) == "fifty")
    assert(live.filter(col("id") <= 10L || col("id") === 42L).count() == 0L)
  }

  test("optimize folds deletion vectors into clean files; vacuum keeps " +
      "referenced DV dirs and sweeps unreferenced ones (i30)") {
    val t = tmpTable("dvfold")
    VersionedTable.create(
      (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v").repartition(3, col("id")), t)
    VersionedTable.deleteVectors(spark, t, col("id") % 10L === 0L)
    assert(VersionedTable.read(spark, t).count() == 45L)
    val vOpt = VersionedTable.optimize(spark, t)
    assert(vOpt.isDefined, "DV-carrying files must be fold candidates")
    val snap = VersionedTable.snapshotAt(spark, t)
    assert(snap.files.forall(_.dv.isEmpty), "fold must drop every DV")
    assert(VersionedTable.read(spark, t).count() == 45L)
    assert(VersionedTable.read(spark, t).filter(col("id") % 10L === 0L).count() == 0L)
    // convergence: nothing left to fold or compact
    assert(VersionedTable.optimize(spark, t).isEmpty)
    // vacuum to the head: pre-fold files AND the now-unreferenced dv dir go
    val deleted = VersionedTable.vacuum(spark, t, retainVersions = 1, graceMs = 0L)
    assert(deleted > 0)
    assert(!fs.listStatus(new Path(s"$t/data")).exists(_.getPath.getName.startsWith("dv-")),
      "unreferenced dv dir must be swept")
    assert(VersionedTable.read(spark, t).count() == 45L)

    // and while referenced, vacuum RETAINS the dv dir: fresh table, DV, vacuum
    val t2 = tmpTable("dvkeep")
    VersionedTable.create((1L to 20L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(2, col("id")), t2)
    VersionedTable.deleteVectors(spark, t2, col("id") === 7L)
    VersionedTable.vacuum(spark, t2, retainVersions = 1, graceMs = 0L)
    assert(VersionedTable.read(spark, t2).count() == 19L,
      "a live DV sidecar must survive vacuum")
  }

  test("DML hit discovery survives URI-encodable partition values: a space " +
      "in a partition segment must not silently no-op delete/merge (r19 review)") {
    val t = tmpTable("urienc")
    // 'a b' stays a literal space on disk (Hive escapes %:\\n etc., not
    // spaces) while _metadata.file_path spells it %20 — the two must be
    // reconciled or hit resolution finds nothing and merge DUPLICATES keys
    VersionedTable.create(
      Seq((1L, "a b", "x"), (2L, "a b", "y"), (3L, "c%d", "z"))
        .toDF("id", "grp", "v"), t, partitionBy = Seq("grp"))
    // COW delete inside the spaced partition
    val del = VersionedTable.delete(spark, t, col("id") === 1L)
    assert(del.isDefined && del.get._2 == 1L,
      s"delete in a spaced partition must HIT, got $del")
    assert(VersionedTable.read(spark, t).count() == 2L)
    // merge must REPLACE, not duplicate
    VersionedTable.merge(Seq((2L, "a b", "Y!")).toDF("id", "grp", "v"), t, Seq("id"))
    val g2 = VersionedTable.read(spark, t).filter(col("id") === 2L).collect()
    assert(g2.length == 1 && g2(0).getString(2) == "Y!",
      s"merge must replace the spaced-partition row once, got ${g2.toSeq}")
    // DV delete in the %-escaped partition
    val dv = VersionedTable.deleteVectors(spark, t, col("id") === 3L)
    assert(dv.isDefined && dv.get._2 == 1L, s"DV delete must hit, got $dv")
    assert(VersionedTable.read(spark, t).count() == 1L)
  }

  test("deleteVectors: a fully-deleted file DROPS from the snapshot instead " +
      "of lingering as a zero-row DV scan (i30)") {
    val t = tmpTable("dvfull")
    VersionedTable.create(
      (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), t)
    VersionedTable.append(
      (11L to 20L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), t)
    val r = VersionedTable.deleteVectors(spark, t, col("id") <= 10L)
    assert(r.get._2 == 10L)
    val snap = VersionedTable.snapshotAt(spark, t)
    assert(snap.files.size == 1 && snap.files.forall(_.dv.isEmpty),
      s"fully-deleted file must drop outright, got ${snap.files}")
    // no DV was needed, so no protocol feature landed either
    assert(!snap.readerFeatures.contains("deletion-vectors"))
    assert(VersionedTable.read(spark, t).collect().map(_.getLong(0)).toSet ==
      (11L to 20L).toSet)
    // a PARTIAL delete on the survivor still goes merge-on-read
    assert(VersionedTable.deleteVectors(spark, t, col("id") === 11L).isDefined)
    assert(VersionedTable.snapshotAt(spark, t).files.exists(_.dv.isDefined))
    assert(VersionedTable.read(spark, t).count() == 9L)
  }

  test("updateVectors: merge-on-read update — old states DV out, new states " +
      "append, amplification bounded, CDF pre/post served (i30)") {
    val t = tmpTable("dvupd")
    // incompressible payloads: the O(file)-vs-O(positions) bound must be
    // measured against real bytes, not parquet-RLE'd padding
    VersionedTable.create(
      (1L to 4000L).map(i => (i, i * 1.0)).toDF("id", "amt")
        .withColumn("v", repeat(md5(col("id").cast("string")), 10))
        .select("id", "v", "amt")
        .repartition(4, col("id")), t, changeFeed = true)
    val dataBytes0 = fs.getContentSummary(new Path(s"$t/data")).getLength
    val r = VersionedTable.updateVectors(spark, t, col("id") === 42L,
      Map("amt" -> lit(999.0)))
    assert(r.isDefined && r.get._2 == 1L)
    // bound: O(positions) + O(updated rows) + the CDF sidecar, not O(file)
    val grew = fs.getContentSummary(new Path(s"$t/data")).getLength - dataBytes0
    assert(grew < dataBytes0 / 4,
      s"MoR update wrote $grew bytes; a file is ~${dataBytes0 / 4}")
    val live = VersionedTable.read(spark, t)
    assert(live.count() == 4000L, "update must not change row count")
    assert(live.filter(col("id") === 42L).select("amt").head().getDouble(0) == 999.0)
    // CDF: exactly one pre + one post
    val feed = VersionedTable.readChangeFeed(spark, t, 0L)
      .select(col("id"), col("amt"), col(ChangeTypeCol)).collect()
      .map(r2 => (r2.getLong(0), r2.getDouble(1), r2.getString(2))).toSet
    assert(feed == Set((42L, 42.0, "update_preimage"), (42L, 999.0, "update_postimage")))
    // typed SET still fails named before any write
    intercept[IllegalArgumentException] {
      VersionedTable.updateVectors(spark, t, col("id") === 1L,
        Map("amt" -> lit("oops"))) }
    // second MoR update on the SAME row: DV union keeps exactly one live state
    VersionedTable.updateVectors(spark, t, col("id") === 42L,
      Map("amt" -> lit(7.0)))
    assert(VersionedTable.read(spark, t).filter(col("id") === 42L).count() == 1L)
    assert(VersionedTable.read(spark, t)
      .filter(col("id") === 42L).select("amt").head().getDouble(0) == 7.0)
    // optimize folds everything clean; state preserved
    assert(VersionedTable.optimize(spark, t).isDefined)
    assert(VersionedTable.snapshotAt(spark, t).files.forall(_.dv.isEmpty))
    assert(VersionedTable.read(spark, t).count() == 4000L)
    // the SQL twin reaches the same path
    graft.sql.SqlDml.run(spark,
      s"UPDATE '$t' SET amt = CAST(1.25 AS DOUBLE) WHERE id = 9 USING DELETION VECTORS")
    assert(VersionedTable.read(spark, t)
      .filter(col("id") === 9L).select("amt").head().getDouble(0) == 1.25)
  }

  test("CDF over DV deletes and restores: sidecar-served and computed " +
      "changes agree with table states (i29 × i30 × i31)") {
    val t = tmpTable("dvcdf")
    // ONE data file so the restore's computed diff covers all three rows
    VersionedTable.create(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").repartition(1), t,
      changeFeed = true)                                                   // v0
    VersionedTable.deleteVectors(spark, t, col("id") === 2L)               // v1
    assert(changes(VersionedTable.readChangeFeed(spark, t, 0L)) ==
      Set((2L, "b", "delete", 1L)))
    // restore to v0: computed feed serves the un-delete as insert of the
    // file's SURVIVING rows at v1 state... restore re-adds nothing here
    // (the path never left the snapshot — only its DV pointer changed), so
    // the computed diff is the DV'd state swap: v0's clean add returns
    VersionedTable.restore(spark, t, 0L)                                   // v2
    assert(rows(VersionedTable.read(spark, t)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    val feed = changes(VersionedTable.readChangeFeed(spark, t, 1L))
    // the restore removed the DV'd add (serving rows {a,c}) and re-added
    // the clean v0 file (serving {a,b,c})
    assert(feed == Set(
      (1L, "a", "delete", 2L), (3L, "c", "delete", 2L),
      (1L, "a", "insert", 2L), (2L, "b", "insert", 2L), (3L, "c", "insert", 2L)),
      s"got $feed")
  }
}
