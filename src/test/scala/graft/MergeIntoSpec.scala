package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.VersionedTable
import graft.sources.VersionedTable.{ChangeTypeCol, CommitVersionCol}
import graft.sql.SqlDml

/** i34: conditional MERGE — full Delta clause semantics on the i23 log —
  * plus its SQL grammar (SqlDml) and the reference's literal two-merge
  * SCD2 statements (4_silver/silver_transactions.py:124-176) proven equal
  * to Scd2.mergeVersioned row-for-row.
  */
class MergeIntoSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(tag: String): String =
    Files.createTempDirectory(s"mi_$tag").resolve("t").toString

  private def state(t: String): Set[(Long, String, Double)] =
    VersionedTable.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  test("clause semantics: first-true dispatch, conditional update/delete/" +
      "insert, unclaimed matches pass through, metrics") {
    val t = tmpTable("clauses")
    VersionedTable.create(
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0), (4L, "d", 4.0))
        .toDF("id", "v", "amt"), t)
    // source: 1 → update (op=U), 2 → delete (op=D), 3 → op=X claims no
    // clause (passes through), 5 → new row (op=I inserts), 6 → new row
    // whose insert condition FAILS (dropped)
    val src = Seq((1L, "A", 10.0, "U"), (2L, "b", 2.0, "D"),
      (3L, "C", 30.0, "X"), (5L, "e", 5.0, "I"), (6L, "f", 6.0, "D"))
      .toDF("id", "v", "amt", "op")
    val r = VersionedTable.mergeInto(spark, t, src,
        on = expr("t.id = s.id"), targetAlias = "t", sourceAlias = "s")
      .whenMatchedUpdate(Map("v" -> expr("s.v"), "amt" -> expr("s.amt")),
        condition = expr("s.op = 'U'"))
      .whenMatchedDelete(condition = expr("s.op = 'D'"))
      .whenNotMatchedInsert(
        Map("id" -> expr("s.id"), "v" -> expr("s.v"), "amt" -> expr("s.amt")),
        condition = expr("s.op = 'I'"))
      .execute()
    assert(r.committed && r.rowsUpdated == 1 && r.rowsDeleted == 1 &&
      r.rowsInserted == 1, r)
    assert(state(t) == Set((1L, "A", 10.0), (3L, "c", 3.0), (4L, "d", 4.0),
      (5L, "e", 5.0)))
    // a delete happened: the commit is op merge_delete, named for the feed
    val hist = VersionedTable.history(spark, t).collect()
      .map(x => (x.getLong(0), x.getString(1))).toMap
    assert(hist(1L) == "merge_delete", hist)
  }

  test("clause ORDER decides: a row both clauses claim takes the first") {
    val t = tmpTable("order")
    VersionedTable.create(Seq((1L, "a", 1.0)).toDF("id", "v", "amt"), t)
    val src = Seq((1L, "z", 9.0)).toDF("id", "v", "amt")
    // delete-first ordering: the matched row dies even though the update
    // clause (unconditional) would also claim it
    VersionedTable.mergeInto(spark, t, src, expr("t.id = s.id"), "t", "s")
      .whenMatchedDelete()
      .whenMatchedUpdate(Map("v" -> expr("s.v")))
      .execute()
    assert(state(t).isEmpty)
  }

  test("files none of whose matched rows act are untouched bytes, " +
      "and a merge where NOTHING acts commits no version") {
    val t = tmpTable("noop")
    // two files: ids 1-2 and 11-12 (distinct uuid dirs via two appends)
    VersionedTable.create(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "v", "amt"), t)
    VersionedTable.append(Seq((11L, "x", 1.0), (12L, "y", 2.0)).toDF("id", "v", "amt"), t)
    val v1 = VersionedTable.latestVersion(spark, t)
    // source matches BOTH files, but the clause condition only fires in one
    val src = Seq((1L, "A", 1.0), (11L, "x", 1.0)).toDF("id", "v", "amt")
    val r = VersionedTable.mergeInto(spark, t, src, expr("t.id = s.id"), "t", "s")
      .whenMatchedUpdate(Map("v" -> expr("s.v")),
        condition = expr("t.v <> s.v"))
      .execute()
    assert(r.committed && r.rowsUpdated == 1)
    // only the file holding id=1 was rewritten: exactly 1 remove
    val hist = VersionedTable.history(spark, t)
      .filter(col("version") === v1 + 1).head()
    assert(hist.getInt(4) == 1, s"expected 1 remove, got ${hist.getInt(4)}")
    // idempotent re-run: nothing acts now, no commit at all
    val r2 = VersionedTable.mergeInto(spark, t, src, expr("t.id = s.id"), "t", "s")
      .whenMatchedUpdate(Map("v" -> expr("s.v")), condition = expr("t.v <> s.v"))
      .execute()
    assert(!r2.committed && r2.version == v1 + 1)
    assert(VersionedTable.latestVersion(spark, t) == v1 + 1)
  }

  test("ON's equi keys stats-prune the planned scan whether ON is an expr " +
      "string or built from Column operators") {
    val t = tmpTable("equiprune")
    // three files with disjoint id ranges
    VersionedTable.create(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "v", "amt"), t)
    VersionedTable.append(Seq((11L, "x", 1.0), (12L, "y", 2.0)).toDF("id", "v", "amt"), t)
    VersionedTable.append(Seq((21L, "p", 1.0), (22L, "q", 2.0)).toDF("id", "v", "amt"), t)
    val src = Seq((1L, "a", 1.0)).toDF("id", "v", "amt")
    for (on <- Seq(expr("t.id = s.id"),
        col("t.id") === col("s.id") && col("t.v") === col("s.v"))) {
      val r = VersionedTable.mergeInto(spark, t, src, on, "t", "s")
        .whenMatchedUpdate(Map("amt" -> expr("s.amt + 1.0"))).execute()
      assert(r.targetFilesScanned == 1, s"ON $on planned ${r.targetFilesScanned} of 3 files")
    }
  }

  test("a target row MODIFIED by multiple source rows fails NAMED; " +
      "fan-out no clause claims is legal (row survives once); insert-only " +
      "merges tolerate fan-out") {
    val t = tmpTable("dup")
    VersionedTable.create(Seq((1L, "a", 1.0)).toDF("id", "v", "amt"), t)
    val fanned = Seq((1L, "x", 1.0), (1L, "y", 2.0), (7L, "n", 7.0))
      .toDF("id", "v", "amt")
    val e = intercept[IllegalArgumentException] {
      VersionedTable.mergeInto(spark, t, fanned, expr("t.id = s.id"), "t", "s")
        .whenMatchedUpdateAll().execute()
    }
    assert(e.getMessage.contains("multiple"), e.getMessage)
    assert(VersionedTable.latestVersion(spark, t) == 0L, "nothing committed")
    // fan-out where the clause condition excludes EVERY match: legal
    // (Delta only errors on ambiguous MODIFICATION) — and no commit,
    // since nothing acted
    val r0 = VersionedTable.mergeInto(spark, t, fanned, expr("t.id = s.id"), "t", "s")
      .whenMatchedUpdateAll(condition = expr("s.amt > 100.0")).execute()
    assert(!r0.committed && state(t) == Set((1L, "a", 1.0)))
    // fan-out where exactly ONE match acts: the acting row wins, the
    // keep-side copy must NOT double the target row
    val r1 = VersionedTable.mergeInto(spark, t, fanned, expr("t.id = s.id"), "t", "s")
      .whenMatchedUpdate(Map("v" -> expr("s.v")), condition = expr("s.amt = 2.0"))
      .execute()
    assert(r1.rowsUpdated == 1 && state(t) == Set((1L, "y", 1.0)))
    // insert-only: the fan-out rows are simply matched (not inserted)
    val r = VersionedTable.mergeInto(spark, t, fanned, expr("t.id = s.id"), "t", "s")
      .whenNotMatchedInsertAll().execute()
    assert(r.rowsInserted == 1 &&
      state(t) == Set((1L, "y", 1.0), (7L, "n", 7.0)))
    // Delta's one further exception: a SINGLE UNCONDITIONAL DELETE clause
    // tolerates fan-out (deleting a row twice is the same delete) — and
    // reports each physical row ONCE
    val rd = VersionedTable.mergeInto(spark, t, fanned, expr("t.id = s.id"), "t", "s")
      .whenMatchedDelete().execute()
    // id=1 (two source matches, counted ONCE) and id=7 (one match) delete
    assert(rd.rowsDeleted == 2, rd)
    assert(state(t).isEmpty)
  }

  test("NULL join keys never match: target survives, source inserts") {
    val t = tmpTable("nulls")
    VersionedTable.create(
      Seq((java.lang.Long.valueOf(1L), "a", 1.0), (null.asInstanceOf[java.lang.Long], "nk", 0.0))
        .toDF("id", "v", "amt"), t)
    val src = Seq((java.lang.Long.valueOf(1L), "A", 1.0),
      (null.asInstanceOf[java.lang.Long], "snull", 9.0)).toDF("id", "v", "amt")
    val r = VersionedTable.mergeInto(spark, t, src, expr("t.id = s.id"), "t", "s")
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute()
    assert(r.rowsUpdated == 1 && r.rowsInserted == 1)
    val got = VersionedTable.read(spark, t).collect()
      .map(x => (Option(x.get(0)), x.getString(1))).toSet
    assert(got == Set((Some(1L), "A"), (None, "nk"), (None, "snull")))
  }

  test("merge_delete × feed faces: append face fails named, CDF serves " +
      "typed rows; CHECK constraints gate updated and inserted rows") {
    val t = tmpTable("feed")
    VersionedTable.create(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "v", "amt"),
      t, changeFeed = true)
    val src = Seq((1L, "A", 10.0), (2L, "b", 2.0), (9L, "i", 9.0))
      .toDF("id", "v", "amt")
    VersionedTable.mergeInto(spark, t, src, expr("t.id = s.id"), "t", "s")
      .whenMatchedUpdate(Map("v" -> expr("s.v"), "amt" -> expr("s.amt")),
        condition = expr("t.v <> s.v"))
      .whenMatchedDelete(condition = expr("s.amt = 2.0"))
      .whenNotMatchedInsertAll()
      .execute()
    val e = intercept[RuntimeException] {
      VersionedTable.readChangesSince(spark, t, 0L).collect() }
    assert(e.getMessage.contains("merge_delete"), e.getMessage)
    val feed = VersionedTable.readChangeFeed(spark, t, 0L)
      .select(col("id"), col("v"), col(ChangeTypeCol), col(CommitVersionCol))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(feed == Set(
      (1L, "a", "update_preimage", 1L), (1L, "A", "update_postimage", 1L),
      (2L, "b", "delete", 1L), (9L, "i", "insert", 1L)), feed)

    // CHECK constraint: a violating post-image/insert aborts, nothing lands
    VersionedTable.addConstraint(spark, t, "amt_pos", "amt > 0")
    val bad = Seq((1L, "neg", -5.0), (50L, "negins", -1.0)).toDF("id", "v", "amt")
    val before = state(t)
    val e2 = intercept[RuntimeException] {
      VersionedTable.mergeInto(spark, t, bad, expr("t.id = s.id"), "t", "s")
        .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute() }
    assert(e2.getMessage.contains("amt_pos"), e2.getMessage)
    assert(state(t) == before, "violating merge must leave the table unchanged")
  }

  test("the reference's literal two-merge SCD2 (silver_transactions.py:" +
      "124-176, path-adapted) through SqlDml equals Scd2.mergeVersioned " +
      "row-for-row") {
    val dir = Files.createTempDirectory("mi_scd2").toFile.getAbsolutePath
    val tSql = s"$dir/t_sql"
    val tApi = s"$dir/t_api"
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val seed = Seq(
      (100L, 10.0, "BOOKED", t1, null.asInstanceOf[java.sql.Timestamp], true),
      (200L, 20.0, "PENDING", t1, null.asInstanceOf[java.sql.Timestamp], true),
      (300L, 30.0, "BOOKED", t1, null.asInstanceOf[java.sql.Timestamp], true))
      .toDF("transaction_key", "amount", "status", "valid_from", "valid_to", "is_current")
    VersionedTable.create(seed, tSql)
    VersionedTable.create(seed, tApi)
    // staged: 100 changed (amount), 200 unchanged, 400 new
    val staged = Seq((100L, 11.0, "BOOKED"), (200L, 20.0, "PENDING"),
      (400L, 40.0, "NEW")).toDF("transaction_key", "amount", "status")
    staged.createOrReplaceTempView("transactions_stg")

    // the reference's MERGE #1: expire current rows if something changed
    val m1 = SqlDml.run(spark,
      s"""MERGE INTO '$tSql' AS target
         |USING transactions_stg AS source
         |ON target.transaction_key = source.transaction_key AND target.is_current = true
         |WHEN MATCHED AND (
         |     target.amount <> source.amount
         |  OR target.status <> source.status
         |) THEN UPDATE SET
         |  target.is_current = false,
         |  target.valid_to = timestamp'2024-01-02 00:00:00'
         |""".stripMargin)
    assert(m1.columns.toSeq ==
      Seq("version", "rows_updated", "rows_deleted", "rows_inserted"))
    assert(m1.head().getLong(1) == 1L, "exactly key 100 expires")

    // the reference's MERGE #2: insert new current rows (new + changed)
    val m2 = SqlDml.run(spark,
      s"""MERGE INTO '$tSql' AS target
         |USING transactions_stg AS source
         |ON target.transaction_key = source.transaction_key AND target.is_current = true
         |WHEN NOT MATCHED THEN INSERT (
         |  transaction_key, amount, status, valid_from, valid_to, is_current
         |) VALUES (
         |  source.transaction_key, source.amount, source.status,
         |  timestamp'2024-01-02 00:00:00', NULL, true
         |)""".stripMargin)
    assert(m2.head().getLong(3) == 2L, "changed 100 + new 400 insert")

    // the Scala twin
    graft.ops.Scd2.mergeVersioned(spark, tApi, staged,
      keys = Seq("transaction_key"), attrs = Seq("amount", "status"),
      asOf = lit("2024-01-02 00:00:00").cast("timestamp"))

    val a = VersionedTable.read(spark, tSql).collect().map(_.toSeq).toSet
    val b = VersionedTable.read(spark, tApi).collect().map(_.toSeq).toSet
    assert(a == b, s"SQL-driven:\n$a\nAPI-driven:\n$b")
    // and the dimension is well-formed: one current row per surviving key
    val cur = VersionedTable.read(spark, tSql).filter(col("is_current"))
      .select("transaction_key", "amount").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(cur == Set((100L, 11.0), (200L, 20.0), (300L, 30.0), (400L, 40.0)))
  }

  test("SQL grammar: UPDATE SET * / INSERT * / keywords inside string " +
      "literals / ON KEYS spelling still routes to the unconditional merge") {
    val dir = Files.createTempDirectory("mi_sql").toFile.getAbsolutePath
    val t = s"$dir/t"
    VersionedTable.create(
      Seq((1L, "when then on", 1.0), (2L, "b", 2.0)).toDF("id", "v", "amt"), t)
    Seq((1L, "set * where", 5.0), (3L, "c", 3.0)).toDF("id", "v", "amt")
      .createOrReplaceTempView("mi_stg")
    val r = SqlDml.run(spark,
      s"""MERGE INTO '$t' AS t USING mi_stg AS s
         |ON t.id = s.id AND t.v <> 'WHEN MATCHED THEN'
         |WHEN MATCHED AND s.v <> 'USING ON WHEN THEN' THEN UPDATE SET *
         |WHEN NOT MATCHED AND s.v <> 'VALUES (THEN)' THEN INSERT *
         |""".stripMargin)
    assert(r.head().getLong(1) == 1L && r.head().getLong(3) == 1L)
    assert(state(t) == Set((1L, "set * where", 5.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    // the pre-r20 unconditional spelling still works
    val r2 = SqlDml.run(spark, s"MERGE INTO '$t' USING mi_stg ON KEYS (id)")
    assert(r2.columns.toSeq == Seq("version", "rows_staged"))

    // an UNPARENTHESIZED CASE expression in a SET / clause condition:
    // the clause must not end at the CASE's embedded WHEN/THEN
    val r3 = SqlDml.run(spark,
      s"""MERGE INTO '$t' AS t USING mi_stg AS s ON t.id = s.id
         |WHEN MATCHED AND CASE WHEN s.amt > 4.0 THEN true ELSE false END
         |  THEN UPDATE SET amt = CASE WHEN s.amt > 4.0 THEN s.amt + 0.5 ELSE t.amt END
         |""".stripMargin)
    assert(r3.head().getLong(1) == 1L, "CASE-guarded update must act once")
    assert(VersionedTable.read(spark, t).filter(col("id") === 1L)
      .select("amt").head().getDouble(0) == 5.5)

    // double-quoted string literals shield keywords too (Spark's default
    // dialect accepts both quote spellings)
    SqlDml.run(spark,
      s"""UPDATE '$t' SET v = "x WHERE USING y" WHERE id = 2""")
    assert(VersionedTable.read(spark, t).filter(col("id") === 2L)
      .select("v").head().getString(0) == "x WHERE USING y")
  }

  test("malformed DML fails NAMED (Spark's ParseException or a named " +
      "require) and commits nothing; BY TARGET and alias-qualified SET parse") {
    import org.apache.spark.sql.catalyst.parser.ParseException
    val t = tmpTable("malformed")
    VersionedTable.create(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "v", "amt"), t)
    Seq((1L, "A", 10.0), (3L, "c", 3.0)).toDF("id", "v", "amt")
      .createOrReplaceTempView("malformed_src")
    val head = s"MERGE INTO '$t' AS t USING malformed_src AS s ON t.id = s.id"
    val cases = Seq[(String, String, Class[_ <: Throwable], String)](
      ("clause without THEN", s"$head WHEN MATCHED UPDATE SET v = s.v",
        classOf[ParseException], ""),
      ("unbalanced parenthesis", s"$head WHEN MATCHED AND (s.amt > 1.0 THEN DELETE",
        classOf[ParseException], ""),
      ("NOT MATCHED after BY SOURCE", s"$head WHEN NOT MATCHED BY SOURCE THEN " +
        "DELETE WHEN NOT MATCHED THEN INSERT *", classOf[ParseException], ""),
      ("MERGE without WHEN", head, classOf[ParseException], ""),
      ("UPDATE without WHERE", s"UPDATE '$t' SET v = 'z'",
        classOf[IllegalArgumentException], "UPDATE needs a WHERE clause"),
      ("DELETE with a foreign USING suffix", s"DELETE FROM '$t' WHERE id = 1 USING FOO",
        classOf[ParseException], ""))
    cases.foreach { case (label, stmt, named, fragment) =>
      val e = intercept[Throwable](SqlDml.run(spark, stmt))
      assert(named.isInstance(e), s"$label: ${e.getClass.getName}: ${e.getMessage}")
      assert(e.getMessage.contains(fragment), s"$label: ${e.getMessage}")
    }
    assert(VersionedTable.latestVersion(spark, t) == 0L, "nothing committed")
    assert(state(t) == Set((1L, "a", 1.0), (2L, "b", 2.0)))

    // WHEN NOT MATCHED BY TARGET is the NOT MATCHED clause, and a SET
    // target may carry the target alias
    val r = SqlDml.run(spark,
      s"""$head
         |WHEN MATCHED THEN UPDATE SET t.v = s.v, T.amt = s.amt
         |WHEN NOT MATCHED BY TARGET THEN INSERT (id, v, amt) VALUES (s.id, s.v, s.amt)
         |""".stripMargin).head()
    assert(r.getLong(1) == 1L && r.getLong(3) == 1L, r)
    assert(state(t) == Set((1L, "A", 10.0), (2L, "b", 2.0), (3L, "c", 3.0)))
  }

  test("WHEN NOT MATCHED BY SOURCE: the sync-to-source idiom — update, " +
      "delete, clause conditions, CDF images, SQL spelling") {
    val t = tmpTable("bysrc")
    VersionedTable.create(
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0), (4L, "stale", 4.0))
        .toDF("id", "v", "amt"), t, changeFeed = true)
    // source = the current truth: 1 changed, 2 unchanged, 5 new;
    // 3 and 4 vanished upstream — 4 is 'stale' (delete), 3 merely
    // unlisted (flagged, not deleted: the BY SOURCE condition decides)
    Seq((1L, "A", 10.0), (2L, "b", 2.0), (5L, "e", 5.0))
      .toDF("id", "v", "amt").createOrReplaceTempView("sync_src")
    val r = graft.sql.SqlDml.run(spark,
      s"""MERGE INTO '$t' AS t USING sync_src AS s ON t.id = s.id
         |WHEN MATCHED AND t.v <> s.v THEN UPDATE SET v = s.v, amt = s.amt
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE AND t.v = 'stale' THEN DELETE
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = concat(t.v, '?')
         |""".stripMargin)
    assert(r.head().getLong(1) == 2L, "1 matched-update + 3 by-source-update")
    assert(r.head().getLong(2) == 1L && r.head().getLong(3) == 1L)
    assert(state(t) == Set((1L, "A", 10.0), (2L, "b", 2.0), (3L, "c?", 3.0),
      (5L, "e", 5.0)))
    // the feed serves every face: matched update, by-source update,
    // by-source delete, insert
    val feed = VersionedTable.readChangeFeed(spark, t, 0L)
      .select(col("id"), col("v"), col(ChangeTypeCol))
      .collect().map(x => (x.getLong(0), x.getString(1), x.getString(2))).toSet
    assert(feed == Set(
      (1L, "a", "update_preimage"), (1L, "A", "update_postimage"),
      (3L, "c", "update_preimage"), (3L, "c?", "update_postimage"),
      (4L, "stale", "delete"), (5L, "e", "insert")), feed)
    // by-source-only merge with nothing stale: no commit
    Seq((1L, "A", 10.0), (2L, "b", 2.0), (3L, "c?", 3.0), (5L, "e", 5.0))
      .toDF("id", "v", "amt").createOrReplaceTempView("sync_src2")
    val head = VersionedTable.latestVersion(spark, t)
    val r2 = VersionedTable.mergeInto(spark, t, spark.table("sync_src2"),
        expr("t.id = s.id"), "t", "s")
      .whenNotMatchedBySourceDelete().execute()
    assert(!r2.committed && VersionedTable.latestVersion(spark, t) == head)
  }

  test("conditional NOT MATCHED BY SOURCE stats-prunes the planned scan; " +
      "unconditional/unprunable clauses still scan the whole table (r22)") {
    val t = tmpTable("bysrcprune")
    VersionedTable.create(
      Seq((1L, "2024-01-01", "a"), (2L, "2024-01-01", "b"),
          (3L, "2024-01-02", "c"), (4L, "2024-01-02", "d"),
          (5L, "2024-01-03", "e")).toDF("id", "day", "v"),
      t, partitionBy = Seq("day"))
    val files = VersionedTable.snapshotAt(spark, t).files
    assert(files.size >= 3, s"expected >=3 partition files, got ${files.size}")
    val day2 = files.count(_.partitions("day") == "2024-01-02")
    assert(day2 >= 1)
    // source lists id 3 only: id 4 vanished upstream — the clause scopes
    // the sync to ONE partition, so only that partition's files plan
    val src = Seq((3L, "2024-01-02", "c")).toDF("id", "day", "v")
    val r = VersionedTable.mergeInto(spark, t, src,
        expr("t.id = s.id"), "t", "s")
      .whenNotMatchedBySourceDelete(expr("t.day = '2024-01-02'"))
      .execute()
    assert(r.committed && r.rowsDeleted == 1L, s"$r")
    assert(r.targetFilesScanned == day2,
      s"by-source scan should stats-prune to the day-2 files ($day2), " +
        s"planned ${r.targetFilesScanned}")
    assert(rows3(t) == Set((1L, "2024-01-01", "a"), (2L, "2024-01-01", "b"),
      (3L, "2024-01-02", "c"), (5L, "2024-01-03", "e")))
    // a condition referencing the SOURCE side cannot bound the scan
    // (and never acts — source columns are NULL on unmatched rows)
    val all = VersionedTable.snapshotAt(spark, t).files.size
    val r2 = VersionedTable.mergeInto(spark, t, src,
        expr("t.id = s.id"), "t", "s")
      .whenNotMatchedBySourceDelete(expr("t.day = s.day"))
      .execute()
    assert(!r2.committed)
    assert(r2.targetFilesScanned == all,
      s"unprunable by-source condition must scan all $all files, " +
        s"planned ${r2.targetFilesScanned}")
    // matched clauses still add their semi-join hits to a pruned scan:
    // update id 1 (day-1 partition) while the by-source clause scopes day-3
    val src3 = Seq((1L, "2024-01-01", "A"), (2L, "2024-01-01", "b"),
      (3L, "2024-01-02", "c")).toDF("id", "day", "v")
    val snap = VersionedTable.snapshotAt(spark, t)
    val day3 = snap.files.count(_.partitions("day") == "2024-01-03")
    val r3 = VersionedTable.mergeInto(spark, t, src3,
        expr("t.id = s.id"), "t", "s")
      .whenMatchedUpdate(Map("v" -> expr("s.v")),
        condition = expr("t.v <> s.v"))
      .whenNotMatchedBySourceDelete(expr("t.day = '2024-01-03'"))
      .execute()
    assert(r3.committed && r3.rowsUpdated == 1L && r3.rowsDeleted == 1L, s"$r3")
    // planned = day-3 files + files holding source matches (both day-1
    // and day-2 hold matched ids) — strictly less than the whole table
    // would be only if partitions outnumber acting ones; here it must at
    // least include day3 and the match hits, and exclude nothing wrongly:
    assert(r3.targetFilesScanned >= day3 + 1 &&
      r3.targetFilesScanned <= snap.files.size,
      s"planned ${r3.targetFilesScanned}")
    assert(rows3(t) == Set((1L, "2024-01-01", "A"), (2L, "2024-01-01", "b"),
      (3L, "2024-01-02", "c")))
  }

  private def rows3(t: String): Set[(Long, String, String)] =
    VersionedTable.read(spark, t).select("id", "day", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  test("DROP TABLE IF EXISTS on a non-catalog name falls through to " +
      "spark.sql (Spark-managed tables keep their own DROP)") {
    // a temp view dropped through SqlDml must reach Spark's catalog, and
    // a nonexistent name must no-op exactly as spark.sql would
    import spark.implicits._
    Seq((1, 2)).toDF("a", "b").createOrReplaceTempView("drop_me_view")
    SqlDml.run(spark, "DROP VIEW IF EXISTS drop_me_view")
    assert(!spark.catalog.tableExists("drop_me_view"))
    // DROP TABLE IF EXISTS of a name in NEITHER catalog: spark.sql no-ops
    SqlDml.run(spark, "DROP TABLE IF EXISTS never_existed_anywhere")
  }

  test("name catalog (i36): CREATE TABLE USING graft / resolution in " +
      "every statement / SHOW TABLES / DROP TABLE / RETAIN HOURS") {
    val dir = Files.createTempDirectory("mi_cat").toFile.getAbsolutePath
    spark.conf.set("spark.graft.catalog.dir", s"$dir/_catalog")
    try {
      // CREATE with a column list and no table at LOCATION: creates v0
      SqlDml.run(spark,
        s"CREATE TABLE silver.transactions (id BIGINT, v STRING, amt DOUBLE) " +
          s"USING graft LOCATION '$dir/silver_tx'")
      assert(VersionedTable.exists(spark, s"$dir/silver_tx"))
      // name resolves in DML + reads
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "v", "amt")
        .createOrReplaceTempView("cat_stg")
      SqlDml.run(spark,
        "MERGE INTO silver.transactions AS t USING cat_stg AS s ON t.id = s.id " +
          "WHEN NOT MATCHED THEN INSERT *")
      assert(SqlDml.run(spark, "TABLE silver.transactions").count() == 2L)
      SqlDml.run(spark, "UPDATE silver.transactions SET amt = amt * 2.0 WHERE id = 1")
      assert(SqlDml.run(spark, "TABLE silver.transactions VERSION AS OF 1").count() == 2L)
      assert(SqlDml.run(spark, "DESCRIBE HISTORY silver.transactions").count() == 3L)
      SqlDml.run(spark, "DELETE FROM silver.transactions WHERE id = 2 USING DELETION VECTORS")
      assert(SqlDml.run(spark, "TABLE silver.transactions").count() == 1L)
      // RETAIN HOURS: everything is seconds old → nothing deletable, and
      // every version stays time-travelable
      val vac = SqlDml.run(spark,
        "VACUUM silver.transactions RETAIN 168 HOURS")
      assert(vac.head().getLong(0) == 0L)
      assert(SqlDml.run(spark, "TABLE silver.transactions VERSION AS OF 0").count() == 0L)
      // SHOW TABLES lists the registration; re-CREATE without IF NOT
      // EXISTS fails named; IF NOT EXISTS to the same path no-ops
      val shown = SqlDml.run(spark, "SHOW TABLES").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(shown == Set(("silver.transactions", s"$dir/silver_tx")))
      val eDup = intercept[RuntimeException] { SqlDml.run(spark,
        s"CREATE TABLE silver.transactions USING graft LOCATION '$dir/silver_tx'") }
      assert(eDup.getMessage.contains("already registered"), eDup.getMessage)
      SqlDml.run(spark,
        s"CREATE TABLE IF NOT EXISTS silver.transactions USING graft LOCATION '$dir/silver_tx'")
      // registering an existing table validates a declared column list
      val eDrift = intercept[RuntimeException] { SqlDml.run(spark,
        s"CREATE TABLE other.name (id STRING) USING graft LOCATION '$dir/silver_tx'") }
      assert(eDrift.getMessage.contains("do not match"), eDrift.getMessage)
      // DML on an unregistered name fails named (nothing to fall through to)
      val eNone = intercept[RuntimeException] { SqlDml.run(spark,
        "DELETE FROM gold.nope WHERE id = 1") }
      assert(eNone.getMessage.contains("no graft table named"), eNone.getMessage)
      // TABLE of a non-catalog name falls through to spark.sql (temp views)
      Seq((1, 2)).toDF("a", "b").createOrReplaceTempView("plain_view")
      assert(SqlDml.run(spark, "TABLE plain_view").count() == 1L)
      // DROP unregisters the name; data stays
      SqlDml.run(spark, "DROP TABLE silver.transactions")
      assert(SqlDml.run(spark, "SHOW TABLES").count() == 0L)
      assert(VersionedTable.exists(spark, s"$dir/silver_tx"))
      // the dropped name now falls through to spark.sql, which has no
      // such table — any failure shape is fine as long as it is not
      // silently served from a stale registration
      val eGone = intercept[Exception] { SqlDml.run(spark,
        "TABLE silver.transactions VERSION AS OF 0").collect() }
      assert(eGone != null)
    } finally spark.conf.unset("spark.graft.catalog.dir")
  }
}
