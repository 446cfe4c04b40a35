package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.VersionedTable
import graft.sources.VersionedTable.{ChangeTypeCol, CommitVersionCol}
import graft.streaming.VersionedBatchRelation

/** i35: the `graft-versioned` BATCH relation — `spark.read.format(…)`
  * over the i23 log with time travel, CDF range reads, and filter
  * pushdown into the log's own stats pruning. The face a SQL/PySpark
  * user reaches with no graft import (the r19 verdict's #2 ask).
  */
class BatchRelationSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(tag: String): String =
    Files.createTempDirectory(s"br_$tag").resolve("t").toString

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.select(col("id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("format('graft-versioned').load == VersionedTable.read, including " +
      "through deletion vectors; versionAsOf/timestampAsOf round-trip") {
    val t = tmpTable("basic")
    val c0 = 1700000000000L
    VersionedTable.clock = () => c0
    try {
      VersionedTable.create(
        (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v").repartition(2), t)
      VersionedTable.clock = () => c0 + 10000
      VersionedTable.append(Seq((21L, "x")).toDF("id", "v"), t)
      VersionedTable.clock = () => c0 + 20000
      VersionedTable.deleteVectors(spark, t, col("id") === 5L)

      def viaFormat(opts: (String, String)*) = {
        val r = spark.read.format("graft-versioned")
        opts.foreach { case (k, v) => r.option(k, v) }
        r.load(t)
      }
      // head = DV-filtered state, identical to the library read
      assert(rows(viaFormat()) == rows(VersionedTable.read(spark, t)))
      assert(!rows(viaFormat()).exists(_._1 == 5L))
      assert(viaFormat().schema == VersionedTable.read(spark, t).schema)
      // time travel both spellings
      assert(rows(viaFormat("versionAsOf" -> "0")) ==
        rows(VersionedTable.readVersion(spark, t, 0)))
      assert(rows(viaFormat("timestampAsOf" -> (c0 + 10000).toString)) ==
        rows(VersionedTable.readVersion(spark, t, 1)))
      val e = intercept[IllegalArgumentException] {
        viaFormat("versionAsOf" -> "0", "timestampAsOf" -> "1").collect() }
      assert(e.getMessage.contains("mutually exclusive"), e.getMessage)
    } finally VersionedTable.clock = () => System.currentTimeMillis()
  }

  test("a pushed filter provably PRUNES FILES through the log stats, and " +
      "an aggregate over the relation is still exact") {
    val t = tmpTable("prune")
    // four files with disjoint id ranges (create + three appends)
    VersionedTable.create(
      (1L to 10L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1), t)
    Seq(11L to 20L, 21L to 30L, 31L to 40L).foreach(r =>
      VersionedTable.append(r.map(i => (i, s"a$i")).toDF("id", "v").coalesce(1), t))
    val df = spark.read.format("graft-versioned").load(t).filter(col("id") === 25L)
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(25L))
    assert(VersionedBatchRelation.lastPlannedFiles == 1,
      s"id=25 lives in ONE of four files; planned ${VersionedBatchRelation.lastPlannedFiles}")
    // a range predicate prunes to its two files
    val n = spark.read.format("graft-versioned").load(t)
      .filter(col("id") >= 15L && col("id") <= 25L).count()
    assert(n == 11L)
    assert(VersionedBatchRelation.lastPlannedFiles == 2,
      s"15..25 spans two files; planned ${VersionedBatchRelation.lastPlannedFiles}")
    // no predicate: all files, exact count
    assert(spark.read.format("graft-versioned").load(t).count() == 40L)
    assert(VersionedBatchRelation.lastPlannedFiles == 4)
    // negated / disjunctive predicates stay EXACT through translation
    assert(spark.read.format("graft-versioned").load(t)
      .filter(!(col("id") >= 15L && col("id") <= 25L)).count() == 29L)
    assert(spark.read.format("graft-versioned").load(t)
      .filter(col("id") < 3L || col("id") > 38L).count() == 4L)
    assert(spark.read.format("graft-versioned").load(t)
      .filter(col("v").startsWith("a1") && col("id") <= 19L).count() == 11L)
  }

  test("CDF batch read: readChangeFeed + startingVersion/endingVersion == " +
      "VersionedTable.readChangeFeed; missing startingVersion fails named") {
    val t = tmpTable("cdf")
    VersionedTable.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t,
      changeFeed = true)
    VersionedTable.merge(Seq((1L, "A"), (3L, "c")).toDF("id", "v"), t, Seq("id"))
    VersionedTable.delete(spark, t, col("id") === 2L)
    def feedRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("v"), col(ChangeTypeCol), col(CommitVersionCol))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSet
    // The OPTION is inclusive of startingVersion (Delta's binding, r21
    // advice fix): startingVersion = 1 maps to the library's (0, until]
    // exclusive range, and startingVersion = 0 additionally serves the
    // creating commit's rows as inserts (genesis).
    val viaFormat = spark.read.format("graft-versioned")
      .option("readChangeFeed", "true").option("startingVersion", "1").load(t)
    assert(feedRows(viaFormat) ==
      feedRows(VersionedTable.readChangeFeed(spark, t, 0L)))
    val bounded = spark.read.format("graft-versioned")
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .option("endingVersion", "1").load(t)
    assert(feedRows(bounded) ==
      feedRows(VersionedTable.readChangeFeed(spark, t, 0L, 1L)))
    val genesis = spark.read.format("graft-versioned")
      .option("readChangeFeed", "true").option("startingVersion", "0").load(t)
    assert(feedRows(genesis) ==
      feedRows(VersionedTable.readChangeFeed(spark, t, 0L)) ++
        Set((1L, "a", "insert", 0L), (2L, "b", "insert", 0L)))
    val e = intercept[RuntimeException] {
      spark.read.format("graft-versioned")
        .option("readChangeFeed", "true").load(t) }
    assert(e.getMessage.contains("startingVersion"), e.getMessage)
  }
}
