package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.ops._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("Dedup.latestPerKey keeps exactly the newest row per key") {
    val df = Seq(("a", 1, 10), ("a", 2, 20), ("b", 1, 30)).toDF("k", "v", "x")
    val out = Dedup.latestPerKey(df, Seq("k"), Seq(col("v").desc)).collect()
    assert(out.length == 2)
    assert(out.find(_.getString(0) == "a").get.getInt(1) == 2)
  }

  test("Scd2.merge expires changed rows, inserts new versions, no-ops identical rows") {
    val ts0 = lit("2020-01-01").cast("timestamp")
    val existing = Seq(("k1", 100.0), ("k2", 200.0), ("k3", 300.0))
      .toDF("k", "bal")
      .withColumn("valid_from", ts0)
      .withColumn("valid_to", lit(null).cast("timestamp"))
      .withColumn("is_current", lit(true))
    // k1 changed, k2 identical (no-op), k4 brand new, k3 absent from batch
    val staged = Seq(("k1", 150.0), ("k2", 200.0), ("k4", 400.0)).toDF("k", "bal")
    val out = Scd2.merge(existing, staged, Seq("k"), Seq("bal"),
      lit("2024-01-01").cast("timestamp"))
    val rows = out.orderBy("k", "valid_from").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getBoolean(4)))
    assert(rows.toSeq == Seq(
      ("k1", 100.0, false), ("k1", 150.0, true),
      ("k2", 200.0, true), ("k3", 300.0, true), ("k4", 400.0, true)))
  }

  test("Scd2.merge treats null attribute changes as changes (null-safe compare)") {
    val existing = Seq(("k1", Some(1.0))).toDF("k", "bal")
      .withColumn("valid_from", lit("2020-01-01").cast("timestamp"))
      .withColumn("valid_to", lit(null).cast("timestamp"))
      .withColumn("is_current", lit(true))
    val staged = Seq(("k1", None: Option[Double])).toDF("k", "bal")
    val out = Scd2.merge(existing, staged, Seq("k"), Seq("bal"),
      lit("2024-01-01").cast("timestamp"))
    assert(out.filter(col("is_current")).count() == 1)
    assert(out.filter(col("is_current") && col("bal").isNull).count() == 1)
    assert(out.count() == 2)
  }

  test("Quality.split routes rows without dropping any") {
    val df = Seq(("x", 1.0), (null, 2.0), ("y", -1.0)).toDF("id", "amt")
    val (clean, bad) = Quality.split(df, Seq(
      Quality.Rule("null_id", Quality.nullOrBlank(col("id"))),
      Quality.Rule("neg_amt", col("amt") < 0)))
    assert(clean.count() == 1 && bad.count() == 2)
    assert(bad.filter(col("quarantine_reason") === "neg_amt").count() == 1)
  }

  test("Windows.sessionize splits on gaps over the threshold") {
    def t(m: Int) = new Timestamp(m * 60000L)
    val df = Seq((1L, t(0), 1L), (1L, t(10), 2L), (1L, t(60), 3L), (2L, t(0), 4L))
      .toDF("user_id", "ts", "event_id")
    val out = Windows.sessionize(df, Seq("user_id"), col("ts"), col("event_id"), "30 MINUTE")
    val sessions = out.groupBy("user_id", "session_seq").count().collect()
    assert(sessions.length == 3) // user1: 2 sessions, user2: 1
  }

  test("Skew.skewSafeSum matches a plain groupBy sum") {
    val df = Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 3L, 5.0)).toDF("k", "id", "v")
    val out = Skew.skewSafeSum(df, Seq("k"), col("id"), col("v"), "total", buckets = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out == Map("a" -> 3.0, "b" -> 5.0))
  }

  test("Incremental.tail keeps only the trailing window") {
    def t(d: Int) = new Timestamp(d * 86400000L)
    val df = Seq((1L, t(0)), (2L, t(5)), (3L, t(10))).toDF("id", "ts")
    val out = Incremental.tail(df, col("ts"), "7 DAY").collect()
    assert(out.map(_.getLong(0)).toSet == Set(2L, 3L))
  }

  test("Observations: metrics of an executed frame; a named error, not a hang, when none arrive") {
    val seen = org.apache.spark.sql.Observation()
    spark.range(3).observe(seen, count(lit(1)).as("n")).collect()
    assert(Observations.of(seen, "probe")("n") == 3L)
    // observed, but the plan that ran is another one: no metrics ever come
    val unseen = org.apache.spark.sql.Observation()
    spark.range(3).observe(unseen, count(lit(1)).as("n"))
    spark.range(3).collect()
    val e = intercept[IllegalStateException](Observations.of(unseen, "probe"))
    assert(e.getMessage.startsWith("probe: no observed metrics"), e.getMessage)
  }
}
