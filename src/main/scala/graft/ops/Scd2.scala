package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-Changing-Dimension Type 2, Spark-first.
  *
  * The reference maintains SCD2 with two Delta MERGEs per table: expire the
  * current row when any tracked attribute changed, then insert the staged row
  * as the new current version
  * (reference: 4_silver/silver_customers.py:103-170, silver_transactions.py:124-203).
  *
  * Re-expressed declaratively:
  *  - [[snapshot]] derives the full SCD2 history from an event log in ONE
  *    window pass (no iterative merge) — the shape a lakehouse backfill wants.
  *  - [[merge]] applies one staged batch to an existing dimension as a pure
  *    DataFrame transform (union + change detection), the incremental shape.
  *
  * Scale: both are a single hash shuffle on the business key. `merge` compares
  * attributes with null-safe equality (`<=>`), unlike the reference's `<>`
  * MERGE predicate which silently treats NULL attribute changes as
  * "unchanged" — we keep that fixed behavior deliberate and documented.
  */
object Scd2 {

  /** History → SCD2 intervals. `versionOrder` must be a total order within a
    * key (include a unique tiebreak). Adds `valid_from` (the order column's
    * value via `validFrom`), `valid_to` (next version's valid_from, null for
    * current) and `is_current`.
    */
  def snapshot(
      history: DataFrame,
      keys: Seq[String],
      versionOrder: Seq[Column],
      validFrom: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(versionOrder: _*)
    history
      .withColumn("valid_from", validFrom)
      .withColumn("valid_to", lead(validFrom, 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** One incremental SCD2 merge step, as a batch transform.
    *
    * `existing` must carry (`keys`, attrs, `valid_from`, `valid_to`,
    * `is_current`); `staged` carries (`keys`, attrs) with at most one row per
    * key (dedupe upstream with [[Dedup.latestPerKey]], as the reference does).
    *
    * Semantics (mirrors the two reference MERGEs):
    *  - existing non-current rows pass through untouched;
    *  - existing current rows with a matching staged row whose attributes
    *    differ are expired (`is_current=false`, `valid_to=asOf`);
    *  - staged rows that are new or changed are inserted as current with
    *    `valid_from=asOf`;
    *  - staged rows identical to the current version are no-ops.
    */
  def merge(
      existing: DataFrame,
      staged: DataFrame,
      keys: Seq[String],
      attrs: Seq[String],
      asOf: Column): DataFrame = {
    val current = existing.filter(col("is_current"))
    val historic = existing.filter(!col("is_current"))
    val (stg, changed, inserts) =
      stagedSide(staged, current, keys, attrs, asOf, existing.columns.toSeq)
    val joinCond = keys.map(k => col(k) === col(s"_stg_$k")).reduce(_ && _)

    // Current rows, left-joined to the staged batch: expire on change.
    val currentMerged = current
      .join(stg, joinCond, "left")
      .withColumn("_changed", col(s"_stg_${keys.head}").isNotNull && changed)
      .withColumn("is_current", when(col("_changed"), lit(false)).otherwise(col("is_current")))
      .withColumn("valid_to", when(col("_changed"), asOf).otherwise(col("valid_to")))
      .select(existing.columns.map(col): _*)

    historic.unionByName(currentMerged).unionByName(inserts)
  }

  /** What both merges derive from the staged batch: its `_stg_`-prefixed
    * projection, the NULL-safe change predicate between a current row and
    * its staged match, and the inserts — staged rows that are brand new
    * or differ from the current version, as the fresh current version
    * (`valid_from = asOf`) in `cols` order.
    */
  private def stagedSide(staged: DataFrame, current: DataFrame, keys: Seq[String],
      attrs: Seq[String], asOf: Column, cols: Seq[String]): (DataFrame, Column, DataFrame) = {
    val changed = attrs.map(a => !(col(a) <=> col(s"_stg_$a"))).reduce(_ || _)
    val stg = staged.select(
      (keys.map(k => col(k).as(s"_stg_$k")) ++ attrs.map(a => col(a).as(s"_stg_$a"))): _*)
    val inserts = stg
      .join(
        current.select((keys.map(col) :+ lit(true).as("_cur_exists")) ++ attrs.map(col): _*),
        keys.map(k => col(s"_stg_$k") === col(k)).reduce(_ && _), "left")
      .filter(col("_cur_exists").isNull || changed)
      .select(
        (keys.map(k => col(s"_stg_$k").as(k)) ++ attrs.map(a => col(s"_stg_$a").as(a))): _*)
      .withColumn("valid_from", asOf)
      .withColumn("valid_to", lit(null).cast("timestamp"))
      .withColumn("is_current", lit(true))
      .select(cols.map(col): _*)
    (stg, changed, inserts)
  }

  /** [[merge]] committed ROW-LEVEL against an i23 versioned table — the
    * reference's actual write path (its two MERGE INTOs rewrite only the
    * Delta files holding matched rows, 4_silver/silver_transactions.py:124,153),
    * where [[merge]]+overwrite rewrites the whole dimension per batch.
    *
    * The upsert set is exactly the rows the two reference MERGEs touch:
    *  - EXPIRED rows: current rows whose staged attributes differ, with
    *    `valid_to = asOf`, `is_current = false` — these keep their
    *    original `valid_from`, so under the merge key
    *    (`keys` + `valid_from`) they REPLACE their live versions;
    *  - INSERTED rows: new-or-changed staged rows as the fresh current
    *    version (`valid_from = asOf`) — no live (key, asOf) row exists,
    *    so they land as inserts.
    * [[graft.sources.VersionedTable.merge]] then rewrites only the files
    * containing those (key, valid_from) rows; historic rows in untouched
    * files are untouched bytes. `asOf` must advance between merges of the
    * same key (the reference's current_timestamp always does) — an
    * identical instant would collide the expire and insert on one merge
    * key, which fails named upstream.
    *
    * Unchanged-staged rows commit NOTHING (both reference MERGEs no-op) —
    * when the upsert set is empty no version is even created. Returns the
    * committed version, or None for the no-op case. Pass (`app`,`batch`)
    * for the s04 streaming replay contract (exactly-once per batch).
    *
    * Change detection is NULL-SAFE (`!(a <=> b)`), deliberately stronger
    * than the reference MERGE's null-unsafe `target.x <> source.x`
    * (4_silver/silver_transactions.py:124): an attribute transitioning
    * to/from NULL IS a change and expires the row here, where the
    * reference silently no-ops and loses the transition from its SCD2
    * history — the same documented fixed-behavior stance as [[merge]]
    * (both faces must agree or batch and row-level runs diverge).
    */
  def mergeVersioned(spark: org.apache.spark.sql.SparkSession, table: String,
      staged: DataFrame, keys: Seq[String], attrs: Seq[String], asOf: Column,
      app: String = null, batch: Long = 0L): Option[Long] = {
    val VT = graft.sources.VersionedTable
    val baseSnap = VT.snapshotAt(spark, table)
    if (app != null && baseSnap.txns.get(app).exists(_ >= batch)) return None
    // pin the version the upsert is DERIVED from and thread it into
    // txnMerge's conflict anchor: a concurrent merge landing between this
    // read and the commit must fail named, not interleave into two
    // current rows per key (txnMerge's own snapshot would be too late).
    // Not materialized here: the pinned version's files are immutable, and
    // the one job that needs them is the merge's staged checkpoint.
    val live = VT.readVersion(spark, table, baseSnap.version)
    val existingCols = live.columns.toSeq
    val current = live.filter(col("is_current"))
    val (stg, changed, inserts) = stagedSide(staged, current, keys, attrs, asOf, existingCols)
    // expire: current rows with a CHANGED staged match, closed out at asOf
    val expired = current
      .join(stg, keys.map(k => col(k) === col(s"_stg_$k")).reduce(_ && _), "inner")
      .filter(changed)
      .withColumn("is_current", lit(false))
      .withColumn("valid_to", asOf)
      .select(existingCols.map(col): _*)
    // handed over lazily: the merge materializes it once and reads its
    // row count from that same job, committing nothing when it is empty
    VT.mergeStaged(expired.unionByName(inserts), table, keys :+ "valid_from", app, batch,
      readVersion = baseSnap.version, emptyIsNoop = true)
  }
}
