package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

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
    val (stg, changed) = stagedSide(staged, keys, attrs)
    val joinCond = keys.map(k => col(k) === col(s"_stg_$k")).reduce(_ && _)

    // Current rows, left-joined to the staged batch: expire on change.
    val currentMerged = current
      .join(stg, joinCond, "left")
      .withColumn("_changed", col(s"_stg_${keys.head}").isNotNull && changed)
      .withColumn("is_current", when(col("_changed"), lit(false)).otherwise(col("is_current")))
      .withColumn("valid_to", when(col("_changed"), asOf).otherwise(col("valid_to")))
      .select(existing.columns.map(col): _*)

    // Staged rows that are brand new or differ from the current version,
    // as the fresh current version.
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
      .select(existing.columns.map(col): _*)

    historic.unionByName(currentMerged).unionByName(inserts)
  }

  /** What both merges derive from the staged batch: its `_stg_`-prefixed
    * projection and the NULL-safe change predicate between a current row
    * and its staged match.
    */
  private def stagedSide(staged: DataFrame, keys: Seq[String],
      attrs: Seq[String]): (DataFrame, Column) = {
    val changed = attrs.map(a => !(col(a) <=> col(s"_stg_$a"))).reduce(_ || _)
    val stg = staged.select(
      (keys.map(k => col(k).as(s"_stg_$k")) ++ attrs.map(a => col(a).as(s"_stg_$a"))): _*)
    (stg, changed)
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
    *
    * The merge decides its rewrite in the one job that materializes the
    * upsert. One left join of the staged batch to the pinned snapshot's
    * current rows yields both the expired and the inserted rows, and that
    * snapshot is scanned with each row's logged file path, so every
    * expired row names the file it replaces; the merge's staged
    * checkpoint observes the set of those files and the most upsert rows
    * one (key, valid_from) has
    * ([[graft.sources.VersionedTable.mergeStaged]] with `tagged`). A
    * staged key with two changed rows, or an `asOf` equal to a changed
    * current row's `valid_from`, fails with the merge's named
    * multiple-rows error and commits nothing.
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
    val current = VT.scanFiles(spark, table, baseSnap.files, baseSnap.schema, keepMeta = true)
      .filter(col("is_current")).withColumn("_cur_exists", lit(true))
    val (stg, changed) = stagedSide(staged, keys, attrs)
    // One join decides the upsert: each staged row meets its current
    // version, if any, and yields up to two rows — that version EXPIRED
    // (a changed match, closed out at asOf and tagged with the file it
    // replaces) and the INSERTED fresh version (a new or changed key).
    val schema = baseSnap.schema
    val cols = schema.fieldNames.toSeq.filterNot(keys.contains) :+ VT.MetaRelCol
    def version(value: PartialFunction[String, Column]) = struct(cols.map { c =>
      value(c).cast(if (c == VT.MetaRelCol) StringType else schema(c).dataType).as(c)
    }: _*)
    val expired = version {
      case "is_current" => lit(false)
      case "valid_to" => asOf
      case c => col(c)
    }
    val inserted = version {
      case "is_current" => lit(true)
      case "valid_from" => asOf
      case "valid_to" | VT.MetaRelCol => lit(null)
      case c => col(s"_stg_$c")
    }
    // Both rows take their key from the staged row (equal to the current
    // version's), uncast when the types agree: the upsert keeps the staged
    // batch's partitioning, so when the batch arrives partitioned by key,
    // as a dedup leaves it, the merge counts rows per key without a
    // shuffle of its own.
    val key = keys.map { k =>
      val c = col(s"_stg_$k")
      (if (stg.schema(s"_stg_$k").dataType == schema(k).dataType) c
       else c.cast(schema(k).dataType)).as(k)
    }
    val matched = col("_cur_exists").isNotNull
    val upsert = stg
      .join(current, keys.map(k => col(s"_stg_$k") === col(k)).reduce(_ && _), "left")
      .select(keys.map(k => col(s"_stg_$k")) :+ explode(array(when(matched && changed, expired),
        when(!matched || changed, inserted))).as("v"): _*)
      .filter(col("v").isNotNull)
      .select(key :+ col("v.*"): _*)
    // handed over lazily: the merge materializes it once and reads its
    // row count from that same job, committing nothing when it is empty
    VT.mergeStaged(upsert, table, keys :+ "valid_from", app, batch,
      readVersion = baseSnap.version, emptyIsNoop = true, tagged = true)
  }
}
