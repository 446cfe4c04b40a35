package graft.meta

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Metadata-driven load configuration.
  *
  * Mirrors the reference's config table
  * (reference: 2_bronze_ingestion_adf/configs/load_config.csv — columns
  * source_type, table_name, load_mode full|incremental, watermark_column, …):
  * the pipeline enumerates ACTIVE config rows and plans one load per row,
  * full loads as straight scans and incremental ones as watermark-predicate
  * scans ([[graft.ops.Incremental]]).
  */
object LoadConfig {

  final case class Entry(
      sourceType: String,
      sourceSystem: String,
      tableName: String,
      isActive: Boolean,
      loadMode: String,
      watermarkColumn: Option[String]) {
    /** System-qualified object name — source resolution and output layout
      * key. Two source systems landing same-named tables (the reference's
      * bank_a/bank_b schemas, 6_source_ddl/banq_a_ddl.sql vs
      * banq_b_ddl.sql) must not collide on table name alone.
      */
    def qualifiedName: String =
      if (sourceSystem.isEmpty) tableName else s"$sourceSystem.$tableName"
  }

  /** Read a load-config CSV (header row, reference column names), its
    * columns as written (`is_active` still a string). The
    * `source_system` column is optional — single-system configs omit it.
    *
    * FAIL-FAST contract (reference: pl_ingestion_bronze.json guards the
    * config with GetMetadata + explicit Fail activities): a missing path
    * or a header lacking the required columns raises a NAMED error here,
    * at the orchestration boundary — not whatever Spark happens to throw
    * three operators later.
    */
  private def readRaw(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      throw new IllegalArgumentException(s"load config not found at $path")
    val raw = spark.read.option("header", "true").csv(path)
    val required = Seq("source_type", "table_name", "is_active", "load_mode",
      "watermark_column")
    val missing = required.filterNot(raw.columns.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"load config at $path is invalid: missing column(s) ${missing.mkString(", ")}")
    val sys = if (raw.columns.contains("source_system"))
      coalesce(col("source_system"), lit("")) else lit("")
    raw.select(col("source_type"), sys.as("source_system"), col("table_name"),
      col("is_active"), col("load_mode"), col("watermark_column"))
  }

  /** Active entries as typed config (small table — collected on the driver,
    * as ADF does when fanning out per-table copy activities).
    *
    * Every row is validated before any is returned, each failure a NAMED
    * error naming the table and the offending value: `is_active` must be
    * `0` or `1` (anything else would silently deactivate the table),
    * `load_mode` must be `full` or `incremental` (anything else would
    * silently fully overwrite bronze every run), and an `incremental` row
    * needs a non-blank `watermark_column` (without one every run would
    * silently reload in full).
    */
  def activeEntries(spark: SparkSession, path: String): Seq[Entry] =
    readRaw(spark, path).collect().toSeq.map { r =>
      val active = r.getString(3)
      val wm = Option(r.getString(5))
      val e = Entry(r.getString(0), r.getString(1), r.getString(2), active == "1",
        r.getString(4), wm.filter(_.trim.nonEmpty))
      def bad(what: String) = throw new IllegalArgumentException(
        s"load config at $path: table ${e.qualifiedName} $what")
      if (active != "0" && active != "1")
        bad(s"has is_active '$active' — expected 0 or 1")
      if (e.loadMode != "full" && e.loadMode != "incremental")
        bad(s"has load_mode '${e.loadMode}' — expected full or incremental")
      if (e.loadMode == "incremental" && e.watermarkColumn.isEmpty)
        bad(s"is incremental but its watermark_column is blank ('${wm.getOrElse("")}')")
      e
    }.filter(_.isActive)
}
