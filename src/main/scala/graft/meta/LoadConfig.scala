package graft.meta

import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._
import com.univocity.parsers.csv.{CsvParser, CsvParserSettings}
import org.apache.spark.sql.SparkSession

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

  /** Read a load-config CSV (header row, reference column names) on the
    * driver: one file-system open and Spark's own CSV parser (univocity,
    * with `spark.read.csv`'s defaults — no comment lines, values not
    * trimmed, an empty value null), so a config read runs no Spark job.
    * Each row comes back as its cells by column name (an absent cell
    * null), `is_active` still a string. The `source_system` column is
    * optional — single-system configs omit it.
    *
    * FAIL-FAST contract (reference: pl_ingestion_bronze.json guards the
    * config with GetMetadata + explicit Fail activities): a missing path
    * or a header lacking the required columns raises a NAMED error here,
    * at the orchestration boundary — not whatever Spark happens to throw
    * three operators later.
    */
  private def readRaw(spark: SparkSession, path: String): Seq[Map[String, String]] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      throw new IllegalArgumentException(s"load config not found at $path")
    val settings = new CsvParserSettings()
    settings.getFormat.setComment('\u0000')
    settings.setLineSeparatorDetectionEnabled(true)
    settings.setIgnoreLeadingWhitespaces(false)
    settings.setIgnoreTrailingWhitespaces(false)
    val in = fs.open(p)
    val rows = try new CsvParser(settings).parseAll(in, StandardCharsets.UTF_8).asScala.toSeq
      finally in.close()
    val header = rows.headOption.fold(Seq.empty[String])(_.toSeq)
    val required = Seq("source_type", "table_name", "is_active", "load_mode",
      "watermark_column")
    val missing = required.filterNot(header.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"load config at $path is invalid: missing column(s) ${missing.mkString(", ")}")
    rows.drop(1).map(r => header.zipWithIndex.map { case (h, i) =>
      h -> (if (i < r.length) r(i) else null) }.toMap)
  }

  /** Active entries as typed config (a small table, read on the driver
    * as ADF does when fanning out per-table copy activities: no Spark job).
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
    readRaw(spark, path).map { r =>
      val active = r("is_active")
      val wm = Option(r("watermark_column"))
      val e = Entry(r("source_type"), r.get("source_system").flatMap(Option(_)).getOrElse(""),
        r("table_name"), active == "1", r("load_mode"), wm.filter(_.trim.nonEmpty))
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
