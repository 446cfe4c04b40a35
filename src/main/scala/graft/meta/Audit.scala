package graft.meta

import java.sql.Timestamp
import java.util.UUID
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import graft.ops.Incremental

/** Run-audit records: one row per load with run id, load mode, watermark and
  * status (reference: 1_audit/audit_ddl.sql `audit_logs`,
  * 1_audit/audit_start.py / audit_end.py, and
  * catch_new_watermark_value.py for the post-load watermark capture).
  *
  * Stored as an append-only parquet log, one file per row. At scale this
  * is a tiny metadata-rate table — one row per pipeline run, not per data
  * row.
  */
object Audit {

  final case class Run(
      run_id: String,
      source_system: String,
      source_object: String,
      load_mode: String,
      watermark_column: String,
      watermark_value: String,
      rows_processed: Long,
      status: String,
      start_time: Timestamp,
      end_time: Timestamp)

  /** The log's row schema: the case class's, as `Seq(run).toDS()` gives
    * it — nullable strings and timestamps, a non-null `rows_processed`.
    */
  private val schema = Encoders.product[Run].schema

  /** Run → Spark's internal row, the conversion `toDS()` applies. The
    * serializer reuses one output row, so it is only used under the lock.
    */
  private lazy val toRow = encoderFor(Encoders.product[Run]).createSerializer()

  /** Test seam: runs after the record is written, before it is
    * published; a throw here is a failed publish.
    */
  private[graft] var testHookBeforePublish: () => Unit = () => ()

  /** Append one run record to the audit log directory, written from the
    * driver — no Spark job. The record is a one-row parquet file made by
    * Spark's own parquet writer factory (the session's codec and timestamp
    * type, INT96 by default, and the Spark row-schema footer key), so it
    * is byte-compatible with rows an earlier `toDS().write.parquet` append
    * left in the same directory, and every reader stays a plain
    * `spark.read.parquet(auditDir)`.
    *
    * Publish by rename: the file is written under a dot-prefixed name,
    * which Spark's file listing skips, then renamed to a fresh
    * `part-<uuid>-c000.<codec>.parquet` name. A reader sees the whole row
    * or nothing; a failed write or rename deletes the temp file and
    * leaves no `part-` file behind.
    *
    * Synchronized, although appends no longer race: there is no shared
    * `_temporary` committer workspace any more, and each row publishes
    * under its own uuid name, so appends from Runner's parallel dispatch
    * or from several drivers cannot collide. The lock stays because the
    * shared row serializer above is not thread-safe; it guards one small
    * file write. Rows from several drivers get no order between them; a
    * transactional log (Delta or Iceberg) is what the reference's audit
    * DB gives it.
    */
  def log(spark: SparkSession, auditDir: String, run: Run): Unit = this.synchronized {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val writers = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val name = s"part-00000-${UUID.randomUUID()}-c000${writers.getFileExtension(ctx)}"
    val dir = new Path(auditDir)
    val tmp = new Path(dir, s".$name")
    val fs = dir.getFileSystem(job.getConfiguration)
    try {
      val w = writers.newInstance(tmp.toString, schema, ctx)
      try w.write(toRow(run)) finally w.close()
      testHookBeforePublish()
      if (!fs.rename(tmp, new Path(dir, name)))
        throw new java.io.IOException(s"audit log $auditDir: could not publish $name")
    } catch { case e: Throwable => fs.delete(tmp, false); throw e }
  }

  /** The audit log as a frame, read with the log's own schema: planning
    * it runs no schema-inference job. A file of another schema cannot pass
    * for the log: a column of another type fails the read, and a row
    * without a `status` (its columns absent) fails it by name.
    */
  private[graft] def read(spark: SparkSession, auditDir: String): DataFrame =
    spark.read.schema(schema).parquet(auditDir).withColumn("status",
      coalesce(col("status"), raise_error(lit(s"audit log $auditDir holds a row " +
        "with no status — a file that is not an audit record"))))

  /** New watermark after a load: stringified max of the watermark column,
    * None when the frame is empty or all-null
    * (reference: 1_audit/catch_new_watermark_value.py:30-45).
    */
  def newWatermark(df: DataFrame, watermarkColumn: String): Option[String] = {
    val row = Incremental.capture(df, col(watermarkColumn)).collect()(0)
    if (row.isNullAt(0)) None else Some(row.get(0).toString)
  }

  /** Latest status per (source_system, source_object) from the audit log
    * (window dedup). Keyed by BOTH, as the reference's watermark fetch is
    * (reference: 1_audit/fetch_logs.py:23-27 filters on source_system AND
    * source_object) — two systems landing same-named tables carry
    * independent watermarks.
    *
    * A load writes a `running` row at START and a terminal row at end
    * (reference: 1_audit/audit_start.py / audit_end.py) — so a load whose
    * JVM died mid-write is VISIBLE here as `running` (vs "never ran").
    * The end_time-desc order prefers the terminal row of a completed run;
    * on an exact end_time tie (sub-millisecond load) the terminal row
    * still wins via the status-priority tiebreak.
    */
  def latestRuns(spark: SparkSession, auditDir: String): DataFrame =
    graft.ops.Dedup.latestPerKey(
      read(spark, auditDir),
      Seq("source_system", "source_object"),
      Seq(col("end_time").desc,
        when(col("status") === "running", 0).otherwise(1).desc,
        col("run_id").desc))

  /** Latest COMPLETED run per key: `running` rows are crash/in-flight
    * markers, not outcomes — watermark carry-forward must read through
    * them to the last terminal row, never treat them as state.
    */
  def latestCompletedRuns(spark: SparkSession, auditDir: String): DataFrame =
    graft.ops.Dedup.latestPerKey(
      read(spark, auditDir).filter(col("status") =!= "running"),
      Seq("source_system", "source_object"),
      Seq(col("end_time").desc, col("run_id").desc))
}
