package graft.pipeline

import java.sql.Timestamp
import java.util.concurrent.{Callable, ExecutionException, Executors}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.meta.{Audit, LoadConfig}
import graft.ops.{Incremental, Observations}

/** Metadata-driven ingest orchestrator — the engine-side equivalent of the
  * reference's ADF pipeline loop (reference:
  * 2_bronze_ingestion_adf/pipelines JSON definitions: ForEach over load_config rows →
  * per-table copy with full/incremental branch → audit start/end +
  * watermark capture): enumerate active config entries, run each table's
  * load with per-table failure isolation, append one audit row per load,
  * and carry watermarks forward run-to-run through the audit log.
  *
  * Scale: the config and audit tables are metadata-rate (rows per RUN, not
  * per data row); per-table loads are independent Catalyst plans —
  * incremental windows push the watermark predicate into the scan, full
  * loads are straight scans. Every run dispatches its loads concurrently
  * (each load is a self-contained job), as ADF's ForEach does by default.
  *
  * Each load is ONE pass over the data: the rows-written count and the new
  * watermark ride the write job as `observe()` (CollectMetrics) metrics —
  * no re-read of the just-written output, no second scan of the source for
  * the max. `rows` is the batch written THIS run (the reference's
  * per-activity rowsCopied — reference: pl_sql_copy_bronze.json
  * rows_processed), not the cumulative table size.
  */
object Runner {

  final case class LoadResult(
      table: String, mode: String, rows: Long, status: String,
      newWatermark: Option[String])

  /** Last successful watermark per (source_system, table) from the audit
    * log — keyed by BOTH (reference: 1_audit/fetch_logs.py:23-27), so two
    * systems landing same-named tables never share a watermark.
    *
    * One Spark job: the log is read with its own schema (no inference
    * job) and deduplicated in one single-partition pass — it holds a few
    * rows per run, so no shuffle pays.
    */
  private def lastWatermarks(spark: SparkSession,
      auditDir: String): Map[(String, String), String] = {
    val dir = new org.apache.hadoop.fs.Path(auditDir)
    // ONLY a missing log means "first run"; a corrupt or wrong-schema
    // audit log fails loudly (see Audit.read).
    if (!dir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dir)) Map.empty
    else {
      // Succeeded runs only: a `running` row (a crashed load's marker) and
      // a `failed` row carry no new watermark — carry-forward reads through
      // them to the last load that landed, so a failed run never drops the
      // watermark and re-bootstraps the table.
      graft.ops.Dedup.latestPerKey(
        Audit.read(spark, auditDir).filter(col("status") === "succeeded").coalesce(1),
        Seq("source_system", "source_object"),
        Seq(col("end_time").desc, col("run_id").desc))
        .filter(col("watermark_value").isNotNull)
        .select(col("source_system"), col("source_object"), col("watermark_value"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    }
  }

  /** Run every active config entry: read via `source` (called with the
    * system-qualified name, e.g. `bank_a.orders`), optionally window to
    * rows past the last watermark, apply the table's silver `transform`
    * (identity when absent), write parquet under `outDir/<qualifiedName>`
    * (append for incremental loads, ATOMIC overwrite for full refreshes),
    * and audit the outcome. A failing table records a `failed` audit row
    * and does not stop the remaining tables.
    *
    * Loads are dispatched concurrently, on a pool owned by this run: one
    * thread per load, at most the context's default parallelism — the
    * engine-side analog of ADF's ForEach, which runs its activities in
    * parallel unless told otherwise
    * (reference: 2_bronze_ingestion_adf/pipelines/pl_ingestion_bronze.json
    * ForEach batchCount). Each load is a self-contained job, and Spark
    * schedules concurrent jobs from one session fine; the pool threads
    * start under the caller's job group and active session. So `source`,
    * `transform` and `onFailure` may run on pool threads, several at
    * once. Audit rows are written from the driver, not by Spark jobs:
    * each is one parquet file published by rename under its own uuid
    * name, so concurrent appends cannot collide; the appends still take
    * one JVM-local lock, which guards the shared row serializer (see
    * [[graft.meta.Audit.log]]). The run returns once every load ended,
    * its results in config order; what a load does not turn into a
    * `failed` result (an `Error`, or a failed append of its `running`
    * marker) is rethrown then.
    *
    * Full refreshes go through [[graft.sources.Sinks.overwriteAtomic]],
    * whose directory rename is atomic on HDFS and on ADLS Gen2's
    * hierarchical namespace; tables that need versions are written with
    * [[graft.sources.VersionedTable]] downstream of the load.
    *
    * `onFailure` fires once per table whose load exhausted its attempts —
    * the engine-side analog of the reference's explicit Fail activities
    * (reference: pl_ingestion_bronze.json:60,322 — the pipeline's failure
    * path is wired, not inferred from logs), so "page me when a load
    * fails" is a callback, not an audit-log poll. A throwing callback is
    * contained: it cannot break per-table isolation or the audit trail
    * (the `failed` row is already written when it fires).
    */
  def run(spark: SparkSession, configPath: String, outDir: String, auditDir: String,
      runId: String, source: String => DataFrame,
      transform: Map[String, DataFrame => DataFrame] = Map.empty,
      maxAttempts: Int = 1,
      onFailure: LoadResult => Unit = _ => ()): Seq[LoadResult] = {
    val watermarks = lastWatermarks(spark, auditDir)

    // ADF-style per-activity retry. DataFrames are lazy, so transient
    // failures surface at the write ACTION — the whole read-window-
    // transform-write pass sits inside the attempt, with fresh
    // Observations per attempt (an Observation instance is single-use and
    // a failed job may deliver partial metrics).
    def attempt[T](left: Int)(f: => T): T =
      try f catch { case ex: Exception if left > 1 => attempt(left - 1)(f) }

    def loadOne(e: LoadConfig.Entry): LoadResult = {
      val start = new Timestamp(System.currentTimeMillis())
      val wmKey = (e.sourceSystem, e.tableName)
      // Crash-visible start marker (reference: 1_audit/audit_start.py): a
      // JVM killed mid-load leaves this `running` row, so operators can
      // tell "died mid-load" from "never ran". The terminal row below
      // supersedes it in Audit.latestRuns; lastWatermarks ignores it.
      Audit.log(spark, auditDir, Audit.Run(runId, e.sourceSystem, e.tableName,
        e.loadMode, e.watermarkColumn.getOrElse(""),
        watermarks.get(wmKey).orNull, 0L, "running", start, start))
      try {
        val incremental = e.loadMode == "incremental" // LoadConfig: implies a watermark column
        // Bootstrap-then-incremental (reference: pl_bootstrap.json +
        // bootstrap_load_config.csv): an incremental table with NO prior
        // watermark is a full bootstrap — written as an atomic OVERWRITE,
        // so re-running after a lost audit log rebuilds the table instead
        // of appending a duplicate copy. Steady-state windows append.
        val windowedLoad = incremental && watermarks.contains(wmKey)
        val (rows, newWm) = attempt(maxAttempts) {
          val raw = source(e.qualifiedName)
          val windowed = (for {
            wmCol <- e.watermarkColumn if incremental
            wm <- watermarks.get(wmKey)
          } yield Incremental.after(raw, col(wmCol),
            lit(wm).cast(raw.schema(wmCol).dataType))).getOrElse(raw)
          // Watermark = max over the WINDOWED SOURCE rows (reference:
          // 1_audit/catch_new_watermark_value.py — the bronze max, before
          // any silver transform touches or drops the column).
          val wmObs = Observation()
          val observedSrc = e.watermarkColumn.fold(windowed)(c =>
            windowed.observe(wmObs, max(col(c)).as("wm")))
          val rowObs = Observation()
          val staged = transform.getOrElse(e.tableName, identity[DataFrame] _)(observedSrc)
            .observe(rowObs, count(lit(1)).as("rows"))

          val path = s"$outDir/${e.qualifiedName}"
          if (windowedLoad) staged.write.mode("append").parquet(path)
          else graft.sources.Sinks.overwriteAtomic(staged, path)

          // The staged frame was just written, so the metric is delivered
          // with the write action; the bounded wait only covers listener
          // delivery lag, with a recount fallback instead of an unbounded
          // block.
          val rows = Observations.within(rowObs)
            .map(_("rows").asInstanceOf[Long])
            .getOrElse(transform.getOrElse(e.tableName, identity[DataFrame] _)(windowed).count())
          val wm = e.watermarkColumn.flatMap { c =>
            Observations.within(wmObs) match {
              case Some(m) => Option(m("wm")).map(_.toString)
              case None    => Audit.newWatermark(windowed, c) // severed lineage
            }
          }.orElse(watermarks.get(wmKey)) // empty window: carry forward
          (rows, wm)
        }
        Audit.log(spark, auditDir, Audit.Run(runId, e.sourceSystem, e.tableName,
          e.loadMode, e.watermarkColumn.getOrElse(""), newWm.orNull, rows,
          "succeeded", start, new Timestamp(System.currentTimeMillis())))
        LoadResult(e.qualifiedName, e.loadMode, rows, "succeeded", newWm)
      } catch {
        case ex: Exception =>
          Audit.log(spark, auditDir, Audit.Run(runId, e.sourceSystem, e.tableName,
            e.loadMode, e.watermarkColumn.getOrElse(""),
            watermarks.get(wmKey).orNull,
            0L, "failed", start, new Timestamp(System.currentTimeMillis())))
          val res = LoadResult(e.qualifiedName, e.loadMode, 0L, "failed", None)
          // NonFatal alone is NOT enough: scala.util.control.NonFatal
          // classifies LinkageError as fatal, so a mis-packaged pager
          // client throwing NoClassDefFoundError would still break
          // per-table isolation. Catch it explicitly; genuinely fatal
          // errors (VirtualMachineError, InterruptedException) still
          // propagate.
          try onFailure(res) catch {
            case cbEx: Throwable
                if scala.util.control.NonFatal(cbEx) ||
                  cbEx.isInstanceOf[LinkageError] => System.err.println(
              s"[runner] onFailure callback for ${e.qualifiedName} threw: $cbEx")
          }
          res
      }
    }

    val entries = LoadConfig.activeEntries(spark, configPath)
    // A per-run pool: its threads are created by this call, so they
    // inherit the caller's Spark local properties (job group, job
    // description) and active session. invokeAll waits for every load;
    // what escapes a load is rethrown as itself.
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(entries.size, spark.sparkContext.defaultParallelism)))
    try pool.invokeAll(entries.map(e => (() => loadOne(e)): Callable[LoadResult]).asJava)
      .asScala.toSeq.map(f => try f.get() catch { case ex: ExecutionException => throw ex.getCause })
    finally pool.shutdown()
  }

  /** One stage of a master pipeline: `body` returns true on success. */
  final case class Stage(name: String, body: SparkSession => Boolean)

  final case class StageResult(stage: String, status: String)

  /** Staged master pipeline — the reference's `pl_master.json`
    * ExecutePipeline chain (ingestion → bronze-to-silver → silver-to-gold,
    * each stage dependsOn the previous one's Succeeded): run `stages` in
    * order; the first failure GATES every later stage (recorded `skipped`,
    * never executed). Each stage writes a `running` audit row at start and
    * a terminal row at end under source_system `master`, so a crashed
    * stage is visible and a finished master run reads as a clean
    * stage-per-row trace.
    *
    * A stage wrapping [[run]] succeeds when every table load did:
    * `Stage("ingestion", s => Runner.run(...).forall(_.status == "succeeded"))`.
    *
    * `onFailure` fires for the stage that FAILED (not for the gated
    * `skipped` stages after it — one page per incident, not one per
    * downstream casualty); a throwing callback cannot alter the gating or
    * the audit trail.
    */
  def master(spark: SparkSession, auditDir: String, runId: String,
      stages: Seq[Stage],
      onFailure: StageResult => Unit = _ => ()): Seq[StageResult] = {
    var gate = true
    stages.map { st =>
      val start = new Timestamp(System.currentTimeMillis())
      def audit(status: String): Unit =
        Audit.log(spark, auditDir, Audit.Run(runId, "master", st.name, "stage",
          "", null, 0L, status, start, new Timestamp(System.currentTimeMillis())))
      if (!gate) { audit("skipped"); StageResult(st.name, "skipped") }
      else {
        audit("running")
        val ok = try st.body(spark) catch { case _: Exception => false }
        audit(if (ok) "succeeded" else "failed")
        if (!ok) gate = false
        val res = StageResult(st.name, if (ok) "succeeded" else "failed")
        // Same LinkageError carve-out as the per-table callback above.
        if (!ok) try onFailure(res) catch {
          case cbEx: Throwable
              if scala.util.control.NonFatal(cbEx) ||
                cbEx.isInstanceOf[LinkageError] => System.err.println(
            s"[runner] onFailure callback for stage ${st.name} threw: $cbEx")
        }
        res
      }
    }
  }
}
