package graft.streaming

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.sources.{BaseRelation, CatalystScan, DataSourceRegister, Filter, PrunedFilteredScan, RelationProvider, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

import graft.sources.VersionedTable

/** The `graft-versioned` DataSource: a Structured Streaming SOURCE over
  * the i23 commit log (s36) AND a batch-readable relation (i35) — the two
  * read faces a Delta user reaches with `spark.read(Stream).format(…)`,
  * no graft library import needed (the r19 verdict's #2 ask: META-INF
  * registered only the stream face; batch is Delta's most-used face).
  *
  * {{{
  *   // batch — the snapshot, time travel, or the CDF range:
  *   spark.read.format("graft-versioned").load(table)
  *     .option("versionAsOf", "3")          // or
  *     .option("timestampAsOf", "<millis>") // or
  *     .option("readChangeFeed", "true").option("startingVersion", "0")
  *       .option("endingVersion", "7")      // optional
  *
  *   // streaming:
  *   spark.readStream.format("graft-versioned")
  *     .option("path", table)
  *     .option("startingVersion", "0")      // optional; default = snapshot
  *     .option("readChangeFeed", "true")    // optional CDF face
  *     .option("maxVersionsPerBatch", "10") // optional rate limit
  *     .load()
  * }}}
  *
  * BATCH (i35): a DSv1 `RelationProvider` whose relation is a
  * `CatalystScan`: Spark hands `buildScan` the query's resolved filter
  * conjuncts, and they go straight to the log's own i25 stats pruner, so
  * the scan plans ONLY the files they cannot exclude and reads only the
  * required columns. `needConversion=false`: the scan serves the inner
  * plan's InternalRows directly (vectorized parquet + codegen stay on),
  * never a per-row conversion. Spark re-applies every filter above the
  * scan (default `unhandledFilters`), so a conjunct the pruner cannot
  * read costs pruning power only, never correctness. Time travel via
  * `versionAsOf`/`timestampAsOf` (mutually exclusive);
  * `readChangeFeed=true` serves the i29 CDF range (`startingVersion`
  * required, `endingVersion` optional) — both bounds INCLUSIVE, Delta's
  * binding for the identically-spelled options (r21 advice fix; the
  * library API readChangeFeed stays (since, until]).
  *
  * STREAMING (s36): offsets ARE commit versions — each trigger consumes
  * the commit range (lastCommitted, latest] via
  * [[VersionedTable.readChangesSince]] (or [[VersionedTable.readChangeFeed]]
  * with `readChangeFeed=true`), so a micro-batch is exactly a commit
  * range. Exactly-once on replay is structural: the engine's own offset
  * log pins the range, and the commit log is immutable, so re-running
  * `getBatch` over the same range returns the same rows byte-for-byte —
  * no side state to desynchronize.
  *
  * `maxVersionsPerBatch` (Delta's `maxFilesPerTrigger` discipline, r19
  * verdict #3): `getOffset` serves at most N commits past the last
  * planned offset, so a backlog after downtime drains in ⌈backlog/N⌉
  * bounded micro-batches instead of ONE batch over arbitrarily many
  * commits — the executor-OOM catch-up shape at 100 TB. The bootstrap
  * snapshot batch is one offset by construction and is not limited.
  *
  * Bootstrap: with no `startingVersion`, the first batch serves the full
  * snapshot at the batch's pinned version (NOT "latest" — a commit racing
  * in mid-trigger belongs to the next batch, or replay would not be
  * deterministic); with one, the first batch serves changes in
  * [startingVersion, …] — INCLUSIVE, Delta's binding (r21 advice fix).
  *
  * A DML commit in the range makes the APPEND face fail named (the
  * [[VersionedTable.readChangesSince]] contract) — exactly Delta's
  * behavior for a streaming read over a changed table; the CDF face keeps
  * flowing through merge/delete/update/restore with `_change_type` rows.
  *
  * Scale: getOffset is one driver-side log listing; getBatch plans only
  * the files its commit range added (never a directory listing), and the
  * per-batch frame is re-tagged for the streaming plan via the one
  * compile-time seam DSv1 sources need
  * ([[org.apache.spark.sql.graft.StreamShim]]).
  */
class VersionedStreamProvider extends StreamSourceProvider with RelationProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-versioned"

  private def tableOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", parameters.getOrElse("table",
      sys.error("graft-versioned source needs .option(\"path\", <table>) " +
        "or .load(<table>)")))

  private def cdfOf(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.toBoolean)

  private def cdfSchema(base: StructType): StructType =
    VersionedStreamProvider.cdfSchema(base)

  private def schemaFor(spark: SparkSession, parameters: Map[String, String]): StructType = {
    val base = VersionedTable.snapshotAt(spark, tableOf(parameters)).schema
    if (!cdfOf(parameters)) base else cdfSchema(base)
  }

  // ------------------------------------------------------------- batch

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val table = tableOf(parameters)
    require(!(parameters.contains("versionAsOf") && parameters.contains("timestampAsOf")),
      "versionAsOf and timestampAsOf are mutually exclusive")
    if (cdfOf(parameters)) {
      val starting = parameters.getOrElse("startingVersion", sys.error(
        "readChangeFeed batch read needs .option(\"startingVersion\", <v>) — " +
          "the feed is a commit RANGE, not a snapshot")).toLong
      require(starting >= 0L, s"startingVersion must be >= 0, got $starting")
      val until = parameters.get("endingVersion").map(_.toLong).getOrElse(-1L)
      // Delta's identically-spelled option is INCLUSIVE of startingVersion
      // (r21 advice fix — the exclusive binding silently lost version N's
      // changes for ported workloads): readChangeFeed serves (since, until],
      // so inclusive = starting - 1, with -1 = genesis for starting = 0.
      new VersionedCdfRelation(spark, sqlContext, table, starting - 1L, until)
    } else {
      val version = parameters.get("versionAsOf").map(_.toLong)
        .orElse(parameters.get("timestampAsOf").map(ts =>
          VersionedTable.versionAtTimestamp(spark, table, ts.toLong)))
        .getOrElse(-1L)
      new VersionedBatchRelation(spark, sqlContext, table, version)
    }
  }

  // --------------------------------------------------------- streaming

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    val actual = schemaFor(sqlContext.sparkSession, parameters)
    // a caller-declared schema must not be silently dropped (r19 advice):
    // the source always plans against the table's own snapshot/CDF schema,
    // so a divergent declaration would serve differently-shaped rows than
    // the caller typed against — fail named instead
    schema.foreach { declared =>
      require(declared.fields.map(f => (f.name, f.dataType)).toSet ==
          actual.fields.map(f => (f.name, f.dataType)).toSet,
        s"graft-versioned source: the declared read schema " +
          s"${declared.simpleString} does not match the table's " +
          s"${actual.simpleString} — drop .schema(…) (the source derives it " +
          "from the log) or align the declaration")
    }
    (shortName(), actual)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val actual = schemaFor(sqlContext.sparkSession, parameters)
    val maxVersions = parameters.get("maxVersionsPerBatch").map(_.toLong)
    maxVersions.foreach(n => require(n > 0,
      s"maxVersionsPerBatch must be positive, got $n"))
    // INCLUSIVE startingVersion (Delta's binding, r21 advice fix): the
    // source plans batches as (base, end] commit ranges, so the inclusive
    // option maps to base = startingVersion - 1 (-1 = genesis for 0, which
    // readChangesSince/readChangeFeed serve from the empty table).
    val starting = parameters.get("startingVersion").map(_.toLong)
    starting.foreach(v => require(v >= 0L,
      s"startingVersion must be >= 0, got $v"))
    new VersionedSource(sqlContext.sparkSession, tableOf(parameters),
      cdfOf(parameters), starting.map(_ - 1L),
      actual, maxVersions)
  }
}

private[graft] object VersionedStreamProvider {
  /** THE one definition of the CDF shape (table columns + change type +
    * commit version) — the streaming source schema and the batch CDF
    * relation must never diverge on it.
    */
  private[graft] def cdfSchema(base: StructType): StructType =
    base.add(VersionedTable.ChangeTypeCol, "string")
      .add(VersionedTable.CommitVersionCol, "long")
}

/** Batch snapshot/time-travel relation (i35): the filters Spark hands
  * over prune FILES through the log stats, required columns prune the
  * parquet read schema, rows are served as the inner plan's InternalRows
  * (`needConversion=false`).
  */
private[graft] class VersionedBatchRelation(spark: SparkSession,
    override val sqlContext: SQLContext, table: String, version0: Long)
    extends BaseRelation with CatalystScan {

  // Pin "latest" ONCE at relation creation (analysis time), the way Delta
  // pins its snapshot: buildScan runs at execution, and a commit landing
  // between analysis and action must not serve rows from a newer snapshot
  // than the analyzed schema (an overwrite that changed the schema would
  // misalign columns) — r21 advice fix.
  private val version: Long =
    if (version0 >= 0) version0 else VersionedTable.latestVersion(spark, table)

  // nullable like every file-source read (the inner scan is one): a
  // non-null logged field still serves through parquet as nullable
  override val schema: StructType = StructType(
    VersionedTable.snapshotAt(spark, table, version).schema
      .fields.map(_.copy(nullable = true)))

  override def needConversion: Boolean = false

  override def buildScan(requiredColumns: Seq[Attribute],
      filters: Seq[Expression]): RDD[Row] = {
    import org.apache.spark.sql.functions.col
    val snap = VersionedTable.snapshotAt(spark, table, version)
    val files = VersionedTable.mayHold(snap.files, filters)
    VersionedBatchRelation.lastPlannedFiles = files.size
    val base = VersionedTable.scanFiles(spark, table, files, snap.schema)
    val projected =
      if (requiredColumns.isEmpty) base.select()
      else base.select(requiredColumns.map(a => col(a.name)): _*)
    // needConversion=false contract: serve InternalRows straight from the
    // inner plan — vectorized parquet + codegen stay on, zero row copies
    projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}

private[graft] object VersionedBatchRelation {
  /** How many files the LAST buildScan planned (the observability hook
    * the pruning spec pins).
    */
  @volatile private[graft] var lastPlannedFiles: Int = -1
}

/** Batch CDF-range relation: `readChangeFeed` over (since, until] —
  * filters are left to the engine (the feed already plans exactly its
  * range's files; change-type rows are not stats-prunable).
  */
private[graft] class VersionedCdfRelation(spark: SparkSession,
    override val sqlContext: SQLContext, table: String,
    since: Long, until: Long) extends BaseRelation with PrunedFilteredScan {

  // metadata-rate: the CDF shape is the snapshot schema + the two change
  // columns — deriving it by PLANNING the whole feed would walk every
  // commit in the range at relation construction just to read names
  override val schema: StructType = StructType(
    VersionedStreamProvider.cdfSchema(
      VersionedTable.snapshotAt(spark, table).schema)
      .fields.map(_.copy(nullable = true)))

  override def needConversion: Boolean = false

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    import org.apache.spark.sql.functions.col
    val base = VersionedTable.readChangeFeed(spark, table, since, until)
    val projected =
      if (requiredColumns.isEmpty) base.select()
      else base.select(requiredColumns.toSeq.map(col): _*)
    projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}

private[graft] class VersionedSource(spark: SparkSession, table: String,
    cdf: Boolean, startingVersion: Option[Long], srcSchema: StructType,
    maxVersionsPerBatch: Option[Long] = None) extends Source {

  override def schema: StructType = srcSchema

  /** The newest version any offset this source emitted (or any batch the
    * engine planned/replayed) covers — the rate-limit base. On restart
    * the recovery getBatch seeds it from the checkpointed offset, so the
    * cap never re-serves planned ground.
    */
  private var highestPlanned: Option[Long] = None

  private def versionOf(o: OffsetV1): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case other => sys.error(s"graft-versioned source got a foreign offset $other")
  }

  private def notePlanned(v: Long): Unit =
    highestPlanned = Some(highestPlanned.fold(v)(math.max(_, v)))

  override def getOffset: Option[OffsetV1] = {
    val latest = VersionedTable.latestVersion(spark, table)
    val capped = (maxVersionsPerBatch, highestPlanned.orElse(startingVersion)) match {
      case (Some(n), Some(base)) => math.min(latest, base + n)
      // bootstrap without startingVersion: the first batch is ONE
      // snapshot read regardless of how many commits built it — capping
      // it would serve a stale snapshot for no memory win
      case _ => latest
    }
    notePlanned(capped)
    Some(LongOffset(capped))
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endV = versionOf(end)
    notePlanned(endV)
    val batch = start.map(versionOf).orElse(startingVersion) match {
      case None =>
        // bootstrap: the full snapshot at the batch's pinned version (NOT
        // "latest" — a commit racing in mid-trigger belongs to the next
        // batch, or replay would not be deterministic)
        val full = VersionedTable.readVersion(spark, table, endV)
        if (!cdf) full
        else {
          import org.apache.spark.sql.functions.lit
          full.withColumn(VersionedTable.ChangeTypeCol, lit("insert"))
            .withColumn(VersionedTable.CommitVersionCol, lit(endV))
        }
      case Some(s) if s >= endV =>
        // replay edge: an empty range serves an empty, correctly-typed batch
        VersionedTable.readVersion(spark, table, endV).filter(
          org.apache.spark.sql.functions.lit(false)) match {
          case e if !cdf => e
          case e =>
            import org.apache.spark.sql.functions.lit
            e.withColumn(VersionedTable.ChangeTypeCol, lit("insert"))
              .withColumn(VersionedTable.CommitVersionCol, lit(endV))
        }
      case Some(s) =>
        if (cdf) VersionedTable.readChangeFeed(spark, table, s, endV)
        else VersionedTable.readChangesSince(spark, table, s, endV)
    }
    org.apache.spark.sql.graft.StreamShim.asStreamingFrame(spark, batch)
  }

  override def stop(): Unit = ()
}
