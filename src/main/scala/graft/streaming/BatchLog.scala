package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import graft.sources.VersionedTable

/** The one storage format of stream-sink state. Every log a foreachBatch
  * sink in [[Streams]] keeps (kept sets, seen-hash logs, signature
  * indexes, partial aggregates, per-batch metrics) is a
  * [[graft.sources.VersionedTable]] partitioned by `batch_id`, and this
  * object is the only code that knows it:
  *
  *  - '''Replay.''' [[write]] replaces its batch's partition in ONE
  *    commit, so a foreachBatch retry recomputes and REPLACES its own
  *    rows instead of appending duplicates. A recompute that yields
  *    nothing removes the first attempt's rows (a replay after config or
  *    state drift leaves no stale rows behind), and the first write
  *    creates the table even when it is empty, so a sink that ran always
  *    has every one of its logs.
  *  - '''Prior state.''' [[prior]] serves every batch but the current
  *    one, so a retry never sees its own first attempt; whether any
  *    prior rows exist is read off the snapshot (no Spark job).
  *  - '''Compaction.''' [[compact]] folds every batch older than the
  *    newest `keepLast` into the base batch [[Streams.BaseBatchId]] as
  *    one overwrite commit; Structured Streaming replays only the last
  *    batch, which `keepLast >= 1` keeps unfolded.
  *  - '''Absent vs legacy.''' A log never written is absent
  *    ([[readIfExists]] = None, [[prior]] = None). A plain-parquet log
  *    (`batch_id=<n>` directories, no transaction log — the layout sinks
  *    wrote before this format) fails NAMED with its one-time rewrite:
  *    `VersionedTable.create(spark.read.parquet(old).withColumn("batch_id",
  *    col("batch_id").cast("long")), new, Seq("batch_id"))`.
  *
  * A log has one writer: the stream's foreachBatch.
  */
object BatchLog {

  /** Replace batch `batchId`'s rows of the log at `dir` with `df` (one
    * commit; the first write creates the log).
    */
  def write(df: DataFrame, dir: String, batchId: Long): Unit = {
    val spark = df.sparkSession
    val rows = df.withColumn("batch_id", lit(batchId))
    snapshot(spark, dir) match {
      case None => VersionedTable.create(rows, dir, Seq("batch_id"))
      case Some(before) =>
        // an empty frame touches no partition and commits nothing; the
        // batch's earlier rows, if the snapshot lists any, go with it
        if (VersionedTable.overwritePartitions(rows, dir) == before.version &&
            before.files.exists(inBatch(_, batchId)))
          VersionedTable.delete(spark, dir, col("batch_id") === batchId)
    }
  }

  /** Replace the WHOLE written log with `df` as batch `batchId` (one
    * overwrite commit) — a retrain that re-derives every row.
    */
  def replace(df: DataFrame, dir: String, batchId: Long): Unit = {
    VersionedTable.overwrite(df.withColumn("batch_id", lit(batchId)), dir)
    ()
  }

  /** The accumulated log, `batch_id` included; None when never written. */
  def readIfExists(spark: SparkSession, dir: String): Option[DataFrame] =
    if (exists(spark, dir)) Some(VersionedTable.read(spark, dir)) else None

  /** The accumulated log, `batch_id` included; fails named when its sink
    * never wrote it.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    readIfExists(spark, dir).getOrElse(throw new IllegalArgumentException(
      s"no batch log at $dir — its sink has not run a batch"))

  /** The accumulated rows without `batch_id` — what a sink's reader serves. */
  def rows(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir).drop("batch_id")

  /** The rows of every batch but `batchId`, without `batch_id`; None when
    * there are none.
    */
  def prior(spark: SparkSession, dir: String, batchId: Long): Option[DataFrame] =
    snapshot(spark, dir)
      .filter(_.files.exists(f => f.effRows > 0 && !inBatch(f, batchId)))
      .map(_ => VersionedTable.read(spark, dir)
        .filter(col("batch_id") =!= batchId).drop("batch_id"))

  /** Fold every batch except the newest `keepLast` into the base batch
    * [[Streams.BaseBatchId]], in one overwrite commit. `merge`
    * re-aggregates the folded rows (identity for row logs; a re-sum for
    * partial aggregates); its columns are cast back to the log's types,
    * so a widened sum folds into the same schema. Returns false when
    * nothing is left to fold.
    */
  def compact(spark: SparkSession, dir: String, keepLast: Int,
      merge: DataFrame => DataFrame = identity): Boolean = {
    require(keepLast >= 1,
      s"keepLast must cover the micro-batch replay window (>= 1), got $keepLast")
    val snap = snapshot(spark, dir) match {
      case Some(s) => s
      case None => return false
    }
    val ids = snap.files.map(_.partitions("batch_id").toLong).distinct
    val foldable = ids.filter(_ != Streams.BaseBatchId).sorted.dropRight(keepLast)
    if (foldable.isEmpty) return false
    // the base sorts below every real batch id, so one cut splits the log
    val cut = foldable.max
    val log = VersionedTable.read(spark, dir)
    val folded = merge(log.filter(col("batch_id") <= cut).drop("batch_id"))
      .withColumn("batch_id", lit(Streams.BaseBatchId))
    val typed = snap.schema.fields.map(f =>
      if (VersionedTable.sameType(folded.schema(f.name).dataType, f.dataType)) col(f.name)
      else col(f.name).cast(f.dataType).as(f.name))
    VersionedTable.overwrite(
      folded.select(typed.toSeq: _*).unionByName(log.filter(col("batch_id") > cut)), dir)
    true
  }

  private def inBatch(f: VersionedTable.AddFile, batchId: Long): Boolean =
    f.partitions.get("batch_id").contains(batchId.toString)

  private def snapshot(spark: SparkSession, dir: String): Option[VersionedTable.Snapshot] =
    if (exists(spark, dir)) Some(VersionedTable.snapshotAt(spark, dir)) else None

  /** Has the log been written? A plain-parquet log fails named. */
  private def exists(spark: SparkSession, dir: String): Boolean =
    VersionedTable.exists(spark, dir) || {
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(!(fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.startsWith("batch_id="))),
        s"batch log at $dir is plain parquet (batch_id=<n> directories, no " +
          "transaction log) — rewrite it once with VersionedTable.create(" +
          s"""spark.read.parquet("$dir").withColumn("batch_id", col("batch_id").cast("long")), """ +
          """<new dir>, Seq("batch_id")) and point the sink at the new dir""")
      false
    }
}
