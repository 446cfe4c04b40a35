package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Plain-parquet sink writers: an ATOMIC full refresh
  * ([[overwriteAtomic]], the reference's full-refresh gold dims/facts
  * discipline), ORC, and bucketed catalog tables. The transactional table
  * format — versions, time travel, per-file stats pruning, dynamic
  * partition overwrite, compaction, z-order clustering, MERGE and
  * row-level DML — is [[VersionedTable]], the one analog of the
  * reference's Delta tables
  * (reference: 4_silver/silver_transactions.py MERGE INTO ... USING DELTA).
  */
object Sinks {

  /** Full refresh that never destroys the current table copy mid-write:
    * the frame is written to a temp directory NEXT TO `path`, then swapped
    * in with two renames (current → retired, temp → current) and the
    * retired copy deleted. A crash during the write leaves the live table
    * untouched (plus temp garbage); a crash between the renames leaves the
    * complete old copy under `<path>.__old-*` for manual recovery — at no
    * point is the only copy a half-written directory, which is exactly the
    * failure mode of Spark's plain `mode("overwrite")` (delete, then
    * rewrite in place). Directory rename is atomic on HDFS and on ADLS
    * Gen2's hierarchical namespace (the reference's store); a table that
    * needs versions or a log-based commit is a [[VersionedTable]].
    */
  def overwriteAtomic(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit = {
    val fs = new Path(path)
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    atomicSwap(fs, path) { tmp =>
      val w = df.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(tmp.toString)
    }
  }

  /** The write-into-temp + dual-rename swap behind [[overwriteAtomic]]
    * (and the WET exporter): `writeInto(tmp)` fully populates a temp dir
    * while the live one keeps serving, then live → old, tmp → live, old
    * deleted. A crash anywhere leaves either the old directory intact or
    * (post-swap) the new one — never a partial mix; the temp dir is
    * cleaned up on every exit path.
    */
  private[graft] def atomicSwap(fs: org.apache.hadoop.fs.FileSystem,
      path: String)(writeInto: Path => Unit): Unit = {
    val token = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(s"$path.__tmp-$token")
    val old = new Path(s"$path.__old-$token")
    val live = new Path(path)
    try {
      writeInto(tmp)
      if (fs.exists(live)) {
        if (!fs.rename(live, old)) sys.error(s"rename $live -> $old failed")
      }
      if (!fs.rename(tmp, live)) sys.error(s"rename $tmp -> $live failed")
      fs.delete(old, true)
    } finally fs.delete(tmp, true)
  }

  /** Bucketed + sorted catalog table (i05): co-locates and pre-sorts rows by
    * the join key at WRITE time, so repeated large-fact joins on that key
    * run shuffle-free (SortMergeJoin with no Exchange under it) — the
    * pre-partitioning discipline a 100 TB fact table needs when it is
    * joined on the same key by every downstream query. Bucket count should
    * match the target parallelism (it is fixed at write time).
    */
  def bucketed(df: DataFrame, table: String, bucketCol: String, buckets: Int): Unit =
    df.write
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)
}
