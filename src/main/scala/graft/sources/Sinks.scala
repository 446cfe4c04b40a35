package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Sink writers (i04): partitioned parquet with the reference's
  * append-only (silver_settlements) and full-refresh (gold dims/facts)
  * disciplines, plus an ATOMIC full refresh ([[overwriteAtomic]]) and
  * plain-parquet layout moves (z-order, bucketing). The transactional
  * table format — versions, time travel, per-file stats pruning,
  * dynamic partition overwrite, compaction, MERGE — is [[VersionedTable]],
  * the one analog of the reference's Delta tables
  * (reference: 4_silver/silver_transactions.py MERGE INTO ... USING DELTA).
  */
object Sinks {

  def append(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit =
    write(df, path, "append", partitionCols)

  def overwrite(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit =
    write(df, path, "overwrite", partitionCols)

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
    atomicSwap(fs, path)(tmp => write(df, tmp.toString, "overwrite", partitionCols))
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

  /** Z-order (Morton) curve value over two numeric columns' scaled bit
    * spaces — the multi-dimensional clustering key behind
    * [[zorderWrite]]. Each input is linearly scaled to `[0, 2^bits)`
    * against the supplied min/max, then the two bit strings interleave
    * (a's bit i at position 2i, b's at 2i+1), so rows close in BOTH
    * dimensions land close on the curve. Pure integer arithmetic — one
    * codegen'd expression, no UDF. Linear scaling is the simple binning
    * variant; skewed columns get the same interleave over rank bins
    * instead — [[zorderWriteRanked]].
    */
  def zorderValue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      minA: Double, maxA: Double, minB: Double, maxB: Double,
      bits: Int = 16): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    require(maxA > minA && maxB > minB, "degenerate column range for z-order")
    val scaleMax = (1L << bits) - 1
    // Multiply BEFORE dividing: (c·max)/range is exact when c·max is (small
    // integers), while (c/range)·max can round a hair below an integer and
    // floor one bucket low.
    def scaled(c: org.apache.spark.sql.Column, lo: Double, hi: Double) =
      least(lit(scaleMax), greatest(lit(0L),
        floor((c.cast("double") - lit(lo)) * lit(scaleMax.toDouble) / lit(hi - lo))
          .cast("long")))
    interleaveBits(scaled(a, minA, maxA), scaled(b, minB, maxB), bits)
  }

  /** Morton interleave of two already-binned values in `[0, 2^bits)`:
    * `sa`'s bit i lands at position 2i, `sb`'s at 2i+1. Shared by the
    * linear ([[zorderValue]]) and rank ([[zorderValueRanked]]) binnings —
    * the curve doesn't care how the bins were drawn.
    */
  private def interleaveBits(sa: org.apache.spark.sql.Column,
      sb: org.apache.spark.sql.Column, bits: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    (0 until bits).foldLeft(lit(0L)) { case (acc, i) =>
      acc
        .bitwiseOR(shiftleft(sa.bitwiseAND(lit(1L << i)).cast("long"), i)
          .cast("long"))
        .bitwiseOR(shiftleft(sb.bitwiseAND(lit(1L << i)).cast("long"), i + 1)
          .cast("long"))
    }
  }

  /** Rank-binned Morton value: each column is mapped to its quantile bin
    * (binary search against the supplied sorted split arrays — the native
    * [[graft.functions.BinBySplits]] expression, log2(|splits|) probes per
    * row in codegen), then the bin indices interleave exactly as in
    * [[zorderValue]]. This is the skew-proof binning: linear scaling puts
    * a zipf column's dense mass into one or two buckets, destroying the
    * curve's locality exactly where the data lives — rank bins hold
    * ~equal ROW counts by construction, so the curve stays uniform in
    * rank space no matter the value distribution.
    *
    * `splitsA`/`splitsB` are interior cut points, sorted ascending,
    * deduplicated ([[zorderWriteRanked]] builds them from
    * `approxQuantile`); a value's bin = #{splits <= v}.
    */
  def zorderValueRanked(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      splitsA: Array[Double], splitsB: Array[Double]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    require(splitsA.nonEmpty && splitsB.nonEmpty,
      "degenerate rank splits for z-order (all values in one bin)")
    def sortedDistinct(s: Array[Double]) =
      s.indices.tail.forall(i => s(i - 1) < s(i))
    require(sortedDistinct(splitsA) && sortedDistinct(splitsB),
      "z-order splits must be sorted ascending with no duplicates")
    def bitsFor(nBins: Int) =
      math.max(1, 32 - Integer.numberOfLeadingZeros(nBins - 1))
    val bits = math.max(bitsFor(splitsA.length + 1), bitsFor(splitsB.length + 1))
    def bin(c: org.apache.spark.sql.Column, splits: Array[Double]) =
      call_function("graft_bin", c.cast("double"),
        lit(splits))
    interleaveBits(bin(a, splitsA), bin(b, splitsB), bits)
  }

  /** i14: Z-order clustered write — the `OPTIMIZE ZORDER BY (a, b)` layout
    * move (Delta/Iceberg's multi-column clustering, derived here purely
    * from the layout): rows are range-partitioned and sorted by their
    * Morton value, so every output file covers a compact REGION of the
    * (a, b) space rather than a slab of one column. The 100 TB payoff is
    * file/row-group pruning on EITHER column (per-file stats pruning once
    * the layout is a versioned table: [[VersionedTable.convert]] then
    * [[VersionedTable.readWhere]], or [[VersionedTable.optimize]] with
    * `zorderBy` on an existing one): a single-column sort prunes
    * perfectly on that column and not at all on the other; z-order prunes
    * on both at ~sqrt cost (a thin predicate slab in either dimension
    * touches ~√nFiles files instead of all of them — spec-measured).
    *
    * Execution contract: the DEFAULT (`ranges = None`) runs the input plan
    * twice — once for the 4-scalar min/max aggregation that anchors the
    * scaling, once for the write. Fine for a table scan; pointed at an
    * expensive pipeline, pass precomputed `ranges = Some((minA, maxA,
    * minB, maxB))` (known bounds, or from a caller-cached frame) and the
    * input executes exactly once (spec-asserted). Skewed columns: use
    * [[zorderWriteRanked]] instead — linear binning collapses a zipf
    * column's dense mass into one bucket and the pruning quietly
    * evaporates.
    */
  def zorderWrite(df: DataFrame, path: String, colA: String, colB: String,
      nFiles: Int, bits: Int = 16,
      ranges: Option[(Double, Double, Double, Double)] = None): Unit = {
    import org.apache.spark.sql.functions._
    require(nFiles >= 1, s"nFiles must be positive, got $nFiles")
    require(!df.columns.contains("_graft_z"),
      "input column _graft_z collides with zorderWrite's working name")
    val (minA, maxA, minB, maxB) = ranges.getOrElse {
      val r = df.agg(
        min(col(colA)).cast("double"), max(col(colA)).cast("double"),
        min(col(colB)).cast("double"), max(col(colB)).cast("double")).head()
      require(!r.anyNull, s"z-order range scan found only nulls in $colA/$colB")
      (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    }
    val z = zorderValue(col(colA), col(colB), minA, maxA, minB, maxB, bits)
    writeByZ(df, z, nFiles, path)
  }

  /** Rank-binned z-order write — [[zorderWrite]] for SKEWED clustering
    * columns (amounts, timestamps — at 100 TB the interesting columns
    * almost always are). Bin boundaries come from `approxQuantile` at
    * `nBins` equi-depth cuts (relative error `relErr`; one extra pass
    * over the two columns, bounded driver state — the GK sketch), get
    * deduplicated (heavy ties collapse cuts), and each row's bin pair
    * interleaves via [[zorderValueRanked]]. Equal-depth bins mean every
    * z-curve cell holds ~the same row count, so file regions stay compact
    * in RANK space regardless of the value distribution — the pruning
    * bound the linear spec pins holds on zipf data too (spec-measured).
    *
    * Like the default [[zorderWrite]], this executes the input plan twice
    * (quantile pass + write); pass precomputed `splits` to skip the
    * quantile pass and execute the input once.
    */
  def zorderWriteRanked(df: DataFrame, path: String, colA: String, colB: String,
      nFiles: Int, nBins: Int = 4096, relErr: Double = 1e-4,
      splits: Option[(Array[Double], Array[Double])] = None): Unit = {
    import org.apache.spark.sql.functions._
    require(nFiles >= 1, s"nFiles must be positive, got $nFiles")
    require(nBins >= 2 && nBins <= (1 << 20), s"nBins must be in [2, 2^20], got $nBins")
    require(!df.columns.contains("_graft_z"),
      "input column _graft_z collides with zorderWriteRanked's working name")
    val (sa, sb) = splits.getOrElse {
      val probs = (1 until nBins).map(_.toDouble / nBins).toArray
      val qs = df.select(col(colA).cast("double").as(colA),
          col(colB).cast("double").as(colB))
        .stat.approxQuantile(Array(colA, colB), probs, relErr)
      (qs(0).distinct.sorted, qs(1).distinct.sorted)
    }
    val z = zorderValueRanked(col(colA), col(colB), sa, sb)
    writeByZ(df, z, nFiles, path)
  }

  private def writeByZ(df: DataFrame, z: org.apache.spark.sql.Column,
      nFiles: Int, path: String): Unit = {
    import org.apache.spark.sql.functions._
    df.withColumn("_graft_z", z)
      .repartitionByRange(nFiles, col("_graft_z"))
      .sortWithinPartitions(col("_graft_z"))
      .drop("_graft_z")
      .write.mode("overwrite").parquet(path)
  }

  private def write(df: DataFrame, path: String, mode: String, partitionCols: Seq[String]): Unit = {
    val w = df.write.mode(mode)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  /** ORC writer (see Sources.orc). */
  def orc(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).orc(path)

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
