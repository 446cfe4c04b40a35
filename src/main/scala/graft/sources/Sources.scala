package graft.sources

import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapreduce.lib.input.{FileSplit => NewFileSplit, TextInputFormat => NewTextInputFormat}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source readers (i03): explicit-schema batch + streaming readers.
  *
  * Always pass a schema where one is known: schema inference costs an extra
  * full scan of 100 TB; an explicit schema costs nothing and pins types.
  * Column pruning and filter pushdown then happen in the queries themselves
  * (verified by the plan specs).
  */
object Sources {

  /** Widen a NARROW input (fewer partitions than the session's shuffle
    * width) before per-row-heavy work by hash-partitioning it on the
    * caller's row key `by` (round-robin only when no key is given). A
    * small parquet table is often one row group = ONE Spark task, which
    * serializes downstream per-character/per-element compute onto a
    * single core (measured: the q66 fingerprint hash stream ran 2.2s
    * single-threaded from a one-row-group documents scan). At scale the
    * scan already has enough splits and this is a no-op — the partition
    * check, not the shuffle, is the contract, so a 100 TB input never
    * pays a blind full-text reshuffle.
    */
  def widen(df: DataFrame, by: Column*): DataFrame = {
    // Streaming frames can't be inspected via .rdd (and micro-batches are
    // already width-partitioned by the source); pass them through so the
    // shared text/sim helpers stay usable from the streaming faces.
    if (df.isStreaming) return df
    val width = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions >= width) df
    // HASH repartition on the caller's row key, never keyless round-robin:
    // a keyless repartition(n) first pays a LOCAL SORT of its input
    // (spark.sql.execution.sortBeforeRepartition, needed for retry
    // determinism) — on the one-task narrow scan this widens, that sort
    // serializes on a single core, eating the win. Hash partitioning is
    // retry-deterministic without the sort, and a key that matches the
    // downstream aggregation (doc id, basket key) hands the partitioning
    // onward so the next groupBy plans no second exchange.
    else if (by.nonEmpty) df.repartition(width, by: _*)
    else df.repartition(width)
  }

  /** Read a parquet dataset treating ONLY a missing path as absent
    * (None). Every state-accumulating component needs the "first run, no
    * state yet" branch, and the tempting catch-all is a trap: a CORRUPT
    * or unreadable state directory must fail loudly, because answering
    * "no state" to it silently resets watermarks, drops dedup indexes, or
    * (worst) lets a sink overwrite the only — possibly recoverable —
    * copy of a dimension. The path is asked of its file system first, so
    * a first run raises (and logs) no error at all.
    */
  def parquetIfExists(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      Some(spark.read.parquet(path))
    else None
  }

  def csv(spark: SparkSession, path: String, schema: Option[StructType] = None,
      header: Boolean = true): DataFrame = {
    val r = spark.read.option("header", header.toString)
    schema.fold(r.option("inferSchema", "true"))(r.schema).csv(path)
  }

  def json(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(r.schema).json(path)
  }

  /** Columnar ORC reader (same pushdown/pruning properties as parquet —
    * the format some upstream warehouses hand over).
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Raw text-lines corpus intake: one document per line, the format web
    * dumps and many corpus releases actually ship in (one-JSON-per-line
    * goes through [[json]]; this is the plain-text sibling). Returns
    * (doc_id, text) with doc_id = the line's 0-based rank in the total
    * order (file path, byte offset of the line start) — a PURE FUNCTION
    * OF THE FILE SET, independent of split planning, session config, or
    * cluster size. That is the id stability the first-occurrence family
    * (q82/q99, the min-id keepers) needs from an intake id: a bare
    * `zipWithIndex` over `spark.read.textFile` is deterministic only for
    * a fixed `maxPartitionBytes`/parallelism, so a re-read on a
    * differently-sized cluster could renumber documents and silently
    * move the min-id keeper.
    *
    * Cost: ZERO SHUFFLE — two scans, both map-only (r15; the previous
    * spelling paid a full-corpus `sortByKey` range shuffle for the same
    * total order, which at 100 TB intake is the difference between
    * reading the corpus twice and range-shuffling it once). A line
    * belongs to the split containing its START (TextInputFormat's
    * boundary contract) and splits are contiguous byte ranges, so the
    * (file, offset) total order is exactly: splits sorted by
    * (file, splitStart), lines in read order within each split. Pass 1
    * counts lines per split (one bounded, split-catalog-sized collect —
    * the q52 two-phase shape); the driver prefix-sums over the sorted
    * split list; pass 2 re-reads and assigns id = split's prefix offset
    * + local rank, partition-locally. Both passes run over the SAME RDD
    * instance, so the split plan is computed once and cannot disagree
    * with itself — and even across sessions the ids are stable, because
    * any split planning yields the same (file, offset) ranking. Pass a
    * glob for sharded dumps; file-path order ranks the shards.
    */
  def textLines(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    val raw = sc.newAPIHadoopFile(
        path, classOf[NewTextInputFormat], classOf[LongWritable], classOf[Text],
        sc.hadoopConfiguration)
      .asInstanceOf[org.apache.spark.rdd.NewHadoopRDD[LongWritable, Text]]
    // Pass 1: per-split line counts, keyed by the split's identity.
    val counts = raw.mapPartitionsWithInputSplit { (split, iter) =>
        val fs = split.asInstanceOf[NewFileSplit]
        var n = 0L
        while (iter.hasNext) { iter.next(); n += 1 }
        Iterator.single(((fs.getPath.toString, fs.getStart), n))
      }.collect()
    // Driver prefix sum over the (file, splitStart)-sorted split list.
    val sorted = counts.sortBy(_._1)
    val startIds = new scala.collection.mutable.HashMap[(String, Long), Long]
    var acc = 0L
    sorted.foreach { case (k, n) => startIds.put(k, acc); acc += n }
    val bc = sc.broadcast(startIds)
    // Pass 2: partition-local contiguous assignment from the broadcast
    // offsets. Iterator order within a split IS offset order (sequential
    // read), so id = prefix + local rank is the global (file, offset) rank.
    raw.mapPartitionsWithInputSplit { (split, iter) =>
        val fs = split.asInstanceOf[NewFileSplit]
        var id = bc.value((fs.getPath.toString, fs.getStart))
        // Hadoop reuses the Writable instances — materialize per record.
        iter.map { case (_, line) =>
          val row = (id, line.toString); id += 1; row
        }
      }
      .toDF("doc_id", "text")
  }

  /** PERMISSIVE CSV read with corrupt-record routing — the reference's
    * quarantine-don't-fail DQ philosophy (README "Invalid or malformed
    * records are redirected to a quarantine flow") applied at the PARSE
    * step, before [[graft.ops.Quality]]'s row-rule flow sees typed rows.
    * Returns (good, quarantined): good rows typed to `schema`; quarantined
    * rows carry the raw line as `raw_record`, ready to append next to the
    * Quality quarantine output.
    *
    * The parsed frame is cached before splitting — Spark disallows a query
    * whose referenced columns are ONLY the internal corrupt-record column
    * of a direct file scan (parser pruning would elide the failure being
    * tested). At bronze scale the equivalent discipline is land-then-split:
    * write the parsed frame once, split from the landed copy.
    */
  def csvQuarantined(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): (DataFrame, DataFrame) =
    splitCorrupt(spark.read
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .schema(withCorruptCol(schema))
      .csv(path))

  /** PERMISSIVE JSON read with corrupt-record routing (see
    * [[csvQuarantined]]).
    */
  def jsonQuarantined(spark: SparkSession, path: String,
      schema: StructType): (DataFrame, DataFrame) =
    splitCorrupt(spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .schema(withCorruptCol(schema))
      .json(path))

  private val CorruptCol = "_corrupt_record"

  private def withCorruptCol(schema: StructType): StructType =
    if (schema.fieldNames.contains(CorruptCol)) schema
    else schema.add(CorruptCol, org.apache.spark.sql.types.StringType)

  private def splitCorrupt(parsed: DataFrame): (DataFrame, DataFrame) = {
    val cached = parsed.cache()
    val good = cached.filter(org.apache.spark.sql.functions.col(CorruptCol).isNull)
      .drop(CorruptCol)
    val bad = cached.filter(org.apache.spark.sql.functions.col(CorruptCol).isNotNull)
      .select(org.apache.spark.sql.functions.col(CorruptCol).as("raw_record"))
    (good, bad)
  }

  /** Schema-contract read with an explicit evolution policy (i12). A
    * long-lived 100 TB table accumulates years of partitions written at
    * different schema versions; `mergeSchema` alone reconciles silently,
    * which is exactly how a type change or a vanished column corrupts
    * downstream maths without a failure. This read states the contract:
    *
    *  - a column added over time (present in newer files only) reads as
    *    null for older rows — ordinary additive evolution, allowed;
    *  - an expected NULLABLE column absent from every file backfills as
    *    typed nulls (the contract predates the first write carrying it);
    *    an absent non-nullable column fails loudly;
    *  - a column whose type differs from the contract fails loudly with
    *    the column named (silent casts are how 2.5 becomes 2);
    *  - columns not in the contract are dropped, or fail when
    *    `failOnNewColumns` (a strict bronze that wants to NOTICE new
    *    upstream fields);
    *  - files whose types conflict with EACH OTHER fail in the merge
    *    pre-pass, rewrapped with the path named.
    *
    * Output is projected to exactly the contract's columns in contract
    * order.
    */
  def readEvolved(spark: SparkSession, path: String, expected: StructType,
      failOnNewColumns: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val actual =
      try spark.read.option("mergeSchema", "true").parquet(path)
      catch {
        case e: org.apache.spark.SparkException =>
          throw new IllegalStateException(
            s"schema drift at $path: files disagree on types " +
              s"(${String.valueOf(e.getMessage).take(300)})", e)
      }
    val actualMap = actual.schema.map(f => f.name -> f).toMap
    val drifted = expected.fields.toSeq.flatMap { ef =>
      actualMap.get(ef.name).collect {
        case af if af.dataType != ef.dataType =>
          s"${ef.name}: expected ${ef.dataType.simpleString}, found ${af.dataType.simpleString}"
      }
    }
    if (drifted.nonEmpty)
      throw new IllegalStateException(s"schema drift at $path: ${drifted.mkString("; ")}")
    val unexpected = actual.schema.fieldNames.toSet -- expected.fieldNames.toSet
    if (failOnNewColumns && unexpected.nonEmpty)
      throw new IllegalStateException(
        s"schema drift at $path: unexpected columns ${unexpected.toSeq.sorted.mkString(", ")}")
    val backfilled = expected.fields.filterNot(f => actualMap.contains(f.name))
      .foldLeft(actual) { (df, f) =>
        if (f.nullable) df.withColumn(f.name, lit(null).cast(f.dataType))
        else throw new IllegalStateException(
          s"schema drift at $path: required column ${f.name} absent from every file")
      }
    backfilled.select(expected.fieldNames.map(col).toSeq: _*)
  }

  /** WARC crawl-archive intake (i17) → (records, quarantine); see
    * [[Warc.read]] for the frame-level quarantine and scale contract.
    */
  def warc(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    Warc.read(spark, path)

  /** File-based stream: new files under `path` become micro-batches
    * (the bronze "incremental drops" pattern,
    * reference: 4_silver/silver_transactions.py:58 glob reads — but as a
    * continuous stream instead of per-run globs).
    */
  def parquetStream(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /** JDBC table reader — the reference's PRIMARY bronze ingestion path
    * (reference: 2_bronze_ingestion_adf/datasets/generic_sql_ds.json +
    * linked_services/sql_ls.json: parameterized SQL-database copies over
    * two banks' schemas, 6_source_ddl/banq_a_ddl.sql).
    *
    * Filters applied to the returned frame — including the Runner's
    * incremental watermark predicate — are pushed INTO the database query
    * by Catalyst (JDBC relations support filter pushdown; `.explain` shows
    * them under PushedFilters), so an incremental load ships only the new
    * rows over the wire, which is the entire point of the reference's
    * `incremental_column` config.
    *
    * Pass `partitionColumn`/`lowerBound`/`upperBound`/`numPartitions` for
    * a parallel read (one DB cursor per partition) — a single-cursor read
    * of a large table serializes the whole extract through one connection.
    */
  def jdbc(spark: SparkSession, url: String, table: String,
      options: Map[String, String] = Map.empty,
      partitioning: Option[(String, Long, Long, Int)] = None): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .options(options)
    partitioning.fold(base) { case (colName, lower, upper, n) =>
      base.option("partitionColumn", colName)
        .option("lowerBound", lower.toString)
        .option("upperBound", upper.toString)
        .option("numPartitions", n.toString)
    }.load()
  }

  /** `source` function for [[graft.pipeline.Runner.run]] backed by a JDBC
    * database: each config table name resolves to a pushdown-capable JDBC
    * scan — the Runner's watermark window then executes IN the database.
    */
  def jdbcSource(spark: SparkSession, url: String,
      options: Map[String, String] = Map.empty): String => DataFrame =
    table => jdbc(spark, url, table, options)
}
