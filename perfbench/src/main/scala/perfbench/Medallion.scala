package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.meta.Audit
import graft.ops.{Cdm, Dedup, Quality}
import graft.pipeline.{Medallion => M, Runner}
import graft.sources.VersionedTable

/** The write-path workload: an incremental, audited medallion run over two
  * banks whose drops differ in schema. Each batch is one closed-loop
  * operation (landing → gold committed):
  *  1. `Runner.run` loads every bank table past its audited watermark
  *     (bronze);
  *  2. `Medallion.silver` + `Scd2.mergeVersioned` SCD2-merge the batch's
  *     customers into a versioned silver table;
  *  3. `VersionedTable.feedInto` carries silver's new commit into the gold
  *     customer dimension;
  *  4. `Medallion.goldFact` enriches the batch's transactions with that
  *     dimension and appends them to the gold fact table.
  * Drops are generated before the JVM starts (datagen.py) and moved into the
  * landing directory, untimed, before their batch.
  */
object Medallion {
  private val Keys = Seq("customer_key")
  private val Attrs = Seq("name", "email", "city", "is_quarantined")

  private val silverSchema = StructType(Seq(
    StructField("customer_key", StringType), StructField("name", StringType),
    StructField("email", StringType), StructField("city", StringType),
    StructField("is_quarantined", BooleanType),
    StructField("valid_from", TimestampType), StructField("valid_to", TimestampType),
    StructField("is_current", BooleanType)))
  private val factSchema = StructType(Seq(
    StructField("source_system", StringType), StructField("transaction_key", StringType),
    StructField("customer_key", StringType), StructField("amount", DoubleType),
    StructField("txn_ts", TimestampType), StructField("is_quarantined", BooleanType),
    StructField("quarantine_reason", StringType),
    StructField("d_customer_key", StringType), StructField("customer_name", StringType),
    StructField("customer_city", StringType), StructField("refreshed_at", TimestampType)))

  final class Dirs(root: String) {
    val drops = s"$root/drops"
    val landing = s"$root/landing"
    val bronze = s"$root/bronze"
    val audit = s"$root/audit"
    val config = s"$root/load_config.csv"
    val silver = s"$root/silver_customers"
    val goldDim = s"$root/gold_dim_customer"
    val goldFact = s"$root/gold_fact_transaction"
  }

  val Tables = Seq(
    ("bank_a", "customers", "updated_at"), ("bank_a", "transactions", "txn_ts"),
    ("bank_b", "customers", "modified_ts"), ("bank_b", "transactions", "booked_at"))

  /** Bank-specific → common customer model, before quarantine and dedup. */
  private def cdmCustomers(df: DataFrame): DataFrame = df.select(
    col("source_system"),
    Cdm.sourceKey(coalesce(col("cust_id").cast("string"), col("customer_no")),
      col("source_system")).as("customer_key"),
    trim(coalesce(col("full_name"),
      concat_ws(" ", trim(col("first_name")), trim(col("last_name"))))).as("name"),
    lower(trim(coalesce(col("email"), col("mail")))).as("email"),
    Cdm.normUpper(coalesce(col("city"), col("town"))).as("city"),
    coalesce(col("updated_at"), col("modified_ts")).as("updated_at"),
    col("seq"))

  private def cdmTransactions(df: DataFrame): DataFrame = df.select(
    col("source_system"),
    Cdm.sourceKey(coalesce(col("txn_id").cast("string"), col("transaction_ref")),
      col("source_system")).as("transaction_key"),
    Cdm.sourceKey(coalesce(col("cust_id").cast("string"), col("customer_no")),
      col("source_system")).as("customer_key"),
    coalesce(col("amount"), col("amount_cents") / 100.0).as("amount"),
    coalesce(col("txn_ts"), col("booked_at")).as("txn_ts"))

  private def bronzeBatch(spark: SparkSession, d: Dirs, table: String, b: Int): Seq[DataFrame] =
    Seq("bank_a", "bank_b").map(bank =>
      spark.read.parquet(s"${d.bronze}/$bank.$table")
        .filter(col("batch_id") === b).withColumn("source_system", lit(bank)))

  private val customerRules = Seq(Quality.Rule("blank_name", Quality.nullOrBlank(col("name"))))

  private def stagedCustomers(spark: SparkSession, d: Dirs, b: Int): DataFrame =
    M.silver(bronzeBatch(spark, d, "customers", b), cdmCustomers, customerRules,
      Keys, Seq(col("updated_at").desc, col("seq").desc))

  /** Commit time of batch `b` (2030-01-01 UTC plus b hours). */
  private def batchTs(b: Int): Column = lit(1893456000L + b * 3600L).cast("timestamp")

  /** The gold dimension's latest row per key (the dim is append-only). */
  private def dimCurrent(spark: SparkSession, d: Dirs): DataFrame =
    Dedup.latestPerKey(VersionedTable.read(spark, d.goldDim), Keys,
      Seq(col("valid_from").desc))

  private def setupTables(spark: SparkSession, d: Dirs): Unit = {
    new File(d.landing).mkdirs()
    Files.writeString(new File(d.config).toPath,
      "source_type,source_system,table_name,is_active,load_mode,watermark_column\n" +
        Tables.map { case (bank, t, wm) => s"parquet,$bank,$t,1,incremental,$wm" }
          .mkString("", "\n", "\n"))
    def empty(s: StructType) = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
    VersionedTable.create(empty(silverSchema), d.silver)
    VersionedTable.create(empty(silverSchema.add("refreshed_at", TimestampType)), d.goldDim)
    VersionedTable.create(empty(factSchema), d.goldFact)
  }

  /** Move batch `b`'s drops into the landing directory (untimed). */
  private def land(d: Dirs, b: Int): Unit = Tables.foreach { case (bank, t, _) =>
    val dst = new File(s"${d.landing}/$bank.$t")
    dst.mkdirs()
    Files.move(new File(f"${d.drops}/batch_$b%03d/$bank.$t.parquet").toPath,
      new File(dst, f"batch_$b%03d.parquet").toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  /** One batch, as four timed layer calls. */
  private def batch(c: Ctx, d: Dirs, b: Int, parent: Span): Map[String, Any] = {
    val spark = c.spark
    val s = c.spans
    val opSpan = s.open("op", s"batch $b", parent)
    val secs = scala.collection.mutable.LinkedHashMap[String, Double]()
    var landed = 0L
    val err = try {
      val (loads, br) = s.timed("bronze", "Runner.run", opSpan)(sp => c.inGroup(sp)(
        Runner.run(spark, d.config, d.bronze, d.audit, f"batch-$b%03d",
          name => spark.read.parquet(s"${d.landing}/$name"))))
      secs("bronze_s") = br.seconds
      val failedLoads = loads.filter(_.status != "succeeded")
      require(failedLoads.isEmpty, s"bronze loads failed: ${failedLoads.map(_.table)}")
      landed = loads.map(_.rows).sum
      val (_, sv) = s.timed("silver", "Scd2.mergeVersioned", opSpan)(sp => c.inGroup(sp) {
        val staged = stagedCustomers(spark, d, b).filter(!col("is_quarantined"))
          .select((Keys ++ Attrs).map(col): _*)
        graft.ops.Scd2.mergeVersioned(spark, d.silver, staged, Keys, Attrs, batchTs(b),
          "silver", b.toLong)
      })
      secs("silver_s") = sv.seconds
      val (_, gd) = s.timed("gold_dim", "VersionedTable.feedInto", opSpan)(sp => c.inGroup(sp)(
        VersionedTable.feedInto(spark, d.silver, d.goldDim, "gold-dim")(ch =>
          M.goldDim(ch, batchTs(b)))))
      secs("gold_dim_s") = gd.seconds
      val (_, gf) = s.timed("gold_fact", "Medallion.goldFact", opSpan)(sp => c.inGroup(sp) {
        val base = Quality.quarantine(
          cdmTransactions(bronzeBatch(spark, d, "transactions", b)
            .reduce(_.unionByName(_, allowMissingColumns = true))),
          Seq(Quality.Rule("null_amount", col("amount").isNull)))
        val dim = dimCurrent(spark, d)
        val fact = M.goldFact(base, Seq((dim, col("customer_key") === col("d_customer_key"),
          Seq(col("customer_key").as("d_customer_key"), col("name").as("customer_name"),
            col("city").as("customer_city")))), batchTs(b))
        VersionedTable.append(fact.select(factSchema.fieldNames.map(col): _*), d.goldFact)
      })
      secs("gold_fact_s") = gf.seconds
      null
    } catch { case t: Throwable => String.valueOf(t).take(300) }
    s.close(opSpan)
    Map("name" -> s"batch $b", "batch" -> b, "wall_s" -> opSpan.seconds, "landed" -> landed,
      "ok" -> (err == null), "error" -> err, "span" -> opSpan.id) ++ secs
  }

  /** Per-batch layer counters, read after the batch (untimed, traced only). */
  private def counters(c: Ctx, d: Dirs, b: Int, parent: Span): Map[String, Any] = {
    val spark = c.spark
    val s = c.spans
    val cs = scala.collection.mutable.LinkedHashMap[String, Any]()
    val (_, ar) = s.timed("audit_read", "Audit.latestCompletedRuns", parent)(sp =>
      c.inGroup(sp)(Audit.latestCompletedRuns(spark, d.audit).collect()))
    cs("audit_read_s") = ar.seconds
    cs("audit_files") = Option(new File(d.audit).listFiles()).getOrElse(Array.empty[File])
      .count(_.getName.endsWith(".parquet"))
    val (snap, sn) = s.timed("snapshot", "VersionedTable.snapshotAt", parent)(sp =>
      c.inGroup(sp)(VersionedTable.snapshotAt(spark, d.silver)))
    cs("snapshot_s") = sn.seconds
    cs("log_versions") = snap.version + 1
    cs("live_files") = snap.files.size
    val prev = VersionedTable.snapshotAt(spark, d.silver, math.max(0L, snap.version - 1))
    val prevPaths = prev.files.map(_.path).toSet
    val newPaths = snap.files.map(_.path).toSet
    val added = snap.files.filterNot(f => prevPaths.contains(f.path))
    cs("files_rewritten") = prev.files.count(f => !newPaths.contains(f.path))
    cs("bytes_written_mb") = added.map(_.bytes).sum / 1048576.0
    // rows of this batch's merge, from the change feed: expired versions are
    // served with is_current = false, fresh versions with is_current = true
    val ch = VersionedTable.readChangesSince(spark, d.silver, snap.version - 1, snap.version)
      .groupBy().agg(sum(when(col("is_current"), 1).otherwise(0)).as("ins"),
        sum(when(col("is_current"), 0).otherwise(1)).as("exp")).collect()(0)
    val inserted = Option(ch.get(0)).map(_.toString.toLong).getOrElse(0L)
    val expired = Option(ch.get(1)).map(_.toString.toLong).getOrElse(0L)
    cs("inserted") = inserted
    cs("expired") = expired
    val committedRows = added.map(_.rows).sum
    cs("write_amp") = if (inserted + expired == 0) 0.0
      else committedRows.toDouble / (inserted + expired)
    val flagged = Quality.quarantine(
      cdmCustomers(bronzeBatch(spark, d, "customers", b)
        .reduce(_.unionByName(_, allowMissingColumns = true))), customerRules)
    val r = flagged.groupBy().agg(count(lit(1)), sum(when(col("is_quarantined"), 1).otherwise(0)))
      .collect()(0)
    cs("quarantined") = r.getLong(1)
    cs("deduped") = r.getLong(0) - stagedCustomers(spark, d, b).count()
    val fv = VersionedTable.latestVersion(spark, d.goldFact)
    cs("fk_unmatched") = VersionedTable.readChangesSince(spark, d.goldFact, fv - 1, fv)
      .filter(col("d_customer_key").isNull).count()
    cs.toMap
  }

  /** Batches 1..`warmup` run untimed in setup, at the measured scale (batch
    * 1 is the bootstrap load); the rest are measured. */
  def run(c: Ctx, batches: Int, warmup: Int): Map[String, Any] = {
    val spark = c.spark
    val d = new Dirs(c.work)
    setupTables(spark, d)
    val ops = ArrayBuffer[Map[String, Any]]()
    val root = c.spans.open("workload", "medallion_incremental", null)
    var setupEndMs = 0L
    var heapPeak = 0.0
    val warmPprobes = ArrayBuffer[Double]()
    for (b <- 1 to batches) {
      land(d, b)
      val measured = b > warmup
      // Traced runs interleave listener-off and listener-on batches (off, on,
      // off, on) so the same run measures its own tracing overhead: the first
      // is still warming up and is left out of that comparison, and the rest
      // put the trend on both sides alike.
      val tracedBatch = c.traced && measured && (b - warmup) % 2 == 0
      c.listen(tracedBatch)
      val probeMs = c.probe()
      val pprobeMs = c.parallelProbe()
      if (measured && setupEndMs == 0L) setupEndMs = System.currentTimeMillis()
      val passSpan = c.spans.open("pass", s"batch $b", root)
      val rec = batch(c, d, b, passSpan)
      c.spans.close(passSpan)
      if (!measured) {
        require(rec("ok") == true, s"warmup batch $b failed: ${rec("error")}")
        warmPprobes += pprobeMs
      } else {
        val extra = if (c.traced) counters(c, d, b, root) else Map.empty[String, Any]
        heapPeak = math.max(heapPeak, c.heapAfterGcMb())
        ops += rec ++ extra ++ Map("traced_pass" -> tracedBatch, "probe_ms" -> probeMs,
          "pprobe_ms" -> pprobeMs, "pass" -> b)
      }
    }
    c.listen(false)
    c.spans.close(root)
    val pprobes = ops.map(_("pprobe_ms").asInstanceOf[Double]).toSeq
    Map("setup_end_ms" -> setupEndMs, "ops" -> ops, "heap_after_gc_mb" -> heapPeak,
      "checks" -> check(spark, d, batches),
      "contended" -> graft.BenchProbe.contended(pprobes, warmPprobes.min))
  }

  // ------------------------------------------------------------------ checks

  /** Final-state checks, each independent of the engine code under test
    * (plain Spark over the landed drops; the tables are small, so each side
    * is collected once and compared on the driver). Returns check name →
    * error (null when it holds).
    */
  def check(spark: SparkSession, d: Dirs, batches: Int): Map[String, Any] = {
    def attempt(body: => Unit): String =
      try { body; null } catch { case t: Throwable => String.valueOf(t).take(300) }
    val cols = Seq("customer_key", "name", "email", "city").map(col)
    def rows(df: DataFrame): Seq[Seq[Any]] = df.select(cols: _*).collect().toSeq.map(_.toSeq)
    def latest(df: DataFrame, order: Column*): DataFrame =
      df.withColumn("rn", row_number().over(Window.partitionBy("customer_key").orderBy(order: _*)))
        .filter(col("rn") === 1)
    def same(got: Seq[Seq[Any]], want: Seq[Seq[Any]], what: String): Unit = {
      val (g, w) = (got.groupBy(identity).view.mapValues(_.size).toMap,
        want.groupBy(identity).view.mapValues(_.size).toMap)
      val extra = (g.keySet -- w.keySet).size
      val missing = (w.keySet -- g.keySet).size
      val differ = (g.keySet & w.keySet).count(k => g(k) != w(k))
      require(extra + missing + differ == 0,
        s"$what: $extra unexpected, $missing missing, $differ duplicated rows")
    }
    val landedA = spark.read.parquet(s"${d.landing}/bank_a.customers").select(
      concat(col("cust_id").cast("string"), lit("-bank_a")).as("customer_key"),
      trim(col("full_name")).as("name"), lower(trim(col("email"))).as("email"),
      upper(trim(col("city"))).as("city"), col("updated_at"), col("seq"))
    val landedB = spark.read.parquet(s"${d.landing}/bank_b.customers").select(
      concat(col("customer_no"), lit("-bank_b")).as("customer_key"),
      trim(concat_ws(" ", trim(col("first_name")), trim(col("last_name")))).as("name"),
      lower(trim(col("mail"))).as("email"), upper(trim(col("town"))).as("city"),
      col("modified_ts").as("updated_at"), col("seq"))
    val expected = rows(latest(landedA.unionByName(landedB)
      .filter(col("name").isNotNull && length(col("name")) > 0),
      col("updated_at").desc, col("seq").desc))
    val current = rows(VersionedTable.read(spark, d.silver).filter(col("is_current")))
    val gold = rows(latest(VersionedTable.read(spark, d.goldDim), col("valid_from").desc))
    val audit = spark.read.parquet(d.audit).filter(col("status") === "succeeded")
      .select(col("run_id"), col("source_system"), col("source_object"),
        col("watermark_value").cast("timestamp")).collect().toSeq
    val truth = Tables.map { case (bank, t, wm) =>
      spark.read.parquet(s"${d.landing}/$bank.$t").select(
        format_string("batch-%03d", col("batch_id")).as("run_id"),
        lit(bank).as("source_system"), lit(t).as("source_object"), col(wm).as("wm"))
    }.reduce(_.union(_)).groupBy("run_id", "source_system", "source_object")
      .agg(max("wm")).collect().toSeq
    Map(
      "silver_one_current_per_key" -> attempt {
        val dup = current.groupBy(_.head).count(_._2.size != 1)
        require(dup == 0, s"$dup keys with more than one current row")
      },
      "silver_current_equals_latest_landed" -> attempt(same(current, expected, "silver current")),
      "gold_dim_equals_silver_current" -> attempt(same(gold, current, "gold dim")),
      "audit_one_succeeded_row_per_batch_table" -> attempt {
        val perKey = audit.groupBy(r => (r.get(0), r.get(1), r.get(2))).view.mapValues(_.size)
        val bad = perKey.count(_._2 != 1)
        require(bad == 0 && perKey.size == batches * Tables.size,
          s"${perKey.size} (run, table) pairs with a succeeded row, $bad with more than one")
      },
      "audit_watermarks" -> attempt(same(audit.map(_.toSeq), truth.map(_.toSeq), "watermarks")))
  }
}
