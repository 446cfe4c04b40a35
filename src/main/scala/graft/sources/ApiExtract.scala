package graft.sources

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** API-extract component — the engine-side analog of the reference's FX
  * feed (reference: 3_api_extracts/api_fx_rates.py: fetch ECB-style JSON
  * rates over HTTP, flatten to (currency, rate, date) rows, land parquet,
  * log rows_written; silver keeps the latest rate per currency).
  *
  * The FETCH is the caller's: this component takes already-retrieved
  * payload strings (from any HTTP client, a queue, or a file fixture —
  * the sandbox has no network and the parse/flatten/land logic is the
  * engine capability). Payload shape, one JSON document per snapshot:
  *
  * {{{ {"base":"EUR","as_of":"2024-01-05","rates":{"USD":1.09,"GBP":0.86}} }}}
  *
  * Scale: payloads are API-rate data (KBs per snapshot) — the parse is a
  * driver-local Dataset; the landed bronze accumulates over runs and the
  * latest-rate view is a keyed argmax (one shuffle on currency).
  */
object ApiExtract {

  /** Explicit payload schema — inference would cost an extra pass and
    * pins `rates` as a MAP so currencies stay data, not schema.
    */
  private val payloadSchema = StructType(Seq(
    StructField("base", StringType),
    StructField("as_of", StringType),
    StructField("rates", MapType(StringType, DoubleType))))

  /** Flatten payload documents to (base, rate_date, currency, rate) rows.
    * Malformed documents yield null fields rather than failing the batch
    * (the reference's extract skips bad snapshots).
    */
  def parseFx(spark: SparkSession, payloads: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read.schema(payloadSchema).json(payloads.toDS())
      .select(col("base"), to_date(col("as_of")).as("rate_date"),
        explode(col("rates")).as(Seq("currency", "rate")))
      .filter(col("currency").isNotNull && col("rate").isNotNull)
  }

  /** Latest rate per (base, currency) — the silver view of the landed feed
    * (reference: 4_silver/silver_fx_rates.py latest-per-key).
    */
  def latestRates(parsed: DataFrame): DataFrame =
    graft.ops.Dedup.latestPerKey(parsed, Seq("base", "currency"),
      Seq(col("rate_date").desc))

  /** Parse `payloads` and append the flattened rows to the bronze
    * directory; returns rows_written (counted on the write pass itself —
    * the reference's extract logs the same figure per run).
    */
  def landFx(spark: SparkSession, payloads: Seq[String], bronzeDir: String): Long = {
    val obs = Observation()
    parseFx(spark, payloads).observe(obs, count(lit(1)).as("rows"))
      .write.mode("append").parquet(bronzeDir)
    graft.ops.Observations.of(obs, s"landFx into $bronzeDir")("rows").asInstanceOf[Long]
  }

  /** Thrown when `fetchWithRetry` exhausts its attempts; carries the last
    * failure so the caller's error path (audit row, onFailure page) can
    * name the root cause.
    */
  final case class FetchFailed(attempts: Int, cause: Throwable)
    extends RuntimeException(s"fetch failed after $attempts attempts: $cause", cause)

  /** Bounded retry + per-attempt timeout around a caller-supplied fetch —
    * the transport-hardening shape of the reference's extract (reference:
    * 3_api_extracts/api_fx_rates.py:44-57 — requests.get with a timeout,
    * `raise_for_status`, retry loop), with the HTTP client still injected
    * (the sandbox has no network; production passes a real client).
    *
    * Each attempt runs on a daemon thread with a hard wait bound, so a
    * HUNG endpoint (the failure `raise_for_status` can't see) costs one
    * timeout, not a wedged pipeline. Backoff doubles per retry. `sleep` is
    * injectable for deterministic tests.
    */
  def fetchWithRetry(fetch: () => String, maxAttempts: Int = 3,
      attemptTimeoutMs: Long = 30000, backoffMs: Long = 1000,
      sleep: Long => Unit = Thread.sleep): String = {
    require(maxAttempts >= 1, s"maxAttempts >= 1, got $maxAttempts")
    var last: Throwable = null
    var attempt = 0
    while (attempt < maxAttempts) {
      if (attempt > 0) sleep(backoffMs << (attempt - 1))
      val task = new java.util.concurrent.FutureTask[String](() => fetch())
      val t = new Thread(task, s"api-fetch-attempt-$attempt")
      t.setDaemon(true)
      t.start()
      try {
        return task.get(attemptTimeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
      } catch {
        case e: java.util.concurrent.ExecutionException => last = e.getCause
        case e: java.util.concurrent.TimeoutException =>
          task.cancel(true)
          // cancel(true) only INTERRUPTS; a fetch client that ignores
          // interrupts keeps running on the daemon thread, so two requests
          // against a non-idempotent endpoint could be in flight at once.
          // Join with a short grace period (bounded — a truly wedged client
          // must not wedge the retry loop) before launching the next
          // attempt; clients should still be interrupt-responsive or
          // idempotent, which this narrows but cannot fully guarantee.
          t.join(math.min(attemptTimeoutMs, 2000L))
          if (t.isAlive) System.err.println(
            s"[api] fetch attempt ${attempt + 1} still running after " +
              "interrupt+grace; endpoint should be idempotent")
          last = new java.util.concurrent.TimeoutException(
            s"fetch attempt ${attempt + 1} exceeded ${attemptTimeoutMs}ms")
      }
      attempt += 1
    }
    throw FetchFailed(maxAttempts, last)
  }

  /** Fail a batch whose payloads parsed to NOTHING: `parseFx` tolerates
    * individual malformed documents (null-field rows are filtered), so an
    * endpoint that silently changed shape would otherwise land an empty
    * append and read as a clean run — the required-column validation of
    * the reference's extract (api_fx_rates.py: KeyError on missing keys
    * fails the run), adapted to the skip-bad-snapshots contract: SOME
    * rows must survive.
    */
  def landFxValidated(spark: SparkSession, payloads: Seq[String],
      bronzeDir: String): Long = {
    val parsed = parseFx(spark, payloads).cache()
    try {
      val rows = parsed.count()
      require(payloads.isEmpty || rows > 0,
        s"all ${payloads.size} payloads failed to parse — endpoint shape change?")
      parsed.write.mode("append").parquet(bronzeDir)
      rows
    } finally parsed.unpersist()
  }
}
