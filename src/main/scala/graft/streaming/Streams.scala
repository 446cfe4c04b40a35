package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.ops.{Dedup, Scd2}

/** Structured Streaming operators — the streaming faces of the batch
  * operators in graft.ops (reference pipelines are ADF-triggered micro
  * batches; here they are first-class streams).
  *
  * - [[windowedAgg]]: watermarked tumbling-window aggregation (batch
  *   equivalent: q16_time_bucket).
  * - [[sessionize]]: gap-based session windows via flatMapGroupsWithState
  *   with event-time timeouts (batch equivalent: q17_sessionize).
  * - [[dedupWithinWatermark]]: streaming keyed dedup (silver dedup analog).
  * - [[scd2VersionedSink]]: foreachBatch SCD2 upsert into a versioned
  *   dimension (the reference's per-batch Delta MERGE,
  *   reference: 4_silver/silver_customers.py:103-170).
  *
  * The foreachBatch sinks keep their state in [[BatchLog]]s: one
  * versioned table per log, partitioned by `batch_id`, where a replay
  * replaces its own batch and old batches compact into a base batch.
  *
  * Scale: state stores are keyed by user/business key — high cardinality,
  * evenly sharded across `spark.sql.shuffle.partitions` state partitions;
  * watermarks bound state size.
  */
object Streams {

  final case class Event(user_id: Long, ts: Timestamp, value: Double)
  final case class Session(
      user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Long, session_value: Double)
  // NB: field names deliberately avoid `sum`/`n` — Spark's state-encoder
  // codegen resolves accessor methods by name and a `sum()` accessor
  // collides with the generated aggregate helpers.
  final case class SessState(startUs: Long, endUs: Long, cnt: Long, total: Double)

  /** Watermarked tumbling-window count/sum over an event stream. */
  def windowedAgg(events: DataFrame, watermarkDelay: String, windowLen: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("bucket_start"), col("n_events"), col("sum_value"))

  /** Streaming keyed dedup bounded by the watermark. */
  def dedupWithinWatermark(events: DataFrame, watermarkDelay: String, keys: Seq[String]): DataFrame =
    events.withWatermark("ts", watermarkDelay).dropDuplicatesWithinWatermark(keys)

  /** Gap-based session windows with custom state: events extend the open
    * session; a gap larger than `gapMs` closes it (emitted immediately when
    * seen in-batch, via event-time timeout otherwise).
    */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._

    def toSession(uid: Long, s: SessState) = Session(
      uid, new Timestamp(s.startUs), new Timestamp(s.endUs), s.cnt, s.total)

    events
      .withWatermark("ts", s"${gapMs / 1000} seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, it, state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(toSession(uid, _)).toIterator
            state.remove()
            out
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.value))
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.endUs <= gapMs =>
                  cur = Some(SessState(s.startUs, math.max(s.endUs, t), s.cnt + 1, s.total + e.value))
                case Some(s) =>
                  closed += toSession(uid, s)
                  cur = Some(SessState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessState(t, t, 1, e.value))
              }
            }
            cur match {
              case Some(s) =>
                state.update(s)
                state.setTimeoutTimestamp(s.endUs + gapMs)
              case None => ()
            }
            closed.result().iterator
          }
      }
  }

  /** Stream-static dimension enrichment: join a stream against a batch dim
    * (the gold-layer FK enrichment applied to a live stream). The static
    * side is broadcast per micro-batch — no stream-side state, no shuffle
    * of the stream. Dims too large to broadcast should be bucketed on the
    * join key instead (see Sinks.bucketed).
    */
  def enrichStream(stream: DataFrame, dim: DataFrame, key: String,
      dimCols: Seq[String]): DataFrame =
    stream.join(
      broadcast(dim.select((key +: dimCols).map(col): _*)), Seq(key), "left")

  /** Stream-stream inner join bounded by an event-time interval: each left
    * row matches right rows with the same key whose timestamp falls in
    * [leftTs - window, leftTs]. Both sides are watermarked so the state
    * store evicts rows once they can no longer match (unbounded state is
    * the failure mode of unconstrained stream-stream joins at scale —
    * the interval condition is what makes eviction possible).
    *
    * Column names must be disjoint apart from `key`.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, watermarkDelay: String, window: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
    l.join(r, l(key) === r(key) &&
        r(rightTs) >= l(leftTs) - expr(s"INTERVAL $window") &&
        r(rightTs) <= l(leftTs))
      .drop(r(key))
  }

  /** foreachBatch incremental near-dup detector: each micro-batch of
    * (doc_id, text) is MinHash-signed, banded, and joined against the
    * accumulated signature index, emitting verified candidate pairs (within
    * the batch AND against every previously indexed doc) before appending
    * the batch's signatures to the index — streaming corpus dedup without
    * re-signing history.
    *
    * Scale: the index holds one WIDE signature row per doc (k smallints of
    * state per doc, not shingles); band joins shuffle on (band, band_val)
    * — the LSH blocking keys — so each batch touches only colliding
    * buckets. State grows O(corpus), the per-batch cost O(batch + hits).
    */
  def nearDupSink(spark: SparkSession, indexDir: String, pairsDir: String,
      k: Int = 4, bandRows: Int = 2, minSigSim: Double = 0.5)(
      batch: DataFrame, batchId: Long): Unit = {
    import graft.text.MinHash
    val sh = MinHash.withShingles(batch, "doc_id", "text")
    // inlineHashes: the batch signature is built fresh every micro-batch,
    // so the broadcast-vocabulary path's `rows.cache()` would add one
    // never-reused cache entry per batch — a slow leak over a long-running
    // stream. Inline hashing skips that cache (identical results); the
    // returned signature cache is explicitly dropped at the end.
    val sig = MinHash.signature(MinHash.shingleRows(sh, "doc_id"), "doc_id", k,
      inlineHashes = true)
    // Both outputs are BatchLogs. The index read drops any rows a
    // half-finished attempt of THIS batch already landed — otherwise a
    // replay would join the batch against its own signatures and emit
    // self-pairs forever after.
    val existing = BatchLog.prior(spark, indexDir, batchId).getOrElse(sig.limit(0))
    val all = existing.unionByName(sig).cache()
    val newBands = MinHash.bands(sig, "doc_id", k, bandRows)
      .withColumnRenamed("doc_id", "id_new")
    // Bucket cap on the ACCUMULATED index side (r10, MinHash.BucketCap
    // discipline): a corpus-hot band bucket in a long-lived index grows
    // with everything ever ingested, and every new batch member matching
    // it would pair against the whole bucket — the same saturated-bucket
    // quadratic the 100x run exposed in the batch family, compounding
    // per batch here. Over-cap buckets stop generating candidates; a true
    // near-dup still collides in its other bands.
    val allBands = MinHash.capBuckets(
        MinHash.bands(all, "doc_id", k, bandRows), MinHash.BucketCap)
      .withColumnRenamed("doc_id", "id_other")
    val cand = newBands.join(allBands, Seq("band", "band_val"))
      .filter(col("id_new") =!= col("id_other"))
      .select(least(col("id_new"), col("id_other")).as("id_a"),
        greatest(col("id_new"), col("id_other")).as("id_b"))
      .distinct()
    BatchLog.write(
      MinHash.signatureSimilarity(cand, all, "doc_id", k)
        .filter(col("sig_sim") >= minSigSim),
      pairsDir, batchId)
    // Emit pairs first (reads the old index), then extend the index.
    BatchLog.write(sig, indexDir, batchId)
    all.unpersist(); sig.unpersist()
  }

  /** foreachBatch incremental corpus curation — the streaming face of
    * [[graft.text.Curate]] with FIRST-SEEN-WINS survivorship (a streaming
    * curator cannot un-keep an already-kept document, so "cluster
    * keep-best" becomes "the first kept doc claims the cluster"):
    *
    *  1. quality gate (same floor grid as Curate) — junk never claims a
    *     fingerprint or a signature bucket;
    *  2. exact dedup: drop docs whose normalized fingerprint is already
    *     in the kept-fingerprint log; within the batch the min-id doc
    *     per fingerprint survives;
    *  3. near-dup: drop a doc whose signature agrees (sig_sim >=
    *     `minSigSim`) with ANY already-kept doc, or with a smaller-id
    *     survivor of the same batch (greedy-by-id, deterministic).
    *
    * State under `stateDir`: `kept` (doc_id, quality_score), `fps`
    * (kept fingerprints), `sigs` (kept docs' wide signatures) — all
    * [[BatchLog]]s. Per-batch cost: one groupBy over the batch + a banded
    * join against the kept-signature log — never a corpus rescan.
    */
  def curateSink(spark: SparkSession, stateDir: String, k: Int = 4,
      bandRows: Int = 2, minSigSim: Double = 0.5, minQuality: Int = 4000)(
      batch: DataFrame, batchId: Long): Unit = {
    import graft.text.{MinHash, TextFunctions => TF}
    val keptDir = s"$stateDir/kept"
    val fpsDir = s"$stateDir/fps"
    val sigsDir = s"$stateDir/sigs"
    // 1. quality gate (TF.qualityGrid — the ONE survivorship formula shared
    // with Curate.keepSet; batch/streaming parity depends on it)
    val gated = batch
      .select(col("doc_id"), col("text"), TF.qualityGrid(col("text")).as("_th"))
      .filter(col("_th") >= minQuality)
    // 2. exact dedup: min-id per fingerprint in-batch, anti-join the log
    val perFp = gated
      .withColumn("fp", md5(TF.normalizeText(col("text"))))
      .groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("_th"), col("text"))).as("_m"))
      .select(col("fp"), col("_m.doc_id").as("doc_id"),
        col("_m._th").as("_th"), col("_m.text").as("text"))
    val exactKept = BatchLog.prior(spark, fpsDir, batchId).fold(perFp)(old =>
      perFp.join(old.select(col("fp")), Seq("fp"), "left_anti")).cache()
    // 3. near-dup vs the kept-signature log and smaller-id batch survivors
    val sh = MinHash.withShingles(exactKept, "doc_id", "text")
    val sig = MinHash.signature(MinHash.shingleRows(sh, "doc_id"), "doc_id", k,
      inlineHashes = true) // no per-batch vocab cache (see nearDupSink)
    val oldSigs = BatchLog.prior(spark, sigsDir, batchId).getOrElse(sig.limit(0))
    val allSigs = oldSigs.unionByName(sig).cache()
    val newB = MinHash.bands(sig, "doc_id", k, bandRows)
      .withColumnRenamed("doc_id", "id_a")
    // Same accumulated-index bucket cap as nearDupSink (r10).
    val otherB = MinHash.capBuckets(
        MinHash.bands(oldSigs, "doc_id", k, bandRows)
          .withColumn("_old", lit(true))
          .unionByName(MinHash.bands(sig, "doc_id", k, bandRows)
            .withColumn("_old", lit(false))),
        MinHash.BucketCap)
      .withColumnRenamed("doc_id", "id_b")
    val cand = newB.join(otherB, Seq("band", "band_val"))
      .filter(col("_old") || col("id_b") < col("id_a"))
      .select(col("id_a"), col("id_b")).distinct()
    val dropped = MinHash.signatureSimilarity(cand, allSigs, "doc_id", k)
      .filter(col("sig_sim") >= minSigSim)
      .select(col("id_a").as("doc_id")).distinct()
    val kept = exactKept.join(dropped, Seq("doc_id"), "left_anti").cache()
    // 4. state appends (each batch owns its partition)
    BatchLog.write(
      kept.select(col("doc_id"), (col("_th") / 10000d).as("quality_score")),
      keptDir, batchId)
    BatchLog.write(kept.select(col("fp")), fpsDir, batchId)
    BatchLog.write(sig.join(kept.select(col("doc_id")), Seq("doc_id"), "left_semi"),
      sigsDir, batchId)
    kept.unpersist(); allSigs.unpersist(); sig.unpersist(); exactKept.unpersist()
  }

  /** Current kept set from the [[curateSink]] state log. */
  def readCurated(spark: SparkSession, stateDir: String): DataFrame =
    BatchLog.rows(spark, s"$stateDir/kept")

  /** foreachBatch incremental containment rejection — the streaming face
    * of [[graft.text.Containment]]: drop a batch document whose distinct
    * word-bigram shingle set is covered (containment >= `minContainment`)
    * by ANY single already-kept document, or by a smaller-id member of
    * the same batch (greedy-by-id, deterministic — the curateSink
    * survivorship discipline: a streaming curator cannot un-keep, so the
    * quoted FRAGMENT drops and the wrapper survives, and within a batch
    * the earlier id wins even when a later wrapper covers it).
    *
    * State under `stateDir`: `shingles` — the kept docs' FLAT (doc_id, h)
    * inverted index — and `kept` (doc_id), both [[BatchLog]]s.
    * Per-batch cost: one inverted-index probe
    * (batch shingles ⋈ kept index on the hash) + one exact per-pair
    * count — never a corpus rescan, nothing quadratic in the corpus.
    * Docs with no shingles (under two tokens) cannot be contained and
    * pass through (quality gating is [[curateSink]]'s job, not this
    * sink's).
    */
  def containmentSink(spark: SparkSession, stateDir: String,
      minContainment: Double = 0.8)(batch: DataFrame, batchId: Long): Unit = {
    import graft.text.{MinHash, TextFunctions => TF}
    val shDir = s"$stateDir/shingles"
    val keptDir = s"$stateDir/kept"
    val rows = MinHash.withShingles(batch, "doc_id", "text")
      .select(col("doc_id"), explode(col("shingles")).as("_s"))
      .select(col("doc_id"), TF.hash60(col("_s")).as("h"))
      .cache()
    val sizes = rows.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val idx = BatchLog.prior(spark, shDir, batchId).getOrElse(rows.limit(0))
      .select(col("doc_id").as("id_b"), col("h")).withColumn("_old", lit(true))
      .unionByName(rows.select(col("doc_id").as("id_b"), col("h"))
        .withColumn("_old", lit(false)))
    val dropped = rows.select(col("doc_id").as("id_a"), col("h"))
      .join(idx, Seq("h"))
      .filter(col("_old") || col("id_b") < col("id_a"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("_inter"))
      .join(sizes.select(col("doc_id").as("id_a"), col("n")), Seq("id_a"))
      .filter(col("_inter") * lit(1.0) / col("n") >= minContainment)
      .select(col("id_a").as("doc_id")).distinct()
    val kept = batch.select(col("doc_id"))
      .join(dropped, Seq("doc_id"), "left_anti").cache()
    BatchLog.write(kept, keptDir, batchId)
    BatchLog.write(rows.join(kept, Seq("doc_id"), "left_semi"), shDir, batchId)
    kept.unpersist(); rows.unpersist()
  }

  /** Current kept set from the [[containmentSink]] state log. */
  def readContainmentKept(spark: SparkSession, stateDir: String): DataFrame =
    BatchLog.rows(spark, s"$stateDir/kept")

  /** foreachBatch streaming SemDeDup — the streaming face of q86
    * ([[graft.sim.Ann.semDedup]]) with FIRST-SEEN-WINS survivorship:
    * a batch vector is DROPPED when
    *
    *  - any ALREADY-KEPT vector shares its hyperplane bucket at cosine >=
    *    `tau` (stream order wins, NOT id order — a streaming deduper
    *    cannot un-keep state, exactly the curateSink/containmentSink
    *    survivorship), or
    *  - a smaller-id member of the SAME batch covers it (q86's
    *    covered-by-any-earlier rule, so a single batch over empty state
    *    reproduces q86's verdicts exactly — parity is spec-pinned).
    *
    * State: `kept` (id, bucket, vec, nrm) as a [[BatchLog]]. The
    * PERSISTED norm is why the
    * per-pair arithmetic is one dot product, not three
    * ([[graft.sim.Ann.cosinePre]]): each kept vector's norm is computed
    * once when it enters the log, never re-derived per candidate pair.
    * Pre-r11 logs lacking the `nrm` column fail NAMED (migrate with one
    * rewrite adding `sqrt(graft_dot(vec, vec))`). Per-batch cost: one
    * hyperplane pass over the batch + a bucket equi-join against the kept
    * log — never a corpus rescan, no window. Bucket granularity is the cost lever
    * ([[graft.sim.Ann.planesFor]]): a long-lived index should pick
    * `planes` for the CORPUS it will accumulate, not the batch size —
    * [[semDedupSinkAuto]] derives it from the expected corpus count.
    */
  def semDedupSink(spark: SparkSession, stateDir: String, planes: Int = 8,
      tau: Double = 0.35)(batch: DataFrame, batchId: Long): Unit = {
    import graft.sim.Ann
    val keptDir = s"$stateDir/kept"
    val vecs = batch.select(col("id"), col("vec"), Ann.norm(col("vec")).as("nrm")).cache()
    val withB = vecs.join(Ann.hyperplaneBuckets(vecs, planes), "id")
    val prior = BatchLog.prior(spark, keptDir, batchId).map { df =>
      require(df.columns.contains("nrm"),
        s"semdedup state at $keptDir lacks the nrm (precomputed norm) column " +
          "(pre-r11 layout) — rewrite the log once adding nrm = sqrt(dot(vec, vec)) " +
          "before streaming resumes")
      df
    }
    val covers = prior.getOrElse(withB.limit(0))
      .select(col("bucket"), col("id").as("cover_id"), col("vec").as("cvec"),
        col("nrm").as("cn"))
      .withColumn("_old", lit(true))
      .unionByName(withB
        .select(col("bucket"), col("id").as("cover_id"), col("vec").as("cvec"),
          col("nrm").as("cn"))
        .withColumn("_old", lit(false)))
    val dropped = withB.join(covers, Seq("bucket"))
      .filter(col("_old") || col("cover_id") < col("id"))
      .filter(Ann.cosinePre(Ann.dot(col("vec"), col("cvec")), col("nrm"), col("cn")) >= tau)
      .select(col("id")).distinct()
    val kept = withB.join(dropped, Seq("id"), "left_anti").cache()
    BatchLog.write(kept, keptDir, batchId)
    kept.unpersist(); vecs.unpersist()
  }

  /** [[semDedupSink]] with `planes` DERIVED from the corpus the index is
    * expected to accumulate ([[graft.sim.Ann.planesFor]]): expected bucket
    * size stays ~`targetBucket` at `expectedCorpus` vectors, so per-batch
    * candidate work stays ~batch × targetBucket instead of growing with
    * the kept log (fixed planes measured bending super-linear at the 100×
    * decade — SCALE_r10 q35/q86). Size for the TERMINAL corpus: planes
    * too coarse for early batches only cost small buckets; planes too
    * fine for the final corpus cost recall, never correctness of the
    * first-seen-wins contract.
    */
  def semDedupSinkAuto(spark: SparkSession, stateDir: String, expectedCorpus: Long,
      tau: Double = 0.35, targetBucket: Int = 256)(batch: DataFrame, batchId: Long): Unit =
    semDedupSink(spark, stateDir,
      graft.sim.Ann.planesFor(expectedCorpus, targetBucket), tau)(batch, batchId)

  /** Current kept set from the [[semDedupSink]] state log. */
  def readSemDedupKept(spark: SparkSession, stateDir: String): DataFrame =
    BatchLog.rows(spark, s"$stateDir/kept")

  /** foreachBatch benchmark decontamination — the streaming face of
    * [[graft.text.Decontaminate]]: every batch document sharing >= 1 word
    * `n`-gram with the (static) eval/benchmark gram set routes to the
    * `flagged` log with its hit count; the rest go to `clean`. The eval
    * side of a deployment is a benchmark suite — megabytes by nature —
    * so `evalGrams` (one `gram` column, e.g. from [[evalGramSet]])
    * broadcasts per batch, and the batch pays one tokenize+explode pass
    * filtered by the broadcast join before its only shuffle (the per-doc
    * hit count).
    *
    * STATELESS across batches by design (each doc's verdict depends only
    * on the static eval set — no cross-batch interaction), so replay
    * idempotence needs only the [[BatchLog]] partition replace.
    */
  def decontaminateSink(spark: SparkSession, stateDir: String,
      evalGrams: DataFrame, n: Int = 8)(batch: DataFrame, batchId: Long): Unit = {
    import graft.text.{TextFunctions => TF}
    val hits = batch
      .select(col("doc_id"),
        explode(TF.wordNgrams(TF.tokens(col("text")), n)).as("gram"))
      .join(broadcast(evalGrams.select(col("gram"))), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).as("n_hits"))
      .cache()
    writeVerdicts(stateDir, batch, hits, batchId)
    hits.unpersist()
  }

  /** The `clean`/`flagged` logs shared by [[decontaminateSink]] and
    * [[bloomDecontaminateSink]]: `hits` (doc_id, n_hits) is flagged, the
    * rest of the batch is clean.
    */
  private def writeVerdicts(stateDir: String, batch: DataFrame, hits: DataFrame,
      batchId: Long): Unit = {
    BatchLog.write(batch.select(col("doc_id")).join(hits, Seq("doc_id"), "left_anti"),
      s"$stateDir/clean", batchId)
    BatchLog.write(hits, s"$stateDir/flagged", batchId)
  }

  /** s20: streaming HTML main-content extraction — the streaming face of
    * q93 ([[graft.text.HtmlExtract]]): a live web-intake writer running
    * the markup → main-text step as each batch arrives, so everything
    * downstream (the whole B block) reads clean text. STATELESS across
    * batches by construction (extraction is a per-row projection — no
    * cross-document interaction at all), so streaming equals the batch
    * operator row-for-row on any batch split (parity-pinned), and replay
    * idempotence needs only the [[BatchLog]] partition replace.
    */
  def htmlExtractSink(spark: SparkSession, stateDir: String,
      idCol: String = "doc_id", htmlCol: String = "html",
      minLen: Int = 10, maxLinkPct: Int = 20)(
      batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return // empty-batch discipline: write nothing
    BatchLog.write(
      graft.text.HtmlExtract.mainText(batch, idCol, htmlCol, minLen, maxLinkPct),
      s"$stateDir/extracted", batchId)
  }

  /** Accumulated extractions from the [[htmlExtractSink]] log. */
  def readExtracted(spark: SparkSession, stateDir: String): DataFrame =
    BatchLog.rows(spark, s"$stateDir/extracted")

  /** One-time deployment step for [[bloomDecontaminateSink]] (s19):
    * persist the eval-gram set AND its Bloom filter into the sink's state
    * dir. The build runs ONCE — q88's cost story moved off the per-batch
    * path: each micro-batch re-reads a filter of ~bits/8 bytes instead of
    * re-broadcasting (or rebuilding) the gram set, which is what makes a
    * 100M-gram suite (filter ~200 MB, gram set tens of GB) workable on a
    * live intake. `bitsPerGram` is the FP-rate knob — never a correctness
    * one (the sink's exact verify removes every false positive).
    */
  def prepareBloomDecontamination(spark: SparkSession, stateDir: String,
      evalDocs: DataFrame, textCol: String = "text", n: Int = 8,
      bitsPerGram: Int = 16, k: Int = graft.functions.Bloom.DefaultK): Unit = {
    require(bitsPerGram >= 1, s"bitsPerGram must be >= 1, got $bitsPerGram")
    val grams = evalGramSet(evalDocs, textCol, n).cache()
    try {
      grams.write.mode("overwrite").parquet(s"$stateDir/eval_grams")
      val nGrams = grams.count()
      val m = math.max(1024L, ((nGrams * bitsPerGram + 63L) / 64L) * 64L)
      graft.functions.Bloom.bits(
          grams.select(xxhash64(col("gram")).as("h")), "h", m, k)
        .withColumn("m", lit(m)).withColumn("k", lit(k))
        .coalesce(1).write.mode("overwrite").parquet(s"$stateDir/bloom")
    } finally grams.unpersist()
  }

  /** s19: streaming decontamination through the persisted Bloom prefilter
    * — [[decontaminateSink]]'s contract (same `clean`/`flagged` logs, same
    * n_hits semantics, stateless-across-batches, replay-idempotent
    * [[BatchLog]]s) with q88's scale path per batch: the
    * batch's grams probe the ONE-ROW persisted filter (broadcast of
    * ~bits/8 bytes), and only bloom-HITTING candidates reach the exact
    * verify join against the persisted gram set — candidate volume is
    * output-sized + the sized FP trickle, so the verify join is tiny and
    * AQE broadcasts the eval side when it measures small. Row-for-row
    * EQUAL to [[decontaminateSink]] on any suite (parity-pinned): no
    * false negatives exist and the verify removes every false positive.
    *
    * Fails NAMED when the state dir lacks the prepared filter — the
    * deployment step ([[prepareBloomDecontamination]]) is explicit, not
    * lazily inferred from a batch (a half-prepared dir must never read as
    * an empty eval suite).
    */
  def bloomDecontaminateSink(spark: SparkSession, stateDir: String,
      n: Int = 8)(batch: DataFrame, batchId: Long): Unit = {
    import graft.text.{TextFunctions => TF}
    val bloom = graft.sources.Sources.parquetIfExists(spark, s"$stateDir/bloom")
      .getOrElse(throw new IllegalArgumentException(
        s"no Bloom filter at $stateDir/bloom — run prepareBloomDecontamination first"))
    val meta = bloom.select(col("m"), col("k")).head()
    val (m, k) = (meta.getLong(0), meta.getInt(1))
    val evalGrams = spark.read.parquet(s"$stateDir/eval_grams")
    val cand = batch
      .select(col("doc_id"),
        explode(TF.wordNgrams(TF.tokens(col("text")), n)).as("gram"))
      .crossJoin(broadcast(bloom.select(col("bits"))))
      .filter(graft.functions.Bloom.mightContain(
        xxhash64(col("gram")), col("bits"), m, k))
      .select(col("doc_id"), col("gram"))
    val hits = cand.join(evalGrams, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).as("n_hits"))
      .cache()
    writeVerdicts(stateDir, batch, hits, batchId)
    hits.unpersist()
  }

  /** Distinct word `n`-gram set of an eval/benchmark corpus — the static
    * side of [[decontaminateSink]]; cache it once per deployment.
    */
  def evalGramSet(evalDocs: DataFrame, textCol: String, n: Int = 8): DataFrame = {
    import graft.text.{TextFunctions => TF}
    evalDocs
      .select(explode(TF.wordNgrams(TF.tokens(col(textCol)), n)).as("gram"))
      .distinct()
  }

  /** Current clean set from the [[decontaminateSink]] log. */
  def readDecontaminated(spark: SparkSession, stateDir: String): DataFrame =
    BatchLog.rows(spark, s"$stateDir/clean")

  /** s13: streaming dataset-mixture balancing — the streaming face of
    * q81's equalized-strata sampler, closing the sampling family
    * (q42/q58/q81) with a streaming member. Per-stratum counts are
    * maintained INCREMENTALLY as per-batch partials (the goldAggSink
    * partial-fold discipline: `counts/` holds (batch_id, stratum, n) —
    * strata-count rows per batch, metadata-rate), and each batch re-derives
    * the keep thresholds from the CUMULATIVE totals with q81's exact
    * integer arithmetic (floor(n_min·10^6 / n_s)) before hash-gating its
    * own rows — shuffle-free per row, one tiny agg per batch.
    *
    * Semantics: thresholds evolve as the stream's mixture drifts — a batch
    * is gated by the mixture observed UP TO AND INCLUDING itself, so
    * earlier batches are not retro-resampled (append-only logs; a
    * training-data writer wants exactly this monotonicity). On a
    * single-batch stream the thresholds equal the batch operator's and the
    * kept set is IDENTICAL to q81's (parity-pinned in StreamingSpec).
    *
    * Replay-idempotent: the prior-counts read excludes the current batch
    * and both logs are [[BatchLog]]s, so a micro-batch retry reproduces
    * its rows. `counts/` partials compact with a re-sum merge.
    *
    * `temperature` selects the damping: 1 = full equalization (q81,
    * default — keep probability n_min/n_s), 2 = temperature sampling
    * (q98 — (n_min/n_s)^(1/2) through the same exact-integer +
    * correctly-rounded-sqrt grid; single-batch q98 parity is
    * spec-pinned). Only τ ∈ {1, 2} is offered because sqrt is the one
    * float op both engines (and any IEEE platform) round identically —
    * a free exponent would ride non-correctly-rounded pow, see the q98
    * registration.
    */
  def mixtureSink(spark: SparkSession, stateDir: String,
      idCol: String = "doc_id", stratumCol: String = "lang",
      temperature: Int = 1)(
      batch: DataFrame, batchId: Long): Unit = {
    require(temperature == 1 || temperature == 2,
      s"temperature must be 1 (equalized) or 2 (sqrt damping), got $temperature")
    if (batch.isEmpty) return // empty-batch discipline: write nothing
    val batchCounts = batch.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n")).cache()
    val prior = BatchLog.prior(spark, s"$stateDir/counts", batchId)
    val totals = prior match {
      case None => batchCounts
      case Some(p) =>
        batchCounts.unionByName(p.select(col(stratumCol), col("n")))
          .groupBy(col(stratumCol)).agg(sum(col("n")).as("n"))
    }
    // the cumulative counts gate this batch with q81/q98's thresholds
    val kept = graft.ops.Sampling.mixtureGate(batch, idCol, stratumCol,
        graft.ops.Sampling.stratumCounts(totals), temperature)
      .select(col(idCol), col(stratumCol))
    BatchLog.write(kept, s"$stateDir/kept", batchId)
    BatchLog.write(batchCounts, s"$stateDir/counts", batchId)
    batchCounts.unpersist()
  }

  /** Kept rows accumulated by [[mixtureSink]]. */
  def readMixtureKept(spark: SparkSession, stateDir: String): DataFrame =
    BatchLog.rows(spark, s"$stateDir/kept")

  /** s16: streaming per-source adaptive quality cutoff — the streaming
    * face of q84, exact at any corpus scale because the state is a
    * BOUNDED EXACT sketch: quality lives on qualityGrid's integer grid
    * (0..10000), so the per-source score distribution is a histogram of
    * at most 10001 rows per source regardless of how many documents
    * streamed through — the same trick that makes s09's gold partials
    * mergeable. `hist/` logs (batch_id, source, quality_grid, n)
    * partials; each batch folds the CUMULATIVE histogram, derives each
    * source's p-quantile cutoff from the running counts, and gates its
    * own rows.
    *
    * The cutoff rule is pinned to `approx_percentile`'s exact regime
    * (verified empirically on this build, PropertySpec-pinned against
    * randomized data): the value at 1-indexed rank `ceil(q·n)` of the
    * sorted values = the smallest grid whose cumulative count reaches
    * that rank. The per-source running sum is a window over the
    * HISTOGRAM — partition size <= 10001 BY CONSTRUCTION (grid width,
    * not corpus size), the one place a window is scale-safe without
    * argument. Default q=0.25 is exactly representable in binary, so
    * `ceil(q*n)` can't round a ulp apart from the batch operator.
    *
    * Semantics match [[mixtureSink]]: cutoffs evolve with the observed
    * distribution; a batch is gated by the distribution up to and
    * including itself, earlier batches are not retro-gated (append-only
    * logs). Single-batch stream == q84 exactly (parity-pinned).
    * Replay-idempotent: the prior-histogram read excludes the current
    * batch and both logs are [[BatchLog]]s (a replay whose recomputed kept
    * set is EMPTY clears the batch's stale kept rows). `hist/` partials
    * compact with a re-sum merge.
    */
  def qualityCutoffSink(spark: SparkSession, stateDir: String,
      idCol: String = "doc_id", sourceCol: String = "source",
      textCol: String = "text", q: Double = 0.25)(
      batch: DataFrame, batchId: Long): Unit = {
    require(q > 0.0 && q < 1.0, s"q must be in (0,1), got $q")
    if (batch.isEmpty) return // empty-batch discipline: write nothing
    // NULL source fails fast (the mixture-family discipline): the
    // equality join-back below would silently drop its rows while its
    // histogram still tightened nothing — same guard as batch q84.
    val scored = batch.select(col(idCol),
      when(col(sourceCol).isNull, raise_error(lit(
          "quality_cutoff: source is NULL — assign or quarantine upstream")))
        .otherwise(col(sourceCol)).as(sourceCol),
      graft.text.TextFunctions.qualityGrid(col(textCol)).cast("long")
        .as("quality_grid"))
    val batchHist = scored.groupBy(col(sourceCol), col("quality_grid"))
      .agg(count(lit(1)).as("n")).cache()
    val prior = BatchLog.prior(spark, s"$stateDir/hist", batchId)
    val cumulative = prior match {
      case None => batchHist
      case Some(p) =>
        batchHist.unionByName(p.select(col(sourceCol), col("quality_grid"), col("n")))
          .groupBy(col(sourceCol), col("quality_grid")).agg(sum(col("n")).as("n"))
    }
    // Smallest grid whose running count reaches rank ceil(q·total): the
    // window partition is one source's HISTOGRAM (<= 10001 rows).
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol)).orderBy(col("quality_grid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col(sourceCol))
    val cutoffs = cumulative
      .withColumn("_cum", sum(col("n")).over(wCum))
      .withColumn("_rank", ceil(lit(q) * sum(col("n")).over(wAll)))
      .filter(col("_cum") >= col("_rank"))
      .groupBy(col(sourceCol)).agg(min(col("quality_grid")).as("cutoff_grid"))
    val kept = scored
      .join(broadcast(cutoffs), Seq(sourceCol))
      .filter(col("quality_grid") >= col("cutoff_grid"))
      .select(col(idCol), col(sourceCol), col("quality_grid"), col("cutoff_grid"))
    BatchLog.write(kept, s"$stateDir/kept", batchId)
    BatchLog.write(batchHist, s"$stateDir/hist", batchId)
    batchHist.unpersist()
  }

  /** Kept rows accumulated by [[qualityCutoffSink]]. */
  def readQualityKept(spark: SparkSession, stateDir: String): DataFrame =
    BatchLog.rows(spark, s"$stateDir/kept")

  /** s14: streaming line-level exact dedup — the streaming face of q82
    * ([[graft.text.LineDedup]]): corpus-wide FIRST-SEEN-WINS at line
    * grain, incrementally. Each batch marks its lines batch-locally
    * (LineDedup.markLines), demotes any line whose hash is already in the
    * accumulated seen-hash log, rolls up per doc (n_lines / n_kept /
    * kept_frac / reassembled surviving_fp → `docs/`), and appends the
    * hashes IT introduced to `seen/`.
    *
    * Per-batch cost: one split+explode over the batch + one
    * hash-partitioned equi-join against the seen log (line-hash-sized, as
    * s06's signature index is — an inverted log, never a corpus rescan).
    *
    * Ordered-arrival parity: a single batch equals the batch operator
    * exactly; across batches, first-seen-wins matches q82's
    * (doc_id, line_idx) order whenever arrival order agrees with id
    * order (the s10 parity discipline — a streaming dedup cannot un-keep).
    *
    * Replay-idempotent: the seen read excludes the current batch and
    * both logs are [[BatchLog]]s, so a retry reproduces — not duplicates —
    * its rows.
    */
  def lineDedupSink(spark: SparkSession, stateDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      delimRegex: String = "\n")(batch: DataFrame, batchId: Long): Unit = {
    import graft.text.LineDedup
    if (batch.isEmpty) return // empty-batch discipline: write nothing
    val m = LineDedup.markLines(batch, idCol, textCol, delimRegex)
      .withColumn("_lh", md5(col("line")))
    val prior = BatchLog.prior(spark, s"$stateDir/seen", batchId)
    // LEFT-join marker, not an anti-join: the rollup needs EVERY line of
    // the doc with its final verdict, not just the survivors.
    val adjusted = (prior match {
      case None => m.withColumn("_seen", lit(false))
      case Some(p) =>
        m.join(p.select(col("line_hash").as("_lh")).distinct()
            .withColumn("_hit", lit(true)), Seq("_lh"), "left")
          .withColumn("_seen", coalesce(col("_hit"), lit(false)))
    }).withColumn("kept", col("kept") && !col("_seen")).cache()
    val docs = LineDedup.rollup(
      adjusted.select(col(idCol), col("line_idx"), col("line"), col("kept")),
      idCol)
    BatchLog.write(docs, s"$stateDir/docs", batchId)
    BatchLog.write(adjusted.filter(col("kept")).select(col("_lh").as("line_hash")).distinct(),
      s"$stateDir/seen", batchId)
    adjusted.unpersist()
  }

  /** Per-doc line-dedup rollups accumulated by [[lineDedupSink]]. */
  def readLineDedup(spark: SparkSession, stateDir: String): DataFrame =
    BatchLog.rows(spark, s"$stateDir/docs")

  /** s18: streaming duplicate-substring span detection — the streaming
    * face of q87 ([[graft.text.SpanDedup]]): per arriving batch, the token
    * spans whose `n`-grams occur in ANY other document seen so far — a
    * batch-mate (q87's cross-doc rule, applied within the batch) or any
    * prior-batch document (the accumulated seen-gram log). FIRST-SEEN
    * asymmetry by construction: the doc that INTRODUCED a gram is not
    * re-flagged retroactively when a later doc repeats it (streamed output
    * cannot re-open history — the s10/s14 parity discipline); one batch
    * over empty state therefore reproduces q87 exactly (spec-pinned), and
    * the span merge is [[graft.text.SpanDedup.mergeSpans]] ITSELF, shared
    * with the batch operator.
    *
    * q87's linearity carries over: per-batch cost is one tokenize+explode
    * over the batch, one equi-(semi-)join against the gram-hash log (an
    * inverted log, never a corpus rescan), and the bounded per-doc window
    * — no doc pair is ever materialized, so there is nothing to cap.
    *
    * State: `seen/` = distinct gram hashes, a [[BatchLog]] (compaction
    * merge = distinct); only grams the batch INTRODUCES are appended, so
    * the log is vocabulary-sized. Replay-idempotent FOR THE LATEST BATCH —
    * the only batch structured streaming's foreachBatch contract ever
    * replays: the seen read excludes the current batch, and a replay that
    * produces NO spans clears its stale spans. Excluding only the current
    * batch deliberately does NOT make replaying an OLDER batch
    * first-seen-faithful (it would see grams later batches introduced);
    * excluding every later batch can't offer that either once compaction
    * has refolded them, so the contract is stated at the foreachBatch
    * guarantee, same as the other sinks.
    */
  def spanDedupSink(spark: SparkSession, stateDir: String,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 8)(
      batch: DataFrame, batchId: Long): Unit = {
    import graft.text.SpanDedup
    if (batch.isEmpty) return // empty-batch discipline: write nothing
    val p = SpanDedup.postings(batch, idCol, textCol, n).cache()
    val prior = BatchLog.prior(spark, s"$stateDir/seen", batchId)
    val batchDup = SpanDedup.dupGrams(p, idCol)
    val dupSrc = prior match {
      case None => batchDup
      case Some(st) => batchDup.unionByName(st.select(col("h")))
    }
    val spans = SpanDedup.mergeSpans(
      p.join(dupSrc, Seq("h"), "left_semi"), idCol, n)
    BatchLog.write(spans, s"$stateDir/spans", batchId)
    val distinctH = p.select(col("h")).distinct()
    val newSeen = prior match {
      case None => distinctH
      case Some(st) => distinctH.join(st.select(col("h")), Seq("h"), "left_anti")
    }
    BatchLog.write(newSeen, s"$stateDir/seen", batchId)
    p.unpersist()
  }

  /** Duplicate spans accumulated by [[spanDedupSink]]. */
  def readSpans(spark: SparkSession, stateDir: String): DataFrame =
    BatchLog.rows(spark, s"$stateDir/spans")

  /** s21: streaming first-occurrence gram novelty — the streaming face of
    * q99 ([[graft.text.SpanDedup.novelty]]): each arriving document is
    * scored by the fraction of its distinct `n`-grams NOT seen before —
    * neither in any prior batch (the accumulated seen-gram log, the
    * [[spanDedupSink]] state shape) nor owned by a smaller-id batch-mate
    * (q99's min-id ownership, applied within the batch). FIRST-SEEN
    * asymmetry by construction: a document's score is fixed when it
    * arrives and never re-opened when later documents repeat its grams —
    * so on batches arriving in id order the accumulated rollup EQUALS
    * batch q99 on the union exactly (the s10 parity discipline,
    * spec-pinned), and one batch over empty state reproduces q99 alone.
    *
    * Per-batch cost is q99's linear story: distinct batch postings, one
    * vocab-sized min agg, one anti-join against the seen log (inverted,
    * never a corpus rescan), one per-doc count. State = distinct gram
    * hashes in a [[BatchLog]]; replay-idempotent for the latest batch
    * (the spanDedupSink note).
    */
  def noveltySink(spark: SparkSession, stateDir: String,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 8)(
      batch: DataFrame, batchId: Long): Unit = {
    import graft.text.SpanDedup
    require(n >= 2, s"gram width must be >= 2, got $n") // the q99/noveltySql guard
    if (batch.isEmpty) return // empty-batch discipline: write nothing
    val p = SpanDedup.postings(batch, idCol, textCol, n)
      .select(col(idCol), col("h")).distinct().cache()
    val prior = BatchLog.prior(spark, s"$stateDir/seen", batchId)
    val owners = p.groupBy(col("h")).agg(min(col(idCol)).as("_owner"))
    val withOwner = p.join(owners, Seq("h"))
    val scored = (prior match {
      case None => withOwner.withColumn("_seen", lit(false))
      case Some(st) => withOwner
        .join(st.select(col("h"), lit(true).as("_seen")).distinct(), Seq("h"), "left")
        .withColumn("_seen", coalesce(col("_seen"), lit(false)))
    })
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(!col("_seen") && col(idCol) === col("_owner"), 1L)
          .otherwise(0L)).as("n_novel"))
      .select(col(idCol), col("n_grams"), col("n_novel"),
        (floor(col("n_novel") * lit(10000.0) / col("n_grams") + 0.5) / 10000.0)
          .as("novelty_frac"))
    BatchLog.write(scored, s"$stateDir/docs", batchId)
    val distinctH = p.select(col("h")).distinct()
    val newSeen = prior match {
      case None => distinctH
      case Some(st) => distinctH.join(st.select(col("h")), Seq("h"), "left_anti")
    }
    BatchLog.write(newSeen, s"$stateDir/seen", batchId)
    p.unpersist()
  }

  /** Per-doc novelty rollups accumulated by [[noveltySink]]. */
  def readNovelty(spark: SparkSession, stateDir: String): DataFrame =
    BatchLog.rows(spark, s"$stateDir/docs")

  /** s15: streaming token-budget shard packing — the streaming face of
    * q71 ([[graft.ops.ShardPack]]): a live training-data writer assigning
    * every arriving document its shard from the GLOBAL running token
    * total, continued across micro-batches. State is ONE scalar per batch
    * (the batch's total weight, in `totals/` — pure metadata); each batch
    * runs the batch operator's two-phase distributed prefix sum WITHIN
    * the batch, offset by the cumulative total of all prior batches, so a
    * shard straddling a batch boundary keeps filling exactly where the
    * previous batch stopped (spec-pinned).
    *
    * Ordering: shards pack in ARRIVAL order across batches and id order
    * within a batch — equal to the batch operator whenever arrival order
    * agrees with id order (the s10 parity discipline; a streaming writer
    * cannot re-sort history).
    *
    * Replay-idempotent: the totals read excludes the current batch and
    * both logs are [[BatchLog]]s; `totals/` partials are sum-mergeable.
    */
  def shardPackSink(spark: SparkSession, stateDir: String,
      idCol: String = "doc_id", weightCol: String = "n_tokens",
      budget: Long = 512, bucketSize: Long = 1L << 20)(
      batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return // empty-batch discipline: write nothing
    val priorTotal = priorTotalOf(spark, s"$stateDir/totals", batchId)
    val assigned = graft.ops.ShardPack.assign(
      batch, idCol, weightCol, budget, bucketSize, offset = priorTotal).cache()
    BatchLog.write(assigned, s"$stateDir/docs", batchId)
    writeTotal(spark, s"$stateDir/totals", assigned.agg(sum(col(weightCol))).head.getLong(0),
      batchId)
    assigned.unpersist()
  }

  /** Shard assignments accumulated by [[shardPackSink]]. */
  def readShardPack(spark: SparkSession, stateDir: String): DataFrame =
    BatchLog.rows(spark, s"$stateDir/docs")

  /** The running token offset of the s15/s31/s32 packers: the sum of
    * every other batch's `totals` row (0 before the first batch).
    */
  private def priorTotalOf(spark: SparkSession, dir: String, batchId: Long): Long =
    BatchLog.prior(spark, dir, batchId)
      .map(_.agg(sum(col("total"))).head.getLong(0)).getOrElse(0L)

  private def writeTotal(spark: SparkSession, dir: String, total: Long,
      batchId: Long): Unit =
    BatchLog.write(spark.range(1).select(lit(total).as("total")), dir, batchId)

  // --------------------------------------------------------------------
  // s31: streaming sequence packing (r16) — q113 at intake, the s15
  // template with the SAME offset hook: each batch's manifest continues
  // the global token stream exactly where the previous batch stopped, so
  // a boundary-straddling sequence keeps filling across batches.
  // --------------------------------------------------------------------

  /** foreachBatch fixed-length sequence packing: each micro-batch of
    * (id, token-count) rows lands its [[graft.ops.SequencePack.manifest]]
    * rows in its own batch_id partition, with the global token offset
    * carried in a totals log ([[shardPackSink]]'s shape) — the
    * accumulated manifest EQUALS the batch q113 manifest over the
    * ordered union (spec-pinned), including the sequence that straddles
    * the batch boundary. Replay-idempotent: docs/totals are
    * [[BatchLog]]s and the prior-total read excludes the current batch.
    */
  def sequencePackSink(spark: SparkSession, stateDir: String,
      idCol: String = "doc_id", weightCol: String = "n_tokens",
      seqLen: Long = 256, bucketSize: Long = 1L << 20)(
      batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return // empty-batch discipline: write nothing
    val priorTotal = priorTotalOf(spark, s"$stateDir/totals", batchId)
    batch.persist()
    try {
      BatchLog.write(
        graft.ops.SequencePack.manifest(batch, idCol, weightCol, seqLen,
          bucketSize, offset = priorTotal),
        s"$stateDir/manifest", batchId)
      writeTotal(spark, s"$stateDir/totals", batch.agg(sum(col(weightCol))).head.getLong(0),
        batchId)
    } finally { batch.unpersist(); () }
  }

  /** The packing manifest accumulated by [[sequencePackSink]]. */
  def readSequencePack(spark: SparkSession, stateDir: String): DataFrame =
    BatchLog.rows(spark, s"$stateDir/manifest")

  // --------------------------------------------------------------------
  // s33: streaming revisit gate (r17) — the archive's own dedup signal
  // applied LIVE: each micro-batch of parsed WARC records logs its
  // revisit edges and its response captures; the gated read anti-joins
  // the accumulated edges, so declared re-fetches leave the corpus no
  // matter which batch the declaration arrived in.
  // --------------------------------------------------------------------

  /** foreachBatch revisit logger over [[graft.sources.Warc.stream]]'s
    * unified frame (or a batch records frame — the in-band `reason`
    * column is filtered when present): batch N lands its
    * [[graft.sources.Warc.revisitEdges]] in the `edges` [[BatchLog]] and
    * its `response` captures in `docs`. The GATE runs at READ time
    * ([[readRevisitGated]]), deliberately: a revisit record can arrive
    * batches after the capture it declares a duplicate (archives
    * interleave), and a gate-at-arrival would miss every such late
    * declaration — the read-side anti-join is arrival-order-proof.
    * Edge state is revisit-rate (a fraction of captures), docs are the
    * corpus itself.
    */
  def revisitLogSink(spark: SparkSession, stateDir: String)(
      batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return // empty-batch discipline: write nothing
    val recs =
      if (batch.columns.contains("reason")) batch.filter(col("reason").isNull)
      else batch
    recs.persist()
    try {
      BatchLog.write(graft.sources.Warc.revisitEdges(recs), s"$stateDir/edges", batchId)
      BatchLog.write(recs.filter(col("warc_type") === "response")
          .select(col("url"), col("fetch_ts"), col("content_type"),
            col("payload"), col("warc_file"), col("rec_offset")),
        s"$stateDir/docs", batchId)
    } finally { recs.unpersist(); () }
  }

  /** The accumulated captures minus every ARCHIVE-DECLARED duplicate
    * ([[graft.sources.Warc.dropDeclaredDuplicates]] over the full edge
    * log) — equals the batch composition over the ordered union
    * regardless of which batch each declaration arrived in.
    */
  def readRevisitGated(spark: SparkSession, stateDir: String): DataFrame =
    graft.sources.Warc.dropDeclaredDuplicates(
      BatchLog.rows(spark, s"$stateDir/docs"), BatchLog.rows(spark, s"$stateDir/edges"))

  // --------------------------------------------------------------------
  // s32: streaming token-shard materialization (r17) — i22's writer at
  // intake: each micro-batch's COMPLETE sequences land as loader-ready
  // binary shard files; the open partial sequence carries across batches.
  // --------------------------------------------------------------------

  /** foreachBatch token-shard writer: each micro-batch of already-encoded
    * (id, tokens array<int>) docs appends to the global token stream —
    * the CARRY (the open sequence's tokens, < seqLen of them) prepends as
    * a virtual id−1 doc, the q113 manifest runs at the stream's carried
    * offset, and the batch's COMPLETE sequences write as
    * [[graft.sources.TokenShards]]-format files under
    * `stateDir/shards/batch_id=N/` (replay = directory overwrite); the
    * new partial tail becomes the next batch's carry. State: `totals`
    * (per-batch additive token counts, the s15/s31 offset hook) and
    * `carry` (latest-wins open-sequence tokens — bounded at seqLen−1
    * ints, metadata-rate) are [[BatchLog]]s; `shards` is the artifact, a
    * file tree, not a log.
    * Replay-idempotent: totals/carry reads EXCLUDE the current batch and
    * the batch's shard directory rewrites in place, so a retried batch
    * reproduces — not duplicates — its files. [[readTokenShards]] over
    * the accumulated tree EQUALS the batch i22 pipeline over the ordered
    * union (spec-pinned, boundary-straddling sequences included).
    */
  def tokenShardSink(spark: SparkSession, stateDir: String,
      idCol: String = "doc_id", tokCol: String = "tokens",
      seqLen: Int = 256, seqsPerShard: Int = 1024,
      bucketSize: Long = 1L << 20)(batch: DataFrame, batchId: Long): Unit = {
    import spark.implicits._
    if (batch.isEmpty) return // empty-batch discipline: write nothing
    val priorTotal = priorTotalOf(spark, s"$stateDir/totals", batchId)
    val carry: Seq[Int] = BatchLog.readIfExists(spark, s"$stateDir/carry")
      .flatMap(_.filter(col("batch_id") < batchId).orderBy(col("batch_id").desc)
        .select(col("tokens")).as[Seq[Int]].take(1).headOption)
      .getOrElse(Seq.empty)
    // the open sequence began at the last seqLen boundary; carry holds
    // exactly the tokens past it
    val offset0 = priorTotal - carry.length
    require(offset0 % seqLen == 0 && offset0 >= 0,
      s"carry/totals state disagree: total $priorTotal, carry ${carry.length}, seqLen $seqLen")
    val docs = batch.select(col(idCol).cast("long").as("doc_id"),
      col(tokCol).as("tokens"))
    val withCarry =
      if (carry.isEmpty) docs
      else Seq((-1L, carry)).toDF("doc_id", "tokens").unionByName(docs)
    val dt = withCarry
      .withColumn("n_tokens", size(col("tokens")).cast("long")).persist()
    try {
      // fail NAMED, separately: a negative batch id would collide with
      // the carry's virtual -1 slot; a null tokens array would silently
      // vanish from the manifest's weight filter (a dropped training doc)
      require(dt.filter(col("doc_id") < 0).count() <= (if (carry.isEmpty) 0 else 1),
        "batch doc ids must be non-negative (id -1 is the carry's)")
      require(dt.filter(col("tokens").isNull).count() == 0,
        "null tokens array in the batch — the upstream encode must not emit null docs")
      val manifest = graft.ops.SequencePack.manifest(
        dt.select(col("doc_id"), col("n_tokens")), "doc_id", "n_tokens",
        seqLen.toLong, bucketSize, offset = offset0)
      val seqs = graft.sources.TokenShards.assemble(dt, manifest).persist()
      try {
        val batchDir = s"$stateDir/shards/batch_id=$batchId"
        val fs = new org.apache.hadoop.fs.Path(batchDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(batchDir), true) // replay overwrite
        fs.mkdirs(new org.apache.hadoop.fs.Path(batchDir))
        // writeShardFiles sweeps .inprogress temps and validates global
        // per-batch sequence contiguity itself
        graft.sources.TokenShards.writeShardFiles(
          graft.sources.TokenShards.fullSequences(seqs, seqLen),
          batchDir, seqLen, seqsPerShard)
        val newCarry: Seq[Int] = seqs.filter(size(col("tokens")) < seqLen)
          .select(col("tokens")).as[Seq[Int]].collect().toSeq match {
          case Seq() => Seq.empty
          case Seq(tail) => tail
          case many => sys.error(
            s"${many.size} partial sequences in one batch — manifest invariant broken")
        }
        BatchLog.write(Seq(newCarry).toDF("tokens"), s"$stateDir/carry", batchId)
        // from the persisted frame, batch rows only — not a second
        // evaluation of the micro-batch source
        writeTotal(spark, s"$stateDir/totals", dt.filter(col("doc_id") >= 0)
          .agg(coalesce(sum(col("n_tokens")), lit(0L))).head.getLong(0), batchId)
      } finally { seqs.unpersist(); () }
    } finally { dt.unpersist(); () }
  }

  /** The shard tree accumulated by [[tokenShardSink]], parsed by the
    * standard [[graft.sources.TokenShards.readShards]] format reader
    * (recursive over the batch directories).
    */
  def readTokenShards(spark: SparkSession, stateDir: String): DataFrame = {
    // completeness gate per batch directory: a lost shard file must fail
    // named, not silently shrink the training corpus
    val root = new org.apache.hadoop.fs.Path(s"$stateDir/shards")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.isDirectory(root))
      fs.listStatus(root).filter(_.isDirectory).foreach(d =>
        graft.sources.TokenShards.validateShardDir(fs, d.getPath))
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.tok")
      .option("recursiveFileLookup", "true")
      .load(s"$stateDir/shards")
    graft.sources.TokenShards.parseShardFiles(files)
  }

  /** s34: streaming versioned-table sink — i23 live. Each micro-batch
    * appends as ONE transactional commit via
    * [[graft.sources.VersionedTable.txnAppend]] under `(appId, batchId)`:
    * a foreachBatch REPLAY (the engine re-delivers the last batch after
    * any crash between the write and the checkpoint) finds its (app,
    * batch) already in the log and commits NOTHING, and its orphaned data
    * files are swept — exactly-once lands on the COMMIT PROTOCOL, not on
    * sink carefulness. This is the reference's actual streaming pattern:
    * its audit/gold Delta tables absorb micro-batch appends
    * transactionally (1_audit/audit_start.py:2). The table must exist
    * ([[graft.sources.VersionedTable.create]] with the stream's schema —
    * the gold notebooks' ensure-table step); schema drift in the stream
    * fails the batch NAMED instead of silently casting. Downstream
    * consumers read incrementally via `readChangesSince(lastSeenVersion)`
    * — the change feed composes with the sink at zero extra state.
    */
  def versionedSink(table: String, appId: String)(
      batch: DataFrame, batchId: Long): Unit = {
    graft.sources.VersionedTable.txnAppend(batch, table, appId, batchId)
    ()
  }

  /** s35: streaming image intake gate — q122 live at the multimodal front
    * door. Each micro-batch of (doc_id, payload, media_type) rows decodes
    * with MEMBER-LEVEL quarantine (a corrupt payload costs one reason row,
    * never the batch — the i17/s30 discipline) and the q122 rules run as
    * the same exact integer comparisons; three [[BatchLog]]s land per
    * batch:
    *  - `kept`: stats rows that passed every rule — what flows downstream
    *    to s24's dHash dedup;
    *  - `dropped`: stats rows with `reasons` naming the FAILED rules
    *    (comma-joined; the per-rule attrition a curator monitors);
    *  - `quarantine`: (doc_id, reason) decode failures.
    * Stateless between batches (an image passes or fails on its own
    * bytes), so batch parity with q122 is exact — spec-pinned.
    */
  def imageGateSink(spark: SparkSession, stateDir: String,
      minPixels: Int = 128, maxAspectPct: Int = 1100, minMeanByte: Int = 80)(
      batch: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.Encoders
    val stats = graft.multimodal.Binary.imageStatsWithErrors(
      batch.select(col("doc_id").cast("long").as("doc_id"),
          col("payload"), col("media_type"))
        .as(Encoders.product[graft.multimodal.Binary.MediaPayload]))
      .persist()
    try {
      BatchLog.write(
        stats.filter(col("reason").isNotNull).select(col("doc_id"), col("reason")),
        s"$stateDir/quarantine", batchId)
      val ok = stats.filter(col("reason").isNull)
        .withColumn("big_enough", col("width") * col("height") >= minPixels)
        .withColumn("aspect_ok",
          // long cross-multiply: a degenerate dimension past ~21.5M px
          // would wrap a 32-bit ×100 negative and PASS the gate
          greatest(col("width"), col("height")).cast("long") * 100 <=
            least(col("width"), col("height")).cast("long") * maxAspectPct)
        .withColumn("filled_enough", col("sum_bytes") >=
          col("width").cast("long") * col("height") * 3 * minMeanByte)
        .withColumn("keep",
          col("big_enough") && col("aspect_ok") && col("filled_enough"))
      BatchLog.write(
        ok.filter(col("keep"))
          .select(col("doc_id"), col("width"), col("height"), col("sum_bytes")),
        s"$stateDir/kept", batchId)
      BatchLog.write(
        ok.filter(!col("keep"))
          .select(col("doc_id"), col("width"), col("height"), col("sum_bytes"),
            concat_ws(",",
              when(!col("big_enough"), lit("too_small")),
              when(!col("aspect_ok"), lit("bad_aspect")),
              when(!col("filled_enough"), lit("under_filled"))).as("reasons")),
        s"$stateDir/dropped", batchId)
    } finally { stats.unpersist(); () }
  }

  /** The gate's accumulated survivor stats — what feeds s24 (empty, not
    * missing, when every member was dropped or quarantined).
    */
  def readImageGate(spark: SparkSession, stateDir: String): DataFrame =
    BatchLog.rows(spark, s"$stateDir/kept")

  /** foreachBatch streaming IVF index maintenance — the streaming face of
    * the [[graft.sim.Ann]] trained quantizer: each micro-batch of
    * (id, vec) is assigned to its nearest cell against the centroids
    * implied by the accumulated cell statistics, appended to the index,
    * and folded into those statistics. The first batch BOOTSTRAPS the
    * quantizer ([[graft.sim.Ann.kmeansCells]], deterministic).
    *
    * State layout ([[BatchLog]]s): `indexDir` holds (id, vec, label) (the
    * queryable corpus — [[graft.sim.Ann.ivfTopK]] runs directly over
    * its rows); `statsDir` holds per-batch per-cell running sums
    * (label, pos, s, n) — k·d rows per batch, metadata-rate.
    * Centroids are derived as Σs/Σn over the stats history, so they drift
    * WITH the stream (new points move their cell's mean) without ever
    * re-reading the corpus; a periodic full retrain (rerunning
    * kmeansCells over the index) is caller policy, as in any IVF system.
    *
    * Replay-idempotent like [[nearDupSink]]: the stats read excludes the
    * current batch, so a micro-batch retry reproduces — not duplicates —
    * its rows.
    *
    * Scale: assignment is one broadcast-centroid pass over the batch;
    * stats aggregation is k·d rows; nothing touches the accumulated
    * corpus.
    */
  def ivfIndexSink(spark: SparkSession, indexDir: String, statsDir: String,
      k: Int = 4, trainIters: Int = 2)(batch: DataFrame, batchId: Long): Unit = {
    import spark.implicits._
    import graft.sim.Ann
    val vecs = batch.select(col("id"), col("vec"))
    // replay of the bootstrap batch re-bootstraps
    val prior = BatchLog.prior(spark, statsDir, batchId)
    // Per-(label, pos) prior sums feed assignment AND the drift signal —
    // k·d rows, cached for the three consumers below.
    val priorSums = prior.map(_.groupBy(col("label"), col("pos"))
      .agg(sum(col("s")).as("ps"), sum(col("n")).as("pn")).cache())
    val assigned = priorSums match {
      case None => Ann.kmeansCells(vecs, k, trainIters)
      case Some(ps) =>
        val cent = ps.withColumn("c", col("ps") / col("pn"))
          .groupBy(col("label"))
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
            x => x.getField("c")).as("cvec"))
        Ann.assignCells(vecs, cent)
    }
    val staged = assigned.cache()
    BatchLog.write(staged, indexDir, batchId)
    val batchStats = cellStats(staged).cache()
    BatchLog.write(batchStats, statsDir, batchId)
    // Drift/retrain signal (metadata-rate, written to `<statsDir>_drift`):
    // mean L2 displacement of the stats-derived centroids caused by folding
    // THIS batch in. A stationary stream keeps it near zero; a drifting one
    // shows it rising — the trigger for the caller's [[ivfRetrain]] policy
    // (which re-centers the cells and brings the signal back down). All
    // inputs are k·d-row frames, so the scalar costs one driver-side read
    // of a tiny aggregate. Bootstrap batches record 0.0 (just trained).
    val disp = priorSums match {
      case None => 0.0
      case Some(ps) =>
        val post = ps.select(col("label"), col("pos"), col("ps").as("s"), col("pn").as("n"))
          .unionByName(batchStats)
          .groupBy(col("label"), col("pos"))
          .agg((sum(col("s")) / sum(col("n"))).as("c_post"))
        post
          .join(ps.select(col("label"), col("pos"), (col("ps") / col("pn")).as("c_prior")),
            Seq("label", "pos"))
          .groupBy(col("label"))
          .agg(sum(pow(col("c_post") - col("c_prior"), 2)).as("d2"))
          .agg(avg(sqrt(col("d2"))))
          .head().getDouble(0)
    }
    BatchLog.write(Seq(disp).toDF("mean_displacement"), s"${statsDir}_drift", batchId)
    priorSums.foreach(_.unpersist()); batchStats.unpersist(); staged.unpersist()
  }

  /** Per-(label, pos) running sums of assigned vectors — the IVF stats rows. */
  private def cellStats(assigned: DataFrame): DataFrame =
    assigned.select(col("label"), posexplode(col("vec")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))

  /** Full retrain of the streamed IVF index — the caller policy the drift
    * signal triggers: re-run the deterministic quantizer over the whole
    * accumulated corpus, replace the index with the re-labeled
    * assignment as the ONE base batch ([[BaseBatchId]]), and collapse the
    * stats history to the retrained cells' sums — one overwrite commit
    * per log. Subsequent batches then assign against the re-centered
    * centroids and the drift signal restarts near zero until the stream
    * drifts again. A crash between the two commits leaves index/stats
    * from different generations — re-running the retrain repairs it
    * (kmeansCells is deterministic, both commits are idempotent).
    */
  def ivfRetrain(spark: SparkSession, indexDir: String, statsDir: String,
      k: Int = 4, trainIters: Int = 2): Unit = {
    import graft.sim.Ann
    val corpus = BatchLog.rows(spark, indexDir).select(col("id"), col("vec"))
    // materialized once for both commits (k-means is iterative)
    val retrained = Ann.kmeansCells(corpus, k, trainIters).localCheckpoint()
    BatchLog.replace(retrained, indexDir, BaseBatchId)
    BatchLog.replace(cellStats(retrained), statsDir, BaseBatchId)
  }

  /** foreachBatch incremental gold-aggregate sink — the streaming face of
    * the q62 merge algebra: each micro-batch lands its per-(group) partial
    * aggregates (count + DECIMAL sum — exact under any reassociation) in
    * its own batch_id partition; [[readGoldAgg]] folds the partials into
    * the current aggregate. History is NEVER rescanned — per batch this
    * writes one groupBy over the batch, metadata-rate rows.
    *
    * A [[BatchLog]], replay-idempotent like the other sinks. Compaction
    * ([[BatchLog.compact]] with the re-sum merge the reader applies) is
    * caller policy, exactly like any log-structured store.
    *
    * `groupCols` must not include the reserved `_n`/`_s`/`batch_id`.
    */
  def goldAggSink(spark: SparkSession, statsDir: String, groupCols: Seq[String],
      valueCol: String)(batch: DataFrame, batchId: Long): Unit = {
    val reserved = Seq("_n", "_s", "batch_id").intersect(groupCols)
    require(reserved.isEmpty, s"reserved group columns: ${reserved.mkString(", ")}")
    BatchLog.write(
      batch.groupBy(groupCols.map(col): _*)
        .agg(count(lit(1)).as("_n"),
          sum(col(valueCol).cast("decimal(28,6)")).as("_s")),
      statsDir, batchId)
  }

  /** Current aggregate from the partial-state log written by
    * [[goldAggSink]]: fold counts and exact decimal sums across batches.
    */
  def readGoldAgg(spark: SparkSession, statsDir: String,
      groupCols: Seq[String]): DataFrame =
    BatchLog.rows(spark, statsDir)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("_n")).as("n_rows"), sum(col("_s")).as("sum_value"))

  /** Reserved batch id of compacted/retrained base rows
    * ([[BatchLog.compact]], [[ivfRetrain]]) — real micro-batch ids are
    * Spark-assigned and non-negative, so the base never collides with (or
    * is overwritten by) a replayed batch.
    */
  val BaseBatchId: Long = -1L

  /** s26: streaming LINK-GRAPH intake — q105's live face on the s09
    * partial-aggregate template. Each micro-batch of (id, html, base_url)
    * pages extracts outbound links ([[graft.text.HtmlExtract.links]]:
    * visible anchors, resolved + canonicalized, non-http filtered), drops
    * self-host edges, and lands host-pair edge PARTIALS
    * (src_host, target_host, _n_links, _n_docs) as the batch's rows of a
    * [[BatchLog]]. Per-batch doc
    * counts SUM across batches because a page arrives in exactly ONE
    * intake batch (the same invariant every batch_id log here leans on);
    * a re-crawled page is a NEW capture and counts again, matching what
    * the batch rollup over the union would say. State is metadata-rate:
    * host pairs per batch, never per-anchor rows.
    *
    * The accumulated graph serves the q106 prior incrementally:
    * `Graph.pageRank(readLinkGraph(spark, dir), "src_host", "target_host",
    * iters)` re-ranks from the folded edges — the s08 retrain discipline
    * (recompute from accumulated state, swap atomically) without a model
    * to swap.
    */
  def linkGraphSink(spark: SparkSession, edgesDir: String,
      idCol: String = "doc_id", htmlCol: String = "html",
      baseCol: String = "base_url")(batch: DataFrame, batchId: Long): Unit = {
    val lk = graft.text.HtmlExtract.links(batch, idCol, htmlCol, baseCol)
    BatchLog.write(
      lk.filter(col("target_host") =!= col("src_host"))
        .groupBy(col("src_host"), col("target_host"))
        .agg(count(lit(1)).as("_n_links"),
          countDistinct(col(idCol)).as("_n_docs")),
      edgesDir, batchId)
  }

  /** Current host-pair edge rollup from the [[linkGraphSink]] partial log
    * — the q105 output shape (src_host, target_host, n_links, n_docs).
    */
  def readLinkGraph(spark: SparkSession, edgesDir: String): DataFrame =
    BatchLog.rows(spark, edgesDir)
      .groupBy(col("src_host"), col("target_host"))
      .agg(sum(col("_n_links")).as("n_links"), sum(col("_n_docs")).as("n_docs"))

  /** s28: streaming crawl frontier — q107 at intake. Each micro-batch of
    * (id, html, base_url) pages lands TWO [[BatchLog]]s:
    * citation partials per resolved+canonical target
    * (target_url, target_host, _n — per-batch distinct citing docs; a
    * page arrives in one batch, so partials SUM), and the crawled set as
    * hash60 of each page's canonical url (one long per page — the s14
    * seen-hash discipline, the cheapest corpus-rate state there is).
    * Cites compact with a re-sum merge, crawled with the identity merge.
    *
    * [[readFrontier]] is the scheduling read: fold citations, anti-join
    * the crawled hashes, per-host top-k (the q107 politeness cap). The
    * STREAMING behavior q107's batch face can't show: a target cited in
    * batch N and CRAWLED in batch N+1 leaves the frontier — spec-pinned.
    */
  def frontierSink(spark: SparkSession, stateDir: String,
      idCol: String = "doc_id", htmlCol: String = "html",
      baseCol: String = "base_url")(batch: DataFrame, batchId: Long): Unit = {
    // two writes = two actions on the micro-batch source: persist for the
    // pair (the foreachBatch discipline) so crawl-scale html payloads
    // aren't fetched and decoded twice per batch
    batch.persist()
    try {
      val lk = graft.text.HtmlExtract.links(batch, idCol, htmlCol, baseCol)
      BatchLog.write(
        lk.groupBy(col("target_url"), col("target_host"))
          .agg(countDistinct(col(idCol)).as("_n")),
        s"$stateDir/cites", batchId)
      BatchLog.write(
        batch.select(graft.text.TextFunctions.hash60(
          graft.text.Urls.canonicalize(col(baseCol))).as("url_h")).distinct(),
        s"$stateDir/crawled", batchId)
    } finally { batch.unpersist(); () }
  }

  /** Sitemap channel of the frontier (the OTHER public seed source —
    * anchors are what the crawl OBSERVED, sitemaps are what hosts
    * DECLARE): each micro-batch of sitemap bodies
    * ([[graft.sources.Warc.sitemapBodies]] shape) extracts page locs
    * ([[graft.text.Sitemaps.entries]], entity-decoded), canonicalizes,
    * and lands distinct (target_url, target_host) rows in the
    * `stateDir/sitemap` [[BatchLog]]. [[readFrontier]]
    * unions these in as ZERO-citation candidates tagged
    * `source = sitemap`; a page both declared and cited ranks by its
    * citations (`source = both`). Child-sitemap refs (`kind = sitemap`)
    * are index entries, not pages — they don't enter the frontier here
    * (fetch them and feed their bodies back through this sink).
    */
  def sitemapSink(spark: SparkSession, stateDir: String,
      xmlCol: String = "xml")(batch: DataFrame, batchId: Long): Unit = {
    val locs = graft.text.Sitemaps.entries(batch, "doc_id", xmlCol)
      .filter(col("kind") === "page")
      .withColumn("target_url", graft.text.Urls.canonicalize(col("url")))
      .filter(col("target_url").rlike("^https?://"))
      .select(col("target_url"),
        graft.text.Urls.domain(col("target_url")).as("target_host"))
      .distinct()
    BatchLog.write(locs, s"$stateDir/sitemap", batchId)
  }

  /** Current frontier from the [[frontierSink]] (+ optional
    * [[sitemapSink]]) logs: citation fold ∪ sitemap declarations →
    * anti-join the crawled set → per-host top-`k` — the q107 output shape
    * (target_url, target_host, n_citations, rn) plus `source`
    * (anchor | sitemap | both) and `crawl_delay`. Sitemap-only candidates
    * carry 0 citations and rank after cited ones under the same per-host
    * politeness cap.
    *
    * `crawlDelays` (r17) closes the i18 loop: pass
    * [[graft.sources.Robots.crawlDelays]]' (domain, crawl_delay) dim and
    * the per-host cap becomes the POLITENESS BUDGET
    * `min(k, floor(windowSec / delay))` ([[graft.ops.Frontier.schedule]])
    * — a Crawl-delay-10 host gets 6 slots of a 60 s window where an
    * unrestricted host gets `k`; delay-less hosts are unchanged.
    */
  def readFrontier(spark: SparkSession, stateDir: String, k: Int,
      crawlDelays: Option[DataFrame] = None,
      windowSec: Long = 60): DataFrame = {
    val cites = BatchLog.rows(spark, s"$stateDir/cites")
      .groupBy(col("target_url"), col("target_host"))
      .agg(sum(col("_n")).as("n_citations"))
    val cand0 = BatchLog.readIfExists(spark, s"$stateDir/sitemap") match {
      case None => cites.withColumn("source", lit("anchor"))
      case Some(sm) =>
        val declared = sm.select(col("target_url"), col("target_host"))
          .distinct().withColumn("_sm", lit(true))
        cites.withColumn("_an", lit(true))
          .join(declared, Seq("target_url", "target_host"), "full_outer")
          .select(col("target_url"), col("target_host"),
            coalesce(col("n_citations"), lit(0L)).as("n_citations"),
            when(col("_an").isNotNull && col("_sm").isNotNull, "both")
              .when(col("_sm").isNotNull, "sitemap")
              .otherwise("anchor").as("source"))
    }
    val crawled = BatchLog.rows(spark, s"$stateDir/crawled")
      .select(col("url_h")).distinct()
    val cand = cand0.join(crawled,
      graft.text.TextFunctions.hash60(col("target_url")) === col("url_h"),
      "left_anti")
    graft.ops.Frontier.schedule(cand, k, crawlDelays, windowSec)
      .select(col("target_url"), col("target_host"), col("n_citations"),
        col("rn"), col("source"), col("crawl_delay"))
  }

  /** s27: streaming PCA scatter accumulation — q110's FIT at intake.
    * Each micro-batch of embedding rows lands ONE partial row
    * (n, sums d, scatter d²) as its batch's rows of a [[BatchLog]] —
    * the s09 partial-aggregate template where the "group" is the whole
    * model: the [n, Σv, Σvvᵀ] buffer is an exact merge algebra
    * (element-wise sums), so the fold is lossless. State is MODEL-rate:
    * one (1+d+d²)-double row per batch (33 KB at d=64), compactable with
    * the identity merge (the read-side fold re-sums anyway).
    *
    * [[readPcaModel]] folds the log and runs the same driver Jacobi as
    * the batch fit — the s08 recompute-from-accumulated-state retrain
    * discipline. Parity note: the fold sums per batch THEN across
    * batches while the batch fit sums in partition order, so agreement
    * is to float tolerance (double addition is order-sensitive), which
    * the spec pins at 1e-9 on axes and eigenvalues — never bit-exactness
    * claimed where it cannot hold.
    */
  def pcaScatterSink(spark: SparkSession, statsDir: String,
      vecCol: String = "embedding")(batch: DataFrame, batchId: Long): Unit = {
    // an empty (or all-null-vector) batch carries no scatter: write
    // nothing — replay of an empty batch is also nothing, still exact.
    // Checking the FILTERED frame, not the raw batch: scatterOf would
    // otherwise fail its named require on an all-null batch.
    if (batch.filter(col(vecCol).isNotNull).isEmpty) return
    val agg = graft.sim.Pca.scatterOf(batch, vecCol)
    val d = graft.sim.Pca.dimOf(agg.length)
    import spark.implicits._
    BatchLog.write(Seq((agg(0), agg.slice(1, 1 + d).toSeq,
        agg.slice(1 + d, agg.length).toSeq)).toDF("n", "sums", "scatter"),
      statsDir, batchId)
  }

  /** Fold the [[pcaScatterSink]] partial log into a PCA model: exact
    * element-wise sums of the batch buffers, then the same driver-side
    * eigendecomposition the batch [[graft.sim.Pca.fit]] runs.
    */
  def readPcaModel(spark: SparkSession, statsDir: String,
      k: Int): graft.sim.Pca.Model = {
    val rows = BatchLog.rows(spark, statsDir)
      .select(col("n"), col("sums"), col("scatter")).collect()
    require(rows.nonEmpty, s"no PCA partials at $statsDir")
    val d = rows.head.getSeq[Double](1).length
    val acc = new Array[Double](1 + d + d * d)
    rows.foreach { r =>
      acc(0) += r.getDouble(0)
      val s = r.getSeq[Double](1); val sc = r.getSeq[Double](2)
      // a mid-stream dimension change (embedder upgrade) must fail HERE
      // by name — silently truncating a wider row-major scatter into a
      // narrower fold produces a garbage covariance with no error
      require(s.length == d && sc.length == d * d,
        s"PCA partial dimension drift: batch row has d=${s.length} " +
          s"(scatter ${sc.length}) but the log started at d=$d — " +
          "re-bootstrap the stats dir after an embedding change")
      var i = 0
      while (i < d) { acc(1 + i) += s(i); i += 1 }
      i = 0
      while (i < d * d) { acc(1 + d + i) += sc(i); i += 1 }
    }
    graft.sim.Pca.modelFromScatter(acc, k)
  }

  /** foreachBatch SCD2 upsert sink on the i23 transaction log (r18): each
    * micro-batch is deduped to its latest row per key and upserts
    * ROW-LEVEL via [[Scd2.mergeVersioned]] — only the files
    * holding expired/inserted rows are rewritten (the reference's actual
    * Delta MERGE write path), the dimension's full history stays
    * time-travelable, and exactly-once replay comes from the log's (app,
    * batch) txn record, not from sink carefulness: a foreachBatch replay
    * commits NOTHING. The table must exist (VersionedTable.create with
    * the dim schema: keys ++ attrs ++ valid_from/valid_to/is_current).
    */
  def scd2VersionedSink(spark: SparkSession, table: String, appId: String,
      keys: Seq[String], attrs: Seq[String])(
      batch: DataFrame, batchId: Long): Unit = {
    val staged = Dedup.latestPerKey(batch, keys, Seq(col("ts").desc))
      .select((keys ++ attrs).map(col): _*)
    Scd2.mergeVersioned(spark, table, staged, keys, attrs,
      current_timestamp(), appId, batchId)
    ()
  }

  // --------------------------------------------------------------------
  // s22: tokenizer drift (r15) — the s08 drift/retrain template applied
  // to the deployed BPE tokenizer.
  // --------------------------------------------------------------------

  /** Deployed merge table of a [[tokenizerDriftSink]] state dir, in rank
    * order (driver-side; merge tables are vocab-bounded metadata).
    */
  def readMerges(spark: SparkSession, stateDir: String): Seq[String] = {
    import spark.implicits._
    spark.read.parquet(s"$stateDir/merges")
      .orderBy(col("rank")).select(col("merge")).as[String].collect().toSeq
  }

  private def writeMerges(spark: SparkSession, stateDir: String,
      merges: Seq[String]): Unit = {
    import spark.implicits._
    graft.sources.Sinks.overwriteAtomic(
      merges.zipWithIndex.map { case (m, i) => (i + 1, m) }.toDF("rank", "merge"),
      s"$stateDir/merges")
  }

  /** Per-batch drift metrics accumulated by [[tokenizerDriftSink]]:
    * (batch_id, n_word_occurrences, n_distinct_words, fertility,
    * oov_rate).
    */
  def readTokenizerDrift(spark: SparkSession, stateDir: String): DataFrame =
    BatchLog.read(spark, s"$stateDir/drift")

  /** foreachBatch tokenizer-drift monitor — the s08 drift/retrain template
    * for the DEPLOYED byte-level BPE merges (q92/q95/q96's tokenizer):
    * each micro-batch of documents lands its word counts in a
    * [[BatchLog]], and two metadata-rate metrics are computed under
    * the CURRENT merge table:
    *
    *  - `fertility`: average subwords per word OCCURRENCE — THE tokenizer
    *    health number (training-budget math runs on it); rises when the
    *    stream's vocabulary drifts away from what the merges were learned
    *    on (new words fall back toward bytes);
    *  - `oov_rate`: fraction of word occurrences whose encoding applied NO
    *    merge at all (encoded length == byte count + end-of-word) — the
    *    byte-level analog of OOV (nothing is truly OOV by construction,
    *    but a fully-unmerged word is one the tokenizer never learned).
    *
    * The FIRST batch bootstraps the merge table from its own word counts
    * ([[graft.text.Bpe.trainBytesOnCounts]], deterministic); subsequent
    * batches only MEASURE — retraining is caller policy, triggered off
    * the drift frame and executed by [[bpeRetrain]], which re-learns from
    * the ACCUMULATED word counts and atomically swaps the table (the s08
    * `ivfRetrain` shape; fertility then returns to baseline).
    *
    * Replay-idempotent: words/drift are [[BatchLog]]s; the bootstrap
    * decision reads prior-batch state EXCLUDING the current batch id, so
    * a replay of the first batch re-trains the
    * identical (deterministic) table. Scale: per batch, one
    * map-side-combined word count + one vocab-sized projection through
    * the native encode — never a corpus rescan; the encode's merge table
    * is a constant literal, so it rides codegen exactly like q92.
    */
  def tokenizerDriftSink(spark: SparkSession, stateDir: String,
      textCol: String = "text", numMerges: Int = 64, maxWords: Int = 1 << 16)(
      batch: DataFrame, batchId: Long): Unit = {
    import spark.implicits._
    import graft.text.{Bpe, TextFunctions}
    // the curateSink/mixtureSink empty-batch discipline: an empty (or
    // first empty) micro-batch must neither bootstrap an empty merge table
    // nor log a drift row with null fertility/oov (sum over zero rows)
    if (batch.isEmpty) return
    val words = batch
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .cache()
    // a non-empty batch of all-empty texts is the same degenerate case
    if (words.isEmpty) { words.unpersist(); return }
    BatchLog.write(words, s"$stateDir/words", batchId)
    val hasPrior = BatchLog.prior(spark, s"$stateDir/words", batchId).isDefined
    val merges: Seq[String] =
      if (!hasPrior) {
        // bootstrap (or bootstrap replay): deterministic train on THIS batch
        val wc = words.orderBy(col("c").desc, col("w")).limit(maxWords)
          .as[(String, Long)].collect().toSeq
        val ms = Bpe.mergeStrings(Bpe.trainBytesOnCounts(wc, numMerges, minCount = 1))
        writeMerges(spark, stateDir, ms)
        ms
      } else readMerges(spark, stateDir)
    val drift = words
      .select(col("c"),
        size(Bpe.encodeBytes(col("w"), merges)).as("t"),
        (octet_length(col("w")) + 1).as("base"))
      .agg(
        sum(col("c")).as("n_word_occurrences"),
        count(lit(1)).as("n_distinct_words"),
        (sum(col("c") * col("t")).cast("double") / sum(col("c"))).as("fertility"),
        (sum(when(col("t") === col("base"), col("c")).otherwise(0L)).cast("double") /
          sum(col("c"))).as("oov_rate"))
    BatchLog.write(drift, s"$stateDir/drift", batchId)
    words.unpersist()
  }

  // --------------------------------------------------------------------
  // s23: streaming quality classifier (r15) — q100's live-intake face.
  // --------------------------------------------------------------------

  /** One-time deployment of a trained q100 weight table into a
    * [[classifierScoreSink]] state dir (the s19
    * `prepareBloomDecontamination` discipline: deployment is an explicit
    * step, never lazily inferred from a batch). Train with
    * [[graft.text.QualityClassifier.train]] over a labeled frame, deploy
    * here, score the stream.
    */
  def prepareClassifier(spark: SparkSession, stateDir: String,
      weights: Array[Double]): Unit = {
    import spark.implicits._
    graft.sources.Sinks.overwriteAtomic(
      weights.toSeq.zipWithIndex.map { case (v, b) => (b.toLong, v) }
        .toDF("bucket", "w"),
      s"$stateDir/weights")
  }

  /** Deployed weights of a [[classifierScoreSink]] state dir. */
  def readClassifierWeights(spark: SparkSession, stateDir: String): Array[Double] = {
    val rows = spark.read.parquet(s"$stateDir/weights")
      .select(col("bucket").cast("int"), col("w").cast("double")).collect()
    val out = new Array[Double](rows.map(_.getInt(0)).max + 1)
    rows.foreach(r => out(r.getInt(0)) = r.getDouble(1))
    out
  }

  /** foreachBatch streaming scoring under the DEPLOYED q100 weights:
    * each micro-batch of (doc_id, text) lands (doc_id, logit, pass) in a
    * [[BatchLog]] — single-batch output EQUAL to the batch
    * [[graft.text.QualityClassifier.score]] under the same weights
    * (parity-pinned; the scoring face is a pure function of the batch, so
    * the stream face is stateless-across-batches and replay-idempotent,
    * the s12 decontamination discipline). A missing
    * deployment fails NAMED. Per batch: one explode + two map-side-
    * combined aggs + a broadcast join against the dim-row weights table —
    * scan-shaped on the intake.
    */
  def classifierScoreSink(spark: SparkSession, stateDir: String,
      idCol: String = "doc_id", textCol: String = "text")(
      batch: DataFrame, batchId: Long): Unit = {
    if (graft.sources.Sources.parquetIfExists(spark, s"$stateDir/weights").isEmpty)
      throw new IllegalArgumentException(
        s"no deployed weights at $stateDir/weights — run prepareClassifier first")
    val w = readClassifierWeights(spark, stateDir)
    BatchLog.write(graft.text.QualityClassifier.score(batch, idCol, textCol, w),
      s"$stateDir/scored", batchId)
  }

  /** Accumulated scores from the [[classifierScoreSink]] log. */
  def readClassifierScores(spark: SparkSession, stateDir: String): DataFrame =
    BatchLog.rows(spark, s"$stateDir/scored")

  // --------------------------------------------------------------------
  // s24: streaming perceptual image dedup (r15) — q101's live-intake face.
  // --------------------------------------------------------------------

  /** foreachBatch perceptual image dedup against an ACCUMULATED dHash
    * index — [[nearDupSink]]'s template applied to pixels: each
    * micro-batch of (doc_id, payload) decodes through the REAL PNG pixel
    * path with MEMBER-LEVEL quarantine (a corrupt image lands in
    * `stateDir/quarantine`, never fails the stream — the i17 discipline),
    * hashes ([[graft.multimodal.ImageHash.dhash60]]), band-joins the new
    * hashes against the capped accumulated index (6 × 10-bit bands,
    * [[graft.text.SimHash.BandBucketCap]] on the index side — a
    * corpus-hot bucket in a long-lived index must not pair every new
    * arrival against everything ever ingested), Hamming-verifies, and
    * appends the batch's hashes to the index.
    *
    * All three outputs (`index`, `pairs`, `quarantine`) are
    * [[BatchLog]]s. The index read drops any rows a half-finished attempt
    * of THIS batch already landed — the [[nearDupSink]] self-pair guard.
    * State is one 2-long row per doc — the cheapest index in the family.
    */
  def imageDedupSink(spark: SparkSession, stateDir: String,
      maxHamming: Int = 16, idCol: String = "doc_id",
      payloadCol: String = "payload")(
      batch: DataFrame, batchId: Long): Unit = {
    import spark.implicits._
    import graft.multimodal.ImageHash
    import graft.text.{MinHash, SimHash}
    val indexDir = s"$stateDir/index"
    val decoded = ImageHash.dhashesWithErrors(
      batch.select(col(idCol).cast("long").as("doc_id"),
          col(payloadCol).as("payload"), lit("image/png").as("media_type"))
        .as[graft.multimodal.Binary.MediaPayload]).cache()
    BatchLog.write(
      decoded.filter(col("decode_error").isNotNull).select(col("doc_id"), col("decode_error")),
      s"$stateDir/quarantine", batchId)
    val fresh = decoded.filter(col("decode_error").isNull)
      .select(col("doc_id"), col("dhash"))
    val existing = BatchLog.prior(spark, indexDir, batchId).getOrElse(fresh.limit(0))
    val all = existing.unionByName(fresh).cache()
    val newBands = ImageHash.bandRows(fresh)
      .select(col("band"), col("band_val"), col("doc_id").as("id_new"))
    val allBands = MinHash.capBuckets(ImageHash.bandRows(all),
        SimHash.BandBucketCap)
      .select(col("band"), col("band_val"), col("doc_id").as("id_other"))
    val cand = newBands.join(allBands, Seq("band", "band_val"))
      .filter(col("id_new") =!= col("id_other"))
      .select(least(col("id_new"), col("id_other")).as("id_a"),
        greatest(col("id_new"), col("id_other")).as("id_b"))
      .distinct()
    val verified = cand
      .join(all.select(col("doc_id").as("id_a"), col("dhash").as("h_a")), "id_a")
      .join(all.select(col("doc_id").as("id_b"), col("dhash").as("h_b")), "id_b")
      .withColumn("hamming", expr("bit_count(h_a ^ h_b)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
    BatchLog.write(verified, s"$stateDir/pairs", batchId)
    BatchLog.write(fresh, indexDir, batchId)
    all.unpersist(); decoded.unpersist()
  }

  /** Accumulated near-dup image pairs from the [[imageDedupSink]] log. */
  def readImagePairs(spark: SparkSession, stateDir: String): DataFrame =
    BatchLog.rows(spark, s"$stateDir/pairs")

  // --------------------------------------------------------------------
  // s30: streaming perceptual audio dedup (r16) — q111's live-intake
  // face, [[imageDedupSink]]'s template on the energy-envelope hash.
  // --------------------------------------------------------------------

  /** foreachBatch perceptual audio dedup against an ACCUMULATED
    * fingerprint index: each micro-batch of (doc_id, payload) decodes
    * through the REAL RIFF/PCM16 sample path with MEMBER-LEVEL quarantine
    * (a corrupt clip lands in `stateDir/quarantine` with its named decode
    * error — the i17 discipline), fingerprints
    * ([[graft.multimodal.Audio.energyHash60]]), band-joins new hashes
    * against the CAPPED accumulated index (6 × 10-bit bands,
    * [[graft.text.SimHash.BandBucketCap]] on the index side), Hamming-
    * verifies, appends to the index. A re-encoded (volume-scaled) upload
    * of an already-ingested clip pairs at Hamming 0 — the q111 invariance
    * carried live. Index/pairs/quarantine are [[BatchLog]]s; index state
    * is one 2-long row per clip.
    */
  def audioDedupSink(spark: SparkSession, stateDir: String,
      maxHamming: Int = 8, idCol: String = "doc_id",
      payloadCol: String = "payload")(
      batch: DataFrame, batchId: Long): Unit = {
    import spark.implicits._
    import graft.multimodal.Audio
    import graft.text.{MinHash, SimHash}
    val indexDir = s"$stateDir/index"
    val decoded = Audio.clipRowsWithErrors(
      batch.select(col(idCol).cast("long").as("doc_id"),
          col(payloadCol).as("payload"), lit("audio/wav").as("media_type"))
        .as[graft.multimodal.Binary.MediaPayload]).cache()
    BatchLog.write(
      decoded.filter(col("decode_error").isNotNull).select(col("doc_id"), col("decode_error")),
      s"$stateDir/quarantine", batchId)
    val fresh = decoded.filter(col("decode_error").isNull)
      .select(col("doc_id"), col("clip.fp").as("fp"))
    val existing = BatchLog.prior(spark, indexDir, batchId).getOrElse(fresh.limit(0))
    val all = existing.unionByName(fresh).cache()
    val newBands = Audio.bandRows(fresh)
      .select(col("band"), col("band_val"), col("doc_id").as("id_new"))
    val allBands = MinHash.capBuckets(Audio.bandRows(all),
        SimHash.BandBucketCap)
      .select(col("band"), col("band_val"), col("doc_id").as("id_other"))
    val cand = newBands.join(allBands, Seq("band", "band_val"))
      .filter(col("id_new") =!= col("id_other"))
      .select(least(col("id_new"), col("id_other")).as("id_a"),
        greatest(col("id_new"), col("id_other")).as("id_b"))
      .distinct()
    val verified = cand
      .join(all.select(col("doc_id").as("id_a"), col("fp").as("h_a")), "id_a")
      .join(all.select(col("doc_id").as("id_b"), col("fp").as("h_b")), "id_b")
      .withColumn("hamming", expr("bit_count(h_a ^ h_b)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
    BatchLog.write(verified, s"$stateDir/pairs", batchId)
    BatchLog.write(fresh, indexDir, batchId)
    all.unpersist(); decoded.unpersist()
  }

  /** Accumulated near-dup audio pairs from the [[audioDedupSink]] log. */
  def readAudioPairs(spark: SparkSession, stateDir: String): DataFrame =
    BatchLog.rows(spark, s"$stateDir/pairs")

  // --------------------------------------------------------------------
  // s25: streaming robots gate (r15) — i18 at intake.
  // --------------------------------------------------------------------

  /** Deploy a (domain, robots_txt) policy table into a [[robotsGateSink]]
    * state dir (the s19/s23 deploy-then-serve discipline). Source it from
    * [[graft.sources.Warc.robotsBodies]] to gate a crawl against its own
    * policies, or from any curated table; redeploy atomically as policies
    * refresh.
    */
  def prepareRobots(spark: SparkSession, stateDir: String,
      robots: DataFrame): Unit =
    graft.sources.Sinks.overwriteAtomic(
      robots.select(col("domain"), col("robots_txt")), s"$stateDir/robots")

  /** foreachBatch robots verdicts under the DEPLOYED policy table: each
    * micro-batch lands with a `robots_allowed` column in a [[BatchLog]].
    * Stateless-across-batches (a verdict is a pure function of
    * the row and the deployed table), so streamed output EQUALS batch
    * [[graft.sources.Robots.verdicts]] under the same table
    * (parity-pinned). A missing
    * deployment fails NAMED — an ungated crawl must never look gated.
    */
  def robotsGateSink(spark: SparkSession, stateDir: String, agent: String,
      urlCol: String = "url")(batch: DataFrame, batchId: Long): Unit = {
    if (graft.sources.Sources.parquetIfExists(spark, s"$stateDir/robots").isEmpty)
      throw new IllegalArgumentException(
        s"no deployed robots table at $stateDir/robots — run prepareRobots first")
    val robots = spark.read.parquet(s"$stateDir/robots")
    BatchLog.write(graft.sources.Robots.verdicts(spark, batch, urlCol, robots, agent),
      s"$stateDir/verdicts", batchId)
  }

  /** Accumulated verdicts from the [[robotsGateSink]] log. */
  def readRobotsVerdicts(spark: SparkSession, stateDir: String): DataFrame =
    BatchLog.rows(spark, s"$stateDir/verdicts")

  /** Retrain the deployed merge table from the ACCUMULATED word counts and
    * swap it atomically — the caller policy [[tokenizerDriftSink]]'s drift
    * frame triggers. Deterministic ([[graft.text.Bpe.trainBytesOnCounts]]
    * on an exact, (count desc, word asc)-ordered top-`maxWords` fold of
    * the per-batch counts); a crash before the swap leaves the old table
    * serving, re-running repairs. Subsequent batches measure against the
    * new table and fertility returns to baseline until the stream drifts
    * again.
    */
  def bpeRetrain(spark: SparkSession, stateDir: String, numMerges: Int = 64,
      maxWords: Int = 1 << 16): Seq[String] = {
    import spark.implicits._
    import graft.text.Bpe
    val wc = BatchLog.rows(spark, s"$stateDir/words")
      .groupBy(col("w")).agg(sum(col("c")).as("c"))
      .orderBy(col("c").desc, col("w")).limit(maxWords)
      .as[(String, Long)].collect().toSeq
    val ms = Bpe.mergeStrings(Bpe.trainBytesOnCounts(wc, numMerges, minCount = 1))
    writeMerges(spark, stateDir, ms)
    ms
  }

  // --------------------------------------------------------------------
  // s29: unigram-LM tokenizer drift (r16) — s22's discipline for the
  // SECOND deployable model (q112): the A/B face a production tokenizer
  // stack actually runs (two families, one drift dashboard).
  // --------------------------------------------------------------------

  /** Deployed piece table of a [[unigramDriftSink]] state dir, in rank
    * order (driver-side; piece tables are vocab-bounded metadata).
    */
  def readUnigramVocab(spark: SparkSession,
      stateDir: String): Seq[graft.text.Unigram.Piece] = {
    spark.read.parquet(s"$stateDir/vocab").orderBy(col("rank"))
      .select(col("piece"), col("log_prob"))
      .collect().map(r => graft.text.Unigram.Piece(r.getString(0), r.getDouble(1)))
      .toSeq
  }

  private def writeUnigramVocab(spark: SparkSession, stateDir: String,
      vocab: Seq[graft.text.Unigram.Piece]): Unit = {
    import spark.implicits._
    graft.sources.Sinks.overwriteAtomic(
      vocab.zipWithIndex.map { case (p, i) => (i + 1, p.piece, p.logProb) }
        .toDF("rank", "piece", "log_prob"),
      s"$stateDir/vocab")
  }

  /** Per-batch drift metrics accumulated by [[unigramDriftSink]]:
    * (batch_id, n_word_occurrences, n_distinct_words, fertility,
    * unk_rate).
    */
  def readUnigramDrift(spark: SparkSession, stateDir: String): DataFrame =
    BatchLog.read(spark, s"$stateDir/drift")

  /** foreachBatch unigram-tokenizer drift monitor — [[tokenizerDriftSink]]
    * verbatim for the q112 model: each micro-batch lands its word counts
    * in a [[BatchLog]] and two metadata-rate metrics compute
    * under the CURRENTLY-DEPLOYED piece table:
    *
    *  - `fertility`: average pieces per word OCCURRENCE (the same
    *    training-budget number as s22's);
    *  - `unk_rate`: fraction of word occurrences whose Viterbi encode
    *    used at least one single-codepoint UNK fallback (a character the
    *    table has no piece for — unigram's honest OOV face, where
    *    byte-BPE's is "fully unmerged").
    *
    * First batch bootstraps the table deterministically from its own
    * counts ([[graft.text.Unigram.trainOnCounts]]); subsequent batches
    * only MEASURE. Retraining is caller policy via [[unigramRetrain]]
    * (accumulated counts, atomic swap — the s08/s22 shape). Replay-
    * idempotent: words/drift are [[BatchLog]]s; the bootstrap decision
    * excludes the current batch id. Per batch: one
    * map-side-combined word count + a vocab-sized projection through the
    * native codegen'd encode — never a corpus rescan.
    */
  def unigramDriftSink(spark: SparkSession, stateDir: String,
      textCol: String = "text", vocabSize: Int = 192,
      maxWords: Int = 1 << 14)(batch: DataFrame, batchId: Long): Unit = {
    import spark.implicits._
    import graft.text.{TextFunctions, Unigram}
    // the s22 empty-batch discipline: no empty-table deploy, no null
    // drift rows
    if (batch.isEmpty) return
    val words = batch
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .cache()
    if (words.isEmpty) { words.unpersist(); return }
    BatchLog.write(words, s"$stateDir/words", batchId)
    val hasPrior = BatchLog.prior(spark, s"$stateDir/words", batchId).isDefined
    val vocab: Seq[Unigram.Piece] =
      if (!hasPrior) {
        val wc = words.orderBy(col("c").desc, col("w")).limit(maxWords)
          .as[(String, Long)].collect().toSeq
        val v = Unigram.trainOnCounts(wc, vocabSize)
        writeUnigramVocab(spark, stateDir, v)
        v
      } else readUnigramVocab(spark, stateDir)
    val known = typedLit(vocab.map(_.piece))
    val drift = words
      .select(col("c"),
        Unigram.encode(col("w"), vocab).as("ps"))
      .select(col("c"), size(col("ps")).as("t"),
        when(forall(col("ps"), p => array_contains(known, p)), 0L)
          .otherwise(1L).as("unk"))
      .agg(
        sum(col("c")).as("n_word_occurrences"),
        count(lit(1)).as("n_distinct_words"),
        (sum(col("c") * col("t")).cast("double") / sum(col("c"))).as("fertility"),
        (sum(col("c") * col("unk")).cast("double") / sum(col("c"))).as("unk_rate"))
    BatchLog.write(drift, s"$stateDir/drift", batchId)
    words.unpersist()
    ()
  }

  /** Re-learn the piece table from the ACCUMULATED word counts and swap
    * it atomically — [[bpeRetrain]] for the q112 model; crash-before-swap
    * leaves the old table serving.
    */
  def unigramRetrain(spark: SparkSession, stateDir: String,
      vocabSize: Int = 192,
      maxWords: Int = 1 << 14): Seq[graft.text.Unigram.Piece] = {
    import spark.implicits._
    val wc = BatchLog.rows(spark, s"$stateDir/words")
      .groupBy(col("w")).agg(sum(col("c")).as("c"))
      .orderBy(col("c").desc, col("w")).limit(maxWords)
      .as[(String, Long)].collect().toSeq
    val v = graft.text.Unigram.trainOnCounts(wc, vocabSize)
    writeUnigramVocab(spark, stateDir, v)
    v
  }
}
