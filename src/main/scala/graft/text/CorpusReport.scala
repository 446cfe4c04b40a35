package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.{TextFunctions => TF}

/** Corpus health report — the diagnostic frame a curator runs BEFORE
  * configuring the pipeline: one (metric, value) row per corpus-level
  * signal, each computed by the same definition its operator family uses
  * (exact-dup fingerprints = q19's, span fractions = q87's, quality grid
  * = q24's, lang-ID = q23's), so the report's numbers are the numbers the
  * downstream operators will act on — not a parallel re-implementation
  * that can drift.
  *
  * Every ratio is an exact-integer division pushed through the tie-free
  * `floor(x·10⁴ + 0.5)/10⁴` grid (the q24 rounding lesson) — `round()` on
  * a float ratio lands on .xxxx5 boundaries where Spark and DuckDB round
  * a ulp apart — and coalesces to 0.0 on an empty corpus (0/0 would
  * surface null metrics to a consumer reading doubles).
  *
  * Scale shape: a fixed number of independent linear aggregations (each a
  * groupBy/distinct over one derived column) plus the q87 span frame —
  * nothing quadratic, nothing collected beyond the ~8-row result; the
  * corpus-wide token total is aggregated ONCE and reused by both rows
  * that need it. The metric set is deliberately cheap; deep diagnostics
  * (cluster size histograms, per-source cutoffs) live in their dedicated
  * operators.
  */
object CorpusReport {

  /** Tie-free 4-decimal grid of an exact-integer-division double; 0.0 on
    * the empty-corpus null.
    */
  private def r4(x: Column): Column =
    coalesce(floor(x * 10000d + 0.5d) / 10000d, lit(0.0))

  /** (metric, value) rows:
    *  - n_docs, n_tokens: corpus size
    *  - exact_dup_docs: docs minus distinct normalized fingerprints (q19)
    *  - dup_line_frac: (lines - distinct lines) / lines (q82's grain)
    *  - span_dup_token_frac: q87 duplicate-span tokens / all tokens
    *  - boilerplate_grams: distinct `n`-grams held by >= 2 docs (q85's rule)
    *  - mean_quality: sum of q24 quality grids / (docs · 10⁴)
    *  - langid_mismatch_frac: `langCol` label != q23 prediction (row
    *    omitted when `langCol` is None — same knob as the SQL twin)
    *  - non_utf8_frac: fraction of docs whose declared/sniffed charset is
    *    not UTF-8 (the i17 intake-mix signal — [[graft.sources.Warc
    *    .htmlDocuments]] emits the column; a corpus arriving 10%
    *    windows-1251 should say so HERE, before langid/quality read it).
    *    Null charsets count as unknown, not non-UTF-8. Row omitted when
    *    `charsetCol` is None (corpora without intake provenance).
    *  - declared_dup_frac: fraction of docs the ARCHIVE declared exact
    *    re-fetches (r17 — a boolean column derived from
    *    [[graft.sources.Warc.revisitEdges]]: the crawler already hashed
    *    the page, so this dedup pressure costs zero content passes).
    *    Nulls count false. Row omitted when `declaredDupCol` is None.
    *  - image_gate_drop_frac / audio_gate_drop_frac (r18): fraction of
    *    docs the modality intake gates DROP — boolean keep-verdict
    *    columns carrying q122's ([[graft.multimodal.Binary.imageStats]]
    *    rules) and q123's (clip rules) verdicts. A NULL verdict is a
    *    decode failure and counts as dropped (a gate that can't read the
    *    member would quarantine it). Rows omitted when the columns are
    *    None — the per-modality attrition a curator monitors, surfaced
    *    in the one report that fronts the pipeline.
    */
  def report(docs: DataFrame, idCol: String, textCol: String,
      langCol: Option[String] = Some("lang"), n: Int = 8,
      charsetCol: Option[String] = None,
      declaredDupCol: Option[String] = None,
      imageKeepCol: Option[String] = None,
      audioKeepCol: Option[String] = None): DataFrame = {
    langCol.foreach(lc => require(docs.columns.contains(lc),
      s"corpus report: lang column '$lc' absent from ${docs.columns.mkString(", ")}" +
        " — pass langCol = None to omit the lang-ID row"))
    charsetCol.foreach(cc => require(docs.columns.contains(cc),
      s"corpus report: charset column '$cc' absent from " +
        s"${docs.columns.mkString(", ")} — pass charsetCol = None to omit"))
    declaredDupCol.foreach(dc => require(docs.columns.contains(dc),
      s"corpus report: declared-dup column '$dc' absent from " +
        s"${docs.columns.mkString(", ")} — pass declaredDupCol = None to omit"))
    Seq(imageKeepCol, audioKeepCol).flatten.foreach(kc =>
      require(docs.columns.contains(kc),
        s"corpus report: gate-verdict column '$kc' absent from " +
          s"${docs.columns.mkString(", ")} — pass None to omit"))
    val optCols =
      (langCol.toSeq ++ charsetCol ++ declaredDupCol ++ imageKeepCol ++
        audioKeepCol).map(col)
    // widen: every metric below tokenizes/regex-scans per doc, and a
    // one-row-group corpus scan would serialize that on one core (no-op
    // at scale — Sources.widen checks the width).
    // Cached (r22): FOUR consumers read the widened+tokenized base — the
    // fused agg, the line scan, the boilerplate-gram scan and the span
    // postings. Uncached, each re-paid the widen exchange AND the
    // tokenize; cached, the corpus is tokenized ONCE and the three
    // own-grain scans read the materialized columns (Graft.registerCache:
    // session-releasable, never persisted across runs).
    val base = graft.Graft.registerCache(
      graft.sources.Sources.widen(docs, col(idCol))
        .select(Seq(col(idCol), col(textCol).as("_text"),
          TF.tokens(col(textCol)).as("_toks")) ++ optCols: _*))

    // ---- ONE wide aggregation for every row-local metric (r21): the
    // prior shape ran one aggregation JOB per metric — up to ten corpus
    // scans (each re-tokenizing, and each re-running the gate-verdict
    // joins) for one ~12-row report. Every count/sum below is the SAME
    // aggregate the per-metric aggs computed, and the ratios are spelled
    // identically over the fused row, so values are bit-identical; only
    // the pass count changes (one corpus agg + the three own-grain scans
    // below instead of ten).
    val fusedAggs = Seq(
      count(lit(1)).as("_n"),
      countDistinct(md5(TF.normalizeText(col("_text")))).as("_nfp"),
      coalesce(sum(size(col("_toks"))), lit(0L)).as("_tot"),
      sum(TF.qualityGrid(col("_text")).cast("long")).as("_sumq")) ++
      langCol.map(lc =>
        sum(when(col(lc) =!= TF.langPredict(col("_toks")), 1L)
          .otherwise(0L)).as("_lmiss")) ++
      charsetCol.map(cc =>
        sum(when(col(cc).isNotNull && lower(col(cc)) =!= "utf-8", 1L)
          .otherwise(0L)).as("_nonutf")) ++
      declaredDupCol.map(dc =>
        sum(when(col(dc) === true, 1L).otherwise(0L)).as("_decl")) ++
      imageKeepCol.map(kc =>
        // NULL keep = decode failure = dropped
        sum(when(col(kc) === true, 0L).otherwise(1L)).as("_imgdrop")) ++
      audioKeepCol.map(kc =>
        sum(when(col(kc) === true, 0L).otherwise(1L)).as("_auddrop"))
    val fused = base.agg(fusedAggs.head, fusedAggs.tail: _*)

    // The three metrics with their own GRAIN keep their own scan: line
    // grain (q82's), duplicate spans (q87's), boilerplate grams (q85's).
    // explode_outer (the MinHash.shingleRows dodge): plain explode infers
    // a size()>0 filter re-running the split per doc interpreted.
    val lines = base
      .select(explode_outer(split(col("_text"), "\n")).as("_line"))
      .filter(col("_line").isNotNull)
      .agg(count(lit(1)).as("_nlines"), countDistinct(col("_line")).as("_ndl"))
    // Span postings read the cached base's token column (postingsOf) —
    // the composition is dupSpans' exactly (same tokens expression, same
    // dup rule, same merge), minus its second tokenize pass.
    val sp = SpanDedup.postingsOf(base, idCol, col("_toks"), n)
    val spanToks = SpanDedup.mergeSpans(
        sp.join(SpanDedup.dupGrams(sp, idCol), Seq("h"), "left_semi"), idCol, n)
      .agg(coalesce(sum(col("span_tokens")), lit(0L)).as("_dup"))
    // explode_outer + null filter (the shingleRows dodge): grams are
    // concat_ws output, never null.
    val boiler = base.select(col(idCol),
        explode_outer(TF.wordNgrams(col("_toks"), n)).as("_gram"))
      .filter(col("_gram").isNotNull).distinct()
      .groupBy(col("_gram")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= 2)
      .agg(count(lit(1)).as("_nboiler"))

    // One row holding every ingredient (1×1×1×1 cross joins), one
    // map-explode to (metric, value) — a single job computes the report.
    val entries: Seq[(String, Column)] = Seq(
      "n_docs" -> coalesce(col("_n").cast("double"), lit(0.0)),
      "n_tokens" -> col("_tot").cast("double"),
      "exact_dup_docs" -> (col("_n") - col("_nfp")).cast("double"),
      "dup_line_frac" ->
        r4((col("_nlines") - col("_ndl")) * lit(1.0) / col("_nlines")),
      "span_dup_token_frac" -> r4(col("_dup") * lit(1.0) / col("_tot")),
      "boilerplate_grams" -> col("_nboiler").cast("double"),
      "mean_quality" ->
        r4(col("_sumq") * lit(1.0) / (col("_n") * lit(10000L)))) ++
      langCol.map(_ => "langid_mismatch_frac" ->
        r4(col("_lmiss") * lit(1.0) / col("_n"))) ++
      charsetCol.map(_ => "non_utf8_frac" ->
        r4(col("_nonutf") * lit(1.0) / col("_n"))) ++
      declaredDupCol.map(_ => "declared_dup_frac" ->
        r4(col("_decl") * lit(1.0) / col("_n"))) ++
      imageKeepCol.map(_ => "image_gate_drop_frac" ->
        r4(col("_imgdrop") * lit(1.0) / col("_n"))) ++
      audioKeepCol.map(_ => "audio_gate_drop_frac" ->
        r4(col("_auddrop") * lit(1.0) / col("_n")))
    fused.crossJoin(lines).crossJoin(spanToks).crossJoin(boiler)
      .select(explode(map(
        entries.flatMap { case (k, v) => Seq(lit(k), v) }: _*))
        .as(Seq("metric", "value")))
      .orderBy(col("metric"))
  }

  /** q85's corpus-global boilerplate heavy hitters: the top `topN` exact
    * `n`-token grams by DOCUMENT frequency (a gram repeated inside one
    * doc is q70's business), at least `minDocFreq`, with the full
    * deterministic tiebreak (doc_freq DESC, gram). Distinct (doc, gram)
    * rows feed a map-side-combined count, and the ORDER BY + LIMIT plans
    * as TakeOrderedAndProject — no global sort.
    */
  def boilerplateGrams(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minDocFreq: Int = 2, topN: Int = 25): DataFrame =
    // explode_outer + null filter: the MinHash.shingleRows dodge.
    // widen: per-doc tokenize+n-grams before the first exchange (r22
    // re-A/B, driver-shaped subset: 0.64 s widened vs 1.50 s without).
    graft.sources.Sources.widen(docs, col(idCol))
      .select(col(idCol),
        explode_outer(TF.wordNgrams(TF.tokens(col(textCol)), n)).as("gram"))
      .filter(col("gram").isNotNull)
      .distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") >= minDocFreq)
      .orderBy(col("doc_freq").desc, col("gram"))
      .limit(topN)
}
