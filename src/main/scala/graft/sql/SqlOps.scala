package graft.sql

/** SQL spellings of the relational core — SCD2 merge, dedup-latest,
  * quarantine — each a single `spark.sql`-runnable SELECT whose result (and
  * optimized plan, modulo expression ids) is identical to the Column API
  * (spec-enforced per statement: SqlSurfaceSpec).
  *
  * The reference does exactly these operations in SQL: two `MERGE INTO`
  * statements per silver table (reference:
  * 4_silver/silver_transactions.py:124,153 — expire changed current rows,
  * then insert new current versions) plus windowed dedup on the staged batch
  * (reference: 4_silver/silver_transactions.py:108-118). A notebook-first
  * consumer should not have to leave SQL for these, so each gets a
  * generator here.
  *
  * Why generators returning SELECT text, not a parsed MERGE: open-source
  * Spark over parquet has no transactional MERGE target (the reference gets
  * that from Delta), so the same upsert is spelled as a pure SELECT that
  * produces the POST-merge table; the caller publishes it atomically
  * ([[graft.sources.Sinks.overwriteAtomic]], or
  * [[graft.sources.VersionedTable.overwrite]] as one commit). Rows
  * are identical to the reference's expire+insert pair, with one deliberate
  * fix kept from [[graft.ops.Scd2.merge]]: change detection is null-safe
  * (`<=>`), where the reference's `<>` predicate silently treats NULL
  * attribute transitions as "unchanged".
  *
  * Generated statements interpolate caller-supplied table/column names and
  * SQL fragments verbatim — callers own those strings (same trust model as
  * writing the SQL by hand); column names are backtick-quoted.
  */
object SqlOps {

  private def bt(c: String): String = s"`$c`"

  /** A string as a safe SQL literal: single quotes doubled (the ANSI
    * escape both Spark and DuckDB accept) — values spliced into generated
    * SQL (blocklists, class labels) must never break the statement.
    */
  private def lit(v: String): String = "'" + v.replace("'", "''") + "'"

  /** One row per key — the first under `orderSql` (include a unique
    * tiebreak, e.g. `"ts DESC, event_id DESC"`). SQL twin of
    * [[graft.ops.Dedup.latestPerKey]]: same window + `row_number`, one hash
    * shuffle on the key, rank and filter partition-local.
    */
  def dedupLatestSql(table: String, keys: Seq[String], orderSql: String): String = {
    val part = keys.map(bt).mkString(", ")
    s"""SELECT * EXCEPT (_graft_rn) FROM (
       |  SELECT *, row_number() OVER (PARTITION BY $part ORDER BY $orderSql) AS _graft_rn
       |  FROM $table
       |) WHERE _graft_rn = 1""".stripMargin
  }

  /** A named quarantine rule as a SQL predicate (true = failed). SQL twin of
    * [[graft.ops.Quality.Rule]].
    */
  final case class SqlRule(name: String, failedSql: String)

  /** Adds `is_quarantined` / `quarantine_reason` exactly as
    * [[graft.ops.Quality.quarantine]] does — rows are flagged and routable,
    * never dropped. One codegen'd projection; the split is a WHERE on the
    * result (or use [[quarantineSplitSql]]).
    */
  def quarantineSql(table: String, rules: Seq[SqlRule]): String = {
    val preds = rules.map(r => s"(${r.failedSql})")
    val reason = rules.map(r => s"CASE WHEN (${r.failedSql}) THEN '${r.name}' END")
      .mkString("concat_ws(';', ", ", ", ")")
    s"""SELECT *,
       |  ${preds.mkString(" OR ")} AS is_quarantined,
       |  CASE WHEN length($reason) = 0 THEN NULL ELSE $reason END AS quarantine_reason
       |FROM $table""".stripMargin
  }

  /** One side of [[graft.ops.Quality.split]] as a single statement. */
  def quarantineSplitSql(table: String, rules: Seq[SqlRule], quarantined: Boolean): String = {
    val cond = if (quarantined) "is_quarantined" else "NOT is_quarantined"
    s"SELECT * FROM (\n${quarantineSql(table, rules)}\n) WHERE $cond"
  }

  /** One incremental SCD2 merge step as a single SELECT producing the
    * post-merge table. SQL twin of [[graft.ops.Scd2.merge]] — semantics of
    * the reference's two MERGEs (expire changed current rows, insert new
    * current versions), null-safe change detection.
    *
    * `existing` carries (`keys`, `attrs`, `valid_from`, `valid_to`,
    * `is_current`); `staged` carries (`keys`, `attrs`) with at most one row
    * per key (dedupe upstream with [[dedupLatestSql]], as the reference
    * does). Keys must be non-null (a NULL key never matches an equality
    * join — same contract as the Column API). Output columns are
    * `keys ++ attrs ++ (valid_from, valid_to, is_current)`.
    */
  def scd2MergeSql(
      existing: String,
      staged: String,
      keys: Seq[String],
      attrs: Seq[String],
      asOfSql: String): String = {
    val k0 = bt(keys.head)
    val outCols = (keys ++ attrs).map(bt)
    val joinOn = keys.map(k => s"t.${bt(k)} = s.${bt(k)}").mkString(" AND ")
    val changed = attrs.map(a => s"NOT (t.${bt(a)} <=> s.${bt(a)})").mkString("(", " OR ", ")")
    val asOf = s"CAST($asOfSql AS TIMESTAMP)"
    s"""WITH _cur AS (SELECT * FROM $existing WHERE is_current),
       |_expired AS (
       |  SELECT ${outCols.map(c => s"t.$c").mkString(", ")}, t.valid_from,
       |    CASE WHEN s.$k0 IS NOT NULL AND $changed THEN $asOf ELSE t.valid_to END AS valid_to,
       |    CASE WHEN s.$k0 IS NOT NULL AND $changed THEN false ELSE t.is_current END AS is_current
       |  FROM _cur t LEFT JOIN $staged s ON $joinOn),
       |_inserts AS (
       |  SELECT ${outCols.map(c => s"s.$c").mkString(", ")}, $asOf AS valid_from,
       |    CAST(NULL AS TIMESTAMP) AS valid_to, true AS is_current
       |  FROM $staged s LEFT JOIN _cur t ON $joinOn
       |  WHERE t.$k0 IS NULL OR $changed)
       |SELECT ${outCols.mkString(", ")}, valid_from, valid_to, is_current
       |FROM $existing WHERE NOT is_current
       |UNION ALL SELECT * FROM _expired
       |UNION ALL SELECT * FROM _inserts""".stripMargin
  }

  // ---- B-block spellings (require SqlFunctions.register for graft_*) ----

  /** SQL twin of [[graft.text.Decontaminate.hits]]: per-document count of
    * distinct word `n`-grams shared with the eval side (`evalPredSql` true
    * = benchmark row). Same shape as the Column plan: one tokenize+explode
    * pass, the eval-gram set distinct'd and BROADCAST (benchmarks are
    * MBs by nature), the only shuffle the per-doc distinct-agg. Needs
    * `graft_tokens`/`graft_word_ngrams` ([[SqlFunctions.register]]).
    */
  def decontaminateSql(table: String, idCol: String, textCol: String,
      evalPredSql: String, n: Int): String = {
    val (id, txt) = (bt(idCol), bt(textCol))
    s"""WITH _a AS (
       |  SELECT $id, ($evalPredSql) AS _is_eval,
       |    graft_word_ngrams(graft_tokens($txt), $n) AS _grams
       |  FROM $table),
       |-- UDF in a projection, exploded as a plain column: Spark rejects a
       |-- SQL UDF directly inside a Generate (UNSUPPORTED_SQL_UDF_USAGE)
       |_g AS (SELECT $id, _is_eval, explode(_grams) AS gram FROM _a),
       |_ev AS (SELECT DISTINCT gram FROM _g WHERE _is_eval)
       |SELECT /*+ BROADCAST(_ev) */ $id, count(DISTINCT gram) AS n_hits
       |FROM _g JOIN _ev USING (gram)
       |WHERE NOT _is_eval
       |GROUP BY $id""".stripMargin
  }

  /** SQL twin of q70's Gopher-style repetition signals — duplicate-word
    * fraction and most-repeated-bigram coverage, verdicts spelled as
    * INTEGER cross-multiplications (bit-identical across engines, no float
    * threshold), all doc-local (pure map, zero shuffle). Thresholds are
    * q70's calibrated 13/20 (~p80) and 2/25 (~p95).
    */
  def repetitionSql(table: String, idCol: String, textCol: String): String = {
    val (id, txt) = (bt(idCol), bt(textCol))
    s"""WITH _t AS (SELECT $id, graft_tokens($txt) AS toks FROM $table),
       |_m AS (SELECT $id,
       |    cast(size(toks) AS BIGINT) AS n_tokens,
       |    cast(size(array_distinct(toks)) AS BIGINT) AS n_types,
       |    graft_max_run_count(graft_word_bigrams(toks)) AS top_bigram_cnt
       |  FROM _t)
       |SELECT $id, n_tokens, n_types, top_bigram_cnt,
       |  CASE WHEN (n_tokens - n_types) * 20 > n_tokens * 13
       |         OR top_bigram_cnt * 25 > n_tokens * 2
       |  THEN 1L ELSE 0L END AS repetitive
       |FROM _m""".stripMargin
  }

  /** SQL SEMANTIC spelling of [[graft.ops.ShardPack.assign]]: shard =
    * global running weight total before this row, integer-`div`d by the
    * budget. The single global window here is the DEFINITION (one
    * partition — fine for notebook exploration at moderate scale); a
    * 100 TB run must go through ShardPack's two-phase distributed prefix
    * sum instead, which produces identical rows (spec-pinned).
    */
  def shardPackSql(table: String, idCol: String, weightCol: String,
      budget: Long): String = {
    require(budget > 0, s"budget must be positive, got $budget")
    val (id, wc) = (bt(idCol), bt(weightCol))
    s"""SELECT $id, $wc,
       |  coalesce(sum($wc) OVER (ORDER BY $id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L)
       |    div ${budget}L AS shard_id
       |FROM $table""".stripMargin
  }

  /** SQL twin of q113 / [[graft.ops.SequencePack.manifest]]: the
    * definitional global-window prefix sum (the [[shardPackSql]]
    * spelling — rows identical to the distributed two-phase form,
    * spec-pinned) + a per-doc sequence explode; exact integer arithmetic.
    */
  def sequencePackSql(table: String, idCol: String, weightCol: String,
      seqLen: Long): String = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val (id, wc) = (bt(idCol), bt(weightCol))
    s"""WITH _c AS (SELECT $id, $wc,
       |    coalesce(sum($wc) OVER (ORDER BY $id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L) AS _gs
       |  FROM $table),
       |_e AS (SELECT $id, _gs, _gs + $wc AS _ge FROM _c WHERE $wc > 0),
       |_x AS (SELECT $id, _gs, _ge,
       |    explode(sequence(_gs div ${seqLen}L, (_ge - 1L) div ${seqLen}L)) AS seq_id
       |  FROM _e)
       |SELECT seq_id, $id,
       |  greatest(seq_id * ${seqLen}L - _gs, 0L) AS doc_offset,
       |  greatest(_gs - seq_id * ${seqLen}L, 0L) AS seq_offset,
       |  least(_ge, seq_id * ${seqLen}L + ${seqLen}L)
       |    - greatest(_gs, seq_id * ${seqLen}L) AS len
       |FROM _x""".stripMargin
  }

  /** SQL twin of q115's deterministic corpus shuffle
    * ([[graft.ops.SequencePack.shuffled]]): the identical manifest
    * arithmetic as [[sequencePackSql]], but the cumsum orders by
    * `graft_hash60(seed ‖ '|' ‖ id)` with ties on the id — the seeded,
    * replayable permutation. The window is the DEFINITIONAL spelling;
    * the Column face runs the distributed hash-space prefix sum
    * (row-equal, spec-pinned).
    */
  def corpusShuffleSql(table: String, idCol: String, weightCol: String,
      seqLen: Long, seed: String): String = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val (id, wc) = (bt(idCol), bt(weightCol))
    val h = s"graft_hash60(concat_ws('|', ${lit(seed)}, CAST($id AS STRING)))"
    s"""WITH _c AS (SELECT $id, $wc,
       |    coalesce(sum($wc) OVER (ORDER BY $h, $id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L) AS _gs
       |  FROM $table),
       |_e AS (SELECT $id, _gs, _gs + $wc AS _ge FROM _c WHERE $wc > 0),
       |_x AS (SELECT $id, _gs, _ge,
       |    explode(sequence(_gs div ${seqLen}L, (_ge - 1L) div ${seqLen}L)) AS seq_id
       |  FROM _e)
       |SELECT seq_id, $id,
       |  greatest(seq_id * ${seqLen}L - _gs, 0L) AS doc_offset,
       |  greatest(_gs - seq_id * ${seqLen}L, 0L) AS seq_offset,
       |  least(_ge, seq_id * ${seqLen}L + ${seqLen}L)
       |    - greatest(_gs, seq_id * ${seqLen}L) AS len
       |FROM _x""".stripMargin
  }

  /** SQL twin of q118's sequence-composition report: the
    * [[sequencePackSql]] manifest + the per-sequence rollup (docs,
    * boundaries, span extremes, full flag).
    */
  def packStatsSql(table: String, idCol: String, weightCol: String,
      seqLen: Long): String =
    s"""WITH _m AS (${sequencePackSql(table, idCol, weightCol, seqLen)})
       |SELECT seq_id, count(*) AS n_docs, count(*) - 1L AS n_boundaries,
       |  max(len) AS max_span, min(len) AS min_span,
       |  sum(len) = ${seqLen}L AS full
       |FROM _m GROUP BY seq_id""".stripMargin

  /** SQL twin of q120's EOS pack — the WHOLE assembly in one statement
    * over a table of (id, tokens array<int>): append the separator
    * (`eosId` per doc, empty docs included — a boundary is information),
    * definitional window cumsum, per-doc sequence explode, list-slice,
    * seq_offset-ordered flatten, full sequences only. Output =
    * (seq_id, tokens) — the exact frame
    * `TokenShards.fullSequences(assemble(withEos(...), manifest))`
    * produces, spec-pinned. The Column face runs the distributed
    * hash-bucketed prefix sum; this window is the definitional spelling.
    */
  def eosPackSql(table: String, idCol: String, tokensCol: String,
      eosId: Int, seqLen: Long): String = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val (id, tc) = (bt(idCol), bt(tokensCol))
    s"""WITH _d AS (SELECT $id, concat($tc, array($eosId)) AS _toks FROM $table),
       |_c AS (SELECT $id, _toks, CAST(size(_toks) AS BIGINT) AS _w,
       |    coalesce(sum(CAST(size(_toks) AS BIGINT)) OVER (ORDER BY $id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L) AS _gs
       |  FROM _d),
       |_e AS (SELECT *, _gs + _w AS _ge FROM _c WHERE _w > 0),
       |_x AS (SELECT $id, _toks, _gs, _ge,
       |    explode(sequence(_gs div ${seqLen}L, (_ge - 1L) div ${seqLen}L)) AS seq_id
       |  FROM _e),
       |_p AS (SELECT seq_id,
       |    greatest(_gs - seq_id * ${seqLen}L, 0L) AS seq_offset,
       |    slice(_toks,
       |      CAST(greatest(seq_id * ${seqLen}L - _gs, 0L) + 1L AS INT),
       |      CAST(least(_ge, seq_id * ${seqLen}L + ${seqLen}L)
       |        - greatest(_gs, seq_id * ${seqLen}L) AS INT)) AS _piece
       |  FROM _x)
       |SELECT seq_id, tokens FROM (
       |  SELECT seq_id, flatten(transform(
       |      array_sort(collect_list(struct(seq_offset, _piece))),
       |      s -> s._piece)) AS tokens
       |  FROM _p GROUP BY seq_id)
       |WHERE size(tokens) = ${seqLen}L""".stripMargin
  }

  /** SQL twin of q121's epoch plan ([[graft.sources.TokenShards.epochPlan]]):
    * per-epoch seeded `graft_hash60` permutation of the sequence ids
    * (definitional row_number window vs the distributed hash-space prefix
    * sum — row-equal, spec-pinned) + the i22 shard address arithmetic.
    * `widthBytes` = 4 (i4) or 2 (u2).
    */
  def epochPlanSql(table: String, seqIdCol: String, epochs: Int,
      seed: String, seqLen: Int, seqsPerShard: Int, widthBytes: Int): String = {
    require(epochs >= 1, s"epochs must be >= 1, got $epochs")
    require(widthBytes == 2 || widthBytes == 4,
      s"widthBytes must be 2 (u2) or 4 (i4), got $widthBytes")
    val id = bt(seqIdCol)
    val h = s"graft_hash60(concat_ws('|', ${lit(seed)}, CAST(_e.epoch AS STRING), CAST($id AS STRING)))"
    s"""WITH _ep AS (SELECT _e.epoch, $id AS seq_id, $h AS _h
       |  FROM $table CROSS JOIN (
       |    SELECT explode(sequence(0L, ${epochs - 1}L)) AS epoch) _e)
       |SELECT epoch,
       |  CAST(row_number() OVER (PARTITION BY epoch ORDER BY _h, seq_id) - 1 AS BIGINT)
       |    AS position,
       |  seq_id,
       |  seq_id div ${seqsPerShard}L AS shard,
       |  32L + (seq_id % ${seqsPerShard}L) * ${seqLen}L * ${widthBytes}L AS byte_offset
       |FROM _ep""".stripMargin
  }

  /** SQL twin of q82's line-level exact dedup
    * ([[graft.text.LineDedup.dedupRollup]]): delimiter-split lines,
    * corpus-wide first-occurrence-wins over line hashes (per-hash
    * `min(struct(id, line_idx))` + join-back, NOT a row_number window —
    * a boilerplate line's duplicate count is corpus-scale and a window
    * partition is one task's buffer; the min-struct agg shrinks the hot
    * key map-side, exactly as the Column spelling), per-doc rollup with
    * the surviving text reassembled IN ORDER (array_sort over
    * (line_idx, line) structs — collect_list alone has no order
    * guarantee, exactly as in the Column spelling). `delimRegex` is
    * embedded as a SQL string literal — callers own escaping (same trust
    * model as the other generators).
    */
  def lineDedupSql(table: String, idCol: String, textCol: String,
      delimRegex: String = "\\n"): String = {
    val (id, txt) = (bt(idCol), bt(textCol))
    s"""WITH _l0 AS (
       |  SELECT $id, posexplode(split($txt, '$delimRegex')) AS (line_idx, _raw)
       |  FROM $table),
       |_l AS (SELECT $id, line_idx, trim(_raw) AS line
       |  FROM _l0 WHERE length(trim(_raw)) > 0),
       |_h AS (SELECT *, md5(line) AS _lh FROM _l),
       |_f AS (SELECT _lh, min(struct($id, line_idx)) AS _first
       |  FROM _h GROUP BY _lh),
       |_k AS (SELECT _h.$id, _h.line_idx, _h.line,
       |    struct(_h.$id, _h.line_idx) = _f._first AS kept
       |  FROM _h JOIN _f ON _h._lh = _f._lh)
       |SELECT $id, count(*) AS n_lines,
       |  sum(CASE WHEN kept THEN 1L ELSE 0L END) AS n_kept,
       |  round(sum(CASE WHEN kept THEN 1L ELSE 0L END) * 1.0 / count(*), 4)
       |    AS kept_frac,
       |  CASE WHEN sum(CASE WHEN kept THEN 1L ELSE 0L END) > 0
       |    THEN md5(concat_ws('\\n', transform(
       |      array_sort(collect_list(CASE WHEN kept
       |        THEN struct(line_idx, line) END)),
       |      x -> x.line))) END AS surviving_fp
       |FROM _k GROUP BY $id""".stripMargin
  }

  /** SQL twin of q81's mixture balancing: every stratum downsampled to the
    * rarest one's size, deterministically. Stratum counts and thresholds
    * derive IN-PLAN (two tiny aggregations + a scalar subquery) instead of
    * q81's driver round-trip — same integer arithmetic
    * (`floor(n_min·10^6 / n_s)` via `div`), same shuffle-free hash-compare
    * keep decision, so rows are identical (spec-pinned). Output: all of
    * `table`'s columns for surviving rows. Needs `graft_hash60`.
    */
  def mixtureSampleSql(table: String, idCol: String, stratumCol: String): String = {
    val (id, st) = (bt(idCol), bt(stratumCol))
    s"""WITH _c0 AS (SELECT $st AS _s, count(*) AS _n FROM $table GROUP BY $st),
       |-- NULL stratum fails fast (mirrors the Column/streaming twins): it
       |-- would tighten every named stratum's threshold via min(_n) while
       |-- its own rows never equality-join below.
       |_c AS (SELECT CASE WHEN _s IS NULL THEN raise_error(
       |    'mixture stratum is NULL — assign or quarantine upstream before balancing')
       |  ELSE _s END AS _s, _n FROM _c0),
       |_m AS (SELECT min(_n) AS _n_min FROM _c),
       |_t AS (SELECT _s, (SELECT _n_min FROM _m) * 1000000L div _n AS _thr FROM _c)
       |SELECT t.* FROM $table t JOIN _t ON t.$st = _t._s
       |WHERE pmod(graft_hash60(cast(t.$id AS STRING)), 1000000L) < _t._thr""".stripMargin
  }

  /** SQL twin of q102's URL curation over a table carrying a raw URL
    * column: canonicalize (the session's `graft_url_canon` — register via
    * [[SqlFunctions.register]]) → domain blocklist → per-domain rank cap.
    * `orderSql` is the cap's ORDER BY body (include a unique tiebreak).
    * Output mirrors the catalog query: (idCol, domain, url, rn).
    */
  def urlCurateSql(table: String, idCol: String, urlCol: String,
      orderSql: String, blocklist: Seq[String], k: Int): String = {
    val (id, u) = (bt(idCol), bt(urlCol))
    // empty blocklist → no filter (NOT IN () is a parse error); embedded
    // quotes in a domain must not break the statement
    val blFilter =
      if (blocklist.isEmpty) ""
      else s" WHERE domain NOT IN (${blocklist.map(lit).mkString(", ")})"
    s"""WITH _c AS (
       |  SELECT t.*, graft_url_canon($u) AS _url,
       |         graft_url_domain(graft_url_canon($u)) AS domain
       |  FROM $table t
       |), _k AS (
       |  SELECT *, row_number() OVER (PARTITION BY domain ORDER BY $orderSql) AS rn
       |  FROM _c$blFilter
       |)
       |SELECT $id, domain, _url AS url, rn FROM _k WHERE rn <= $k""".stripMargin
  }

  /** SQL twin of [[graft.ops.GapFill.dense]]: per-key calendar densify +
    * zero-fill + LOCF. Same shape as the Column plan — the calendar is
    * `sequence(min, max)` PER KEY (row count = keys × their own span,
    * never a global calendar cross join), the span guard rides the
    * calendar `CASE` (unprunable, free on clean data, raises a named
    * error carrying the poisoned key), and LOCF windows the PRE-coalesce
    * value so a true 0.0 observation and a filled gap stay distinct.
    * Output: `keyCol`, `dayCol` (DATE), `valCol` zero-filled,
    * `<valCol>_locf`.
    */
  def gapFillSql(table: String, keyCol: String, dayCol: String, valCol: String,
      maxSpanDays: Int = 3700): String = {
    require(maxSpanDays > 0, s"maxSpanDays must be positive, got $maxSpanDays")
    val (k, dy, v) = (bt(keyCol), bt(dayCol), bt(valCol))
    val locf = bt(valCol + "_locf")
    s"""WITH _r AS (SELECT $k, min($dy) AS _lo, max($dy) AS _hi
       |  FROM $table GROUP BY $k),
       |_cal AS (SELECT $k, explode(
       |    CASE WHEN datediff(_hi, _lo) > $maxSpanDays
       |      THEN raise_error(concat('gap_fill: key ', CAST($k AS STRING),
       |        ' spans ', CAST(datediff(_hi, _lo) AS STRING),
       |        ' days (> max $maxSpanDays) from ', CAST(_lo AS STRING),
       |        ' — corrupt timestamp?'))
       |      ELSE sequence(_lo, _hi) END) AS $dy
       |  FROM _r)
       |SELECT c.$k, c.$dy,
       |  coalesce(t.$v, 0.0d) AS $v,
       |  last(t.$v, true) OVER (PARTITION BY c.$k ORDER BY c.$dy
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS $locf
       |FROM _cal c LEFT JOIN $table t ON c.$k = t.$k AND c.$dy = t.$dy""".stripMargin
  }

  /** SQL twin of [[graft.ops.Baskets.copurchaseTopN]]: same map-side
    * C(maxBasket, 2) pair expansion AFTER the per-basket aggregation
    * (sorted-set slice, deterministic keep-smallest truncation — never a
    * basket self-join), pair-support count, top-N with the full
    * deterministic tiebreak. The ORDER BY + LIMIT plans as
    * TakeOrderedAndProject — per-partition top-N, no global sort.
    */
  /** The C(n,2) ordered-pair expansion over a sorted set column — ONE
    * definition of [[graft.ops.Baskets.pairs]]' map-side expansion shared
    * by [[copurchaseTopNSql]] and [[sourceOverlapSql]], so the 1-based
    * slice arithmetic can't drift between spellings.
    */
  private def pairExpansionSql(psCol: String, aName: String, bName: String): String =
    s"""explode(flatten(transform($psCol, (a, i) ->
       |    transform(slice($psCol, i + 2, size($psCol)),
       |      b -> struct(a AS $aName, b AS $bName)))))""".stripMargin

  def copurchaseTopNSql(table: String, basketCol: String, itemCol: String,
      topN: Int, maxBasket: Int = 256): String = {
    require(topN >= 1, s"topN must be positive, got $topN")
    require(maxBasket >= 2, s"maxBasket must be >= 2, got $maxBasket")
    val (bk, it) = (bt(basketCol), bt(itemCol))
    s"""WITH _b AS (SELECT $bk,
       |    slice(array_sort(collect_set($it)), 1, $maxBasket) AS _ps
       |  FROM $table GROUP BY $bk),
       |_p AS (SELECT ${pairExpansionSql("_ps", "item_a", "item_b")} AS _pr
       |  FROM _b)
       |SELECT _pr.item_a AS item_a, _pr.item_b AS item_b,
       |  count(*) AS n_baskets
       |FROM _p GROUP BY 1, 2
       |ORDER BY n_baskets DESC, item_a, item_b
       |LIMIT $topN""".stripMargin
  }

  /** SQL twin of [[graft.queries.TextQueries.sourceOverlap]] (q83): the
    * cross-source n-gram overlap matrix. Same scale shape — distinct
    * (gram, source) rows, per-gram source-SET pairing (candidate volume
    * Σ_gram C(df_src, 2), bounded by the source catalog, never doc
    * pairs), broadcast per-source vocabulary counts. The SQL spelling
    * needs no basket cap at all: a gram's basket IS its source set,
    * catalog-bounded by construction, and `collect_set` holds it exactly
    * — matching the Column side's derived (uncapped-in-effect) cap.
    * Needs `graft_tokens`/`graft_word_ngrams` ([[SqlFunctions.register]]).
    */
  def sourceOverlapSql(table: String, sourceCol: String, textCol: String,
      n: Int = 8): String = {
    require(n >= 1, s"n must be positive, got $n")
    val (src, txt) = (bt(sourceCol), bt(textCol))
    s"""WITH _a AS (SELECT
       |    CASE WHEN $src IS NULL THEN raise_error(
       |      'source_overlap: source is NULL — assign or quarantine upstream')
       |    ELSE $src END AS _src,
       |    graft_word_ngrams(graft_tokens($txt), $n) AS _grams
       |  FROM $table),
       |-- UDF in a projection, exploded as a plain column (a SQL UDF
       |-- directly under a Generate is UNSUPPORTED_SQL_UDF_USAGE)
       |_g0 AS (SELECT _src, explode(_grams) AS _gram FROM _a),
       |_g AS (SELECT DISTINCT _src, _gram FROM _g0),
       |_c AS (SELECT _src, count(*) AS _n FROM _g GROUP BY _src),
       |_b AS (SELECT _gram, array_sort(collect_set(_src)) AS _ps
       |  FROM _g GROUP BY _gram),
       |_p AS (SELECT ${pairExpansionSql("_ps", "sa", "sb")} AS _pr
       |  FROM _b),
       |_n AS (SELECT _pr.sa AS source_a, _pr.sb AS source_b,
       |    count(*) AS n_shared
       |  FROM _p GROUP BY 1, 2)
       |SELECT /*+ BROADCAST(ca), BROADCAST(cb) */
       |  source_a, source_b, n_shared,
       |  round(n_shared * 1.0 / least(ca._n, cb._n), 4) AS overlap
       |FROM _n JOIN _c ca ON _n.source_a = ca._src
       |JOIN _c cb ON _n.source_b = cb._src""".stripMargin
  }

  /** SQL twin of [[graft.ops.AsOf.asofJoin]]: each left row picks up the
    * most recent right row with `rightTs <= leftTs` for its key (>=
    * semantics — a quote stamped exactly at the event time matches).
    * Same scale shape as the Column operator: union + one running
    * `last(ignoreNulls)` window per key — ONE hash shuffle, O(n log n)
    * per partition, no per-key row explosion (the naive theta join
    * materializes O(|l|·|r|) rows per key) — and the right values carry
    * as ONE struct, so a NULL field never stitches in from an older
    * quote. The SQL shape then joins the carried values back to the left
    * table on (key, ts): set-identical to the Column output, since every
    * left (key, ts) appears in the windowed union.
    *
    * The typed NULL struct on the left side of the union comes from an
    * empty scalar subquery over `right` — no caller-supplied type list.
    * Contract: `key` and both ts columns non-null (a NULL key never
    * equality-joins — same as the Column API's hash partitioning would
    * co-locate but the join-back here drops it; don't rely on NULL keys
    * either way); right rows unique per (key, ts), pre-aggregate
    * otherwise.
    *
    * `leftCols` = the left table's output columns (SQL generators can't
    * introspect schemas); `rightVals` = the right columns to carry.
    */
  /** SQL twin of q84's per-source adaptive quality cutoff: scores on the
    * tie-free integer grid (`graft_quality`'s value on qualityGrid's
    * `floor(score·1e4 + 0.5)` spelling), per-source p-quantile via
    * `approx_percentile` in its exact regime, catalog-sized cutoffs
    * broadcast back. Needs `graft_quality` ([[SqlFunctions.register]]).
    */
  /** SQL twin of q86 ([[graft.sim.Ann.semDedup]] over
    * [[graft.sim.Ann.planesFor]]-style fixed hyperplanes): SemDeDup-style
    * embedding dedup verdicts — per vector its hyperplane bucket, the
    * smallest-id earlier coverer at cosine ≥ `tau` (NULL when kept) and
    * the coverer count. The md5-sign hyperplane table and the cosine ride
    * the same spellings as the Column op (`graft_cosine` — needs
    * [[SqlFunctions.register]]), so results are value-identical.
    * `vecCol` is cast to ARRAY<DOUBLE> (accepts float embeddings).
    */
  def semDedupSql(table: String, idCol: String, vecCol: String,
      planes: Int = 8, tau: Double = 0.35): String = {
    require(planes >= 1 && planes <= 62, s"planes in [1,62], got $planes")
    require(tau > 0 && tau <= 1, s"tau in (0,1], got $tau")
    val (id, vc) = (bt(idCol), bt(vecCol))
    s"""WITH _v AS (SELECT $id AS _id, CAST($vc AS ARRAY<DOUBLE>) AS _vec
       |  FROM $table),
       |_ex AS (SELECT _id, pos, v FROM _v
       |  LATERAL VIEW posexplode(_vec) _t AS pos, v),
       |_sg AS (SELECT pos, j,
       |    CASE WHEN substring(md5(concat_ws('-', j, pos)), 1, 1) >= '8'
       |         THEN 1 ELSE -1 END AS sgn
       |  FROM (SELECT DISTINCT pos FROM _ex)
       |  LATERAL VIEW explode(sequence(0, ${planes - 1})) _tj AS j),
       |_bits AS (SELECT e._id, s.j, sum(e.v * s.sgn) AS s
       |  FROM _ex e JOIN _sg s ON e.pos = s.pos GROUP BY e._id, s.j),
       |_bk AS (SELECT _id, sum(CASE WHEN s > 0
       |    THEN shiftleft(CAST(1 AS BIGINT), j) ELSE CAST(0 AS BIGINT) END)
       |    AS bucket
       |  FROM _bits GROUP BY _id),
       |_eb AS (SELECT v._id, v._vec, b.bucket FROM _v v JOIN _bk b
       |  ON v._id = b._id),
       |_dr AS (SELECT b._id, min(a._id) AS dropped_by,
       |    count(*) AS n_coverers
       |  FROM _eb a JOIN _eb b ON a.bucket = b.bucket AND a._id < b._id
       |    AND graft_cosine(a._vec, b._vec) >= $tau
       |  GROUP BY b._id)
       |SELECT k._id AS $id, k.bucket, d.dropped_by,
       |  coalesce(d.n_coverers, CAST(0 AS BIGINT)) AS n_coverers
       |FROM _bk k LEFT JOIN _dr d ON k._id = d._id""".stripMargin
  }

  /** SQL twin of the MinHash-LSH candidate generator
    * ([[graft.text.MinHash]] shingles → k salted-min signature → r-row
    * bands → BUCKET-CAPPED distinct pairs): (id_a, id_b) with id_a <
    * id_b sharing any band value. The r10 bucket budget is a PARAMETER
    * here exactly as on the Column side — `maxBucket` defaults to
    * [[graft.text.MinHash.BucketCap]], callers override it or pass None
    * for exhaustive candidates on corpora known saturation-free (the
    * Column API's `MinHash.candidates(maxBucket = …)` contract). Same
    * scale shape: map-side-combinable band-bucket counts + a semi-join
    * back, never a window over the hot bucket. Needs `graft_tokens` /
    * `graft_word_bigrams` / `graft_hash60` ([[SqlFunctions.register]]).
    */
  /** Shared CTE scaffold: `_g0` shingles → `_sh` distinct → `_mh` salted
    * minhash → `_b0` band sums (the [[graft.text.MinHash]] pipeline up to
    * banding, spelled once for the candidate AND the over-cap-star faces).
    */
  private def minhashBandsCtes(table: String, idCol: String, textCol: String,
      k: Int, bandRows: Int): String = {
    require(k >= 1 && bandRows >= 1 && k % bandRows == 0,
      s"signature width $k must divide into bands of $bandRows rows")
    val (id, txt) = (bt(idCol), bt(textCol))
    // UDFs live in projections; explode consumes plain columns (a SQL UDF
    // directly under a Generate is UNSUPPORTED_SQL_UDF_USAGE).
    s"""WITH _g0 AS (SELECT $id AS _id,
       |    graft_word_bigrams(graft_tokens($txt)) AS _grams
       |  FROM $table),
       |_sh AS (SELECT DISTINCT _id, _s FROM (
       |  SELECT _id, explode(_grams) AS _s FROM _g0)),
       |_mh AS (SELECT _id, salt,
       |    min(graft_hash60(concat_ws('|', salt, _s))) AS minh
       |  FROM _sh
       |  LATERAL VIEW explode(sequence(0, ${k - 1})) _t AS salt
       |  GROUP BY _id, salt),
       |_b0 AS (SELECT _id, CAST(salt / $bandRows AS INT) AS band,
       |    sum(minh) AS band_val
       |  FROM _mh GROUP BY _id, CAST(salt / $bandRows AS INT))""".stripMargin
  }

  /** @param includeOverCapStars also union [[minhashOverCapPairsSql]]'s
    *        star pairs (each >cap-bucket member × the bucket's min-id
    *        representative) into the candidate stream — the SQL spelling
    *        of `Curate.keepSet(overCapStars = true)`'s recall-cliff
    *        mitigation: a >cap near-dup clique saturates its own buckets
    *        and yields ZERO capped candidates, so without the stars every
    *        member survives curation. Star pairs are candidates like any
    *        other: run the same exact-similarity verify downstream.
    */
  def minhashCandidatesSql(table: String, idCol: String, textCol: String,
      k: Int = 16, bandRows: Int = 4,
      maxBucket: Option[Int] = Some(graft.text.MinHash.BucketCap),
      includeOverCapStars: Boolean = false): String = {
    maxBucket.foreach(c => require(c >= 1, s"maxBucket must be positive, got $c"))
    require(!includeOverCapStars || maxBucket.isDefined,
      "includeOverCapStars needs a maxBucket: an uncapped run has no over-cap buckets")
    val capped = if (maxBucket.isDefined) "_b" else "_b0"
    val capCtes = maxBucket.fold("") { cap =>
      s""",
         |_bc AS (SELECT band, band_val FROM _b0
         |  GROUP BY band, band_val HAVING count(*) <= $cap),
         |_b AS (SELECT b.* FROM _b0 b LEFT SEMI JOIN _bc c
         |  ON b.band = c.band AND b.band_val = c.band_val)""".stripMargin
    }
    val starCtes = if (!includeOverCapStars) "" else {
      val cap = maxBucket.get
      s""",
         |_hot AS (SELECT band, band_val, min(_id) AS _rep FROM _b0
         |  GROUP BY band, band_val HAVING count(*) > $cap)""".stripMargin
    }
    val starUnion = if (!includeOverCapStars) "" else {
      s"""
         |UNION
         |SELECT h._rep AS id_a, b._id AS id_b
         |FROM _b0 b JOIN _hot h
         |  ON b.band = h.band AND b.band_val = h.band_val AND b._id <> h._rep""".stripMargin
    }
    s"""${minhashBandsCtes(table, idCol, textCol, k, bandRows)}$capCtes$starCtes
       |SELECT DISTINCT id_a, id_b FROM (
       |SELECT a._id AS id_a, b._id AS id_b
       |FROM $capped a JOIN $capped b
       |  ON a.band = b.band AND a.band_val = b.band_val AND a._id < b._id$starUnion
       |)""".stripMargin
  }

  /** SQL twin of [[graft.text.MinHash.overCapPairs]] — the star-pair side
    * channel alone: each member of a >cap band bucket pairs with the
    * bucket's smallest id (id_a = the bucket min, so id_a < id_b always),
    * distinct across buckets, LINEAR in bucket size. Feed the same
    * exact-similarity verify as the candidate stream.
    */
  def minhashOverCapPairsSql(table: String, idCol: String, textCol: String,
      k: Int = 16, bandRows: Int = 4,
      cap: Int = graft.text.MinHash.BucketCap): String = {
    require(cap >= 1, s"cap must be positive, got $cap")
    s"""${minhashBandsCtes(table, idCol, textCol, k, bandRows)},
       |_hot AS (SELECT band, band_val, min(_id) AS _rep FROM _b0
       |  GROUP BY band, band_val HAVING count(*) > $cap)
       |SELECT DISTINCT h._rep AS id_a, b._id AS id_b
       |FROM _b0 b JOIN _hot h
       |  ON b.band = h.band AND b.band_val = h.band_val AND b._id <> h._rep""".stripMargin
  }

  def qualityCutoffSql(table: String, idCol: String, sourceCol: String,
      textCol: String, q: Double = 0.25,
      accuracy: Int = graft.queries.TextQueries.QualityCutoffExactAccuracy): String = {
    require(q > 0.0 && q < 1.0, s"q must be in (0,1), got $q")
    require(accuracy >= 1, s"accuracy must be positive, got $accuracy")
    val (id, src, txt) = (bt(idCol), bt(sourceCol), bt(textCol))
    s"""WITH _q AS (SELECT $id,
       |    CASE WHEN $src IS NULL THEN raise_error(
       |      'quality_cutoff: source is NULL — assign or quarantine upstream')
       |    ELSE $src END AS $src,
       |    CAST(floor(graft_quality($txt) * 10000 + 0.5) AS BIGINT) AS quality_grid
       |  FROM $table),
       |_c AS (SELECT $src, approx_percentile(quality_grid, $q, $accuracy)
       |    AS cutoff_grid
       |  FROM _q GROUP BY $src)
       |SELECT /*+ BROADCAST(_c) */ _q.$id, _q.$src, _q.quality_grid, _c.cutoff_grid
       |FROM _q JOIN _c ON _q.$src = _c.$src
       |WHERE _q.quality_grid >= _c.cutoff_grid""".stripMargin
  }

  /** SQL twin of q85's corpus-global boilerplate heavy hitters: top
    * `topN` exact `n`-token grams by DOCUMENT frequency, full
    * deterministic tiebreak, TakeOrderedAndProject shape. Needs
    * `graft_tokens`/`graft_word_ngrams`.
    */
  def boilerplateGramsSql(table: String, idCol: String, textCol: String,
      n: Int = 8, minDocFreq: Long = 2L, topN: Int = 25): String = {
    require(n >= 1 && topN >= 1 && minDocFreq >= 1, s"bad knobs: n=$n topN=$topN minDocFreq=$minDocFreq")
    val (id, txt) = (bt(idCol), bt(textCol))
    s"""WITH _a AS (SELECT $id, graft_word_ngrams(graft_tokens($txt), $n) AS _grams
       |  FROM $table),
       |_g0 AS (SELECT $id, explode(_grams) AS gram FROM _a),
       |_g AS (SELECT DISTINCT $id, gram FROM _g0)
       |SELECT gram, count(*) AS doc_freq
       |FROM _g GROUP BY gram HAVING count(*) >= $minDocFreq
       |ORDER BY doc_freq DESC, gram LIMIT $topN""".stripMargin
  }

  /** SQL twin of [[graft.ops.Graph.pageRank]] (sinks-absorb default):
    * `iters` synchronous rounds of the simplified update, UNROLLED into a
    * chain of CTEs — one per round. Spark's `WITH RECURSIVE` cannot spell
    * the per-round aggregation (recursive references are rejected inside
    * aggregates, INVALID_RECURSIVE_REFERENCE.PLACE — verified on this
    * build), and unrolling is exactly what the Column operator's lazy
    * composition does anyway: each round references the previous once, so
    * the plan is LINEAR in `iters` and Catalyst sees the same shape a
    * notebook would get from the API. Per round: edge⋈ranks⋈outdeg →
    * per-dst sum, LEFT JOIN back to the node set so rankless nodes hold
    * the (1-d)/n floor. Round `rank` downstream when comparing across
    * engines (float sum order).
    */
  def pageRankSql(edges: String, srcCol: String, dstCol: String,
      iters: Int, damping: Double = 0.85): String = {
    require(iters >= 0, s"iters must be non-negative, got $iters")
    require(damping >= 0.0 && damping <= 1.0, s"damping must be in [0,1], got $damping")
    val (sc, dc) = (bt(srcCol), bt(dstCol))
    val base = (1.0 - damping).toString
    val rounds = (1 to iters).map { i =>
      s"""_pr$i AS (SELECT n.node,
         |    ${base}d / (SELECT n FROM _nn)
         |      + ${damping}d * coalesce(c._contrib, 0.0d) AS rank
         |  FROM _nodes n LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.rank / d.outdeg) AS _contrib
         |    FROM _e e JOIN _pr${i - 1} p ON e.src = p.node
         |    JOIN _deg d ON d.src = e.src
         |    GROUP BY e.dst) c ON n.node = c.node)""".stripMargin
    }
    (Seq(
      s"""WITH _e AS (SELECT DISTINCT $sc AS src, $dc AS dst FROM $edges),
         |_nodes AS (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM _e UNION ALL SELECT dst FROM _e)),
         |_nn AS (SELECT cast(count(*) AS DOUBLE) AS n FROM _nodes),
         |_deg AS (SELECT src, cast(count(*) AS DOUBLE) AS outdeg FROM _e GROUP BY src),
         |_pr0 AS (SELECT node, 1.0d / (SELECT n FROM _nn) AS rank FROM _nodes)""".stripMargin
    ) ++ rounds).mkString(",\n") +
      s"\nSELECT node, rank FROM _pr$iters"
  }

  def asofJoinSql(left: String, right: String, key: String,
      leftTs: String, rightTs: String,
      leftCols: Seq[String], rightVals: Seq[String]): String = {
    require(leftCols.contains(key) && leftCols.contains(leftTs),
      s"leftCols must include the key and ts columns; got $leftCols")
    require(rightVals.nonEmpty, "rightVals must name at least one column to carry")
    val (k, lts, rts) = (bt(key), bt(leftTs), bt(rightTs))
    val vstruct = s"struct(${rightVals.map(bt).mkString(", ")})"
    val outVals = rightVals.map(c => s"_m._gvals.${bt(c)} AS ${bt(c)}").mkString(", ")
    s"""WITH _rv AS (SELECT $k, $rts AS _gts, 0 AS _gside, $vstruct AS _gvals
       |  FROM $right),
       |_lv AS (SELECT $k, $lts AS _gts, 1 AS _gside,
       |    (SELECT first($vstruct) FROM $right WHERE 1 = 0) AS _gvals
       |  FROM $left),
       |_w AS (SELECT $k, _gts, _gside,
       |    last(_gvals, true) OVER (PARTITION BY $k ORDER BY _gts, _gside
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _gvals
       |  FROM (SELECT * FROM _lv UNION ALL SELECT * FROM _rv)),
       |_m AS (SELECT DISTINCT $k, _gts, _gvals FROM _w WHERE _gside = 1)
       |SELECT ${leftCols.map(c => s"l.${bt(c)}").mkString(", ")}, $outVals
       |FROM $left l JOIN _m ON l.$k = _m.$k AND l.$lts = _m._gts""".stripMargin
  }

  /** SQL twin of q89's Gopher rule filter — per-row integer-arithmetic
    * verdicts, one tokenize pass, zero shuffle (see text/Gopher.scala for
    * the thresholds and their provenance).
    */
  def gopherFilterSql(table: String, idCol: String, textCol: String): String = {
    val (id, txt) = (bt(idCol), bt(textCol))
    val stops = graft.text.Gopher.indicatorWords.map(w => s"'$w'").mkString(", ")
    val rules = Seq(
      "words_ok" -> "(n >= 50 AND n <= 100000)",
      "word_len_ok" -> "(sum_len >= n * 3L AND sum_len <= n * 10L)",
      "symbol_ok" -> "((n_hash + n_dots) * 10L <= CAST(n AS BIGINT))",
      "bullet_ok" -> "(n_bullet * 10L <= n_lines * 9L)",
      "ellipsis_ok" -> "(n_ellipsis * 10L <= n_lines * 3L)",
      "alpha_ok" -> "(n_alpha * 5L >= n * 4L)",
      "stopword_ok" -> "(n_stops >= 2)")
    val cols = rules.map { case (nm, e) => s"$e AS $nm" }.mkString(",\n  ")
    val keep = rules.map(_._2).mkString(" AND ")
    s"""WITH _b AS (SELECT $id, $txt AS _text, graft_tokens($txt) AS _toks,
       |    split($txt, '\\n') AS _lines FROM $table),
       |_m AS (SELECT $id,
       |    size(_toks) AS n,
       |    size(_lines) AS n_lines,
       |    aggregate(transform(_toks, t -> length(t)), 0L, (acc, x) -> acc + x) AS sum_len,
       |    length(_text) - length(replace(_text, '#', '')) AS n_hash,
       |    regexp_count(_text, '\\\\.\\\\.\\\\.') AS n_dots,
       |    size(filter(_lines, l -> startswith(ltrim(l), '-')
       |      OR startswith(ltrim(l), '*'))) AS n_bullet,
       |    size(filter(_lines, l -> endswith(rtrim(l), '...'))) AS n_ellipsis,
       |    size(filter(_toks, t -> t RLIKE '[a-z]')) AS n_alpha,
       |    size(filter(_toks, t -> t IN ($stops))) AS n_stops
       |  FROM _b)
       |SELECT $id, n AS n_tokens,
       |  $cols,
       |  ($keep) AS keep
       |FROM _m""".stripMargin
  }

  /** SQL twin of q87's duplicate-substring span detection — positional
    * gram postings, gram doc-frequency >= 2, per-doc window merge (see
    * text/SpanDedup.scala for the linearity argument).
    */
  def spanDedupSql(table: String, idCol: String, textCol: String,
      n: Int = 8): String = {
    require(n >= 2, s"span gram width must be >= 2, got $n")
    val (id, txt) = (bt(idCol), bt(textCol))
    s"""WITH _tk AS (SELECT $id, graft_tokens($txt) AS _toks FROM $table),
       |-- one-element-lambda binding (the q26 lesson): grams slice a lambda
       |-- var, so tokenization runs once per doc however the optimizer inlines
       |_pa AS (SELECT $id, element_at(transform(array(_toks), ts ->
       |    CASE WHEN size(ts) >= $n THEN transform(sequence(1, size(ts) - ${n - 1}),
       |        i -> named_struct('pos', i, 'h',
       |          graft_hash60(concat_ws(' ', slice(ts, i, $n)))))
       |      ELSE CAST(array() AS ARRAY<STRUCT<pos: INT, h: BIGINT>>) END), 1) AS _pgs
       |  FROM _tk),
       |_p AS (SELECT $id, _pg.pos AS pos, _pg.h AS h
       |  FROM _pa LATERAL VIEW explode_outer(_pgs) _e AS _pg WHERE _pg IS NOT NULL),
       |_dup AS (SELECT h FROM (SELECT DISTINCT h, $id FROM _p)
       |  GROUP BY h HAVING count(*) >= 2),
       |_hit AS (SELECT $id, pos FROM _p LEFT SEMI JOIN _dup USING (h)),
       |_brk AS (SELECT $id, pos,
       |    CASE WHEN lag(pos) OVER _w IS NULL OR pos > lag(pos) OVER _w + $n
       |      THEN 1 ELSE 0 END AS _b
       |  FROM _hit WINDOW _w AS (PARTITION BY $id ORDER BY pos)),
       |_grp AS (SELECT $id, pos, sum(_b) OVER
       |    (PARTITION BY $id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS _g
       |  FROM _brk)
       |SELECT $id, min(pos) AS span_start, max(pos) + $n AS span_end,
       |  max(pos) + $n - min(pos) AS span_tokens
       |FROM _grp GROUP BY $id, _g""".stripMargin
  }

  /** SQL twin of q94 / [[graft.text.SpanDedup.trim]] — the spanDedupSql
    * scaffold extended with min-id owner election, removal-span explode and
    * the token-space reassembly (collect_list of (pos, tok) structs sorted
    * after collection, the q82 discipline). One statement, same output
    * columns: (`idCol`, n_tokens, removed_tokens, n_spans, text_trimmed).
    */
  def spanTrimSql(table: String, idCol: String, textCol: String,
      n: Int = 8): String = {
    require(n >= 2, s"span gram width must be >= 2, got $n")
    val (id, txt) = (bt(idCol), bt(textCol))
    s"""WITH _tk AS (SELECT $id, graft_tokens($txt) AS _toks FROM $table),
       |_pa AS (SELECT $id, element_at(transform(array(_toks), ts ->
       |    CASE WHEN size(ts) >= $n THEN transform(sequence(1, size(ts) - ${n - 1}),
       |        i -> named_struct('pos', i, 'h',
       |          graft_hash60(concat_ws(' ', slice(ts, i, $n)))))
       |      ELSE CAST(array() AS ARRAY<STRUCT<pos: INT, h: BIGINT>>) END), 1) AS _pgs
       |  FROM _tk),
       |_p AS (SELECT $id, _pg.pos AS pos, _pg.h AS h
       |  FROM _pa LATERAL VIEW explode_outer(_pgs) _e AS _pg WHERE _pg IS NOT NULL),
       |_dup AS (SELECT h FROM (SELECT DISTINCT h, $id FROM _p)
       |  GROUP BY h HAVING count(*) >= 2),
       |_own AS (SELECT h, min($id) AS _owner
       |  FROM (SELECT h, $id FROM _p LEFT SEMI JOIN _dup USING (h)) GROUP BY h),
       |_hit AS (SELECT p.$id, p.pos FROM _p p JOIN _own o
       |  ON p.h = o.h AND p.$id <> o._owner),
       |_brk AS (SELECT $id, pos,
       |    CASE WHEN lag(pos) OVER _w IS NULL OR pos > lag(pos) OVER _w + $n
       |      THEN 1 ELSE 0 END AS _b
       |  FROM _hit WINDOW _w AS (PARTITION BY $id ORDER BY pos)),
       |_grp AS (SELECT $id, pos, sum(_b) OVER
       |    (PARTITION BY $id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS _g
       |  FROM _brk),
       |_spans AS (SELECT $id, min(pos) AS span_start, max(pos) + $n AS span_end,
       |    max(pos) + $n - min(pos) AS span_tokens
       |  FROM _grp GROUP BY $id, _g),
       |_rem AS (SELECT $id, explode(sequence(span_start, span_end - 1)) AS pos
       |  FROM _spans),
       |_tox AS (SELECT $id, _p0 + 1 AS pos, tok FROM _tk
       |  LATERAL VIEW posexplode(_toks) _e AS _p0, tok),
       |_kept AS (SELECT $id, concat_ws(' ', transform(
       |    array_sort(collect_list(named_struct('pos', pos, 'tok', tok))),
       |    s -> s.tok)) AS _kt
       |  FROM (SELECT t.$id, t.pos, t.tok FROM _tox t
       |    LEFT ANTI JOIN _rem r ON t.$id = r.$id AND t.pos = r.pos)
       |  GROUP BY $id),
       |_st AS (SELECT $id, count(*) AS n_spans, sum(span_tokens) AS removed_tokens
       |  FROM _spans GROUP BY $id)
       |SELECT t.$id, size(t._toks) AS n_tokens,
       |  coalesce(s.removed_tokens, CAST(0 AS BIGINT)) AS removed_tokens,
       |  coalesce(s.n_spans, CAST(0 AS BIGINT)) AS n_spans,
       |  coalesce(k._kt, '') AS text_trimmed
       |FROM _tk t LEFT JOIN _kept k ON t.$id = k.$id
       |LEFT JOIN _st s ON t.$id = s.$id""".stripMargin
  }

  /** SQL twin of q93 / [[graft.text.HtmlExtract.mainText]]: segment on
    * block tags, keep text-dense/link-sparse blocks (integer-exact
    * thresholds), reassemble in document order. Patterns are the SAME
    * RE2-compatible constants the Column API uses.
    */
  def htmlExtractSql(table: String, idCol: String, htmlCol: String,
      minLen: Int = 10, maxLinkPct: Int = 20): String = {
    val (id, html) = (bt(idCol), bt(htmlCol))
    val blockPat = s"(?is)</?(${graft.text.HtmlExtract.BlockTags})[^>]*>"
    s"""WITH _bl AS (SELECT $id, split(regexp_replace(regexp_replace(
       |    regexp_replace($html, '(?is)<script[^>]*>.*?</script>', ' '),
       |    '(?is)<style[^>]*>.*?</style>', ' '),
       |    '$blockPat', '\\n'), '\\n') AS _segs FROM $table),
       |_sg AS (SELECT $id, block_idx, _raw FROM _bl
       |  LATERAL VIEW posexplode(_segs) _e AS block_idx, _raw),
       |_cand AS (SELECT $id, block_idx,
       |    trim(${graft.text.HtmlExtract.decodeEntitiesSql(
                 "regexp_replace(_raw, '<[^>]*>', '')")}) AS block_text,
       |    coalesce(aggregate(transform(
       |      regexp_extract_all(_raw, '(?is)<a[^>]*>(.*?)</a>', 1),
       |      a -> length(trim(${graft.text.HtmlExtract.decodeEntitiesSql(
                 "regexp_replace(a, '<[^>]*>', '')")}))),
       |      0, (acc, x) -> acc + x), 0) AS link_len
       |  FROM _sg),
       |_sc AS (SELECT $id, block_idx, block_text,
       |    length(block_text) AS text_len, link_len,
       |    length(block_text) >= $minLen
       |      AND link_len * 100 <= length(block_text) * $maxLinkPct AS _keep
       |  FROM _cand WHERE length(block_text) > 0),
       |_roll AS (SELECT $id, count(*) AS n_blocks,
       |    sum(CASE WHEN _keep THEN CAST(1 AS BIGINT) ELSE 0 END) AS n_kept,
       |    sum(CASE WHEN _keep THEN CAST(text_len AS BIGINT) ELSE 0 END) AS kept_chars,
       |    array_sort(collect_list(CASE WHEN _keep THEN
       |      named_struct('block_idx', block_idx, 'block_text', block_text) END)) AS _kb
       |  FROM _sc GROUP BY $id)
       |SELECT d.$id,
       |  coalesce(r.n_blocks, CAST(0 AS BIGINT)) AS n_blocks,
       |  coalesce(r.n_kept, CAST(0 AS BIGINT)) AS n_kept,
       |  coalesce(r.kept_chars, CAST(0 AS BIGINT)) AS kept_chars,
       |  coalesce(concat_ws('\\n', transform(r._kb, s -> s.block_text)), '') AS main_text
       |FROM (SELECT $id FROM $table) d LEFT JOIN _roll r ON d.$id = r.$id""".stripMargin
  }

  /** SQL twin of q99 / [[graft.text.SpanDedup.novelty]]: distinct
    * positional gram hashes → min-id owner per gram → per-doc owned
    * fraction on the tie-free floor grid.
    */
  def noveltySql(table: String, idCol: String, textCol: String,
      n: Int = 8): String = {
    require(n >= 2, s"gram width must be >= 2, got $n")
    val (id, txt) = (bt(idCol), bt(textCol))
    s"""WITH _tk AS (SELECT $id, graft_tokens($txt) AS _toks FROM $table),
       |_pa AS (SELECT $id, element_at(transform(array(_toks), ts ->
       |    CASE WHEN size(ts) >= $n THEN transform(sequence(1, size(ts) - ${n - 1}),
       |        i -> graft_hash60(concat_ws(' ', slice(ts, i, $n))))
       |      ELSE CAST(array() AS ARRAY<BIGINT>) END), 1) AS _hs
       |  FROM _tk),
       |_p AS (SELECT DISTINCT $id, _h FROM _pa
       |  LATERAL VIEW explode_outer(_hs) _e AS _h WHERE _h IS NOT NULL),
       |_own AS (SELECT _h, min($id) AS _owner FROM _p GROUP BY _h)
       |SELECT p.$id, count(*) AS n_grams,
       |  sum(CASE WHEN p.$id = o._owner THEN CAST(1 AS BIGINT) ELSE 0 END) AS n_novel,
       |  floor(sum(CASE WHEN p.$id = o._owner THEN 1 ELSE 0 END) * 10000.0
       |    / count(*) + 0.5) / 10000.0 AS novelty_frac
       |FROM _p p JOIN _own o ON p._h = o._h
       |GROUP BY p.$id""".stripMargin
  }

  /** SQL twin of q97 / [[graft.text.Decontaminate.trim]] — the
    * [[spanTrimSql]] scaffold with eval-gram ownership replacing dup-gram
    * owner election: corpus = rows failing `evalPredSql`, removal spans =
    * positions whose gram hash appears in the eval side, reassembly
    * identical to q94's.
    */
  def contaminationTrimSql(table: String, idCol: String, textCol: String,
      evalPredSql: String, n: Int = 8): String = {
    require(n >= 2, s"span gram width must be >= 2, got $n")
    val (id, txt) = (bt(idCol), bt(textCol))
    s"""WITH _tk AS (SELECT $id, graft_tokens($txt) AS _toks FROM $table
       |  WHERE NOT ($evalPredSql)),
       |_pa AS (SELECT $id, element_at(transform(array(_toks), ts ->
       |    CASE WHEN size(ts) >= $n THEN transform(sequence(1, size(ts) - ${n - 1}),
       |        i -> named_struct('pos', i, 'h',
       |          graft_hash60(concat_ws(' ', slice(ts, i, $n)))))
       |      ELSE CAST(array() AS ARRAY<STRUCT<pos: INT, h: BIGINT>>) END), 1) AS _pgs
       |  FROM _tk),
       |_p AS (SELECT $id, _pg.pos AS pos, _pg.h AS h
       |  FROM _pa LATERAL VIEW explode_outer(_pgs) _e AS _pg WHERE _pg IS NOT NULL),
       |_ev AS (SELECT DISTINCT graft_hash60(_g) AS h FROM (
       |  SELECT explode(_gs) AS _g FROM (
       |    SELECT graft_word_ngrams(graft_tokens($txt), $n) AS _gs
       |    FROM $table WHERE ($evalPredSql)))),
       |_hit AS (SELECT $id, pos FROM _p LEFT SEMI JOIN _ev USING (h)),
       |_brk AS (SELECT $id, pos,
       |    CASE WHEN lag(pos) OVER _w IS NULL OR pos > lag(pos) OVER _w + $n
       |      THEN 1 ELSE 0 END AS _b
       |  FROM _hit WINDOW _w AS (PARTITION BY $id ORDER BY pos)),
       |_grp AS (SELECT $id, pos, sum(_b) OVER
       |    (PARTITION BY $id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS _g
       |  FROM _brk),
       |_spans AS (SELECT $id, min(pos) AS span_start, max(pos) + $n AS span_end,
       |    max(pos) + $n - min(pos) AS span_tokens
       |  FROM _grp GROUP BY $id, _g),
       |_rem AS (SELECT $id, explode(sequence(span_start, span_end - 1)) AS pos
       |  FROM _spans),
       |_tox AS (SELECT $id, _p0 + 1 AS pos, tok FROM _tk
       |  LATERAL VIEW posexplode(_toks) _e AS _p0, tok),
       |_kept AS (SELECT $id, concat_ws(' ', transform(
       |    array_sort(collect_list(named_struct('pos', pos, 'tok', tok))),
       |    s -> s.tok)) AS _kt
       |  FROM (SELECT t.$id, t.pos, t.tok FROM _tox t
       |    LEFT ANTI JOIN _rem r ON t.$id = r.$id AND t.pos = r.pos)
       |  GROUP BY $id),
       |_st AS (SELECT $id, count(*) AS n_spans, sum(span_tokens) AS removed_tokens
       |  FROM _spans GROUP BY $id)
       |SELECT t.$id, size(t._toks) AS n_tokens,
       |  coalesce(s.removed_tokens, CAST(0 AS BIGINT)) AS removed_tokens,
       |  coalesce(s.n_spans, CAST(0 AS BIGINT)) AS n_spans,
       |  coalesce(k._kt, '') AS text_trimmed
       |FROM _tk t LEFT JOIN _kept k ON t.$id = k.$id
       |LEFT JOIN _st s ON t.$id = s.$id""".stripMargin
  }

  /** SQL twin of q98's temperature mixture sampling (τ = 2): thresholds
    * from the same exact-integer-division + correctly-rounded-sqrt grid —
    * see the q98 registration for why τ is fixed at 2 (general pow is not
    * correctly rounded across engines).
    */
  def temperatureSampleSql(table: String, idCol: String,
      stratumCol: String): String = {
    val (id, st) = (bt(idCol), bt(stratumCol))
    s"""WITH _c0 AS (SELECT $st AS _s, count(*) AS _n FROM $table GROUP BY $st),
       |-- NULL stratum fails fast (mirrors the Column/streaming twins): it
       |-- would tighten every named stratum's threshold via min(_n) while
       |-- its own rows never equality-join below.
       |_c AS (SELECT CASE WHEN _s IS NULL THEN raise_error(
       |    'mixture stratum is NULL — assign or quarantine upstream before balancing')
       |  ELSE _s END AS _s, _n FROM _c0),
       |_m AS (SELECT min(_n) AS _nmin FROM _c),
       |-- DECIMAL(38,0) product: a BIGINT n_min·10¹² wraps once the
       |-- smallest stratum passes ~9.2M rows (the Column spelling uses
       |-- BigInt for the same reason); the quotient is <= 10¹² so the
       |-- DOUBLE cast stays lossless and sqrt correctly rounded.
       |_t AS (SELECT _s, CAST(floor(sqrt(CAST(
       |    CAST((SELECT _nmin FROM _m) AS DECIMAL(38,0)) * 1000000000000
       |      div _n AS DOUBLE))) AS BIGINT) AS _thr
       |  FROM _c)
       |SELECT d.$id, d.$st FROM $table d JOIN _t ON d.$st = _t._s
       |WHERE pmod(graft_hash60(CAST(d.$id AS STRING)), 1000000) < _t._thr""".stripMargin
  }

  /** SQL twin of q92's BPE encode: the native `graft_bpe_encode` is a
    * registered SQL function, so the whole query is one projection —
    * merges inline as a constant array literal (each `"a b"`, rank =
    * position, the [[graft.text.Bpe]] format).
    */
  def bpeEncodeSql(table: String, idCol: String, textCol: String,
      merges: Seq[String]): String = {
    require(merges.nonEmpty, "merge table must not be empty")
    require(merges.forall(!_.contains("'")), "merge symbols must not contain quotes")
    val (id, txt) = (bt(idCol), bt(textCol))
    val ml = merges.map(m => s"'$m'").mkString("array(", ", ", ")")
    s"""SELECT $id, CAST(size(_toks) AS BIGINT) AS n_words,
       |  aggregate(transform(_enc, e -> size(e)), CAST(0 AS BIGINT),
       |    (a, x) -> a + x) AS n_bpe_tokens,
       |  md5(concat_ws(' ', transform(_enc, e -> array_join(e, '+')))) AS bpe_fp
       |FROM (SELECT $id, _toks,
       |    transform(_toks, t -> graft_bpe_encode(t, $ml)) AS _enc
       |  FROM (SELECT $id, graft_tokens($txt) AS _toks FROM $table))""".stripMargin
  }

  /** SQL twin of q100's quality-classifier SCORING face (r15): hashed
    * unigram+bigram buckets through `graft_hash60`, logit under the
    * closed-form dyadic weight formula (((bucket mod 17) − 8)/16 — exact
    * in double, so the equality with the Column spelling is bit-stable).
    * Scoring under TRAINED weights is the same query with the formula
    * replaced by a join against a weights table.
    */
  def qualityClassifierSql(table: String, idCol: String, textCol: String,
      dim: Int = 512): String = {
    require(dim > 0, s"dim must be positive, got $dim")
    val (id, txt) = (bt(idCol), bt(textCol))
    s"""WITH _tk AS (SELECT $id, graft_tokens($txt) AS _toks FROM $table),
       |_gs AS (SELECT $id,
       |    concat(_toks, graft_word_bigrams(_toks)) AS _grams FROM _tk),
       |_g AS (SELECT $id, explode(_grams) AS _gram FROM _gs),
       |_sc AS (SELECT $id,
       |    sum((CAST((graft_hash60(_gram) % $dim) % 17 AS DOUBLE) - 8.0d) / 16.0d)
       |      AS _logit
       |  FROM _g GROUP BY $id)
       |SELECT t.$id,
       |  coalesce(_sc._logit, 0.0d) AS logit,
       |  coalesce(_sc._logit, 0.0d) > 0.0d AS pass
       |FROM $table t LEFT JOIN _sc ON t.$id = _sc.$id
       |ORDER BY t.$id""".stripMargin
  }

  /** SQL twin of q104's langid scoring face under the closed-form
    * per-class dyadic weights (the qualityClassifierSql discipline:
    * weights inlined as arithmetic, classes as a VALUES list; the gram
    * hashes ride the session `graft_gram_hashes`, which itself rides the
    * native expression when registered). Same argmax spelling: one
    * max-struct aggregation, logit DESC / class-index ASC ties.
    */
  /** SQL twin of q105 ([[graft.text.HtmlExtract.links]] → self-host
    * filter → host-pair edge rollup) in ONE statement: the same
    * script/style drop and href-quote normalization regexes, the same
    * extraction pattern exploded per anchor, resolve + canonicalize via
    * the registered `graft_url_resolve`/`graft_url_canon` functions, and
    * the same cross-host aggregation. Equality-pinned against the Column
    * plan in SqlSurfaceSpec.
    */
  def linkGraphSql(table: String, idCol: String, htmlCol: String,
      baseCol: String): String = {
    val (id, h, b) = (bt(idCol), bt(htmlCol), bt(baseCol))
    s"""WITH _n AS (
       |  SELECT $id, $b AS _base,
       |    graft_url_domain(graft_url_canon($b)) AS src_host,
       |    regexp_replace(regexp_replace(
       |      regexp_replace(regexp_replace($h,
       |        '(?is)<script[^>]*>.*?</script>', ' '),
       |        '(?is)<style[^>]*>.*?</style>', ' '),
       |      "(?is)(<a\\\\s(?:[^>]*\\\\s)?href\\\\s*=\\\\s*)'([^']*)'", '$$1"$$2"'),
       |      '(?is)(<a\\\\s(?:[^>]*\\\\s)?href\\\\s*=\\\\s*)([^"\\'\\\\s>][^\\\\s>]*)',
       |      '$$1"$$2"') AS _html
       |  FROM $table
       |), _a AS (
       |  SELECT $id, src_host,
       |    graft_url_canon(graft_url_resolve(_base, _href)) AS target_url
       |  FROM _n
       |  LATERAL VIEW explode(regexp_extract_all(_html,
       |    '(?is)<a\\\\s(?:[^>]*\\\\s)?href\\\\s*=\\\\s*"([^"]*)"', 1)) AS _href
       |)
       |SELECT src_host, graft_url_domain(target_url) AS target_host,
       |  count(*) AS n_links, count(DISTINCT $id) AS n_docs
       |FROM _a
       |WHERE target_url rlike '^https?://'
       |  AND graft_url_domain(target_url) != src_host
       |GROUP BY src_host, target_host
       |ORDER BY src_host, target_host""".stripMargin
  }

  def langidScoreSql(table: String, idCol: String, textCol: String,
      classes: Seq[String], dim: Int = 1024): String = {
    require(dim > 0, s"dim must be positive, got $dim")
    require(classes.nonEmpty, "langid needs at least one class")
    val (id, txt) = (bt(idCol), bt(textCol))
    val cls = classes.sorted.zipWithIndex
      .map { case (l, ci) => s"(${lit(l)}, $ci)" }.mkString(", ")
    val minClass = classes.sorted.head
    s"""WITH _g AS (SELECT $id, graft_gram_hashes($txt, 3) AS _hs FROM $table),
       |_f AS (SELECT $id, _h % $dim AS _bucket, count(*) AS _cnt
       |  FROM (SELECT $id, explode(_hs) AS _h FROM _g)
       |  GROUP BY 1, 2),
       |_lg AS (SELECT _f.$id, _c._lang, _c._ci,
       |    sum(_cnt * (CAST((_bucket + 31 * _ci) % 17 AS DOUBLE) - 8.0d) / 16.0d) AS _logit
       |  FROM _f CROSS JOIN (VALUES $cls) AS _c(_lang, _ci)
       |  GROUP BY 1, 2, 3),
       |_b AS (SELECT $id,
       |    max(named_struct('l', _logit, 'n', -_ci, 'lang', _lang)) AS _k
       |  FROM _lg GROUP BY 1)
       |SELECT t.$id,
       |  coalesce(_b._k.lang, ${lit(minClass)}) AS pred_lang,
       |  coalesce(_b._k.l, 0.0d) AS logit
       |FROM $table t LEFT JOIN _b ON t.$id = _b.$id
       |ORDER BY t.$id""".stripMargin
  }

  /** SQL twin of q90's span-level contamination — the spanDedupSql scaffold
    * with the eval side's broadcast gram-hash set replacing the
    * doc-frequency rule (see text/Decontaminate.contaminationSpans).
    */
  def contaminationSpansSql(table: String, idCol: String, textCol: String,
      evalPredSql: String, n: Int = 8): String = {
    require(n >= 2, s"span gram width must be >= 2, got $n")
    val (id, txt) = (bt(idCol), bt(textCol))
    s"""WITH _tk AS (SELECT $id, ($evalPredSql) AS _is_eval,
       |    graft_tokens($txt) AS _toks FROM $table),
       |_pa AS (SELECT $id, element_at(transform(array(_toks), ts ->
       |    CASE WHEN size(ts) >= $n THEN transform(sequence(1, size(ts) - ${n - 1}),
       |        i -> named_struct('pos', i, 'h',
       |          graft_hash60(concat_ws(' ', slice(ts, i, $n)))))
       |      ELSE CAST(array() AS ARRAY<STRUCT<pos: INT, h: BIGINT>>) END), 1) AS _pgs
       |  FROM _tk WHERE NOT _is_eval),
       |_p AS (SELECT $id, _pg.pos AS pos, _pg.h AS h
       |  FROM _pa LATERAL VIEW explode_outer(_pgs) _e AS _pg WHERE _pg IS NOT NULL),
       |-- UDF projected before the explode (Spark rejects SQL UDFs in a Generate)
       |_e0 AS (SELECT graft_word_ngrams(_toks, $n) AS _grams FROM _tk WHERE _is_eval),
       |_ev AS (SELECT DISTINCT graft_hash60(gram) AS h
       |  FROM (SELECT explode(_grams) AS gram FROM _e0)),
       |_hit AS (SELECT /*+ BROADCAST(_ev) */ $id, pos
       |  FROM _p LEFT SEMI JOIN _ev USING (h)),
       |_brk AS (SELECT $id, pos,
       |    CASE WHEN lag(pos) OVER _w IS NULL OR pos > lag(pos) OVER _w + $n
       |      THEN 1 ELSE 0 END AS _b
       |  FROM _hit WINDOW _w AS (PARTITION BY $id ORDER BY pos)),
       |_grp AS (SELECT $id, pos, sum(_b) OVER
       |    (PARTITION BY $id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS _g
       |  FROM _brk)
       |SELECT $id, min(pos) AS span_start, max(pos) + $n AS span_end,
       |  max(pos) + $n - min(pos) AS span_tokens
       |FROM _grp GROUP BY $id, _g""".stripMargin
  }

  /** SQL twin of q91's corpus health report — the same family definitions
    * (span chain = spanDedupSql's, gram rule = q85's, quality grid =
    * graft_quality's floor grid) assembled into one UNION statement; every
    * ratio goes through the tie-free floor grid exactly as the Column op
    * (see text/CorpusReport.scala). `langCol` None omits the lang-ID row.
    */
  def corpusReportSql(table: String, idCol: String, textCol: String,
      langCol: Option[String] = Some("lang"), n: Int = 8,
      charsetCol: Option[String] = None,
      declaredDupCol: Option[String] = None,
      imageKeepCol: Option[String] = None,
      audioKeepCol: Option[String] = None): String = {
    val (id, txt) = (bt(idCol), bt(textCol))
    val langCte = langCol.map { lc =>
      s""",
         |_lg AS (SELECT sum(CASE WHEN ${bt(lc)} <> graft_langid($txt)
         |      THEN 1L ELSE 0L END) AS mm, count(*) AS n FROM $table)""".stripMargin
    }.getOrElse("")
    val langRow = langCol.map { _ =>
      s"""
         |  UNION ALL SELECT 'langid_mismatch_frac',
         |    coalesce(floor(mm * 1.0 / n * 10000d + 0.5d) / 10000d, 0.0d) FROM _lg""".stripMargin
    }.getOrElse("")
    val charsetCte = charsetCol.map { cc =>
      s""",
         |_cs AS (SELECT sum(CASE WHEN ${bt(cc)} IS NOT NULL
         |      AND lower(${bt(cc)}) <> 'utf-8' THEN 1L ELSE 0L END) AS nu,
         |    count(*) AS n FROM $table)""".stripMargin
    }.getOrElse("")
    val charsetRow = charsetCol.map { _ =>
      s"""
         |  UNION ALL SELECT 'non_utf8_frac',
         |    coalesce(floor(nu * 1.0 / n * 10000d + 0.5d) / 10000d, 0.0d) FROM _cs""".stripMargin
    }.getOrElse("")
    val dupCte = declaredDupCol.map { dc =>
      s""",
         |_dd AS (SELECT sum(CASE WHEN ${bt(dc)} = true THEN 1L ELSE 0L END) AS dd,
         |    count(*) AS n FROM $table)""".stripMargin
    }.getOrElse("")
    val dupRow = declaredDupCol.map { _ =>
      s"""
         |  UNION ALL SELECT 'declared_dup_frac',
         |    coalesce(floor(dd * 1.0 / n * 10000d + 0.5d) / 10000d, 0.0d) FROM _dd""".stripMargin
    }.getOrElse("")
    // r18 modality-gate knobs: keep-verdict columns (q122/q123 verdicts —
    // the decode stays outside SQL, like every other intake-provenance
    // column); NULL keep = decode failure = dropped, as the Column op
    val gates = Seq(imageKeepCol.map(("image_gate_drop_frac", "_ig", _)),
      audioKeepCol.map(("audio_gate_drop_frac", "_ag", _))).flatten
    val gateCtes = gates.map { case (_, cte, kc) =>
      s""",
         |$cte AS (SELECT sum(CASE WHEN ${bt(kc)} = true THEN 0L ELSE 1L END) AS dr,
         |    count(*) AS n FROM $table)""".stripMargin
    }.mkString
    val gateRows = gates.map { case (metric, cte, _) =>
      s"""
         |  UNION ALL SELECT '$metric',
         |    coalesce(floor(dr * 1.0 / n * 10000d + 0.5d) / 10000d, 0.0d) FROM $cte""".stripMargin
    }.mkString
    s"""WITH _tk AS (SELECT $id, $txt AS _text, graft_tokens($txt) AS _toks FROM $table),
       |_pa AS (SELECT $id, element_at(transform(array(_toks), ts ->
       |    CASE WHEN size(ts) >= $n THEN transform(sequence(1, size(ts) - ${n - 1}),
       |        i -> named_struct('pos', i, 'h',
       |          graft_hash60(concat_ws(' ', slice(ts, i, $n)))))
       |      ELSE CAST(array() AS ARRAY<STRUCT<pos: INT, h: BIGINT>>) END), 1) AS _pgs
       |  FROM _tk),
       |_p AS (SELECT $id, _pg.pos AS pos, _pg.h AS h
       |  FROM _pa LATERAL VIEW explode_outer(_pgs) _e AS _pg WHERE _pg IS NOT NULL),
       |_dup AS (SELECT h FROM (SELECT DISTINCT h, $id FROM _p)
       |  GROUP BY h HAVING count(*) >= 2),
       |_hit AS (SELECT $id, pos FROM _p LEFT SEMI JOIN _dup USING (h)),
       |_brk AS (SELECT $id, pos,
       |    CASE WHEN lag(pos) OVER _w IS NULL OR pos > lag(pos) OVER _w + $n
       |      THEN 1 ELSE 0 END AS _b
       |  FROM _hit WINDOW _w AS (PARTITION BY $id ORDER BY pos)),
       |_grp AS (SELECT $id, pos, sum(_b) OVER
       |    (PARTITION BY $id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS _g
       |  FROM _brk),
       |_spans AS (SELECT $id, min(pos) AS s, max(pos) + $n AS e
       |  FROM _grp GROUP BY $id, _g),
       |_sd AS (SELECT coalesce(sum(e - s), 0L) AS dup_toks FROM _spans),
       |_tot AS (SELECT count(*) AS nd, sum(size(_toks)) AS n_toks FROM _tk),
       |_lm AS (SELECT count(*) AS nl, count(DISTINCT _line) AS dl FROM
       |  (SELECT explode(split(_text, '\\n')) AS _line FROM _tk)),
       |_ga AS (SELECT $id, graft_word_ngrams(_toks, $n) AS _grams FROM _tk),
       |_bg AS (SELECT count(*) AS n FROM (
       |  SELECT _gram FROM (SELECT DISTINCT $id, _gram FROM
       |    (SELECT $id, explode(_grams) AS _gram FROM _ga))
       |  GROUP BY _gram HAVING count(*) >= 2)),
       |-- graft_quality is grid/1e4 exactly; scaling back is within ±ulp of
       |-- the integer grid, so +0.5-and-truncate recovers it exactly
       |_q AS (SELECT sum(CAST(graft_quality(_text) * 10000d + 0.5d AS BIGINT)) AS sg,
       |    count(*) AS n FROM _tk),
       |_fp AS (SELECT count(*) - count(DISTINCT graft_fingerprint(_text)) AS dups
       |  FROM _tk)$langCte$charsetCte$dupCte$gateCtes
       |SELECT * FROM (
       |  SELECT 'boilerplate_grams' AS metric, n * 1.0 AS value FROM _bg
       |  UNION ALL SELECT 'dup_line_frac',
       |    coalesce(floor((nl - dl) * 1.0 / nl * 10000d + 0.5d) / 10000d, 0.0d) FROM _lm
       |  UNION ALL SELECT 'exact_dup_docs', dups * 1.0 FROM _fp$langRow$charsetRow$dupRow$gateRows
       |  UNION ALL SELECT 'mean_quality',
       |    coalesce(floor(sg * 1.0 / (n * 10000L) * 10000d + 0.5d) / 10000d, 0.0d) FROM _q
       |  UNION ALL SELECT 'n_docs', nd * 1.0 FROM _tot
       |  UNION ALL SELECT 'n_tokens', n_toks * 1.0 FROM _tot
       |  UNION ALL SELECT 'span_dup_token_frac',
       |    coalesce(floor(dup_toks * 1.0 / (SELECT n_toks FROM _tot) * 10000d + 0.5d) / 10000d, 0.0d)
       |  FROM _sd
       |) ORDER BY metric""".stripMargin
  }

  /** SQL twin of q88's Bloom-prefilter decontamination — the WHOLE scale
    * path in one statement: filter sizing from the eval-gram count, bit
    * positions via `pmod(xxhash64(hash, j), m)`, per-word `bit_or`
    * assembly, dense-array materialization, k-probe conjunction against
    * the one-row bits frame, exact verify. Rows equal q69/q88
    * (spec-pinned); `bitsPerGram`/`k` are the same cost knobs as the
    * Column op (see text/BloomDecontaminate.scala).
    */
  def bloomDecontaminateSql(table: String, idCol: String, textCol: String,
      evalPredSql: String, n: Int, bitsPerGram: Int = 16, k: Int = 6): String = {
    require(bitsPerGram >= 1 && k >= 1, s"bad bloom knobs: $bitsPerGram/$k")
    val (id, txt) = (bt(idCol), bt(textCol))
    def probe(j: Int) =
      s"""(shiftright(element_at(_bits, CAST(pmod(xxhash64(gram, $j), _m) / 64 AS INT) + 1),
         |      CAST(pmod(xxhash64(gram, $j), _m) % 64 AS INT)) & 1L) = 1L""".stripMargin
    val probes = (0 until k).map(probe).mkString("\n    AND ")
    s"""WITH _a AS (SELECT $id, ($evalPredSql) AS _is_eval,
       |    graft_word_ngrams(graft_tokens($txt), $n) AS _grams FROM $table),
       |_g AS (SELECT $id, _is_eval, explode(_grams) AS gram FROM _a),
       |_ev AS (SELECT DISTINCT gram FROM _g WHERE _is_eval),
       |_sz AS (SELECT greatest(1024L,
       |    CAST(ceil(count(*) * $bitsPerGram / 64.0) AS BIGINT) * 64) AS _m FROM _ev),
       |_pos AS (SELECT explode(transform(sequence(0, ${k - 1}),
       |    j -> pmod(xxhash64(gram, j), _m))) AS p
       |  FROM _ev CROSS JOIN _sz),
       |_wb AS (SELECT CAST(p / 64 AS INT) AS w, bit_or(shiftleft(1L, CAST(p % 64 AS INT))) AS bw
       |  FROM _pos GROUP BY 1),
       |-- dense assembly by range LEFT JOIN + ordered collect (O(nw log nw));
       |-- map element_at would be a linear ArrayBasedMapData scan per index
       |-- (O(nw^2) in one task — the Column op measured 65s at 117k words)
       |_idx AS (SELECT explode(sequence(0, CAST(_m / 64 AS INT) - 1)) AS w FROM _sz),
       |_dw AS (SELECT i.w, coalesce(b.bw, 0L) AS bw FROM _idx i LEFT JOIN _wb b USING (w)),
       |_bits AS (SELECT transform(array_sort(collect_list(struct(w, bw))), e -> e.bw) AS _bits, _m
       |  FROM _dw CROSS JOIN _sz GROUP BY _m),
       |_cand AS (SELECT /*+ BROADCAST(_bits) */ $id, gram
       |  FROM _g CROSS JOIN _bits
       |  WHERE NOT _is_eval AND $probes)
       |SELECT $id, count(DISTINCT gram) AS n_hits
       |FROM _cand JOIN _ev USING (gram)
       |GROUP BY $id""".stripMargin
  }
}
