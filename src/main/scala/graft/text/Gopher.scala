package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.{TextFunctions => TF}

/** Gopher-style rule-based document quality filter (Rae et al. 2021,
  * "Scaling Language Models: Methods, Analysis & Insights from Training
  * Gopher", table A1 — public methodology). Complements [[TextFunctions
  * .qualityScore]] (a continuous score, q24): production curation stacks
  * run the RULE filter first (cheap, interpretable, per-rule diagnostics)
  * and score/sample afterwards, so both faces are first-class here.
  *
  * Every verdict is a per-row projection over one tokenize pass — no
  * shuffle, no state, trivially linear at 100 TB — and every threshold is
  * spelled in INTEGER arithmetic (`5·n_alpha >= 4·n_tokens`, not
  * `n_alpha/n_tokens >= 0.8`) so the DuckDB oracle reproduces verdicts
  * bit-for-bit with no float-rounding seams (the q24 lesson).
  *
  * Reference lineage: extends the silver-layer DQ-flag pattern
  * (reference: 4_silver/silver_transactions.py:96 quarantine flags) from
  * relational rows to text documents — same shape: named boolean columns +
  * one combined verdict, rows never dropped by the diagnostic operator.
  */
object Gopher {

  /** Gopher's "must contain 2 of" English indicator words (A1). */
  val indicatorWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** q70's Gopher-style repetition signals per document: (`idCol`,
    * n_tokens, n_types, top_bigram_cnt, repetitive). `repetitive` = 1 when
    * the duplicate-word fraction exceeds 13/20 (~p80 on the test corpus)
    * or the most-repeated bigram covers more than 2/25 of the tokens
    * (~p95) — both INTEGER cross-multiplications, so the verdict is
    * bit-identical across engines. All three stats come from the token
    * array itself: a pure map, no explode, no shuffle; a zero-token doc is
    * non-repetitive (0 > 0 is false).
    */
  def repetition(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TF.tokens(col(textCol))
    docs.select(col(idCol),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_types"),
        TF.maxRunCount(TF.wordBigrams(toks)).as("top_bigram_cnt"))
      .withColumn("repetitive",
        when((col("n_tokens") - col("n_types")) * 20 > col("n_tokens") * 13
          || col("top_bigram_cnt") * 25 > col("n_tokens") * 2, 1L).otherwise(0L))
  }

  /** Per-document named rule verdicts + the combined `keep`.
    * Output: (`idCol`, n_tokens, words_ok, word_len_ok, symbol_ok,
    * bullet_ok, ellipsis_ok, alpha_ok, stopword_ok, keep).
    *
    * Rules (thresholds from Gopher table A1):
    *  - words_ok:    50 <= n_tokens <= 100000
    *  - word_len_ok: mean token length in [3, 10]
    *  - symbol_ok:   (#'#' + #'...') / n_tokens <= 0.1
    *  - bullet_ok:   <= 90% of lines start with a bullet ('-' / '*')
    *  - ellipsis_ok: <= 30% of lines end with '...'
    *  - alpha_ok:    >= 80% of tokens contain an alphabetic character
    *  - stopword_ok: >= 2 occurrences of the indicator-word list
    */
  def verdicts(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bound = docs.select(col(idCol), col(textCol).as("_text"),
      TF.tokens(col(textCol)).as("_toks"),
      split(col(textCol), "\n").as("_lines"))
    val n = size(col("_toks"))
    val nLines = size(col("_lines"))
    val sumLen = aggregate(transform(col("_toks"), t => length(t)),
      lit(0L), (acc, x) => acc + x)
    val nHash = length(col("_text")) - length(regexp_replace(col("_text"), "#", ""))
    val nDots = regexp_count(col("_text"), lit("\\.\\.\\."))
    val nBullet = size(filter(col("_lines"),
      l => ltrim(l).startsWith("-") || ltrim(l).startsWith("*")))
    val nEllipsis = size(filter(col("_lines"), l => rtrim(l).endsWith("...")))
    val nAlpha = size(filter(col("_toks"), t => t.rlike("[a-z]")))
    val nStops = size(filter(col("_toks"),
      t => t.isin(indicatorWords.map(lit): _*)))
    val rules: Seq[(String, Column)] = Seq(
      "words_ok" -> (n >= 50 && n <= 100000),
      "word_len_ok" -> (sumLen >= n * 3L && sumLen <= n * 10L),
      "symbol_ok" -> ((nHash + nDots) * 10L <= n.cast("long")),
      "bullet_ok" -> (nBullet * 10L <= nLines * 9L),
      "ellipsis_ok" -> (nEllipsis * 10L <= nLines * 3L),
      "alpha_ok" -> (nAlpha * 5L >= n * 4L),
      "stopword_ok" -> (nStops >= 2))
    bound.select(
      col(idCol) +: n.as("n_tokens") +:
        rules.map { case (name, c) => c.as(name) } :+
        rules.map(_._2).reduce(_ && _).as("keep"): _*)
  }
}
