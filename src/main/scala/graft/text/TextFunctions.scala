package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ops.Cdm

/** Text-analysis primitives for the LLM-training-data pipeline: tokenization,
  * n-gram shingles, language ID, quality ratios, fingerprints.
  *
  * Everything is a pure `Column` combinator over built-in functions (split /
  * transform / filter / aggregate) — codegen-friendly, no UDFs — and every
  * construct has an exact DuckDB equivalent so the oracle SQL can reproduce
  * results bit-for-bit (see queries/TextQueries.scala).
  */
object TextFunctions {

  /** Lowercased alphanumeric tokens; empties removed. DuckDB equivalent:
    * `list_filter(regexp_split_to_array(lower(x),'[^a-z0-9]+'), t -> t <> '')`.
    */
  def tokens(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), t => length(t) > 0)

  /** Word-bigram shingles from a token array (empty when <2 tokens — the
    * `when` guard matters: Spark `sequence(1, 0)` would produce a DESCENDING
    * sequence, not an empty one).
    *
    * Built by zipping the array with its own shift, NOT by indexing with
    * `element_at(toks, i)` inside a transform lambda: per-element indexing
    * re-evaluates the (possibly inlined-by-the-optimizer) child expression
    * per element, which turns tokenization quadratic in document length —
    * and optimizer rules (filter inference from generators, projection
    * collapse) can inline the child even when the caller bound it to a
    * column. Slices evaluate the child a constant number of times.
    */
  def wordBigrams(toks: Column): Column =
    when(size(toks) >= 2,
      zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b)))
      .otherwise(array().cast("array<string>"))

  /** Space-joined word n-grams of a token array; empty when fewer than `n`
    * tokens (same `when` guard as [[wordBigrams]]). The one-element-lambda
    * binding keeps the token array evaluated ONCE however the caller spells
    * it (the q26 lesson: an optimizer-inlined child inside the per-index
    * lambda re-tokenizes once per gram, O(len²) per document); the per-gram
    * work reads the lambda variable via `slice`, a constant-cost view.
    */
  def wordNgrams(toks: Column, n: Int): Column =
    element_at(
      transform(array(toks), ts =>
        when(size(ts) >= n,
          transform(sequence(lit(1), size(ts) - (n - 1)),
            i => concat_ws(" ", slice(ts, i, lit(n)))))
          .otherwise(array().cast("array<string>"))),
      1)

  /** Character n-grams of a string (whole string when shorter than n). */
  def charNgrams(c: Column, n: Int): Column =
    when(length(c) >= n,
      transform(sequence(lit(1), length(c) - (n - 1)), i => c.substr(i, lit(n))))
      .otherwise(array(c))

  /** Maximum multiplicity of any element of a string array (0 for empty) —
    * the per-document "most-repeated n-gram count" behind Gopher-style
    * repetition filtering. Doc-LOCAL by construction: sort the array, then
    * one `aggregate` pass tracks the longest equal-run — O(m log m) per
    * document, zero shuffle, instead of exploding the corpus into a
    * (doc, gram) aggregation whose shuffle is corpus-sized at 100 TB.
    */
  def maxRunCount(arr: Column): Column =
    aggregate(array_sort(arr),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** Whitespace-collapsed, trimmed, lowercased normal form (dedup canon). */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Composite document quality score in [0,1]:
    * `0.5·min(1, n_tokens/100) + 0.3·alpha_ratio + 0.2·(1 − punct_ratio)`.
    *
    * The SINGLE definition behind every survivorship decision — q24/q58
    * batch scoring, q64/q65 keep-best, [[graft.text.Curate.keepSet]] and the
    * streaming curate sink. Batch and streaming curation agree only while
    * they share this formula; do not re-spell it at a call site.
    */
  def qualityScore(text: Column): Column = {
    val nChars = length(text)
    val punctRatio = length(regexp_replace(text, "[a-zA-Z0-9\\s]", "")) * lit(1.0) / nChars
    val alphaRatio = length(regexp_replace(text, "[^a-zA-Z]", "")) * lit(1.0) / nChars
    least(lit(1.0), size(tokens(text)) / lit(100.0)) * 0.5 +
      alphaRatio * 0.3 + (lit(1.0) - punctRatio) * 0.2
  }

  /** Per-position [[hash60]] values of the normalized text's character
    * k-grams — the hash stream winnowing selects from. Delegates to the
    * native [[graft.functions.GramHash60]] (one generated call per
    * document; the normal form is an ordinary child expression, evaluated
    * once by construction). [[gramHashesHof]] is the built-ins-only
    * spelling, parity-pinned by test.
    */
  def gramHashes(text: Column, k: Int): Column = {
    require(k >= 0, s"gramHashes: k must be >= 0, got $k")
    call_function("graft_gram_hash60", normalizeText(text), lit(k))
  }

  /** Built-ins-only [[gramHashes]] (same values): the normal form is bound
    * INSIDE the expression via a one-element `transform` lambda
    * (`array(norm) → s → …`) so the per-gram `substr` lambda reads a
    * lambda variable instead of an inlined normalizeText subtree, which
    * would re-run the regex once PER GRAM (the q26 lesson, O(len²) per
    * document — the q66 query measured 39.6s inlined vs ~4s bound at
    * sf0.1). A `withColumn` binding is not enough: the optimizer can
    * inline single-use projections into generator filters.
    */
  private[graft] def gramHashesHof(text: Column, k: Int): Column =
    element_at(
      transform(array(normalizeText(text)), s =>
        transform(
          when(length(s) >= k,
            transform(sequence(lit(1), length(s) - (k - 1)), i => s.substr(i, lit(k))))
            .otherwise(array(s)),
          g => hash60(g))),
      1)

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    * 2003) over a k-gram hash stream: the minimum of every `w`-hash
    * window, distinct. Guarantees: two documents sharing ANY substring of
    * length >= w + k - 1 share at least one fingerprint (every length-w
    * window of the shared region selects the same local minimum on both
    * sides), and selection density is ~2/(w+1) — position-local, unlike a
    * global MinHash, so it detects PARTIAL overlap. Streams shorter than
    * `w` collapse to one window. Delegates to the native one-pass
    * monotonic-deque [[graft.functions.WinnowSelect]];
    * [[winnowSelectHof]] is the built-ins-only spelling, parity-pinned.
    */
  def winnowSelect(hashes: Column, w: Int): Column =
    call_function("graft_winnow_select", hashes, lit(w))

  /** Built-ins-only [[winnowSelect]] (same values, O(m·w) interpreted):
    * the one-element-lambda binding keeps the stream evaluated once
    * however the caller spells the argument.
    */
  private[graft] def winnowSelectHof(hashes: Column, w: Int): Column =
    element_at(
      transform(array(hashes), hs =>
        array_distinct(
          when(size(hs) >= w,
            transform(sequence(lit(1), size(hs) - (w - 1)),
              i => array_min(slice(hs, i, lit(w)))))
            .otherwise(array(array_min(hs))))),
      1)

  /** [[qualityScore]] on the tie-free integer grid `floor(score·1e4 + 0.5)`
    * (0..10000). The 0.5·n_tokens/100 term lands raw scores on exact .xxxx5
    * boundaries where Spark and DuckDB round a ulp apart; the grid is the
    * same double arithmetic in both engines — see q24's rounding note.
    */
  def qualityGrid(text: Column): Column =
    floor(qualityScore(text) * 10000d + 0.5d)

  /** Portable 60-bit hash (delegates to [[Cdm.hash60]]). */
  def hash60(c: Column): Column = Cdm.hash60(c)

  /** 1-based start indices for fixed-size token chunks of `size` with
    * stride `stride` (overlap = size - stride). Callers filter empty token
    * arrays first — a 0-token doc yields no chunks in the oracle
    * (`range(1, 1, stride)` is empty) and must here too.
    */
  def chunkStarts(toks: Column, stride: Int): Column =
    sequence(lit(1), size(toks), lit(stride))

  /** Slice of `size` tokens at 1-based `start`. */
  def chunk(toks: Column, start: Column, size: Int): Column =
    slice(toks, start, lit(size))

  /** Pattern-based redaction (the PII-scrub shape: emails/phones/ids in a
    * real corpus; a term blocklist here so the synthetic corpus exercises
    * non-zero matches). Returns (redacted text, match count) columns.
    */
  def redact(text: Column, pattern: String, replacement: String): (Column, Column) =
    (regexp_replace(text, pattern, replacement), regexp_count(text, lit(pattern)))

  /** Small built-in stopword lists for the n-gram/stopword language-ID
    * heuristic. Deliberately tiny — the operator contract is the heuristic
    * itself, not lexicon quality.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "nicht", "mit", "auf", "zu"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "no"),
    "fr" -> Seq("le", "la", "et", "les", "des", "en", "un", "une", "du", "est"))

  /** Count of tokens belonging to `lang`'s stopword list. */
  def stopwordCount(toks: Column, lang: String): Column =
    size(filter(toks, t => t.isin(stopwords(lang).map(lit): _*)))

  /** Language prediction: argmax of stopword counts with a fixed priority
    * order (en > de > es > fr) on ties; 'und' (undetermined) when all zero.
    */
  def langPredict(toks: Column): Column = {
    val s = Seq("en", "de", "es", "fr").map(l => l -> stopwordCount(toks, l)).toMap
    when(s.values.reduce(_ + _) === 0, lit("und"))
      .when(s("en") >= s("de") && s("en") >= s("es") && s("en") >= s("fr"), lit("en"))
      .when(s("de") >= s("es") && s("de") >= s("fr"), lit("de"))
      .when(s("es") >= s("fr"), lit("es"))
      .otherwise(lit("fr"))
  }
}
