package graft.sql

import org.apache.spark.sql.SparkSession

import graft.text.TextFunctions

/** SQL surface for the text/sim primitives: every function here is a SQL
  * scalar UDF (`CREATE FUNCTION … RETURN <expr>`) whose body is the exact
  * SQL spelling of the corresponding [[graft.text.TextFunctions]] /
  * [[graft.sim.Ann]] Column combinator, so `spark.sql` users get the same
  * results — and the same PLANS — as DataFrame users: Catalyst inlines a
  * SQL-UDF body into the caller's expression tree at analysis time (no
  * black-box eval boundary, whole-stage codegen intact), which is why this
  * beats a registered Scala UDF at any scale.
  *
  * The reference's consumers live in SQL-first notebooks (reference:
  * 5_gold/fact_transaction.py:16-58 — CREATE TABLE / INSERT INTO built
  * entirely from spark.sql blocks, as are its sibling dim and fact
  * notebooks); this is what lets them switch without leaving SQL. Consistency with the Column API is spec-enforced
  * per function (SqlSurfaceSpec).
  *
  * Temporary functions are session-scoped: call [[register]] once per
  * session (idempotent — CREATE OR REPLACE).
  */
object SqlFunctions {

  /** SQL list literal of a stopword lexicon ([[TextFunctions.stopwords]]). */
  private def stops(lang: String): String =
    TextFunctions.stopwords(lang).map(w => s"'$w'").mkString(", ")

  private def stopCount(lang: String): String =
    s"size(filter(toks, t -> t IN (${stops(lang)})))"

  /** The function DDL, in dependency order (later bodies call earlier
    * functions — SQL UDFs compose by name within the session).
    */
  private def ddl(nativeDot: Boolean, nativeHash: Boolean): Seq[String] = (
    // Without GraftExtensions, spell hash60 from built-ins (the
    // Cdm.hash60Composed chain — same values, AnnSpec-pinned). With them,
    // the native function is already in the registry and a temp function
    // of the same name would SHADOW the codegen'd one.
    if (nativeHash) Seq.empty[String]
    else Seq(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_hash60(s STRING)
        |RETURNS BIGINT
        |RETURN cast(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)""".stripMargin)
  ) ++ Seq(
    // TextFunctions.tokens
    """CREATE OR REPLACE TEMPORARY FUNCTION graft_tokens(text STRING)
      |RETURNS ARRAY<STRING>
      |RETURN filter(split(lower(text), '[^a-z0-9]+'), t -> length(t) > 0)""".stripMargin,
    // TextFunctions.normalizeText
    """CREATE OR REPLACE TEMPORARY FUNCTION graft_normalize(text STRING)
      |RETURNS STRING
      |RETURN trim(regexp_replace(lower(text), '\\s+', ' '))""".stripMargin,
    // q26's exact-dedup canon: md5 of the normal form
    """CREATE OR REPLACE TEMPORARY FUNCTION graft_fingerprint(text STRING)
      |RETURNS STRING
      |RETURN md5(graft_normalize(text))""".stripMargin,
    """CREATE OR REPLACE TEMPORARY FUNCTION graft_token_count(text STRING)
      |RETURNS INT
      |RETURN size(graft_tokens(text))""".stripMargin,
    // TextFunctions.wordBigrams (incl. the size>=2 guard — see its scaladoc)
    """CREATE OR REPLACE TEMPORARY FUNCTION graft_word_bigrams(toks ARRAY<STRING>)
      |RETURNS ARRAY<STRING>
      |RETURN CASE WHEN size(toks) >= 2 THEN
      |  zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1),
      |           (a, b) -> concat_ws(' ', a, b))
      |ELSE cast(array() AS ARRAY<STRING>) END""".stripMargin,
    // TextFunctions.wordNgrams — the one-element-lambda binding is
    // load-bearing as in the Column spelling (tokenization must not be
    // re-inlined per gram).
    """CREATE OR REPLACE TEMPORARY FUNCTION graft_word_ngrams(toks ARRAY<STRING>, n INT)
      |RETURNS ARRAY<STRING>
      |RETURN element_at(transform(array(toks), ts ->
      |  CASE WHEN size(ts) >= n THEN
      |    transform(sequence(1, size(ts) - (n - 1)), i -> concat_ws(' ', slice(ts, i, n)))
      |  ELSE cast(array() AS ARRAY<STRING>) END), 1)""".stripMargin,
    // TextFunctions.maxRunCount (q70's doc-local repetition statistic)
    """CREATE OR REPLACE TEMPORARY FUNCTION graft_max_run_count(arr ARRAY<STRING>)
      |RETURNS BIGINT
      |RETURN aggregate(array_sort(arr),
      |  named_struct('prev', '', 'run', 0L, 'best', 0L),
      |  (acc, x) -> named_struct(
      |    'prev', x,
      |    'run', CASE WHEN x = acc.prev THEN acc.run + 1L ELSE 1L END,
      |    'best', greatest(acc.best, CASE WHEN x = acc.prev THEN acc.run + 1L ELSE 1L END)),
      |  acc -> acc.best)""".stripMargin,
    // TextFunctions.charNgrams (whole string when shorter than n)
    """CREATE OR REPLACE TEMPORARY FUNCTION graft_char_ngrams(text STRING, n INT)
      |RETURNS ARRAY<STRING>
      |RETURN CASE WHEN length(text) >= n THEN
      |  transform(sequence(1, length(text) - (n - 1)), i -> substr(text, i, n))
      |ELSE array(text) END""".stripMargin,
    // TextFunctions.langPredict: argmax of stopword counts, fixed
    // en > de > es > fr tie priority, 'und' when all zero. The counts
    // repeat textually per branch; Catalyst's subexpression elimination
    // evaluates each once.
    s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_langid_tokens(toks ARRAY<STRING>)
       |RETURNS STRING
       |RETURN CASE
       |  WHEN ${stopCount("en")} + ${stopCount("de")} + ${stopCount("es")} + ${stopCount("fr")} = 0 THEN 'und'
       |  WHEN ${stopCount("en")} >= ${stopCount("de")} AND ${stopCount("en")} >= ${stopCount("es")}
       |       AND ${stopCount("en")} >= ${stopCount("fr")} THEN 'en'
       |  WHEN ${stopCount("de")} >= ${stopCount("es")} AND ${stopCount("de")} >= ${stopCount("fr")} THEN 'de'
       |  WHEN ${stopCount("es")} >= ${stopCount("fr")} THEN 'es'
       |  ELSE 'fr' END""".stripMargin,
    """CREATE OR REPLACE TEMPORARY FUNCTION graft_langid(text STRING)
      |RETURNS STRING
      |RETURN graft_langid_tokens(graft_tokens(text))""".stripMargin,
    // q24's composite quality score on its tie-free floor grid
    // (TextQueries q24: floor(x*1e4 + 0.5)/1e4 — identical double
    // arithmetic in Spark and DuckDB, no HALF_UP ties)
    """CREATE OR REPLACE TEMPORARY FUNCTION graft_quality(text STRING)
      |RETURNS DOUBLE
      |RETURN floor((least(1.0d, size(graft_tokens(text)) / 100.0d) * 0.5d
      |  + (length(regexp_replace(text, '[^a-zA-Z]', '')) * 1.0d / length(text)) * 0.3d
      |  + (1.0d - length(regexp_replace(text, '[a-zA-Z0-9\\s]', '')) * 1.0d / length(text)) * 0.2d
      |  ) * 10000d + 0.5d) / 10000d""".stripMargin,
    // TextFunctions.gramHashes / winnowSelect (q66's primitives). The
    // one-element-lambda wrapper is load-bearing exactly as in the Column
    // spelling: it binds the normal form / the hash stream to a lambda
    // variable so inlining at the call site cannot multiply its
    // evaluation per gram / per window.
    """CREATE OR REPLACE TEMPORARY FUNCTION graft_gram_hashes(text STRING, k INT)
      |RETURNS ARRAY<BIGINT>
      |RETURN element_at(transform(array(graft_normalize(text)), s ->
      |  transform(CASE WHEN length(s) >= k
      |      THEN transform(sequence(1, length(s) - (k - 1)), i -> substr(s, i, k))
      |      ELSE array(s) END,
      |    g -> graft_hash60(g))), 1)""".stripMargin,
    """CREATE OR REPLACE TEMPORARY FUNCTION graft_winnow(hs ARRAY<BIGINT>, w INT)
      |RETURNS ARRAY<BIGINT>
      |RETURN element_at(transform(array(hs), a ->
      |  array_distinct(CASE WHEN size(a) >= w
      |      THEN transform(sequence(1, size(a) - (w - 1)), i -> array_min(slice(a, i, w)))
      |      ELSE array(array_min(a)) END)), 1)""".stripMargin,
    // Ann.cosine. With GraftExtensions active the body rides the native
    // codegen'd graft_dot; otherwise the interpreted-HOF fold — the two are
    // bit-identical (both sequential left-to-right double sums), so which
    // body a session gets is a throughput choice, never a results one.
    // text.Urls.canonicalize — same regexp chain, Catalyst-inlined. The
    // tracking-param alternation comes from the one Scala constant so the
    // two surfaces cannot drift.
    s"""CREATE OR REPLACE TEMPORARY FUNCTION graft_url_canon(url STRING)
       |RETURNS STRING
       |RETURN regexp_replace(
       |  regexp_replace(
       |    regexp_replace(
       |      regexp_replace(
       |        regexp_replace(
       |          regexp_replace(
       |            regexp_replace(
       |              element_at(transform(array(regexp_replace(trim(url), '#.*$$', '')), u ->
       |                element_at(transform(
       |                  array(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)', 1)),
       |                  p -> concat(lower(p), substr(u, length(p) + 1, 1000000))), 1)), 1),
       |              '^([a-z][a-z0-9+.-]*://)[^/?@]*@', '$$1'),
       |            '^([a-z][a-z0-9+.-]*://)www\\\\.', '$$1'),
       |          '^(http://(?:\\\\[[^\\\\]]+\\\\]|[^/?:]*)):80(?=[/?]|$$)', '$$1'),
       |        '^(https://(?:\\\\[[^\\\\]]+\\\\]|[^/?:]*)):443(?=[/?]|$$)', '$$1'),
       |      '(?<=[?&])(?:${graft.text.Urls.TrackingParams})=[^&#]*&?', ''),
       |    '[?&]+$$', ''),
       |  '/+(\\\\?|$$)', '$$1')""".stripMargin,
    // text.Urls.domain (of a canonical url)
    // plain triple-quote: backslashes are NOT escape-processed here (unlike
    // the s-interpolated canon body above), so SQL-level `\[` is spelled \\[
    """CREATE OR REPLACE TEMPORARY FUNCTION graft_url_domain(url STRING)
      |RETURNS STRING
      |RETURN regexp_extract(url,
      |  '^[a-z][a-z0-9+.-]*://(\\[[^\\]]+\\]|[^/?:]*)', 1)""".stripMargin,
    // text.Urls.surtKey (of a canonical url) — same branch structure;
    // the host local rides the one-element-transform binding.
    """CREATE OR REPLACE TEMPORARY FUNCTION graft_surt_key(url STRING)
      |RETURNS STRING
      |RETURN element_at(transform(array(graft_url_domain(url)), hst ->
      |  CASE WHEN hst = '' THEN cast(null as string)
      |  ELSE concat(
      |    CASE WHEN hst like '[%' THEN hst
      |         ELSE array_join(reverse(split(hst, '\\.')), ',') END,
      |    CASE WHEN regexp_extract(url,
      |        '^[a-z][a-z0-9+.-]*://(?:\\[[^\\]]+\\]|[^/?:]*):([0-9]+)', 1) != ''
      |      THEN concat(':', regexp_extract(url,
      |        '^[a-z][a-z0-9+.-]*://(?:\\[[^\\]]+\\]|[^/?:]*):([0-9]+)', 1))
      |      ELSE '' END,
      |    ')',
      |    regexp_replace(url, '^[a-z][a-z0-9+.-]*://[^/?]*', ''))
      |  END), 1)""".stripMargin,
    // text.Urls.removeDotSegments — the same bounded fold, SQL-spelled.
    """CREATE OR REPLACE TEMPORARY FUNCTION graft_dotsegs(p STRING)
      |RETURNS STRING
      |RETURN element_at(transform(array(concat_ws('/',
      |    aggregate(split(p, '/'), cast(array() as array<string>),
      |      (acc, s) -> CASE WHEN s = '.' THEN acc
      |        WHEN s = '..' THEN
      |          CASE WHEN size(acc) > 1 THEN slice(acc, 1, size(acc) - 1)
      |               ELSE acc END
      |        ELSE array_append(acc, s) END))),
      |  j -> CASE WHEN j = '' THEN '/' ELSE j END), 1)""".stripMargin,
    // text.Urls.resolve — the same branch chain; locals ride the
    // one-element-transform binding (h = trimmed href, nqb = base minus
    // query+fragment, o = origin) so each regexp runs once, not per use.
    // The dot-segment fold is SPLICED inline (not a graft_dotsegs call):
    // a SQL UDF invoked with a lambda-variable argument fails analysis —
    // the inliner plants a Project that can't see the enclosing lambda
    // binding (MISSING_ATTRIBUTES on `h`).
    {
      val dotsegs: String => String = p =>
        """element_at(transform(array(concat_ws('/',
          |            aggregate(split(<P>, '/'), cast(array() as array<string>),
          |              (acc2, s2) -> CASE WHEN s2 = '.' THEN acc2
          |                WHEN s2 = '..' THEN
          |                  CASE WHEN size(acc2) > 1
          |                       THEN slice(acc2, 1, size(acc2) - 1)
          |                       ELSE acc2 END
          |                ELSE array_append(acc2, s2) END))),
          |          j2 -> CASE WHEN j2 = '' THEN '/' ELSE j2 END), 1)""".stripMargin
          .replace("<P>", p)
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_url_resolve(base STRING, href STRING)
        |RETURNS STRING
        |RETURN element_at(transform(array(trim(href)), h ->
        |  element_at(transform(array(regexp_replace(
        |      regexp_replace(trim(base), '#.*$', ''), '\\?.*$', '')), nqb ->
        |    element_at(transform(array(regexp_extract(nqb,
        |        '^([A-Za-z][A-Za-z0-9+.-]*://(?:\\[[^\\]]+\\]|[^/?#])*)', 1)), o ->
        |      CASE
        |        WHEN h rlike '^[A-Za-z][A-Za-z0-9+.-]*:' THEN h
        |        WHEN h rlike '^//' THEN concat(lower(
        |          regexp_extract(nqb, '^([A-Za-z][A-Za-z0-9+.-]*):', 1)), ':', h)
        |        WHEN h rlike '^/' THEN concat(o,
        |          <DS_ROOT>,
        |          regexp_extract(h, '([?#].*)$', 1))
        |        WHEN h rlike '^\\?' THEN concat(nqb, h)
        |        WHEN h rlike '^#' or h = ''
        |          THEN regexp_replace(trim(base), '#.*$', '')
        |        ELSE concat(o,
        |          <DS_REL>,
        |          regexp_extract(h, '([?#].*)$', 1))
        |      END), 1)), 1)), 1)""".stripMargin
        .replace("<DS_ROOT>", dotsegs("regexp_replace(h, '[?#].*$', '')"))
        .replace("<DS_REL>", dotsegs(
          """concat(
            |            CASE WHEN substr(nqb, length(o) + 1, 1000000) rlike '/'
            |              THEN regexp_replace(
            |                substr(nqb, length(o) + 1, 1000000), '/[^/]*$', '/')
            |              ELSE '/' END,
            |            regexp_replace(h, '[?#].*$', ''))""".stripMargin))
    },
    if (nativeDot)
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_cosine(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)
        |RETURNS DOUBLE
        |RETURN graft_dot(a, b) / (sqrt(graft_dot(a, a)) * sqrt(graft_dot(b, b)))""".stripMargin
    else
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_cosine(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)
        |RETURNS DOUBLE
        |RETURN aggregate(zip_with(a, b, (x, y) -> x * y), 0.0d, (acc, x) -> acc + x)
        |  / (sqrt(aggregate(transform(a, x -> x * x), 0.0d, (acc, x) -> acc + x))
        |     * sqrt(aggregate(transform(b, x -> x * x), 0.0d, (acc, x) -> acc + x)))""".stripMargin
  )

  /** Create (or replace) the graft SQL functions in `spark`'s session,
    * and register the [[TableFunctions]] in its table-function registry
    * (a session built with `GraftExtensions` already has them).
    */
  def register(spark: SparkSession): Unit = {
    ddl(nativeDot = spark.catalog.functionExists("graft_dot"),
      nativeHash = spark.catalog.functionExists("graft_hash60")).foreach(spark.sql(_))
    TableFunctions.registerWith((id, info, builder) =>
      spark.sessionState.tableFunctionRegistry.registerFunction(id, info, builder))
  }

  /** Temp views over an sf-dir's tables so the whole catalog is plain-SQL
    * queryable (`SELECT graft_langid(text) FROM documents`). Uses
    * [[graft.Tables]]'s readers — the events ns→µs timestamp conversion
    * included.
    */
  def registerTables(spark: SparkSession, dir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach {
      case "events" => graft.Tables.events(spark, dir).createOrReplaceTempView("events")
      case n => graft.Tables.t(spark, dir, n).createOrReplaceTempView(n)
    }
}
