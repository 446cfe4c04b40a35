package graft.sql

import org.apache.spark.sql.{AnalysisException, Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.{md5, size}
import org.apache.spark.sql.graft.StreamShim

import graft.functions._
import graft.sim.Ann
import graft.text.{Urls, TextFunctions => TF}
import TableFunctions.{Args, Param, int, value}

/** graft's scalar functions on the SQL surface: one registration table,
  * each name bound onto the Column combinator itself —
  * `graft_tokens(text)` is [[graft.text.TextFunctions.tokens]], so
  * `spark.sql` callers get the expression, and the optimized plan, a
  * DataFrame caller gets: no eval boundary hides the body from the
  * optimizer, and there is no second spelling to keep equal. graft's native
  * expressions (`graft_dot`, `graft_hash60`, …) are entries of the same
  * table; each builds its expression class.
  *
  * The reference's consumers live in SQL-first notebooks (reference:
  * 5_gold/fact_transaction.py:16-58 — CREATE TABLE / INSERT INTO built
  * entirely from spark.sql blocks, as are its sibling dim and fact
  * notebooks); this is what lets them switch without leaving SQL.
  *
  * Arguments bind through [[TableFunctions]]' binder: a column argument
  * takes any expression (a lambda variable included); an `n`/`k`/`w`
  * takes a constant INT. A wrong call fails at analysis with
  * `WRONG_NUM_ARGS`, `NON_FOLDABLE_ARGUMENT` or `UNEXPECTED_INPUT_TYPE`.
  *
  * [[graft.functions.GraftExtensions]] injects [[all]] and the table
  * functions; [[register]] registers both on a session without the
  * extension (once per session).
  */
object SqlFunctions {

  /** A scalar function: `name(params…)` is `build` on the bound arguments. */
  final case class Fn(name: String, params: Seq[Param])(val build: Args => Column) {
    def id: FunctionIdentifier = FunctionIdentifier(name)

    def info: ExpressionInfo = TableFunctions.info(name, params)

    /** The analyzer's builder: bind, build the Column, hand back its
      * expression (the analyzer resolves what the combinator left open).
      */
    val builder: Seq[Expression] => Expression = args => {
      val spark = SparkSession.active
      StreamShim.expression(spark, build(TableFunctions.bind(name, params, spark, args)))
    }
  }

  private def fn(name: String, x: String)(f: Column => Column) =
    Fn(name, Seq(value(x)))(a => f(a.value(x)))
  private def fn(name: String, x: String, y: String)(f: (Column, Column) => Column) =
    Fn(name, Seq(value(x), value(y)))(a => f(a.value(x), a.value(y)))
  private def fnN(name: String, x: String, n: String)(f: (Column, Int) => Column) =
    Fn(name, Seq(value(x), int(n)))(a => f(a.value(x), a.int(n)))
  /** `graft_gram_hashes`' `k` below 0 fails analysis as a constant one
    * passed to `graft_gram_hash60` does, before the combinator's require.
    */
  private def gramLength(k: Int): Int =
    if (k >= 0) k
    else throw new AnalysisException("DATATYPE_MISMATCH.VALUE_OUT_OF_RANGE", Map(
      "sqlExpr" -> "\"graft_gram_hashes\"", "exprName" -> "`k`",
      "valueRange" -> s"[0, ${Int.MaxValue}]", "currentValue" -> k.toString))

  private def native(name: String, x: String)(make: Expression => Expression) =
    Fn(name, Seq(value(x)))(a => StreamShim.column(make(a.expression(x))))
  private def native(name: String, x: String, y: String)(
      make: (Expression, Expression) => Expression) =
    Fn(name, Seq(value(x), value(y)))(a =>
      StreamShim.column(make(a.expression(x), a.expression(y))))

  /** Every graft scalar function, by name. */
  val all: Seq[Fn] = Seq(
    // text primitives
    fn("graft_tokens", "text")(TF.tokens),
    fn("graft_normalize", "text")(TF.normalizeText),
    // q26's exact-dedup canon: md5 of the normal form
    fn("graft_fingerprint", "text")(t => md5(TF.normalizeText(t))),
    fn("graft_token_count", "text")(t => size(TF.tokens(t))),
    fn("graft_word_bigrams", "toks")(TF.wordBigrams),
    fnN("graft_word_ngrams", "toks", "n")(TF.wordNgrams),
    fn("graft_max_run_count", "arr")(TF.maxRunCount),
    fnN("graft_char_ngrams", "text", "n")(TF.charNgrams),
    fn("graft_langid_tokens", "toks")(TF.langPredict),
    fn("graft_langid", "text")(t => TF.langPredict(TF.tokens(t))),
    // q24's quality score on its tie-free grid
    fn("graft_quality", "text")(t => TF.qualityGrid(t) / 1e4),
    fnN("graft_gram_hashes", "text", "k")((t, k) => TF.gramHashes(t, gramLength(k))),
    fnN("graft_winnow", "hs", "w")(TF.winnowSelect),
    // urls
    fn("graft_url_canon", "url")(Urls.canonicalize),
    fn("graft_url_domain", "url")(Urls.domain),
    fn("graft_surt_key", "url")(Urls.surtKey),
    fn("graft_dotsegs", "p")(Urls.removeDotSegments),
    fn("graft_url_resolve", "base", "href")(Urls.resolve),
    fn("graft_cosine", "a", "b")(Ann.cosine),
    // native expressions
    native("graft_dot", "a", "b")(DotProduct(_, _)),
    native("graft_hash60", "s")(Hash60(_)),
    native("graft_bitand_count", "a", "b")(BitAndCount(_, _)),
    native("graft_gram_hash60", "s", "k")(GramHash60(_, _)),
    native("graft_word_gram_hash60", "toks", "n")(WordGramHash60(_, _)),
    native("graft_winnow_select", "hs", "w")(WinnowSelect(_, _)),
    native("graft_bitset", "ranks", "words")(BitsetFromRanks(_, _)),
    native("graft_bin", "value", "splits")(BinBySplits(_, _)),
    native("graft_bpe_encode", "token", "merges")(BpeEncode(_, _)),
    native("graft_bpe_byte_encode", "token", "merges")(BpeByteEncode(_, _)),
    native("graft_gunzip", "payload", "max_bytes")(Gunzip(_, _)),
    native("graft_nfc", "s")(NfcNormalize(_)),
    native("graft_unigram_encode", "token", "vocab")(UnigramEncode(_, _)),
    native("graft_charset_sniff", "content_type", "payload")(CharsetSniff(_, _)),
    native("graft_pairs", "xs")(SortedPairs(_)),
    native("graft_charset_decode", "payload", "charset")(CharsetDecode(_, _))
  )

  /** Register [[all]] through `register` (an extension's injector or a
    * session's function registry).
    */
  def registerWith(
      register: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) => Unit): Unit =
    all.foreach(f => register(f.id, f.info, f.builder))

  /** Register the scalar functions and the [[TableFunctions]] on
    * `spark`'s session (a session built with `GraftExtensions` already
    * has them).
    */
  def register(spark: SparkSession): Unit = {
    // an entry that is already this table's stays: replacing it changes
    // nothing and logs a WARN per name
    val fns = spark.sessionState.functionRegistry
    registerWith((id, info, builder) =>
      if (!fns.lookupFunctionBuilder(id).contains(builder)) fns.registerFunction(id, info, builder))
    val tfs = spark.sessionState.tableFunctionRegistry
    TableFunctions.registerWith((id, info, builder) =>
      if (!tfs.lookupFunctionBuilder(id).contains(builder)) tfs.registerFunction(id, info, builder))
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
