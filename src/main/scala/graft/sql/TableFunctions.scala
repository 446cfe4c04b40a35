package graft.sql

import org.apache.spark.SPARK_DOC_ROOT
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Ascending, Expression, ExpressionInfo,
  FunctionTableSubqueryArgumentExpression, NullsFirst}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.graft.StreamShim
import org.apache.spark.sql.types._

import graft.functions.Bloom
import graft.ops.{AsOf, Baskets, Dedup, GapFill, Graph, Quality, Sampling, Scd2,
  SequencePack, ShardPack}
import graft.queries.TextQueries
import graft.sim.Ann
import graft.sources.TokenShards
import graft.text.{BloomDecontaminate, Bpe, CorpusReport, Decontaminate,
  Gopher, HtmlExtract, LangClassifier, LineDedup, MinHash, QualityClassifier,
  SpanDedup, Urls}

/** graft's relational and corpus operators on the SQL surface: one table
  * function per operator, each binding its SQL arguments onto the library
  * call itself — `SELECT * FROM graft_dedup_latest('events', 'user_id',
  * 'ts DESC')` runs [[graft.ops.Dedup.latestPerKey]] and gets the plan a
  * DataFrame caller gets. There is no second spelling to keep equal.
  *
  * The reference's consumers live in SQL-first notebooks (reference:
  * 5_gold/fact_transaction.py:16-58, built from spark.sql blocks); these
  * are their face for the operators, as [[SqlFunctions]]' scalar
  * functions are for the text primitives.
  *
  * Arguments, by kind:
  *  - a table: a name (`'t'`), `TABLE(t)` or `TABLE(SELECT …)`;
  *  - columns: one string of comma-separated names (`'user_id, day'`);
  *  - an order: one string read as an ORDER BY clause (`'ts DESC, id'`);
  *  - a predicate: one string of SQL (`'source = ''src0'''`);
  *  - a value (SCD2's as-of time): any expression without column refs;
  *  - everything else: a constant of the listed type; a nullable one
  *    takes NULL for "absent".
  * Trailing arguments with a default may be left out. A wrong argument
  * count fails with `WRONG_NUM_ARGS`, a non-constant argument with
  * `NON_FOLDABLE_ARGUMENT` and a wrong type (a `TABLE(…)` argument with
  * PARTITION BY or ORDER BY included) with `UNEXPECTED_INPUT_TYPE`,
  * all at analysis; an unknown table or column fails with Spark's own
  * named error from the operator's plan.
  *
  * Most functions only build a plan while Spark analyzes the query. Five
  * run Spark jobs then, on every analysis (so `spark.sql`, `EXPLAIN` and
  * each re-analysis of a view over them), because their operator reads
  * data on the driver to shape its plan:
  *  - `graft_pagerank`: the whole PageRank (its eager `localCheckpoint`
  *    rounds; 6 jobs at 5 iterations on a small graph);
  *  - `graft_mixture_sample`: the per-stratum counts. The thresholds are
  *    fixed at analysis: a stratum the input gains before the frame runs
  *    has no threshold, and all its rows are dropped;
  *  - `graft_source_overlap`: the distinct source count;
  *  - `graft_bloom_decontaminate`: the eval n-gram count that sizes the
  *    filter;
  *  - `graft_langid_score`: the weight table's default class.
  * `graft_corpus_report`'s first analysis of an input also runs jobs: they
  * fill the cached tokenized base that later analyses reuse.
  *
  * [[graft.functions.GraftExtensions]] injects [[all]]; a session without
  * the extension gets them from [[SqlFunctions.register]].
  */
object TableFunctions {

  /** What an argument must be, named by its SQL type. */
  sealed abstract class Kind(val sqlType: String)
  case object TableArg extends Kind("TABLE")
  case object StrArg extends Kind("STRING")
  case object IntArg extends Kind("INT")
  case object LongArg extends Kind("BIGINT")
  case object DoubleArg extends Kind("DOUBLE")
  case object StrsArg extends Kind("ARRAY<STRING>")
  case object RulesArg extends Kind("MAP<STRING, STRING>")
  case object ValueArg extends Kind("ANY")

  /** One parameter. `default` makes it optional (optional ones trail);
    * a `nullable` one binds to an Option, NULL meaning None.
    */
  final case class Param(name: String, kind: Kind, default: Option[Any] = None,
      nullable: Boolean = false)

  private def table(n: String) = Param(n, TableArg)
  private def str(n: String) = Param(n, StrArg)
  private def str(n: String, d: String) = Param(n, StrArg, Some(d))
  private def optStr(n: String, d: Option[String]) = Param(n, StrArg, Some(d), nullable = true)
  private[sql] def int(n: String) = Param(n, IntArg)
  private def int(n: String, d: Int) = Param(n, IntArg, Some(d))
  private def optInt(n: String, d: Option[Int]) = Param(n, IntArg, Some(d), nullable = true)
  private def long(n: String) = Param(n, LongArg)
  private def double(n: String, d: Double) = Param(n, DoubleArg, Some(d))
  private def strs(n: String) = Param(n, StrsArg)
  private def rules(n: String) = Param(n, RulesArg)
  private[sql] def value(n: String) = Param(n, ValueArg)

  /** One call's bound arguments, read by parameter name. */
  final class Args private[sql] (spark: SparkSession, values: Map[String, Any]) {
    def session: SparkSession = spark
    def df(n: String): DataFrame = values(n).asInstanceOf[DataFrame]
    def str(n: String): String = values(n).asInstanceOf[String]
    def names(n: String): Seq[String] = str(n).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    def sql(n: String): Column = expr(str(n))
    def order(n: String): Seq[Column] = sortClause(spark, str(n))
    def int(n: String): Int = values(n).asInstanceOf[Int]
    def long(n: String): Long = values(n).asInstanceOf[Long]
    def double(n: String): Double = values(n).asInstanceOf[Double]
    def strs(n: String): Seq[String] = values(n).asInstanceOf[Seq[String]]
    def optStr(n: String): Option[String] = values(n).asInstanceOf[Option[String]]
    def optInt(n: String): Option[Int] = values(n).asInstanceOf[Option[Int]]
    def value(n: String): Column = StreamShim.column(expression(n))
    def expression(n: String): Expression = values(n).asInstanceOf[Expression]
    /** A map of rule name → failing-row predicate, in written order. */
    def rules(n: String): Seq[Quality.Rule] =
      values(n).asInstanceOf[Seq[(String, String)]].map { case (r, p) => Quality.Rule(r, expr(p)) }
  }

  /** A table function: `name(params…)` runs `run` on the bound arguments. */
  final case class Fn(name: String, params: Seq[Param])(val run: Args => DataFrame) {
    require(params.dropWhile(_.default.isEmpty).forall(_.default.isDefined),
      s"$name: optional parameters must trail")

    def id: FunctionIdentifier = FunctionIdentifier(name)

    def info: ExpressionInfo = TableFunctions.info(name, params)

    /** The analyzer's builder: bind, run the operator, hand back its plan. */
    val builder: Seq[Expression] => LogicalPlan = args => {
      val spark = SparkSession.active
      run(bind(name, params, spark, args)).queryExecution.analyzed
    }
  }

  /** A function's registry entry: its name and parameters as usage. */
  private[sql] def info(name: String, params: Seq[Param]): ExpressionInfo =
    new ExpressionInfo(classOf[Fn].getName, null, name,
      params.map(p => p.name + p.default.fold("")(_ => "?")).mkString(s"$name(", ", ", ")"), "")

  // ---- binding ----

  /** Bind the call `name(args…)` onto `params`; a wrong call fails with a
    * named error.
    */
  private[sql] def bind(name: String, params: Seq[Param], spark: SparkSession,
      args: Seq[Expression]): Args = {
    val required = params.count(_.default.isEmpty)
    if (args.size < required || args.size > params.size)
      throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
        "functionName" -> s"`$name`",
        "expectedNum" ->
          (if (required == params.size) s"$required"
           else s"between $required and ${params.size}"),
        "actualNum" -> args.size.toString,
        "docroot" -> SPARK_DOC_ROOT))
    new Args(spark, params.zipWithIndex.map { case (p, i) =>
      p.name -> (if (i < args.size) bindOne(name, spark, p, i, args(i)) else p.default.get)
    }.toMap)
  }

  private def bindOne(name: String, spark: SparkSession, p: Param, i: Int,
      e: Expression): Any = {
    // PARTITION BY / ORDER BY / WITH SINGLE PARTITION shape a UDTF's input;
    // no operator here reads them, so a TABLE argument with them fails
    def shaped(t: FunctionTableSubqueryArgumentExpression) =
      t.hasRepartitioning || t.orderByExpressions.nonEmpty
    def mismatch = {
      val (input, inputType) = e match {
        case t: FunctionTableSubqueryArgumentExpression =>
          ("TABLE(...)", if (shaped(t)) "TABLE with PARTITION BY or ORDER BY" else "TABLE")
        case _ => (e.sql, e.dataType.sql)
      }
      new AnalysisException("UNEXPECTED_INPUT_TYPE", Map(
        "paramIndex" -> s"${i + 1}", "functionName" -> s"`$name`",
        "requiredType" -> s"\"${p.kind.sqlType}\"", "inputSql" -> s"\"$input\"",
        "inputType" -> s"\"$inputType\""))
    }
    (p.kind, e) match {
      case (TableArg, t: FunctionTableSubqueryArgumentExpression) =>
        if (shaped(t)) throw mismatch
        return StreamShim.frame(spark, t.plan)
      case (_, _: FunctionTableSubqueryArgumentExpression) => throw mismatch
      case (ValueArg, _) => return e
      case _ =>
    }
    if (!e.foldable)
      throw new AnalysisException("NON_FOLDABLE_ARGUMENT", Map(
        "funcName" -> s"`$name`", "paramName" -> s"`${p.name}`",
        "paramType" -> s"\"${p.kind.sqlType}\""))
    val v = e.eval()
    if (v == null) { if (p.nullable) return None else throw mismatch }
    val bound: Any = (p.kind, e.dataType) match {
      case (TableArg, _: StringType) => spark.table(v.toString)
      case (StrArg, _: StringType) => v.toString
      case (IntArg, IntegerType | ShortType | ByteType) => v.asInstanceOf[Number].intValue
      case (LongArg, LongType | IntegerType | ShortType | ByteType) =>
        v.asInstanceOf[Number].longValue
      case (DoubleArg, _: DecimalType) => v.asInstanceOf[Decimal].toDouble
      case (DoubleArg, _: NumericType) => v.asInstanceOf[Number].doubleValue
      case (StrsArg, ArrayType(_: StringType | NullType, _)) =>
        val a = v.asInstanceOf[ArrayData]
        if ((0 until a.numElements).exists(a.isNullAt)) throw mismatch
        (0 until a.numElements).map(j => a.getUTF8String(j).toString)
      case (RulesArg, MapType(_: StringType, _: StringType, _)) =>
        val m = v.asInstanceOf[MapData]
        if ((0 until m.numElements).exists(m.valueArray.isNullAt)) throw mismatch
        (0 until m.numElements).map(j =>
          m.keyArray.getUTF8String(j).toString -> m.valueArray.getUTF8String(j).toString)
      case _ => throw mismatch
    }
    if (p.nullable) Some(bound) else bound
  }

  /** A sort clause as sort-order Columns, read by Spark's parser as the
    * ORDER BY of a query — `parseExpression("ts DESC")` would read DESC as
    * an alias and silently sort ascending. Each key is re-spelled with the
    * Column API's direction, so `'ts DESC'` is exactly `col("ts").desc`.
    */
  private def sortClause(spark: SparkSession, clause: String): Seq[Column] =
    spark.sessionState.sqlParser.parsePlan(s"SELECT 1 ORDER BY $clause") match {
      case s: Sort => s.order.map { o =>
        val c = StreamShim.column(o.child)
        (o.direction, o.nullOrdering) match {
          case (Ascending, NullsFirst) => c.asc_nulls_first
          case (Ascending, _) => c.asc_nulls_last
          case (_, NullsFirst) => c.desc_nulls_first
          case _ => c.desc_nulls_last
        }
      }
      case _ => throw new AnalysisException("INVALID_STATEMENT_OR_CLAUSE",
        Map("operation" -> s"ORDER BY $clause"))
    }

  // ---- the registration table ----

  /** Every graft table function, by name. */
  val all: Seq[Fn] = Seq(
    // relational core (reference: 4_silver/silver_transactions.py)
    Fn("graft_dedup_latest", Seq(table("t"), str("keys"), str("order"))) { a =>
      Dedup.latestPerKey(a.df("t"), a.names("keys"), a.order("order"))
    },
    Fn("graft_quarantine", Seq(table("t"), rules("rules"))) { a =>
      Quality.quarantine(a.df("t"), a.rules("rules"))
    },
    Fn("graft_scd2_merge", Seq(table("existing"), table("staged"), str("keys"),
        str("attrs"), value("as_of"))) { a =>
      Scd2.merge(a.df("existing"), a.df("staged"), a.names("keys"), a.names("attrs"),
        a.value("as_of").cast("timestamp"))
    },
    Fn("graft_gap_fill", Seq(table("t"), str("key"), str("day"), str("value"),
        int("max_span_days", 3700))) { a =>
      GapFill.dense(a.df("t"), a.str("key"), a.str("day"), a.str("value"),
        a.int("max_span_days"))
    },
    Fn("graft_asof_join", Seq(table("left"), table("right"), str("key"),
        str("left_ts"), str("right_ts"))) { a =>
      AsOf.asofJoin(a.df("left"), a.df("right"), a.str("key"), a.str("left_ts"),
        a.str("right_ts"))
    },
    Fn("graft_copurchase_top_n", Seq(table("t"), str("basket"), str("item"),
        int("top_n"), int("max_basket", 256))) { a =>
      Baskets.copurchaseTopN(a.df("t"), a.str("basket"), a.str("item"), a.int("top_n"),
        a.int("max_basket"))
    },
    Fn("graft_pagerank", Seq(table("edges"), str("src"), str("dst"), int("iters"),
        double("damping", 0.85))) { a =>
      Graph.pageRank(a.df("edges"), a.str("src"), a.str("dst"), a.int("iters"),
        a.double("damping"))
    },
    // sampling and packing
    Fn("graft_mixture_sample", Seq(table("t"), str("id"), str("stratum"),
        int("temperature", 1))) { a =>
      Sampling.mixture(a.df("t"), a.str("id"), a.str("stratum"), a.int("temperature"))
    },
    Fn("graft_shard_pack", Seq(table("t"), str("id"), str("weight"), long("budget"))) { a =>
      ShardPack.assign(a.df("t"), a.str("id"), a.str("weight"), a.long("budget"))
    },
    Fn("graft_sequence_pack", Seq(table("t"), str("id"), str("weight"), long("seq_len"))) { a =>
      SequencePack.manifest(a.df("t"), a.str("id"), a.str("weight"), a.long("seq_len"))
    },
    Fn("graft_pack_stats", Seq(table("t"), str("id"), str("weight"), long("seq_len"))) { a =>
      SequencePack.stats(SequencePack.manifest(a.df("t"), a.str("id"), a.str("weight"),
        a.long("seq_len")), a.long("seq_len"))
    },
    Fn("graft_corpus_shuffle", Seq(table("t"), str("id"), str("weight"), long("seq_len"),
        str("seed"))) { a =>
      SequencePack.shuffled(a.df("t"), a.str("id"), a.str("weight"), a.long("seq_len"),
        a.str("seed"))
    },
    Fn("graft_eos_pack", Seq(table("t"), str("id"), int("eos_id"), int("seq_len"))) { a =>
      TokenShards.packFull(TokenShards.withEos(a.df("t"), a.int("eos_id"), a.str("id")),
        a.int("seq_len"), idCol = a.str("id"))
    },
    Fn("graft_epoch_plan", Seq(table("t"), int("epochs"), str("seed"), int("seq_len"),
        int("seqs_per_shard"), str("dtype", "i4"))) { a =>
      TokenShards.epochPlan(a.df("t"), a.int("epochs"), a.str("seed"), a.int("seq_len"),
        a.int("seqs_per_shard"), a.str("dtype"))
    },
    // text curation
    Fn("graft_repetition", Seq(table("t"), str("id"), str("text"))) { a =>
      Gopher.repetition(a.df("t"), a.str("id"), a.str("text"))
    },
    Fn("graft_gopher_filter", Seq(table("t"), str("id"), str("text"))) { a =>
      Gopher.verdicts(a.df("t"), a.str("id"), a.str("text"))
    },
    Fn("graft_line_dedup", Seq(table("t"), str("id"), str("text"), str("delim", "\n"))) { a =>
      LineDedup.dedupRollup(a.df("t"), a.str("id"), a.str("text"), a.str("delim"))
    },
    Fn("graft_span_dedup", Seq(table("t"), str("id"), str("text"), int("n", 8))) { a =>
      SpanDedup.dupSpans(a.df("t"), a.str("id"), a.str("text"), a.int("n"))
    },
    Fn("graft_span_trim", Seq(table("t"), str("id"), str("text"), int("n", 8))) { a =>
      SpanDedup.trim(a.df("t"), a.str("id"), a.str("text"), a.int("n"))
    },
    Fn("graft_novelty", Seq(table("t"), str("id"), str("text"), int("n", 8))) { a =>
      SpanDedup.novelty(a.df("t"), a.str("id"), a.str("text"), a.int("n"))
    },
    Fn("graft_decontaminate", Seq(table("t"), str("id"), str("text"), str("eval"),
        int("n"))) { a =>
      Decontaminate.hits(a.df("t"), a.str("id"), a.str("text"), a.sql("eval"), a.int("n"))
    },
    Fn("graft_contamination_spans", Seq(table("t"), str("id"), str("text"), str("eval"),
        int("n", 8))) { a =>
      Decontaminate.contaminationSpans(a.df("t"), a.str("id"), a.str("text"),
        a.sql("eval"), a.int("n"))
    },
    Fn("graft_contamination_trim", Seq(table("t"), str("id"), str("text"), str("eval"),
        int("n", 8))) { a =>
      Decontaminate.trim(a.df("t"), a.str("id"), a.str("text"), a.sql("eval"), a.int("n"))
    },
    Fn("graft_bloom_decontaminate", Seq(table("t"), str("id"), str("text"), str("eval"),
        int("n"), int("bits_per_gram", 16), int("k", Bloom.DefaultK))) { a =>
      BloomDecontaminate.hits(a.df("t"), a.str("id"), a.str("text"), a.sql("eval"),
        a.int("n"), a.int("bits_per_gram"), a.int("k"))
    },
    Fn("graft_minhash_candidates", Seq(table("t"), str("id"), str("text"), int("k", 16),
        int("band_rows", 4), optInt("max_bucket", Some(MinHash.BucketCap)))) { a =>
      MinHash.candidates(MinHash.docBands(a.df("t"), a.str("id"), a.str("text"),
        a.int("k"), a.int("band_rows")), a.str("id"), a.optInt("max_bucket"))
    },
    Fn("graft_minhash_over_cap_pairs", Seq(table("t"), str("id"), str("text"),
        int("k", 16), int("band_rows", 4), int("cap", MinHash.BucketCap))) { a =>
      MinHash.overCapPairs(MinHash.docBands(a.df("t"), a.str("id"), a.str("text"),
        a.int("k"), a.int("band_rows")), a.str("id"), a.int("cap"))
    },
    Fn("graft_boilerplate_grams", Seq(table("t"), str("id"), str("text"), int("n", 8),
        int("min_doc_freq", 2), int("top_n", 25))) { a =>
      CorpusReport.boilerplateGrams(a.df("t"), a.str("id"), a.str("text"), a.int("n"),
        a.int("min_doc_freq"), a.int("top_n"))
    },
    Fn("graft_corpus_report", Seq(table("t"), str("id"), str("text"),
        optStr("lang", Some("lang")), int("n", 8), optStr("charset", None),
        optStr("declared_dup", None), optStr("image_keep", None),
        optStr("audio_keep", None))) { a =>
      CorpusReport.report(a.df("t"), a.str("id"), a.str("text"), a.optStr("lang"),
        a.int("n"), a.optStr("charset"), a.optStr("declared_dup"),
        a.optStr("image_keep"), a.optStr("audio_keep"))
    },
    // per-source diagnostics over (doc_id, source, text)
    Fn("graft_source_overlap", Seq(table("t"))) { a =>
      TextQueries.sourceOverlap(a.df("t"))
    },
    Fn("graft_quality_cutoff", Seq(table("t"), double("q", 0.25))) { a =>
      TextQueries.qualityCutoff(a.df("t"), a.double("q"))
    },
    // classifiers under their closed-form weight tables
    Fn("graft_quality_classifier", Seq(table("t"), str("id"), str("text"),
        int("dim", 512))) { a =>
      QualityClassifier.score(a.df("t"), a.str("id"), a.str("text"),
        QualityClassifier.formulaWeights(a.session, a.int("dim")), a.int("dim"))
    },
    Fn("graft_langid_score", Seq(table("t"), str("id"), str("text"), strs("classes"),
        int("dim", 1024))) { a =>
      LangClassifier.score(a.df("t"), a.str("id"), a.str("text"),
        LangClassifier.formulaWeights(a.session, a.strs("classes"), a.int("dim")),
        a.int("dim"))
    },
    Fn("graft_bpe_doc_stats", Seq(table("t"), str("id"), str("text"), strs("merges"))) { a =>
      Bpe.docStats(a.df("t"), a.str("id"), a.str("text"), a.strs("merges"))
    },
    // web and embeddings
    Fn("graft_url_curate", Seq(table("t"), str("id"), str("url"), str("order"),
        strs("blocklist"), int("k"))) { a =>
      Urls.curate(a.df("t"), a.str("id"), a.str("url"), a.order("order"),
        a.strs("blocklist"), a.int("k"))
    },
    Fn("graft_html_extract", Seq(table("t"), str("id"), str("html"), int("min_len", 10),
        int("max_link_pct", 20))) { a =>
      HtmlExtract.mainText(a.df("t"), a.str("id"), a.str("html"), a.int("min_len"),
        a.int("max_link_pct"))
    },
    Fn("graft_link_graph", Seq(table("t"), str("id"), str("html"), str("base"))) { a =>
      HtmlExtract.hostEdges(HtmlExtract.links(a.df("t"), a.str("id"), a.str("html"),
        a.str("base")), a.str("id"))
    },
    Fn("graft_semdedup", Seq(table("t"), str("id"), str("vec"), int("planes", 8),
        double("tau", 0.35))) { a =>
      val v = a.df("t").select(col(a.str("id")).as("id"),
        Ann.toDouble(col(a.str("vec"))).as("vec"))
      Ann.semDedup(v, Ann.hyperplaneBuckets(v, a.int("planes")), a.double("tau"))
        .select(col("id").as(a.str("id")), col("bucket"), col("dropped_by"),
          col("n_coverers"))
    }
  )

  /** Register [[all]] through `register` (an extension's injector or a
    * session's table-function registry).
    */
  def registerWith(
      register: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) => Unit): Unit =
    all.foreach(f => register(f.id, f.info, f.builder))
}
