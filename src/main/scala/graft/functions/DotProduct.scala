package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native dot product over two double arrays, with whole-stage codegen.
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) express the same
  * fold but evaluate interpreted, one lambda call per element — measured
  * ~10× slower on the ANN reranking path. This is the (b)-tier extension
  * from the build guidelines: a scalar Catalyst `Expression` with
  * `doGenCode`, registered through `SparkSessionExtensions`
  * ([[GraftExtensions]]) and invoked as `call_function("graft_dot", a, b)`.
  *
  * The fold is sequential left-to-right, so results are bit-identical to
  * both the HOF formulation and the DuckDB oracle's `list_sum` of products.
  * Null elements are treated as 0; mismatched lengths use the shorter.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects two array<double> arguments, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}

/** Session extension registering graft's native functions and its table
  * functions ([[graft.sql.TableFunctions]]).
  * Enable with `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_hash60"),
      new ExpressionInfo(classOf[Hash60].getName, "graft_hash60"),
      (children: Seq[Expression]) => Hash60(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_bitand_count"),
      new ExpressionInfo(classOf[BitAndCount].getName, "graft_bitand_count"),
      (children: Seq[Expression]) => BitAndCount(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_gram_hash60"),
      new ExpressionInfo(classOf[GramHash60].getName, "graft_gram_hash60"),
      (children: Seq[Expression]) => GramHash60(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_word_gram_hash60"),
      new ExpressionInfo(classOf[WordGramHash60].getName, "graft_word_gram_hash60"),
      (children: Seq[Expression]) => WordGramHash60(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_winnow_select"),
      new ExpressionInfo(classOf[WinnowSelect].getName, "graft_winnow_select"),
      (children: Seq[Expression]) => WinnowSelect(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_bitset"),
      new ExpressionInfo(classOf[BitsetFromRanks].getName, "graft_bitset"),
      (children: Seq[Expression]) => BitsetFromRanks(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_bin"),
      new ExpressionInfo(classOf[BinBySplits].getName, "graft_bin"),
      (children: Seq[Expression]) => BinBySplits(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_bpe_encode"),
      new ExpressionInfo(classOf[BpeEncode].getName, "graft_bpe_encode"),
      (children: Seq[Expression]) => BpeEncode(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_bpe_byte_encode"),
      new ExpressionInfo(classOf[BpeByteEncode].getName, "graft_bpe_byte_encode"),
      (children: Seq[Expression]) => BpeByteEncode(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_gunzip"),
      new ExpressionInfo(classOf[Gunzip].getName, "graft_gunzip"),
      (children: Seq[Expression]) => Gunzip(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (children: Seq[Expression]) => NfcNormalize(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_unigram_encode"),
      new ExpressionInfo(classOf[UnigramEncode].getName, "graft_unigram_encode"),
      (children: Seq[Expression]) => UnigramEncode(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_charset_sniff"),
      new ExpressionInfo(classOf[CharsetSniff].getName, "graft_charset_sniff"),
      (children: Seq[Expression]) => CharsetSniff(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_pairs"),
      new ExpressionInfo(classOf[SortedPairs].getName, "graft_pairs"),
      (children: Seq[Expression]) => SortedPairs(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_charset_decode"),
      new ExpressionInfo(classOf[CharsetDecode].getName, "graft_charset_decode"),
      (children: Seq[Expression]) => CharsetDecode(children.head, children(1))))
    graft.sql.TableFunctions.registerWith((id, info, builder) =>
      ext.injectTableFunction((id, info, builder)))
  }
}
