package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
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

/** Session extension registering graft's scalar functions
  * ([[graft.sql.SqlFunctions]]) and its table functions
  * ([[graft.sql.TableFunctions]]), from the same tables
  * `SqlFunctions.register` registers on a session without it.
  * Enable with `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.sql.SqlFunctions.registerWith((id, info, builder) =>
      ext.injectFunction((id, info, builder)))
    graft.sql.TableFunctions.registerWith((id, info, builder) =>
      ext.injectTableFunction((id, info, builder)))
  }
}
