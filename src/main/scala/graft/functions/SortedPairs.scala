package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}
import org.apache.spark.unsafe.array.ByteArrayMethods

/** All C(n,2) ordered index pairs of an array, as
  * `array<struct<item_a, item_b>>` — the within-basket pair expansion of
  * [[graft.ops.Baskets]], with whole-stage codegen.
  *
  * The prior HOF spelling
  * `flatten(transform(xs, (a,i) => transform(slice(xs, i+2, size(xs)), b => struct(a,b))))`
  * evaluates interpreted (HOF lambdas are CodegenFallback): per basket it
  * dispatches one lambda per element plus one per pair and allocates a
  * sliced copy of the tail per element — the last non-codegen expression
  * in q76's map-side stage ([[DotProduct]] / [[BitsetFromRanks]] measured
  * the same ~10× interpreted-vs-generated gap on their paths). This is one
  * generated double loop into a single preallocated Object[].
  *
  * Pair ORDER is the HOF spelling's exactly: (i,j) with i<j, i-major —
  * [(x0,x1), (x0,x2), …, (x0,xn-1), (x1,x2), …]. Null elements pair like
  * any value (callers feed collect_set output, which has none). Element
  * type is any Spark type; the HOF spelling is kept as the parity-pinned
  * specification in OpsSpec.
  */
case class SortedPairs(child: Expression) extends UnaryExpression {

  private lazy val elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  private lazy val elemNullable: Boolean =
    child.dataType.asInstanceOf[ArrayType].containsNull

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("item_a", elemType, elemNullable),
      StructField("item_b", elemType, elemNullable))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: ArrayType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_pairs expects an array argument, got $other")
  }

  override def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val out = new Array[Any](SortedPairs.pairCount(n))
    // Box once per element, not once per pair (an element appears in n-1
    // pairs); boxed values are shared references, as in the HOF spelling.
    val boxed = new Array[Any](n)
    var i = 0
    while (i < n) {
      boxed(i) = if (xs.isNullAt(i)) null else xs.get(i, elemType)
      i += 1
    }
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(k) = new GenericInternalRow(Array(boxed(i), boxed(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val boxed = ctx.freshName("boxed")
      val value = CodeGenerator.getValue(a, elemType, i)
      s"""
         |int $n = $a.numElements();
         |Object[] $boxed = new Object[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $boxed[$i] = $a.isNullAt($i) ? null : (Object) $value;
         |}
         |Object[] $out = new Object[${classOf[SortedPairs].getName}.pairCount($n)];
         |int $k = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  for (int $j = $i + 1; $j < $n; $j++) {
         |    $out[$k++] = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |      new Object[]{$boxed[$i], $boxed[$j]});
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_pairs"
}

object SortedPairs {

  /** C(n,2), computed in Long: the Int product overflows above 65,536
    * elements. A count past Spark's maximum array length is a named error,
    * not a `NegativeArraySizeException` from a wrapped allocation.
    */
  def pairCount(n: Int): Int = {
    val m = n.toLong * (n - 1) / 2
    if (m > ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH) throw new IllegalArgumentException(
      s"graft_pairs: a $n-element array has $m pairs, above the maximum " +
        s"array length ${ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH}")
    m.toInt
  }
}
