package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Rank-bin index of a double against a sorted array of interior split
  * points: returns `#{ splits(i) <= value }`, i.e. bin `b` covers
  * `[splits(b-1), splits(b))` with bin 0 below the first split and bin
  * `splits.length` at/above the last — `splits.length + 1` bins total.
  *
  * Contract: `splits` must be sorted ascending with no duplicates — the
  * caller (the z-order key of [[graft.sources.VersionedTable.optimize]])
  * builds it from deduplicated approx-quantiles and this expression does
  * NOT re-verify per row. NaN values sort above every split (Java compare
  * semantics) → the top bin; null propagates.
  *
  * Binary search = log2(|splits|) array probes per row inside whole-stage
  * codegen — the `splits` side is a constant array literal in every graft
  * call site, so the probe loop is the entire per-row cost. The HOF
  * spelling (`size(filter(lit(splits), s -> s <= v))`) is linear in
  * |splits| AND interpreted; at the 4096-bin default that is ~300×
  * more comparisons per row.
  */
case class BinBySplits(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      // A null split element would read as an undefined 0.0 through
      // ArrayData.getDouble and silently mis-bin every row below it —
      // corrupt layout, no error. Null-freeness must be PROVEN at
      // analysis: by the type (containsNull=false), or, for a
      // containsNull=true type, by folding the splits (every graft call
      // site passes a constant array — `lit(Array[Double])` types as
      // containsNull=true in Spark, so the type alone can't prove it).
      case (DoubleType, ArrayType(DoubleType, false)) => TypeCheckResult.TypeCheckSuccess
      case (DoubleType, ArrayType(DoubleType, true)) if right.foldable =>
        val v = right.eval()
        val hasNull = v == null || {
          val a = v.asInstanceOf[ArrayData]
          (0 until a.numElements()).exists(a.isNullAt)
        }
        if (hasNull) TypeCheckResult.TypeCheckFailure(
          "graft_bin splits array must not be/contain null: a null split " +
            "would silently mis-bin rows")
        else TypeCheckResult.TypeCheckSuccess
      case (DoubleType, ArrayType(DoubleType, true)) => TypeCheckResult.TypeCheckFailure(
        "graft_bin splits must be provably null-free: pass an array typed " +
          "containsNull=false or a constant (foldable) splits array")
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_bin expects (double, array<double>), got ${left.dataType} / ${right.dataType}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[Double]
    val splits = b.asInstanceOf[ArrayData]
    var lo = 0
    var hi = splits.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (java.lang.Double.compare(splits.getDouble(mid), v) <= 0) lo = mid + 1
      else hi = mid
    }
    lo.toLong
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid")
      s"""
         |int $lo = 0;
         |int $hi = $b.numElements();
         |while ($lo < $hi) {
         |  int $mid = ($lo + $hi) >>> 1;
         |  if (java.lang.Double.compare($b.getDouble($mid), $a) <= 0) {
         |    $lo = $mid + 1;
         |  } else {
         |    $hi = $mid;
         |  }
         |}
         |${ev.value} = (long) $lo;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_bin"
}
