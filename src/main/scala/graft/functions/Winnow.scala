package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native k-gram [[Hash60]] stream: all character-k-gram hashes of a string
  * in one generated call (whole-string hash when shorter than k — the
  * charNgrams contract).
  *
  * The HOF spelling (`transform(charNgrams(norm, k), g -> graft_hash60(g))`)
  * is value-identical but evaluates interpreted, one lambda dispatch + one
  * UTF8String allocation per gram — and its normalization child needs the
  * one-element-lambda binding guard against per-gram re-evaluation. Here the
  * string is an ordinary child expression (evaluated once by construction)
  * and the per-gram loop is a single static Java call. Fingerprinting runs
  * this once per document over every character position, which makes it the
  * winnowing family's hot path.
  */
case class GramHash60(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    // a constant negative k fails analysis named, not as a read past the bytes
    case (StringType, IntegerType) if right.foldable &&
        Option(right.eval()).exists(_.asInstanceOf[Int] < 0) =>
      TypeCheckResult.DataTypeMismatch("VALUE_OUT_OF_RANGE", Map(
        "exprName" -> "`k`", "valueRange" -> s"[0, ${Int.MaxValue}]",
        "currentValue" -> right.eval().toString))
    case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_gram_hash60 expects (string, int), got $l / $r")
  }

  override def nullSafeEval(s: Any, k: Any): Any =
    GramHash60.hashStream(s.asInstanceOf[UTF8String], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, k) =>
      s"${ev.value} = graft.functions.GramHash60.hashStream($s, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_gram_hash60"
}

object GramHash60 {
  /** Named `hashStream`, NOT `eval`: the case class inherits
    * `Expression.eval(InternalRow)`, and scalac suppresses the companion's
    * static forwarder when the class already has a method of that name — so
    * generated code calling `GramHash60.eval(UTF8String, int)` failed janino
    * compilation and silently demoted every stage containing this expression
    * to interpreted execution (Spark's codegen-fallback path). The
    * fallback-disabled spec in TextSpec pins compilability.
    */
  def hashStream(s: UTF8String, k: Int): ArrayData = {
    require(k >= 0, s"graft_gram_hash60: k must be >= 0, got $k")
    val n = s.numChars()
    val bytes = s.getBytes // one materialization per document
    if (n < k) return new GenericArrayData(Array(Hash60.hash(bytes)))
    // Single forward byte-walk, O(n·k) total: `start`/`end` are the byte
    // offsets of chars i and i+k, each advanced once per position via the
    // UTF-8 first-byte length — the previous substringSQL spelling re-walked
    // the string from byte 0 to locate char i at EVERY position (O(n²) in
    // document length; a 1 MB doc cost ~10^11 byte touches) and allocated a
    // fresh UTF8String + byte copy per gram. hashRange hashes in place.
    val out = new Array[Long](n - k + 1)
    var end = 0
    var c = 0
    while (c < k) { end += UTF8String.numBytesForFirstByte(bytes(end)); c += 1 }
    var start = 0
    var i = 0
    while (true) {
      out(i) = Hash60.hashRange(bytes, start, end - start)
      i += 1
      if (i == out.length) return new GenericArrayData(out)
      start += UTF8String.numBytesForFirstByte(bytes(start))
      end += UTF8String.numBytesForFirstByte(bytes(end))
    }
    throw new IllegalStateException("unreachable")
  }
}

/** Native winnowing selection: the minimum of every `w`-hash window of the
  * stream, distinct in first-occurrence order — value-identical to the HOF
  * spelling (`array_distinct(transform(sequence(...), i -> array_min(
  * slice(hs, i, w))))`, whole stream when shorter than w), but one pass
  * with a monotonic deque (O(m) total) instead of an interpreted O(m·w)
  * slice-and-scan that allocates a w-element array per window.
  */
case class WinnowSelect(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_winnow_select expects (array<bigint>, int), got $l / $r")
  }

  override def nullSafeEval(hs: Any, w: Any): Any =
    WinnowSelect.select(hs.asInstanceOf[ArrayData], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (hs, w) =>
      s"${ev.value} = graft.functions.WinnowSelect.select($hs, $w);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_winnow_select"
}

object WinnowSelect {
  /** Requires a null-free stream (GramHash60's output type guarantees it). */
  def select(hs: ArrayData, w: Int): ArrayData = {
    val n = hs.numElements()
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    if (n > 0 && n < w) {
      var m = hs.getLong(0)
      var i = 1
      while (i < n) { val v = hs.getLong(i); if (v < m) m = v; i += 1 }
      seen.add(m)
    } else if (n > 0) {
      // Monotonic deque of indices: head = current window minimum.
      val deque = new Array[Int](n)
      var head = 0
      var tail = 0 // exclusive
      var i = 0
      while (i < n) {
        val v = hs.getLong(i)
        while (tail > head && hs.getLong(deque(tail - 1)) >= v) tail -= 1
        deque(tail) = i; tail += 1
        if (deque(head) <= i - w) head += 1
        if (i >= w - 1) seen.add(hs.getLong(deque(head)))
        i += 1
      }
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }
}
