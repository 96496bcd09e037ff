package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Sort + dedup a long array in one codegen'd primitive pass — the
  * canonical form the dedup doc-set frame stores so that pair
  * verification can intersect by LINEAR MERGE instead of per-row
  * hash-set builds. Null elements are dropped (the shingle-hash
  * domain never produces them).
  */
case class LongSortedSet(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "long_sorted_set"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"long_sorted_set requires array<bigint>, got ${t.simpleString}")
  }

  override protected def nullSafeEval(arr: Any): Any =
    LongSortedSet.compute(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.LongSortedSet$$.MODULE$$.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LongSortedSet {
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val buf = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) { buf(m) = arr.getLong(i); m += 1 }
      i += 1
    }
    java.util.Arrays.sort(buf, 0, m)
    var w = 0
    i = 0
    while (i < m) {
      if (w == 0 || buf(i) != buf(w - 1)) { buf(w) = buf(i); w += 1 }
      i += 1
    }
    val out = if (w == buf.length) buf else java.util.Arrays.copyOf(buf, w)
    new GenericArrayData(out)
  }
}

/** |a ∩ b| of two SORTED-distinct long arrays by linear merge — the
  * exact-Jaccard verification inner loop. Equals
  * `size(array_intersect(a, b))` on sorted-set inputs, without the
  * per-row hash-set build and its allocations. Inputs MUST be
  * [[LongSortedSet]]-canonical; unsorted input silently undercounts,
  * so the doc-set frame is the only producer.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "sorted_intersect_size"

  private def ok(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_size requires (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectSize.compute(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.SortedIntersectSize$$.MODULE$$.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Winnowing window minima of a long-hash array, as a sorted distinct
  * set — bit-parity with the HOF tail of the test-side
  * `HofReferences.winnowFingerprintsHof`:
  * `when(size(h) < w, array_sort(array_distinct(h)))
  *  .otherwise(array_sort(array_distinct(transform(sequence(0, size-w),
  *     i => array_min(slice(h, i+1, w))))))`.
  * One monotonic-deque pass (O(len) comparisons) replaces the
  * interpreted O(len·w) slice + array_min scan. Input is a
  * [[ShingleHashes]] array (containsNull = false).
  */
case class WinnowMinSet(child: Expression, w: Int) extends UnaryExpression {

  require(w >= 1, s"winnow window w >= 1, got $w")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_min_set"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"winnow_min_set requires array<bigint>, got ${t.simpleString}")
  }

  override protected def nullSafeEval(arr: Any): Any =
    WinnowMinSet.compute(arr.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WinnowMinSet$$.MODULE$$.compute($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowMinSet {
  def compute(arr: ArrayData, w: Int): ArrayData = {
    val n = arr.numElements()
    if (n < w) return LongSortedSet.compute(arr)
    val h = arr.toLongArray()
    val mins = new Array[Long](n - w + 1)
    // monotonic deque of candidate indices: head is the window min;
    // ties keep the earlier index (strict > eviction) — equal values
    // are one set element either way
    val deque = new Array[Int](n)
    var head = 0
    var tail = 0 // exclusive
    var i = 0
    while (i < n) {
      while (tail > head && h(deque(tail - 1)) > h(i)) tail -= 1
      deque(tail) = i
      tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) mins(i - w + 1) = h(deque(head))
      i += 1
    }
    java.util.Arrays.sort(mins)
    var m = 0
    i = 0
    while (i < mins.length) {
      if (m == 0 || mins(i) != mins(m - 1)) { mins(m) = mins(i); m += 1 }
      i += 1
    }
    val out = if (m == mins.length) mins else java.util.Arrays.copyOf(mins, m)
    new GenericArrayData(out)
  }
}

object SortedIntersectSize {
  def compute(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}
