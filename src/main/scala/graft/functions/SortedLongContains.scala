package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Membership test against a SORTED `array<long>` by binary search —
  * O(log n) per probe, generated Java.
  *
  * This is the hot lookup of broadcast-set filters (frequent-span
  * scrub): every span of every doc probes the corpus-frequent set, so
  * `array_contains`'s linear scan makes the rewrite
  * O(spans × |set|) — measured 14 s at sf0.1 vs ~1.7 s with this probe.
  * Caller contract: the array is sorted ascending (e.g.
  * `sort_array(collect_set(...))`); duplicates are harmless.
  */
case class SortedLongContains(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), LongType)

  override def dataType: DataType = BooleanType

  override def nullSafeEval(arr: Any, key: Any): Any =
    SortedLongContains.binarySearch(arr.asInstanceOf[ArrayData], key.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, k) =>
      s"graft.functions.SortedLongContains.binarySearch($a, $k)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_long_contains"
}

object SortedLongContains {

  /** The binary search both eval paths run. */
  def binarySearch(a: ArrayData, k: Long): Boolean = {
    var lo = 0
    var hi = a.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val v = a.getLong(mid)
      if (v == k) return true
      else if (v < k) lo = mid + 1
      else hi = mid - 1
    }
    false
  }

  def sortedLongContains(sortedArr: Column, key: Column): Column =
    ColumnBridge.column(
      SortedLongContains(ColumnBridge.expression(sortedArr), ColumnBridge.expression(key)))
}
