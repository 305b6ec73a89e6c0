package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Count of elements <= key in a SORTED `array<long>` (the upper-bound
  * index) by binary search — O(log n) per probe, generated Java.
  *
  * The categorical-sampling primitive ([[SortedLongContains]]'s
  * counting sibling): with `arr` the cumulative-weight ladder of a
  * weighted vocabulary, `upperBound(arr, u)` for a uniform draw
  * `u ∈ [0, W)` is the 0-based index of the sampled category —
  * `element_at(categories, upperBound + 1)` — because cum ranges
  * `[cum_{i-1}, cum_i)` partition `[0, W)`. A linear `aggregate` HOF
  * over a 100k-entry vocabulary per draw is exactly the interpreted
  * O(V) pathology the fused probes exist to avoid.
  */
case class SortedLongUpperBound(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), LongType)

  override def dataType: DataType = IntegerType

  override def nullSafeEval(arr: Any, key: Any): Any =
    SortedLongUpperBound.upperBound(arr.asInstanceOf[ArrayData], key.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, k) =>
      s"graft.functions.SortedLongUpperBound.upperBound($a, $k)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_long_upper_bound"
}

object SortedLongUpperBound {

  /** The binary search both eval paths run. */
  def upperBound(a: ArrayData, k: Long): Int = {
    var lo = 0
    var hi = a.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (a.getLong(mid) <= k) lo = mid + 1
      else hi = mid
    }
    lo
  }

  def sortedLongUpperBound(sortedArr: Column, key: Column): Column =
    ColumnBridge.column(
      SortedLongUpperBound(ColumnBridge.expression(sortedArr), ColumnBridge.expression(key)))
}
