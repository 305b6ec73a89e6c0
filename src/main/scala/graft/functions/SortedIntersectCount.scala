package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Intersection size of two SORTED `array<long>` columns by two-pointer
  * merge — O(n+m), zero allocation, generated Java.
  *
  * This is the hot inner op of near-dup verification at scale: millions
  * of candidate pairs each need |A∩B| over token-hash sets.
  * `array_intersect` builds a per-pair hash set of boxed values and
  * returns a materialized array nobody needs; this returns just the
  * count. Caller contract: both arrays sorted ascending. On duplicate-
  * free inputs (`DedupOps.hashedTokenSet`) the count is |A∩B|; on
  * sorted MULTISETS the same merge counts Σ_v min(count_a(v),
  * count_b(v)) — the clipped multiset-intersection size ROUGE-N needs
  * (`EvalMetrics.rougeNFused` over `ShingleHashes64.sortedMulti`).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))

  override def dataType: DataType = IntegerType

  override def nullSafeEval(l: Any, r: Any): Any =
    SortedIntersectCount.intersectSize(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SortedIntersectCount.intersectSize($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_intersect_count"
}

object SortedIntersectCount {

  /** The two-pointer merge both eval paths run. */
  def intersectSize(a: ArrayData, b: ArrayData): Int = {
    val (na, nb) = (a.numElements(), b.numElements())
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  def sortedIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(
      SortedIntersectCount(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
