package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** 0-based index of the first position where two `array<long>` columns
  * hold equal values, or -1 — generated Java, no allocation.
  *
  * Purpose-built for LSH first-collision-wins dedup of candidate pairs:
  * an occurrence from band b survives iff `first_equal_index(bands_a,
  * bands_b) == b`, replacing both the `distinct()` shuffle over the
  * ~bands× duplicated pair stream and the allocating
  * zip_with/slice/filter formulation of the same check.
  */
case class FirstEqualIndex(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))

  override def dataType: DataType = IntegerType

  override def nullSafeEval(l: Any, r: Any): Any =
    FirstEqualIndex.firstEqualAt(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.FirstEqualIndex.firstEqualAt($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "first_equal_index"
}

object FirstEqualIndex {

  /** The position scan both eval paths run. */
  def firstEqualAt(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) return i
      i += 1
    }
    -1
  }

  def firstEqualIndex(a: Column, b: Column): Column =
    ColumnBridge.column(
      FirstEqualIndex(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
