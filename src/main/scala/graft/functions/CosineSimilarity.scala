package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused one-pass cosine similarity over two `array<float>` columns.
  *
  * The composable formulation (`zip_with` + three `aggregate` folds) is
  * correct but lives outside whole-stage codegen — higher-order
  * functions are interpreted per row. This native expression computes
  * dot product and both norms in ONE loop with generated Java, which is
  * the hot inner operation of the similarity/near-dup surface
  * (SURVEY §4 custom-Expression candidate `cosine_sim`).
  *
  * Semantics pinned to the oracle formulation: elements widen to double
  * BEFORE multiply, accumulation is left-to-right in double, result is
  * `dot / (sqrt(na) * sqrt(nb))`, zero-norm → 0.0. Arrays of unequal
  * length compare over the common prefix (callers use fixed dims).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // declared as Seq[DataType]: AbstractDataType is private[sql]
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any =
    CosineSimilarity.cosine(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.CosineSimilarity.cosine($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim"
}

object CosineSimilarity {

  /** The one-loop dot/norm pass both eval paths run. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }

  /** Column-API entry point (Spark 4 Column↔Expression bridge). */
  def cosineFused(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      CosineSimilarity(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }
}
