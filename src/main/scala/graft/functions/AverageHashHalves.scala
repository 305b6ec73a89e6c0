package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Fused AVERAGE-HASH (aHash) pass: mean-threshold perceptual hash of
  * a `cells`-long grayscale grid as two `cells/2`-bit positive longs
  * `struct(hi, lo)` — ONE traversal computing the left-to-right double
  * mean fold and both integer bit packs.
  *
  * Exists because the composable HOF form
  * ([[graft.ops.MultimodalOps.averageHash]]) re-evaluates the mean
  * aggregate and the `transform` cast inside EVERY `element_at` of the
  * 64-step pack folds (no subexpression elimination across lambda
  * scopes — the `TopNgramFrac` pathology): O(cells²) interpreted work
  * per row, measured 5.2 s for the sf0.1 near-dup query vs ~1 s fused.
  * Bit-identical to the HOF form on null-free grids
  * (differential-spec'd); a wrong-length grid or any NULL cell hashes
  * to NULL (malformed decode — surface, don't guess).
  */
case class AverageHashHalves(child: Expression, cells: Int)
    extends UnaryExpression with CodegenFallback {

  require(cells >= 2 && cells % 2 == 0 && cells <= 64,
    s"cells must be even, 2..64, got $cells")

  // resolved lazily: at construction the child may still be unresolved
  override def checkInputDataTypes(): TypeCheckResult =
    AverageHashHalves.checkGrid(child, prettyName)

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType = StructType(Seq(
    StructField("hi", LongType, nullable = false),
    StructField("lo", LongType, nullable = false)))

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != cells) return null
    val d = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      d(i) = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    // left-to-right fold — the arraySumD / list_sum parity contract
    var s = 0.0
    i = 0
    while (i < n) { s += d(i); i += 1 }
    val mean = s / cells.toDouble
    val half = cells / 2
    var hi = 0L
    i = 0
    while (i < half) { hi = hi * 2 + (if (d(i) > mean) 1L else 0L); i += 1 }
    var lo = 0L
    i = half
    while (i < n) { lo = lo * 2 + (if (d(i) > mean) 1L else 0L); i += 1 }
    InternalRow(hi, lo)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "average_hash_halves"
}

object AverageHashHalves {
  /** The image hashes' input check: a float or double grid. */
  private[functions] def checkGrid(child: Expression, name: String): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"$name needs array<float|double>, got $t")
    }

  def averageHashHalves(vec: Column, cells: Int = 64): Column =
    ColumnBridge.column(AverageHashHalves(ColumnBridge.expression(vec), cells))
}
