package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Fused PERCEPTUAL HASH (pHash) of an 8×8 grayscale grid: orthonormal
  * 2-D DCT-II, then one bit per coefficient — set when the coefficient
  * exceeds the MEDIAN of all 64 — packed as `struct(hi, lo)` of two
  * 32-bit positive longs ([[AverageHashHalves]]' halves layout, so the
  * 4-band pigeonhole candidate machinery is shared). DCT bits encode
  * the image's frequency STRUCTURE, so the hash survives brightness /
  * contrast shifts that flip aHash's mean-threshold bits wholesale.
  *
  * Determinism across engines WITHOUT rounding: the cosine basis is
  * computed ONCE here (`basis8`) and shipped to the oracle as decimal
  * literals (shortest round-trip repr → bit-identical doubles on
  * parse), and both DCT stages are fixed-order left-to-right 8-term
  * folds — so coefficients, median `(s₃₁+s₃₂)/2` and comparisons replay
  * bit-for-bit with NO cross-engine `cos()`/round() dependence.
  *
  * A grid that is not exactly 64 long, or containing a NULL cell,
  * hashes to NULL (malformed decode — surface, don't guess; the
  * [[AverageHashHalves]] contract).
  */
case class DctHashHalves(child: Expression)
    extends UnaryExpression with CodegenFallback {

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
    if (a.numElements() != 64) return null
    val g = new Array[Double](64)
    var i = 0
    while (i < 64) {
      if (a.isNullAt(i)) return null
      g(i) = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    val c = DctHashHalves.dct2d8(g)
    val sorted = java.util.Arrays.copyOf(c, 64)
    java.util.Arrays.sort(sorted)
    val median = (sorted(31) + sorted(32)) / 2.0
    var hi = 0L
    i = 0
    while (i < 32) { hi = hi * 2 + (if (c(i) > median) 1L else 0L); i += 1 }
    var lo = 0L
    while (i < 64) { lo = lo * 2 + (if (c(i) > median) 1L else 0L); i += 1 }
    InternalRow(hi, lo)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "dct_hash_halves"
}

object DctHashHalves {

  /** Orthonormal 8-point DCT-II basis, row-major `[u][x]`:
    * `α(u)·cos(π·(2x+1)·u/16)` with `α(0)=√(1/8)`, `α(u>0)=√(2/8)`.
    * The ONE source of cosine values for both engines — the oracle
    * inlines exactly these doubles as literals.
    */
  val basis8: Array[Double] = {
    val b = new Array[Double](64)
    var u = 0
    while (u < 8) {
      val alpha = if (u == 0) math.sqrt(1.0 / 8.0) else math.sqrt(2.0 / 8.0)
      var x = 0
      while (x < 8) {
        b(u * 8 + x) = alpha * math.cos(math.Pi * (2 * x + 1) * u / 16.0)
        x += 1
      }
      u += 1
    }
    b
  }

  /** Separable 2-D DCT-II of a row-major 8×8 grid (`g[x·8+y]`), both
    * stages ascending-index left-to-right folds:
    * `T[u·8+y] = Σ_x B[u·8+x]·g[x·8+y]`, then
    * `C[u·8+v] = Σ_y B[v·8+y]·T[u·8+y]`.
    */
  def dct2d8(g: Array[Double]): Array[Double] = {
    val b = basis8
    val t = new Array[Double](64)
    var u = 0
    while (u < 8) {
      var y = 0
      while (y < 8) {
        var acc = 0.0
        var x = 0
        while (x < 8) { acc += b(u * 8 + x) * g(x * 8 + y); x += 1 }
        t(u * 8 + y) = acc
        y += 1
      }
      u += 1
    }
    val c = new Array[Double](64)
    u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var acc = 0.0
        var y = 0
        while (y < 8) { acc += b(v * 8 + y) * t(u * 8 + y); y += 1 }
        c(u * 8 + v) = acc
        v += 1
      }
      u += 1
    }
    c
  }

  def dctHashHalves(vec: Column): Column =
    ColumnBridge.column(DctHashHalves(ColumnBridge.expression(vec)))
}
