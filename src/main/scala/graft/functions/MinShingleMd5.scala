package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Min-wise shingle fingerprint (the 1-hash MinHash) fused into one
  * pass over the token array: for every n-token window, join with a
  * single space and take the minimum 60-bit portable md5
  * ([[Md5Long]]) — value-identical to the composable
  * `array_min(transform(ngramSet(text, n), md5Long))` because a MIN is
  * invariant under the `array_distinct` the composable form pays for
  * (duplicate shingles never change it), `concat_ws` semantics are
  * reproduced via [[UTF8String.concatWs]] (null tokens skipped), and
  * the hash is the same digest-direct routine. What the fusion removes
  * is the per-row HOF machinery: a shingle-string array, its distinct
  * copy, and a second interpreted traversal for hashing.
  *
  * Fewer than `n` tokens → null (the composable form's
  * `size(grams) = 0` branch). The md5 count is unchanged up to
  * duplicate shingles — this stays the ORACLE-portable fingerprint
  * (DuckDB replays it hex-wise); it is a construction-cost fix, not a
  * hash-family change.
  */
case class MinShingleMd5(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n > 0, s"shingle size must be positive, got $n")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    if (arr.numElements() < n) null else MinShingleMd5.minNonEmpty(arr, n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      if ($c.numElements() < $n) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.functions.MinShingleMd5.minNonEmpty($c, $n);
      }
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "min_shingle_md5"
}

object MinShingleMd5 {

  private val space = UTF8String.fromString(" ")

  /** The n-token window at `i` joined by single spaces (a null token is
    * skipped, as in `concat_ws`); `window`, of length n, is the caller's
    * buffer, refilled for each window.
    */
  private[functions] def windowText(arr: ArrayData, i: Int, window: Array[UTF8String]): UTF8String = {
    var j = 0
    while (j < window.length) {
      window(j) = if (arr.isNullAt(i + j)) null else arr.getUTF8String(i + j)
      j += 1
    }
    UTF8String.concatWs(space, window: _*)
  }

  /** Min 60-bit md5 over all n-token windows; caller guarantees
    * `arr.numElements() >= n`.
    */
  def minNonEmpty(arr: ArrayData, n: Int): Long = {
    val len = arr.numElements()
    val window = new Array[UTF8String](n)
    var minV = Long.MaxValue
    var i = 0
    while (i + n <= len) {
      val v = Md5Long.top(windowText(arr, i, window), 60)
      if (v < minV) minV = v
      i += 1
    }
    minV
  }

  def minShingleMd5(toks: Column, n: Int): Column =
    ColumnBridge.column(MinShingleMd5(ColumnBridge.expression(toks), n))
}
