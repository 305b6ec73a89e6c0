package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The sorted distinct xxhash64 set of all n-token shingles, fused into
  * one pass over the token array — the [[MinShingleMd5]] treatment for
  * the shingle-DEDUP representation (where the whole hash SET is
  * needed, not just its min): value-identical to the composable
  * `array_sort(array_distinct(transform(ngramSet(text, n), xxhash64)))`
  * because `concat_ws(" ", …)` is reproduced via
  * [[UTF8String.concatWs]] (null tokens skipped), the hash is Spark's
  * own `XXH64.hashUTF8String` at the `xxhash64` default seed 42, and
  * sort+dedupe over longs commutes with where the distinct happens.
  *
  * What the fusion removes is the interpreted HOF tower the composable
  * form pays per row: a `sequence` index array, one `slice` + one
  * `concat_ws` allocation per window position, the shingle-string
  * array, its distinct copy, and a second traversal for hashing — ~16×
  * on the shingle-dedup bench at 54-token docs (`b_ngram_dedup`
  * 14.5 s → see BASELINE.md). Fewer than `n` tokens → empty array
  * (the composable form's `size(toks) < n` branch).
  */
case class ShingleHashes64(child: Expression, n: Int, distinct: Boolean = true)
    extends UnaryExpression with ExpectsInputTypes {
  require(n > 0, s"shingle size must be positive, got $n")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    if (distinct) ShingleHashes64.sortedDistinct(a.asInstanceOf[ArrayData], n)
    else ShingleHashes64.sortedMulti(a.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ShingleHashes64.${if (distinct) "sortedDistinct" else "sortedMulti"}($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "shingle_hashes64"
}

object ShingleHashes64 {

  /** Sorted xxhash64 (seed 42) MULTISET of every n-token window —
    * duplicates kept, one hash per window position. The clipped-
    * overlap representation: two-pointer-merging two of these counts
    * Σ_g min(count_a, count_b) ([[SortedIntersectCount]] on multiset
    * inputs), which is exactly ROUGE-N's numerator.
    */
  def sortedMulti(arr: ArrayData, n: Int): ArrayData = {
    val len = arr.numElements()
    if (len < n) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](len - n + 1)
    val window = new Array[UTF8String](n)
    var i = 0
    while (i + n <= len) {
      out(i) = XXH64.hashUTF8String(MinShingleMd5.windowText(arr, i, window), 42L)
      i += 1
    }
    java.util.Arrays.sort(out)
    new GenericArrayData(out)
  }

  /** Sorted distinct xxhash64 (seed 42) of every n-token window. */
  def sortedDistinct(arr: ArrayData, n: Int): ArrayData = {
    val multi = sortedMulti(arr, n)
    val out = multi.toLongArray()
    var w = 0
    var k = 0
    while (k < out.length) {
      if (w == 0 || out(k) != out(w - 1)) { out(w) = out(k); w += 1 }
      k += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }

  def shingleHashes64(toks: Column, n: Int): Column =
    ColumnBridge.column(ShingleHashes64(ColumnBridge.expression(toks), n))

  /** The multiset form ([[sortedMulti]]) as a Column. */
  def shingleHashesMulti64(toks: Column, n: Int): Column =
    ColumnBridge.column(
      ShingleHashes64(ColumnBridge.expression(toks), n, distinct = false))
}
