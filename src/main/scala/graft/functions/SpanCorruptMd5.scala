package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** T5-style SPAN CORRUPTION (Raffel et al. 2020 §3.1.4; the seq2seq
  * denoising objective next to OP-55's MLM): key-derived spans of the
  * token sequence are replaced by ONE unique sentinel each in the
  * encoder input, and the decoder target is the sentinel-delimited
  * concatenation of the corrupted spans.
  *
  * Deterministic re-derivation (the [[MlmMaskMd5]] contract — draws
  * from the md5 family DuckDB replays, strings `"key#i#seed#salt"`,
  * salts `sstart`/`slen`):
  *  - position `i` STARTS a span iff
  *    `u(i, "sstart") < corruptRate / meanSpan`;
  *  - its length is `1 + (md5Long(i, "slen") mod (2·meanSpan − 1))`
  *    — uniform on `[1, 2·meanSpan−1]`, mean `meanSpan`, integer
  *    arithmetic only;
  *  - a position is CORRUPTED iff any span covers it (overlapping
  *    spans merge into one maximal run, the T5 merge rule);
  *  - run ordinal `o` (0-based, left to right) gets sentinel id
  *    `sentinelBase + o`.
  * Output struct: `input_ids` (kept tokens with each run collapsed to
  * its sentinel), `target_ids` (per run: sentinel then the original
  * span tokens), `n_corrupted` (corrupted position count).
  *
  * One fused pass per row — the span COVERAGE test needs random access
  * `started(j−k) ∧ len(j−k) > k`, which in composable column algebra
  * forces either O(n²) HOF scans or maxLen-fold array re-evaluation
  * (no subexpression elimination under HOFs — the [[TopNgramFrac]]
  * pathology); the expression walks the array once with a rolling
  * farthest-coverage bound. CodegenFallback-free: eval is a plain
  * static call, codegen'd via `defineCodeGen` like [[MlmMaskMd5]].
  * Null token elements pass through into whichever side keeps them.
  */
case class SpanCorruptMd5(
    left: Expression, right: Expression,
    corruptRate: Double, meanSpan: Int, sentinelBase: Int, seed: Long)
    extends BinaryExpression with ExpectsInputTypes {
  require(corruptRate > 0.0 && corruptRate < 1.0,
    s"corruptRate in (0,1), got $corruptRate")
  require(meanSpan >= 1, s"meanSpan must be >= 1, got $meanSpan")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(IntegerType), StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("input_ids", ArrayType(IntegerType)),
    StructField("target_ids", ArrayType(IntegerType)),
    StructField("n_corrupted", IntegerType, nullable = false)))

  override def nullSafeEval(toks: Any, key: Any): Any =
    SpanCorruptMd5.compute(toks.asInstanceOf[ArrayData],
      key.asInstanceOf[UTF8String], corruptRate, meanSpan, sentinelBase, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, k) =>
      s"graft.functions.SpanCorruptMd5.compute($t, $k, $corruptRate, " +
        s"$meanSpan, $sentinelBase, ${seed}L)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "span_corrupt_md5"
}

object SpanCorruptMd5 {

  private val two60 = 1152921504606846976.0 // 2^60

  private def draw(base: String, salt: String): Long =
    Md5Long.top(UTF8String.fromString(base + salt), 60)

  def compute(toks: ArrayData, key: UTF8String, corruptRate: Double,
      meanSpan: Int, sentinelBase: Int, seed: Long): InternalRow = {
    val n = toks.numElements()
    val pStart = corruptRate / meanSpan
    val lenMod = 2 * meanSpan - 1
    val prefix = key.toString + "#"
    val seedPart = "#" + seed + "#"
    val input = new java.util.ArrayList[Any](n)
    val target = new java.util.ArrayList[Any](n)
    // farthest exclusive end of any span started at a position <= i
    var coverEnd = -1
    var inRun = false
    var runs = 0
    var corrupted = 0
    var i = 0
    while (i < n) {
      val base = prefix + i + seedPart
      if (draw(base, "sstart").toDouble / two60 < pStart) {
        val end = i + 1 + (draw(base, "slen") % lenMod).toInt
        if (end > coverEnd) coverEnd = end
      }
      val tok: Any = if (toks.isNullAt(i)) null
        else java.lang.Integer.valueOf(toks.getInt(i))
      if (i < coverEnd) { // corrupted position
        if (!inRun) {
          val sentinel = java.lang.Integer.valueOf(sentinelBase + runs)
          input.add(sentinel)
          target.add(sentinel)
          runs += 1
          inRun = true
        }
        target.add(tok)
        corrupted += 1
      } else {
        input.add(tok)
        inRun = false
      }
      i += 1
    }
    InternalRow(
      new GenericArrayData(input.toArray),
      new GenericArrayData(target.toArray),
      corrupted)
  }

  /** T5's corruption rate 0.15 and mean span 3, seed 0. */
  def spanCorruptMd5(toks: Column, key: Column, sentinelBase: Int = 32000): Column =
    ColumnBridge.column(SpanCorruptMd5(
      ColumnBridge.expression(toks), ColumnBridge.expression(key),
      0.15, 3, sentinelBase, 0L))
}
