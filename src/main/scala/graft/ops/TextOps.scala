package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-assembly operators from the reference's ETL path, as pure Spark
  * column algebra (no UDFs — everything stays inside whole-stage codegen).
  *
  * The core semantics reproduced here:
  *  - OCR flatten (reference `src/data_helper.py:31-35`): concatenate the
  *    `text` field over the nested array-of-struct.
  *  - `cut_min` head+tail truncation (reference `src/data_helper.py:41-51`):
  *    keep the first `mid` and last `mid` tokens, where `mid` depends on
  *    which of two regimes applies, and a "cut debt" propagates to the
  *    next field.
  *  - `combine_text` budgeted multi-field assembly (reference
  *    `src/data_helper.py:53-86`): three token sequences under a total
  *    budget; the middle-priority field is cut first down to a floor,
  *    then the next, then the first field.
  */
object TextOps {

  /** Flatten `ocr: array<struct<..., text: string>>` to one string —
    * reference `src/data_helper.py:31-35` (`all_ocr += ocr['text']`).
    */
  def flattenOcr(ocr: Column): Column =
    concat_ws("", transform(ocr, o => o.getField("text")))

  /** Whitespace tokenizer (the oracle-checkable stand-in for WordPiece;
    * SURVEY §7.4.7). Empty string → empty array, not [""].
    */
  def whitespaceTokenize(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** Result of one `cut_min` application: the kept tokens and the debt
    * passed to the next field. Both are Columns over one row.
    */
  final case class Cut(tokens: Column, debt: Column)

  /** `cut_min(s, this_len, need_cut, min_len)` — reference
    * `src/data_helper.py:41-51`, floor division and the `-1` satisfied
    * sentinel preserved exactly:
    *
    *  - if `need_cut < this_len - min_len`:
    *      `mid = (this_len - need_cut) / 2` (floor); keep
    *      `s[:mid] ++ s[-mid:]`; debt = -1.
    *  - else: `mid = min_len / 2` (floor); same keep; debt =
    *      `need_cut - (this_len - min_len)`.
    *
    * The caller only applies this when `need_cut > 0 && this_len > min_len`
    * (see [[budgetedAssemble]]), mirroring the reference's guards.
    *
    * Requires `minLen >= 2`: with minLen < 2 the unsatisfied branch
    * computes mid = 0, and `slice(s, -0, 0)` is an invalid slice at
    * runtime (and Python's `s[-0:]` would keep the WHOLE list, so a
    * "fixed" 0 could not match reference semantics either). In the
    * satisfied branch mid >= 1 follows: len - needCut > minLen >= 2.
    */
  def cutMin(s: Column, needCut: Column, minLen: Int): Cut = {
    require(minLen >= 2, s"cutMin: minLen must be >= 2 (got $minLen); " +
      "mid = minLen/2 = 0 makes slice(s, -0, 0) invalid")
    val len = size(s)
    val fits = needCut < (len - minLen)
    val mid = when(fits, floor((len - needCut) / 2.0)).otherwise(lit(minLen / 2)).cast("int")
    val kept = concat(slice(s, lit(1), mid), slice(s, -mid, mid))
    val debt = when(fits, lit(-1)).otherwise(needCut - (len - minLen))
    Cut(kept, debt)
  }

  /** One field's pass through the `combine_text` loop: cut only when
    * there is outstanding debt and the field exceeds its floor.
    */
  private def cutStep(s: Column, needCut: Column, minLen: Int): Cut = {
    val applies = (needCut > 0) && (size(s) > minLen)
    val c = cutMin(s, needCut, minLen)
    Cut(when(applies, c.tokens).otherwise(s), when(applies, c.debt).otherwise(needCut))
  }

  /** Budgeted three-field assembly — the `combine_text` algebra
    * (reference `src/data_helper.py:53-86`) generalized over token
    * arrays: under `budget` total tokens, cut `second` first (floor
    * `minSecond`), then `third` (floor `minThird`), then `first`
    * (floor `minFirst`); concatenate what remains.
    *
    * Returns the assembled token array (no CLS/SEP framing — that is the
    * WordPiece layer's concern; the *algebra* is what is reproduced and
    * oracle-tested, Q16).
    */
  def budgetedAssemble(
      first: Column, second: Column, third: Column,
      budget: Int, minFirst: Int, minSecond: Int, minThird: Int): Column = {
    val need0 = size(first) + size(second) + size(third) - budget
    val c2 = cutStep(second, need0, minSecond)
    val c3 = cutStep(third, c2.debt, minThird)
    val c1 = cutStep(first, c3.debt, minFirst)
    concat(c1.tokens, c2.tokens, c3.tokens)
  }

  /** [[budgetedAssemble]] fused into one pass
    * ([[graft.functions.BudgetedAssembleExpr]]) — bit-identical
    * (differential spec), one output allocation instead of the column
    * form's ~dozen intermediate arrays per row. The production/oracle
    * surface; the composable form above is the reference formulation
    * it is pinned against.
    */
  def budgetedAssembleFused(
      first: Column, second: Column, third: Column,
      budget: Int, minFirst: Int, minSecond: Int, minThird: Int): Column =
    graft.functions.BudgetedAssembleExpr.budgetedAssemble(
      first, second, third, budget, minFirst, minSecond, minThird)

  /** Zero-pad an int token array to `len` (reference
    * `src/data_helper.py:72-75`), truncating if longer.
    */
  def padTo(a: Column, len: Int): Column =
    slice(concat(a, array_repeat(lit(0), greatest(lit(0), lit(len) - size(a)))), 1, len)

  /** Attention mask for a padded sequence: 1 for real, 0 for pad. */
  def attentionMask(a: Column, len: Int): Column =
    slice(concat(array_repeat(lit(1), least(size(a), lit(len))),
      array_repeat(lit(0), greatest(lit(0), lit(len) - size(a)))), 1, len)

  /** Legacy whitespace strip (reference `src/data_helper.py:194-196`). */
  def stripSpaces(c: Column): Column = regexp_replace(c, " ", "")
}
