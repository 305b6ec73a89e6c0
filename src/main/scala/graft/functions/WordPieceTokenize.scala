package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** WordPiece tokenization as a Catalyst expression (OP-15; reference
  * tokenizer `hfl/chinese-roberta-wwm-ext` via HF BertTokenizer,
  * `src/data_helper.py:55-57,94`).
  *
  * Pipeline per the BERT basic tokenizer: lowercase → split on
  * whitespace → isolate CJK ideographs as single chars → split off
  * punctuation → greedy longest-match WordPiece per word (continuations
  * carry the `##` prefix), unknown words → [UNK]. Output is framed
  * `[CLS] ... [SEP]` like the reference's per-field encodings.
  *
  * Full parity with the HF vocab is not oracle-checkable (SURVEY
  * §7.4.7); the algorithm is pinned by frozen vocab+case tests, and the
  * vocabulary is injectable so the real 21128-entry file drops in
  * unchanged. CodegenFallback: the greedy trie loop is irregular
  * control flow with no vectorization win; the expression form still
  * avoids UDF encoder overhead and keeps null semantics native.
  */
case class WordPieceTokenize(
    child: Expression,
    vocab: Seq[String],
    lowercase: Boolean,
    maxCharsPerWord: Int) extends UnaryExpression with CodegenFallback {

  @transient private lazy val vocabIds: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](vocab.size * 2)
    vocab.zipWithIndex.foreach { case (w, i) => m.put(w, i) }
    m
  }
  @transient private lazy val clsId = vocabIds.get("[CLS]")
  @transient private lazy val sepId = vocabIds.get("[SEP]")
  @transient private lazy val unkId = vocabIds.get("[UNK]")
  @transient private lazy val maxPieceLen =
    if (vocab.isEmpty) 0 else vocab.iterator.map(_.length).max

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  /** HF `BasicTokenizer._is_chinese_char` ranges (google-research/bert
    * `tokenization.py` — the published list, INCLUDING the astral-plane
    * extension blocks and the compatibility-ideograph block; the
    * previous two-range Char test missed ideographs beyond U+FFFF
    * entirely, and a Char-based loop would have split their surrogate
    * pairs as two bogus punctuation marks).
    */
  private def isCjk(cp: Int): Boolean =
    (cp >= 0x4E00 && cp <= 0x9FFF) || (cp >= 0x3400 && cp <= 0x4DBF) ||
      (cp >= 0x20000 && cp <= 0x2A6DF) || (cp >= 0x2A700 && cp <= 0x2B73F) ||
      (cp >= 0x2B740 && cp <= 0x2B81F) || (cp >= 0x2B820 && cp <= 0x2CEAF) ||
      (cp >= 0xF900 && cp <= 0xFAFF) || (cp >= 0x2F800 && cp <= 0x2FA1F)

  /** BERT `_is_punctuation` (tokenization.py): the four ASCII symbol
    * ranges (so `$ + < = > ^ | ~` split like punctuation even though
    * Unicode classes them as symbols) plus every general category P*.
    * Notably NON-ASCII symbols (€, ©, emoji) are NOT punctuation in
    * BERT — they ride inside word runs and usually sink the word to
    * [UNK]; the previous !isLetterOrDigit test split them off, a real
    * divergence from the reference tokenizer.
    */
  private def isPunct(cp: Int): Boolean =
    (cp >= 33 && cp <= 47) || (cp >= 58 && cp <= 64) ||
      (cp >= 91 && cp <= 96) || (cp >= 123 && cp <= 126) || {
        val t = Character.getType(cp)
        t == Character.CONNECTOR_PUNCTUATION || t == Character.DASH_PUNCTUATION ||
        t == Character.START_PUNCTUATION || t == Character.END_PUNCTUATION ||
        t == Character.INITIAL_QUOTE_PUNCTUATION ||
        t == Character.FINAL_QUOTE_PUNCTUATION || t == Character.OTHER_PUNCTUATION
      }

  /** BERT `_is_whitespace`: space/tab/LF/CR plus category Zs — which
    * INCLUDES U+00A0 no-break space (Java's isWhitespace excludes it).
    */
  private def isWs(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == '\r' ||
      Character.getType(cp) == Character.SPACE_SEPARATOR

  /** BERT `_clean_text` removal set: NUL, U+FFFD, and `_is_control`
    * (category C* except the tab/LF/CR that count as whitespace) —
    * so ZWJ/ZWNJ (Cf) vanish instead of becoming [UNK] tokens.
    */
  private def isDropped(cp: Int): Boolean =
    cp == 0 || cp == 0xFFFD || ((cp != '\t' && cp != '\n' && cp != '\r') && {
      val t = Character.getType(cp)
      t == Character.CONTROL || t == Character.FORMAT ||
      t == Character.UNASSIGNED || t == Character.PRIVATE_USE ||
      t == Character.SURROGATE
    })

  /** basic tokenizer: clean (control-char removal) → lowercase (+
    * accent strip, the HF `do_lower_case` contract: NFD then drop
    * combining marks; Locale.ROOT so the fold is host-locale-proof) →
    * whitespace split + CJK isolation + punct split, iterated by CODE
    * POINT so astral-plane ideographs stay whole.
    */
  private[functions] def basicTokens(text: String): Seq[String] = {
    val t =
      if (lowercase)
        java.text.Normalizer.normalize(
            text.toLowerCase(java.util.Locale.ROOT), java.text.Normalizer.Form.NFD)
          .filterNot(c => Character.getType(c) == Character.NON_SPACING_MARK)
      else text
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    def flush(): Unit = { if (cur.nonEmpty) { out += cur.toString; cur.clear() } }
    var i = 0
    while (i < t.length) {
      val cp = t.codePointAt(i)
      val n = Character.charCount(cp)
      if (isDropped(cp)) ()
      else if (isWs(cp)) flush()
      else if (isCjk(cp) || isPunct(cp)) { flush(); out += t.substring(i, i + n) }
      else cur.appendAll(t.substring(i, i + n))
      i += n
    }
    flush()
    out.result()
  }

  /** greedy longest-match WordPiece of one basic token; words longer
    * than `maxCharsPerWord` CODE POINTS go whole to [UNK] before any
    * matching (HF WordpieceTokenizer's max_input_chars_per_word=100 —
    * the guard that keeps a pathological megabyte "word" from running
    * the greedy loop quadratically).
    */
  private[functions] def wordPieces(word: String): Seq[Int] = {
    if (word.codePointCount(0, word.length) > maxCharsPerWord)
      return Seq(unkId)
    val pieces = Seq.newBuilder[Int]
    var start = 0
    while (start < word.length) {
      var end = math.min(word.length, start + maxPieceLen)
      var found = -1
      while (end > start && found < 0) {
        val sub = (if (start > 0) "##" else "") + word.substring(start, end)
        val id = vocabIds.get(sub)
        if (id != null) found = id else end -= 1
      }
      if (found < 0) return Seq(unkId) // whole word → [UNK], HF behavior
      pieces += found
      start = end
    }
    pieces.result()
  }

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val ids = Array.newBuilder[Int]
    ids += clsId
    basicTokens(text).foreach(w => wordPieces(w).foreach(ids += _))
    ids += sepId
    ArrayData.toArrayData(ids.result())
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "wordpiece_tokenize"
}

object WordPieceTokenize {
  /** Column-API entry point: lowercased (BERT uncased), words over 100
    * characters become `[UNK]`.
    */
  def wordpiece(text: Column, vocab: Seq[String]): Column =
    ColumnBridge.column(WordPieceTokenize(
      ColumnBridge.expression(text), vocab, true, 100))
}
