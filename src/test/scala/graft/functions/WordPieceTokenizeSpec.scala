package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Frozen-vocab WordPiece cases (FIXTURES.md §B5 style). */
class WordPieceTokenizeSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  // ids:       0       1       2      3     4      5     6      7      8     9     10    11
  private val vocab = Seq("[PAD]", "[UNK]", "[CLS]", "[SEP]", "un", "##aff", "##able", "hello",
    "world", "好", "的", "!")

  private def toks(texts: String*): Seq[Seq[Int]] =
    texts.toDF("t")
      .select(WordPieceTokenize.wordpiece(col("t"), vocab).as("ids"))
      .as[Seq[Int]].collect().toSeq

  test("greedy longest-match with ## continuations and CLS/SEP framing") {
    assert(toks("unaffable") == Seq(Seq(2, 4, 5, 6, 3)))
  }

  test("whitespace split, lowercase, unknown word -> [UNK]") {
    assert(toks("Hello world zzz") == Seq(Seq(2, 7, 8, 1, 3)))
  }

  test("CJK chars are isolated as single-char tokens; punctuation split off") {
    assert(toks("hello好的world!") == Seq(Seq(2, 7, 9, 10, 8, 11, 3)))
  }

  test("empty string gives bare CLS/SEP frame; null propagates") {
    assert(toks("") == Seq(Seq(2, 3)))
    val got = Seq(Option.empty[String]).toDF("t")
      .select(WordPieceTokenize.wordpiece(col("t"), vocab)).collect()
    assert(got.head.isNullAt(0))
  }

  test("partial-match word where tail misses vocab -> whole word [UNK] (HF rule)") {
    assert(toks("unzzz") == Seq(Seq(2, 1, 3)))
  }

  test("vocab file loads end-to-end into the expression (SURVEY §7.4.7 interface)") {
    // the frozen resource file IS this suite's vocab, one token per
    // line with a trailing newline — the BERT vocab.txt layout the
    // reference's 21,128-entry file uses; ids must be positional and
    // the trailing newline must not append a phantom entry.
    val path = getClass.getResource("/wordpiece_vocab.txt").getPath
    val loaded = graft.io.Sources.readVocab(spark, path)
    assert(loaded == vocab)
    val got = Seq("unaffable", "Hello world zzz", "hello好的world!")
      .toDF("t")
      .select(WordPieceTokenize.wordpiece(col("t"), loaded).as("ids"))
      .as[Seq[Int]].collect().toSeq
    assert(got == Seq(
      Seq(2, 4, 5, 6, 3),
      Seq(2, 7, 8, 1, 3),
      Seq(2, 7, 9, 10, 8, 11, 3)))
  }

  test("CJK golden slice: HF BertTokenizer rules on a frozen Chinese vocab (SURVEY §7.4.7)") {
    // A frozen CJK-bearing slice in the reference tokenizer's family
    // (hfl/chinese-roberta-wwm-ext is a standard BERT-Chinese vocab:
    // every CJK ideograph is its OWN token — wwm changes masking, not
    // tokenization). Expected ids are hand-derived from the PUBLISHED
    // google-research/bert BasicTokenizer+WordpieceTokenizer rules:
    // lowercase + NFD accent-strip, CJK chars isolated (full range
    // list incl. astral blocks), punctuation split, greedy
    // longest-match with ## continuations, whole-word [UNK] fallback.
    val path = getClass.getResource("/wordpiece_vocab_cjk.txt").getPath
    val v = graft.io.Sources.readVocab(spark, path)
    assert(v.size == 26 && v(25) == "𠀀", "frozen slice drifted")
    def t(s: String): Seq[Int] =
      Seq(s).toDF("t")
        .select(WordPieceTokenize.wordpiece(col("t"), v).as("ids"))
        .as[Seq[Int]].collect().head
    // adjacent ideographs split per character, never merged
    assert(t("三峡大坝") == Seq(2, 7, 8, 9, 10, 3))
    // mixed script + full-width punctuation + case folding + greedy
    // ##-continuation: 中国iPhone手机，NEWS！
    assert(t("中国iPhone手机，NEWS！") ==
      Seq(2, 11, 12, 18, 13, 14, 15, 19, 20, 17, 3))
    // accent strip before matching (Café -> cafe); latin continuation
    assert(t("Café playing") == Seq(2, 23, 21, 22, 3))
    // astral-plane ideograph (U+20000) is ONE token, not split
    // surrogates; an out-of-vocab astral ideograph (U+20001) is ONE
    // [UNK], not two junk marks
    assert(t("𠀀") == Seq(2, 25, 3))
    assert(t("𠀁") == Seq(2, 1, 3))
    // unknown BMP ideograph between known ones -> per-char [UNK]
    assert(t("三龘峡") == Seq(2, 7, 1, 8, 3))
  }

  test("BERT-Chinese structural-slice golden: 63 frozen cases from an " +
      "independent Python reimplementation (SURVEY §7.4.7)") {
    // tools/wordpiece_golden.py re-derives the PUBLISHED BERT tokenizer
    // (clean_text control-removal, Zs whitespace, the 4 ASCII symbol
    // ranges + category-P punctuation, CJK isolation, lowercase + NFD
    // accent strip, greedy ## wordpiece with the 100-char word guard)
    // on Python's unicodedata — a different Unicode engine — over a
    // 450-entry vocab that reconstructs the real 21,128-entry file's
    // layout ([PAD]=0, [unused*]=1..99, [UNK]=100, [CLS]=101,
    // [SEP]=102, [MASK]=103). Frozen agreement pins the algorithm,
    // not a shared bug. The real vocab file drops in unchanged.
    val vPath = getClass.getResource("/wordpiece_vocab_bertzh_slice.txt").getPath
    val v = graft.io.Sources.readVocab(spark, vPath)
    assert(v.size == 450 && v(100) == "[UNK]" && v(101) == "[CLS]" &&
      v(102) == "[SEP]" && v(103) == "[MASK]", "slice header drifted")
    val cPath = getClass.getResource("/wordpiece_golden_cases.jsonl").getPath
    val cases = spark.read.schema("text STRING, ids ARRAY<INT>").json(cPath)
      .select("text", "ids").as[(String, Seq[Int])].collect()
    assert(cases.length == 63, "frozen case file drifted")
    val got = cases.map(_._1).toSeq.toDF("t")
      .select(col("t"), WordPieceTokenize.wordpiece(col("t"), v).as("ids"))
      .as[(String, Seq[Int])].collect().toMap
    cases.foreach { case (text, want) =>
      assert(got(text) == want,
        s"divergence on '$text': got ${got(text)}, python golden $want")
    }
  }
}
