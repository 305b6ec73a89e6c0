package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class TextAnalysisSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("repetitionSignals: duplicate-token and top-bigram fractions, degenerate-safe") {
    val got = Seq(
      "a a a a",        // dup 3/4; bigrams [a a, a a, a a] -> top 1.0
      "a b c d",        // dup 0; 3 distinct bigrams -> top 1/3
      "x y x y x",      // dup 3/5; bigrams [x y, y x, x y, y x] -> top 2/4
      "solo",           // one token: no bigrams
      ""                // empty: both zero
    ).toDF("text")
      .select(TextAnalysis.repetitionSignals(col("text")).as("s"))
      .select(col("s.dup_token_frac"), col("s.top_bigram_frac"))
      .as[(Double, Double)].collect().toSeq
    assert(got(0) == ((0.75, 1.0)))
    assert(got(1)._1 == 0.0 && math.abs(got(1)._2 - 1.0 / 3) < 1e-15)
    assert(got(2) == ((1.0 - 2.0 / 5, 0.5)))
    assert(got(3) == ((0.0, 0.0)))
    assert(got(4) == ((0.0, 0.0)))
  }

  test("docCharEntropy: hand bit values, uniform/degenerate alphabets, " +
      "empty and NULL text excluded") {
    val df = Seq(
      (1L, "aaaa"),      // one symbol -> 0 bits
      (2L, "abab"),      // two equiprobable -> 1 bit
      (3L, "abcd"),      // four equiprobable -> 2 bits
      (4L, "aab"),       // h = -(2/3)log2(2/3) - (1/3)log2(1/3)
      (5L, ""),          // excluded
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextAnalysis.docCharEntropy(df, "text", "doc_id")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got(1L)._2 == 4L && got(1L)._3 == 0.0)
    assert(math.abs(got(2L)._3 - 1.0) < 1e-9)
    assert(math.abs(got(3L)._3 - 2.0) < 1e-9)
    val h4 = -(2.0 / 3) * math.log(2.0 / 3) / math.log(2.0) -
      (1.0 / 3) * math.log(1.0 / 3) / math.log(2.0)
    assert(math.abs(got(4L)._3 - h4) < 1e-8 && got(4L)._2 == 3L)
  }

  test("langId picks the profile with most stopword hits; ties broken by declaration order") {
    val df = Seq(
      "the cat sat on the mat and it is fine",   // en
      "el gato es un animal y la casa es grande", // es
      "zzz qqq www"                               // no hits anywhere -> first profile (en)
    ).toDF("text")
    val got = df.select(TextAnalysis.langId(split(col("text"), " "))).as[String].collect().toSeq
    assert(got == Seq("en", "es", "en"))
  }

  test("qualitySignals/score: sane ranges and ordering") {
    val df = Seq(
      "the quick brown fox jumps over the lazy dog and then it runs far away from here today",
      "!!! ??? ### $$$ %%%"
    ).toDF("text")
    val got = df.select(
      TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.qualitySignals(col("text")).getField("punct_ratio").as("p"))
      .as[(Double, Double)].collect()
    assert(got(0)._1 > got(1)._1, "clean english should outscore punctuation soup")
    assert(got.forall { case (q, p) => q >= 0.0 && q <= 1.0 && p >= 0.0 && p <= 1.0 })
  }

  test("readabilitySignals: counts, floors, the fixed flesch formula, " +
      "degenerate inputs") {
    val got = Seq(
      "The cat sat. The dog ran!",  // 6 words, 2 sentences, 6 vowel groups
      "no terminal punctuation",    // sentence floor 1
      "rhythm myth",                // y-groups: 2; floor at words=2 stays 2
      "zz zzz",                     // 0 vowel groups -> floored to 2 words
      "",                           // empty: 0 words -> NULL flesch
      "   "                         // whitespace only: same
    ).toDF("text")
      .select(TextAnalysis.readabilitySignals(col("text")).as("s"))
      .select(col("s.n_words"), col("s.n_sentences"), col("s.n_syllables"),
        col("s.flesch"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(got(0)._1 == 6 && got(0)._2 == 2 && got(0)._3 == 6)
    assert(got(0)._4.contains(206.835 - 1.015 * (6.0 / 2.0) - 84.6 * (6.0 / 6.0)))
    assert(got(1)._2 == 1, "fragment is one sentence")
    assert(got(2) == ((2, 1, 2, Some(206.835 - 1.015 * 2.0 - 84.6 * 1.0))))
    assert(got(3)._3 == 2, "all-consonant words floor syllables at word count")
    assert(got(4)._1 == 0 && got(4)._4.isEmpty)
    assert(got(5)._1 == 0 && got(5)._4.isEmpty)
  }

  test("c4LineFilter: line rules, sentence floor, doc-level poisons (multi-line)") {
    val doc = Seq(
      "This line survives the filter today.",   // kept
      "too short.",                             // < 3 words
      "no terminal punctuation on this line",   // no [.!?] ending
      "Enable javascript to view this page.",   // boilerplate rule
      "Is this a question? Yes it is!",         // kept (ends !)
      "Quoted sentence ends well.\"").mkString("\n")
    val got = Seq(doc, "short doc.", "has lorem ipsum. " + "Five. Full. Sentences. Here. Now.",
        "curly { brace. One. Two. Three. Four. Five.")
      .toDF("text")
      .select(TextAnalysis.c4LineFilter(col("text"), minSentences = 3).as("c"))
      .select(col("c.n_lines_kept"), col("c.n_sentences"), col("c.keep"))
      .as[(Int, Int, Int)].collect().toSeq
    // doc 1: kept lines 1, 5, 6 -> sentences: 1 + 2 + 1 = 4 >= 3, no poison
    assert(got(0) == ((3, 4, 1)))
    // doc 2: "short doc." has 2 words -> dropped -> 0 sentences
    assert(got(1) == ((0, 0, 0)))
    // doc 3: enough sentences but lorem ipsum poisons it
    assert(got(2)._3 == 0 && got(2)._2 >= 3)
    // doc 4: curly brace poisons it
    assert(got(3)._3 == 0)
  }

  test("gopherQualityFlags: each published rule flips on its planted violation") {
    val good = (1 to 60).map(i => s"word$i").mkString(" ") +
      " the and that have with be to of"
    val rows = Seq(
      good,                                         // all pass
      "the and of short",                           // word count fails
      good + " " + Seq.fill(40)("12345").mkString(" "),  // alpha fraction fails
      good + " ### ... ### ... ### ... ### ... ### ...", // symbol ratio fails
      (1 to 60).map(i => s"word$i").mkString(" ")  // no stop words
    ).toDF("text")
      .select(TextAnalysis.gopherQualityFlags(col("text"), minWords = 50).as("g"))
      .select(col("g.f_word_count"), col("g.f_mean_word_len"),
        col("g.f_symbol_ratio"), col("g.f_alpha_words"),
        col("g.f_stop_words"), col("g.keep"))
      .as[(Int, Int, Int, Int, Int, Int)].collect().toSeq
    assert(rows(0) == ((1, 1, 1, 1, 1, 1)), s"clean doc must pass all: ${rows(0)}")
    assert(rows(1)._1 == 0 && rows(1)._6 == 0)
    assert(rows(2)._4 == 0 && rows(2)._6 == 0)
    assert(rows(3)._3 == 0 && rows(3)._6 == 0)
    assert(rows(4)._5 == 0 && rows(4)._6 == 0)
  }

  test("regexTokenCount: alpha runs, digit runs, single punct glyphs") {
    val df = Seq("abc12 de,f!").toDF("text")
    // tokens: abc, 12, de, ',', f, '!' -> 6
    assert(df.select(TextAnalysis.regexTokenCount(col("text"))).as[Int].head() == 6)
  }

  test("fingerprints: stable under case/trim for doc fp; shingle fp stable under tail edits") {
    val df = Seq(
      ("a b c d e f g h", "A b c d e f g h  "),
      ("a b c d e f g h", "a b c d e f g h x")
    ).toDF("t1", "t2")
    val rows = df.select(
      (TextAnalysis.docFingerprint(col("t1")) === TextAnalysis.docFingerprint(col("t2"))).as("fpEq"),
      (TextAnalysis.minShingleFingerprint(col("t1"), 3) ===
        TextAnalysis.minShingleFingerprint(col("t2"), 3)).as("shEq"))
      .as[(Boolean, Boolean)].collect()
    assert(rows(0)._1, "doc fingerprint normalizes case/whitespace")
    assert(!rows(1)._1, "doc fingerprint changes on content edit")
    // min-shingle: appending one token usually keeps the min shingle
    assert(rows(1)._2, "min-shingle fingerprint robust to a tail append (for this fixture)")
  }
}
