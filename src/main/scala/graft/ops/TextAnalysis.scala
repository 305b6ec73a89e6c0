package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.PortableHash

/** Text-analysis operators for the training-data pipeline surface:
  * language ID (stopword n-gram heuristic), quality scoring, token
  * counting (whitespace + a BPE-ish regex), and document fingerprinting.
  *
  * Everything is a pure column expression — codegen-friendly, no UDFs,
  * embarrassingly parallel (zero shuffles) at any scale.
  */
object TextAnalysis {

  /** Tiny per-language stopword profiles for the heuristic language ID.
    * Deliberately small and frozen: the operator contract is the scoring
    * algebra, not lexicon quality.
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "una", "es", "por"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "zu", "mit", "den", "ein"),
    "fr" -> Seq("le", "la", "de", "et", "un", "une", "est", "que", "pour", "dans"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "有", "人", "这", "他"))

  /** Per-language stopword-hit ratio of the whitespace token multiset. */
  def langScore(toks: Column, lang: String): Column = {
    val words = stopwords.toMap.apply(lang)
    val hits = size(filter(toks, t => t.isin(words: _*)))
    when(size(toks) === 0, 0.0).otherwise(hits.cast("double") / size(toks))
  }

  /** Heuristic language ID: argmax of [[langScore]] over the profiles,
    * ties broken by language code ascending (deterministic). Returns the
    * language code string.
    */
  def langId(toks: Column): Column = {
    val scored = stopwords.map { case (lang, _) =>
      struct(langScore(toks, lang).as("score"), lit(lang).as("lang"))
    }
    // max over (score, then lang DESC would win ties by code); to break
    // ties by code ASC, compare on (score, negated-lexicographic) — done
    // simply by taking max score then the first lang reaching it.
    val maxScore = greatest(scored.map(_.getField("score")): _*)
    stopwords.map { case (lang, _) =>
      when(langScore(toks, lang) === maxScore, lit(lang))
    }.reduceRight((c, acc) => coalesce(c, acc))
  }

  /** Quality signals (reference-free heuristics used by LLM data
    * pipelines): token count, mean token length, stopword ratio (en),
    * non-alphanumeric character ratio, uppercase ratio. Returned as a
    * struct column.
    */
  def qualitySignals(text: Column): Column = {
    val toks = TextOps.whitespaceTokenize(text)
    val nChars = length(text).cast("double")
    val nonAlnum = nChars - length(regexp_replace(text, "[^A-Za-z0-9 ]", ""))
    val uppers = nChars - length(regexp_replace(text, "[A-Z]", ""))
    struct(
      size(toks).as("n_tokens"),
      when(size(toks) === 0, 0.0)
        .otherwise(aggregate(toks, lit(0.0), (acc, t) => acc + length(t).cast("double"))
          / size(toks)).as("mean_token_len"),
      langScore(toks, "en").as("stopword_ratio"),
      when(nChars === 0, 0.0).otherwise(nonAlnum / nChars).as("punct_ratio"),
      when(nChars === 0, 0.0).otherwise(uppers / nChars).as("upper_ratio"))
  }

  /** Composite quality score in [0,1]: length sweet-spot × low punct ×
    * some stopwords. A fixed, documented formula (deterministic) rather
    * than a learned model.
    */
  def qualityScore(text: Column): Column = {
    val s = qualitySignals(text)
    val lenScore = least(s.getField("n_tokens").cast("double") / 20.0, lit(1.0))
    val punctPenalty = greatest(lit(0.0), lit(1.0) - s.getField("punct_ratio") * 4.0)
    val swScore = least(s.getField("stopword_ratio") * 5.0, lit(1.0))
    // no rounding here: engines' round() tie rules differ; the oracle
    // canonicalization rounds once, at the end, on both sides equally.
    lenScore * 0.4 + punctPenalty * 0.4 + swScore * 0.2
  }

  /** Readability signals — a deterministic Flesch-Reading-Ease
    * approximation over the engine's fixed proxies (readability as a
    * curation signal: training mixes oversample mid-readability prose;
    * fixed formula, not a learned model, like [[qualityScore]]):
    *  - words: [[TextOps.whitespaceTokenize]] count;
    *  - sentences: `[.!?]+` match count, floored at 1 (a fragment is
    *    one sentence);
    *  - syllables: `[aeiouyAEIOUY]+` vowel-group count, floored at the
    *    word count (every word carries >= 1 syllable).
    * `flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/
    * words)`, NULL when there are no words. Pure codegen column
    * algebra, zero shuffles; both regexes are plain character-class+
    * quantifier patterns that Java regex and RE2-family engines match
    * identically, and the score is three double ops in a fixed order —
    * an oracle replays it bit-for-bit (q216).
    */
  def readabilitySignals(text: Column): Column = {
    val words = size(TextOps.whitespaceTokenize(text))
    val sentences = greatest(
      size(regexp_extract_all(text, lit("[.!?]+"), lit(0))), lit(1))
    val syllables = greatest(
      size(regexp_extract_all(text, lit("[aeiouyAEIOUY]+"), lit(0))), words)
    val flesch = when(words === 0, lit(null).cast("double"))
      .otherwise(lit(206.835)
        - lit(1.015) * (words.cast("double") / sentences.cast("double"))
        - lit(84.6) * (syllables.cast("double") / words.cast("double")))
    struct(
      words.as("n_words"),
      sentences.as("n_sentences"),
      syllables.as("n_syllables"),
      flesch.as("flesch"))
  }

  /** Intra-document REPETITION signals (Gopher-style quality rules,
    * Rae et al. 2021 §A1.1: "repetition removal" — documents dominated
    * by repeated fragments are low-quality for training): duplicate-
    * token fraction (1 − distinct/total) and top-bigram fraction (the
    * most frequent word 2-gram's share of all 2-grams). Pure column
    * algebra, zero shuffles; compose with [[qualityScore]] as curation
    * pre-filters ahead of the shuffling dedup stage. Degenerate inputs:
    * no tokens → 0 duplicate fraction; fewer than 2 tokens → 0
    * top-bigram fraction.
    *
    * The mode count is sort + longest-equal-run — O(n log n) per doc,
    * not the naive O(n²) count-each-distinct-gram, because real web
    * documents run to thousands of tokens and this sits in the
    * every-document hot path of a curation pipeline. The whole bigram
    * branch is the fused [[graft.functions.TopNgramFrac]]: the
    * composable gram-list tower (transform+slice+concat_ws → sort →
    * scan) is interpreted AND re-evaluated per struct reference
    * (HOFs are excluded from subexpression elimination) — q52 measured
    * ~5.5 s at sf0.1 composable vs ~0.3 s fused.
    */
  def repetitionSignals(text: Column): Column = {
    val toks = TextOps.whitespaceTokenize(text)
    val dupFrac = when(size(toks) === 0, 0.0)
      .otherwise(lit(1.0) -
        size(array_distinct(toks)).cast("double") / size(toks))
    val topFrac = graft.functions.TopNgramFrac.topNgramFrac(toks, 2)
    struct(dupFrac.as("dup_token_frac"), topFrac.as("top_bigram_frac"))
  }

  /** PER-DOCUMENT CHARACTER ENTROPY (bits) — the gibberish/binary-
    * spill quality gate: natural prose sits ~4–4.5 bits/char, base64
    * or hex dumps near the top of their alphabet's range, and
    * repeated-character spam near 0 — a one-number screen that
    * catches inputs the word-level Gopher flags can't see (they need
    * word boundaries; a 2 MB minified-JS line has none). Returns
    * `(id, n_chars, entropy_bits)`; empty/NULL text scores NULL.
    *
    * Engine parity: per-(doc, char) counts are INTEGER; each term
    * `−p·log2(p)` is one double expression from two integer casts,
    * summed round-then-DECIMAL(38,9) — order-free, so the groupBy can
    * map-side combine freely and DuckDB replays it value-level (the
    * q107 corpus-entropy convention, per doc).
    *
    * Scale shape: explode to (id, char) rows, ONE keyed count that
    * map-side combines to ≤ |alphabet| rows per doc, one id-keyed
    * term sum. The corpus shuffles only (id, char, partial-count) —
    * never text. (The single-pass fused alternative is a per-char
    * HOF fold — the measured-30×-interpreted trap; this shape stays
    * in codegen end to end.)
    */
  def docCharEntropy(
      df: DataFrame, textCol: String, idCol: String): DataFrame = {
    def d9(c: Column) = sum(round(c, 9).cast("decimal(38,9)")).cast("double")
    val cells = df
      .filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol).as("__id"),
        explode(split(col(textCol), "")).as("__ch"))
      // split(text, "") with no trailing empty element is SPARK-40194
      // semantics (Spark >= 3.4); the guard keeps n_chars/entropy exact
      // if this is ever built against older jars, and is free at runtime
      .filter(col("__ch") =!= "")
      .groupBy("__id", "__ch").agg(count(lit(1)).as("__n"))
    val tot = cells.groupBy("__id")
      .agg(sum(col("__n")).as("__tot"))
    cells.join(tot, Seq("__id"))
      .withColumn("__p", col("__n").cast("double") / col("__tot").cast("double"))
      .groupBy(col("__id"))
      .agg(first(col("__tot")).as("n_chars"),
        d9(-col("__p") * log(2.0, col("__p"))).as("entropy_bits"))
      .select(col("__id").as(idCol), col("n_chars"), col("entropy_bits"))
  }

  /** BPE-ish subword count: alpha runs, digit runs, and single other
    * glyphs each count as one token — a deterministic proxy for subword
    * tokenizer cost, as a codegen'd regex count.
    */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Exact-dedup fingerprint: md5 hex of the normalized text. */
  def docFingerprint(text: Column): Column = md5(DedupOps.normText(text))

  /** Min-wise shingle fingerprint (rolling n-gram window, min of hashed
    * shingles) — one 60-bit value that is stable under small edits;
    * the 1-hash MinHash special case. Production form is the fused
    * one-pass [[graft.functions.MinShingleMd5]];
    * [[minShingleFingerprintComposable]] keeps the HOF construction it
    * is differentially pinned against.
    */
  def minShingleFingerprint(text: Column, n: Int): Column =
    graft.functions.MinShingleMd5.minShingleMd5(TextOps.whitespaceTokenize(text), n)

  /** The composable formulation (shingle array → distinct → hash →
    * array_min) — reference for `MinShingleMd5Spec`.
    */
  def minShingleFingerprintComposable(text: Column, n: Int): Column = {
    val grams = DedupOps.ngramSet(text, n)
    when(size(grams) === 0, lit(null).cast("long"))
      .otherwise(array_min(transform(grams, g => PortableHash.md5Long(g))))
  }

  /** C4-style line-level cleaning (Raffel et al. 2020 §2.2, the
    * "Colossal Clean Crawled Corpus" rules, fixed and documented):
    * split on newlines; KEEP a line only if it ends in a terminal
    * punctuation mark (`.`/`!`/`?`/closing quote after one), has at
    * least 3 whitespace words, and does not mention
    * "javascript" (case-insensitive — the boilerplate-warning rule).
    * Doc-level: `keep` = cleaned text has at least `minSentences`
    * sentence-terminal marks AND the ORIGINAL text contains neither
    * "lorem ipsum" nor a curly brace (code, not prose).
    *
    * Pure per-row column algebra (one `filter` HOF over the line
    * array — line counts are tens, not thousands, so the interpreted
    * HOF is not a hot path), zero shuffles; returns
    * struct(cleaned string, n_lines_kept int, n_sentences int,
    * keep int 0/1). Run it BEFORE the shuffling dedup stages so
    * boilerplate never reaches an exchange.
    */
  def c4LineFilter(
      text: Column, minSentences: Int = 5): Column = {
    val lines = split(text, "\n")
    val kept = filter(lines, l =>
      l.rlike("[.!?][\"']?\\s*$") &&
        size(filter(split(l, " "), w => w =!= "")) >= 3 &&
        !lower(l).contains("javascript"))
    val cleaned = array_join(kept, "\n")
    val nSentences = size(regexp_extract_all(cleaned, lit("[.!?]"), lit(0)))
    val lower_all = lower(text)
    val keep = (nSentences >= minSentences) &&
      !lower_all.contains("lorem ipsum") && !lower_all.contains("{")
    struct(
      cleaned.as("cleaned"),
      size(kept).cast("int").as("n_lines_kept"),
      nSentences.cast("int").as("n_sentences"),
      when(keep, 1).otherwise(0).as("keep"))
  }

  /** Gopher document-quality rules (Rae et al. 2021, Table A1 — the
    * published MassiveWeb filter, fixed thresholds as defaults):
    * word count within [minWords, 100000]; mean word length within
    * [3, 10]; symbol-to-word ratio (`#` or `...` occurrences / words)
    * at most 0.1; fraction of words containing at least one
    * alphabetic character at least 0.8; at least 2 distinct of the 8
    * Gopher stop words (the/be/to/of/and/that/have/with — a
    * real-prose signal, not langid). Returns a struct of per-rule 0/1
    * flags plus the conjunction `keep`; per-rule flags are the
    * curation-debugging surface (which rule kills how much of a
    * crawl). Pure column algebra, zero shuffles.
    *
    * (The published line-shape rules — bullet-start / ellipsis-end
    * fractions — live with the other line-level pass: compose
    * [[c4LineFilter]] first; repetition rules are
    * [[repetitionSignals]].)
    */
  def gopherQualityFlags(
      text: Column, minWords: Int = 50): Column = {
    val toks = TextOps.whitespaceTokenize(text)
    val n = size(toks)
    val nD = n.cast("double")
    val meanLen = when(n === 0, 0.0)
      .otherwise(aggregate(toks, lit(0.0),
        (acc, t) => acc + length(t).cast("double")) / nD)
    val symbols = size(regexp_extract_all(text, lit("#|\\.\\.\\."), lit(0)))
    val alphaWords = size(filter(toks, t => t.rlike("[A-Za-z]")))
    val stopHits = (Seq("the", "be", "to", "of", "and", "that", "have", "with")
      .map(w => when(array_contains(transform(toks, lower _), w), 1).otherwise(0))
      .reduce((a, b) => a + b))
    val fWordCount = when(n >= minWords && n <= 100000, 1).otherwise(0)
    val fMeanLen = when(meanLen >= 3.0 && meanLen <= 10.0, 1).otherwise(0)
    val fSymbol = when(n > 0 && symbols.cast("double") / nD <= 0.1, 1).otherwise(0)
    val fAlpha = when(n > 0 && alphaWords.cast("double") / nD >= 0.8, 1).otherwise(0)
    val fStop = when(stopHits >= 2, 1).otherwise(0)
    struct(
      fWordCount.as("f_word_count"),
      fMeanLen.as("f_mean_word_len"),
      fSymbol.as("f_symbol_ratio"),
      fAlpha.as("f_alpha_words"),
      fStop.as("f_stop_words"),
      (fWordCount * fMeanLen * fSymbol * fAlpha * fStop).as("keep"))
  }

  /** Windowed co-occurrence PMI — the word2vec/GloVe preprocessing
    * statistic: for every unordered token pair co-occurring within
    * `window` positions, `pmi = ln( (c_xy / T_pairs) /
    * ((c_x / T_tok) * (c_y / T_tok)) )` over exact corpus counts.
    *
    * Pair generation is a pure per-row column expression (no
    * positional self-join): each position pairs with the next
    * `window` positions via nested `transform` + `flatten`, so the
    * only shuffles are the (x, y) pair-count groupBy and the
    * vocabulary-sized marginal joins — pairs are strings of two
    * tokens, never documents. Totals ride 1-row broadcasts. At 100 TB
    * compose with [[graft.ops.SearchOps.buildVocab]] to cap the pair
    * space to a top-V vocabulary before the groupBy (filter both
    * members), and raise `minCount` — PMI on singleton pairs is noise.
    */
  def pmiPairs(
      df: DataFrame, textCol: String, window: Int,
      minCount: Long = 1L): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val toks = TextOps.whitespaceTokenize(col(textCol))
    // fused single-pass pair stream (the composable nested-transform
    // tower is interpreted per element — measured 4× of this row's
    // cost at sf0.1); canonical "min max" keys split back below
    val pairs = df.select(explode(
      graft.functions.WindowedPairKeys.windowedPairKeys(toks, window))
      .as("pk"))
    val cxy = pairs.groupBy("pk").agg(count(lit(1)).as("c_xy"))
      .select(substring_index(col("pk"), " ", 1).as("x"),
        substring_index(col("pk"), " ", -1).as("y"), col("c_xy"))
    val marg = df.select(explode(toks).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    // Totals in closed form from per-doc token counts — a doc with n
    // tokens emits Σ_{j=1..n-1} min(window, j) pairs — so the 1-row
    // totals branch is one NARROW corpus pass (no second explode of
    // the pair stream; an early version re-ran the whole pair
    // generation just to count it, doubling the operator's cost).
    val nTok = size(toks)
    val j = (nTok - 1).cast("long")
    val perDocPairs = when(j <= window, (j * (j + 1)) / 2)
      .otherwise(lit(window.toLong * (window + 1) / 2) +
        (j - window) * window)
    val totals = df
      .select(perDocPairs.as("pp"), nTok.cast("long").as("nn"))
      .agg(sum(col("pp")).as("__tp"), sum(col("nn")).as("__tt"))
    val d = (c: Column) => c.cast("double")
    cxy.filter(col("c_xy") >= minCount)
      .join(broadcast(marg.select(col("tok").as("x"), col("c").as("c_x"))), "x")
      .join(broadcast(marg.select(col("tok").as("y"), col("c").as("c_y"))), "y")
      .crossJoin(broadcast(totals))
      .select(col("x"), col("y"), col("c_xy"), col("c_x"), col("c_y"),
        log((d(col("c_xy")) / d(col("__tp"))) /
          ((d(col("c_x")) / d(col("__tt"))) *
           (d(col("c_y")) / d(col("__tt"))))).as("pmi"))
  }
}
