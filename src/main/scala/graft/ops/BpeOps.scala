package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer induction (Sennrich et al., ACL'16) —
  * learning the merge table from a corpus, and encoding with it.
  *
  * Scale design: every per-round computation runs on the WORD VOCAB
  * frame (distinct words + frequencies), never the corpus — the corpus
  * is touched exactly once to build the weighted vocab, and once more
  * at encode time via a broadcastable word→tokens dictionary join (the
  * [[CategoryOps]] dim contract). Each merge round is: adjacent-pair
  * explode over vocab symbols → weighted count → driver argmax (1 row)
  * → greedy left-to-right collapse as a pure column fold. The loop
  * `localCheckpoint`s the vocab frame per round — `numMerges` chained
  * `aggregate` expressions would otherwise nest the plan `numMerges`
  * deep (the [[GraphOps.pageRank]] lineage lesson).
  */
object BpeOps {

  /** Characters of a word as an array<string> (initial BPE symbols). */
  def charSymbols(word: Column): Column =
    transform(sequence(lit(1), length(word)),
      i => word.substr(i, lit(1)))

  /** Greedy left-to-right non-overlapping collapse of adjacent
    * (a, b) → a+b — one pass of the classic BPE merge application,
    * as a pure fold (no UDF): append unless the accumulator's last
    * element is `a` AND the incoming symbol is `b`; a freshly merged
    * `a+b` can never re-match `a` (it is strictly longer), which is
    * exactly the non-overlap rule.
    */
  def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, s) =>
      when(size(acc) > 0 &&
          element_at(acc, -1) === lit(a) && s === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(s))))

  /** Weighted word vocabulary of a corpus: (word, n, syms) — the frame
    * every training round runs on. Distinct-word cardinality, not
    * corpus cardinality.
    */
  def wordVocab(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextOps.whitespaceTokenize(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .withColumn("syms", charSymbols(col("word")))

  /** Adjacent-pair weighted counts of the current symbol state:
    * (a, b, cnt) — round-1 state of this is the oracle-checkable BPE
    * statistic (q120).
    */
  def pairCounts(vocab: DataFrame): DataFrame =
    vocab.select(col("n"), explode(transform(
        // sequence(1, 0) DESCENDS in Spark — a 1-symbol word must map
        // to an empty index list explicitly
        when(size(col("syms")) >= 2,
            sequence(lit(1), size(col("syms")) - 1))
          .otherwise(array().cast("array<int>")),
        i => struct(element_at(col("syms"), i).as("a"),
          element_at(col("syms"), i + 1).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("n")).as("cnt"))

  /** Learn `numMerges` merges. Returns the ordered merge list and the
    * final vocab symbol state. Ties break on (cnt desc, a, b) —
    * deterministic. Stops early when no pair occurs twice.
    */
  def bpeTrain(
      df: DataFrame, textCol: String,
      numMerges: Int): (Seq[(String, String)], DataFrame) = {
    val (merges, vocab) = learnMerges(df, textCol, numMerges)
    (merges.map { case (a, b, _) => (a, b) }, vocab)
  }

  /** The training loop of [[bpeTrain]] and [[bpeMergeTable]]: each
    * round's winning `(a, b, cnt)` in order, and the final vocab. */
  private def learnMerges(
      df: DataFrame, textCol: String,
      numMerges: Int): (Seq[(String, String, Long)], DataFrame) = {
    require(numMerges >= 0)
    var vocab = wordVocab(df, textCol).localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var r = 0
    var exhausted = false
    while (r < numMerges && !exhausted) {
      val top = pairCounts(vocab)
        .filter(col("cnt") >= 2)
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((a, b, top(0).getLong(2)))
        vocab = vocab
          .withColumn("syms", applyMerge(col("syms"), a, b))
          .localCheckpoint()
      }
      r += 1
    }
    (merges.toSeq, vocab)
  }

  /** Learn `numMerges` merges and return the MERGE TABLE itself —
    * `(step, a, b, cnt)`, one row per learned merge with the weighted
    * pair count that won its round — the cross-engine-checkable trace
    * of the whole training loop (each round's argmax over
    * [[pairCounts]] is deterministic: ties break (cnt desc, a, b)).
    * Same scale shape as [[bpeTrain]]: every round runs on the
    * distinct-word vocab frame, the argmax is a 1-row driver collect,
    * and the corpus is scanned exactly once.
    */
  def bpeMergeTable(
      df: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    learnMerges(df, textCol, numMerges)._1.zipWithIndex
      .map { case ((a, b, c), i) => (i + 1, a, b, c) }
      .toDF("step", "a", "b", "cnt")
  }

  /** Encode a corpus with a learned merge list: merges are applied to
    * the DISTINCT-WORD dictionary (vocab-sized work, `merges.length`
    * chained folds with checkpoint cuts every few rounds), then the
    * corpus joins the broadcastable word→tokens dictionary — the
    * corpus itself is never rescanned per merge.
    */
  /** TOKENIZER FERTILITY report — the standard tokenizer-eval table
    * (tokens per word and characters per token, per language): train
    * `numMerges` BPE merges on the corpus, apply them to the
    * distinct-word dictionary, and fold the per-word token counts
    * back over the full word stream grouped by `langCol`. High
    * fertility on a language = the tokenizer fragments it = that
    * language pays more sequence length per content — THE metric a
    * multilingual vocab is tuned against.
    *
    * Scale shape: training is [[bpeTrain]]'s vocab-frame loop; the
    * report is one corpus word pass joined to the BROADCAST dictionary
    * and one lang-keyed integer aggregation — ratios are exact
    * integer-sum divisions, so any engine replays them bit-for-bit.
    */
  def bpeFertility(
      df: DataFrame, textCol: String, langCol: String,
      numMerges: Int): DataFrame = {
    val (merges, _) = bpeTrain(df, textCol, numMerges)
    var dict = df
      .select(explode(TextOps.whitespaceTokenize(col(textCol))).as("word"))
      .distinct()
      .withColumn("syms", charSymbols(col("word")))
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      dict = dict.withColumn("syms", applyMerge(col("syms"), a, b))
      if ((i + 1) % 8 == 0) dict = dict.localCheckpoint()
    }
    val tk = dict.select(col("word"),
      size(col("syms")).cast("long").as("n_tok"),
      length(col("word")).cast("long").as("n_chr"))
    df.select(col(langCol).as("lang"),
        explode(TextOps.whitespaceTokenize(col(textCol))).as("word"))
      .join(broadcast(tk), Seq("word"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_tokens"),
        sum(col("n_chr")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_tokens"), col("n_chars"),
        (col("n_tokens").cast("double") / col("n_words").cast("double"))
          .as("fertility"),
        (col("n_chars").cast("double") / col("n_tokens").cast("double"))
          .as("chars_per_token"))
  }
}
