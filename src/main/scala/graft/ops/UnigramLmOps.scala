package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer induction (Kudo 2018, "Subword Regularization"
  * — the SentencePiece `unigram` model), closing the tokenizer family
  * next to [[BpeOps]] (merge-based) and the WordPiece APPLY expression:
  * seed a large candidate vocabulary from corpus substrings, then
  * alternate Viterbi segmentation (E) with weight re-estimation (M),
  * pruning low-mass pieces until the target vocabulary size.
  *
  * This is the documented VITERBI (hard-EM) variant: the E-step uses
  * each word's single best segmentation
  * ([[graft.functions.UnigramViterbi]]) rather than full
  * forward–backward expectations, and pruning drops lowest-weight
  * multi-char pieces rather than re-computing per-piece likelihood
  * loss — the standard simplification; single-char pieces are never
  * pruned, so every corpus word stays segmentable.
  *
  * Scale shape (100 TB): every stage after the one corpus scan runs on
  * the DISTINCT-WORD dictionary ([[BpeOps.wordVocab]]'s contract).
  * Seeding explodes ≤ |word|·maxPieceLen substrings per distinct word
  * into one map-side-combined weighted count + a TakeOrdered top-N;
  * each EM round ships the ≤ seedSize piece table inside the Viterbi
  * expression (broadcast-dim contract), segments the dictionary, and
  * re-aggregates piece weights with ONE keyed agg whose output is
  * again ≤ seedSize rows collected to the driver (the k-means-recenter
  * / BPE-argmax pattern). Corpus text is scanned exactly once.
  */
object UnigramLmOps {

  /** Weighted distinct words: (word, n). */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextOps.whitespaceTokenize(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))

  /** Seed candidate vocabulary: every substring of length
    * 1..`maxPieceLen` of every distinct word, weighted by word count;
    * the top `seedSize` by (weight desc, piece asc — a deterministic
    * cutoff) UNIONed with ALL single characters (the coverage
    * guarantee Viterbi needs). Returns (piece, weight) — the
    * oracle-checkable seeding statistic (q135), the q120
    * BPE-round-1 pattern.
    */
  def seedVocab(
      words: DataFrame, maxPieceLen: Int, seedSize: Int): DataFrame = {
    require(maxPieceLen >= 1 && seedSize >= 1)
    val subs = words
      .select(col("word"), col("n"),
        explode(sequence(lit(1), length(col("word")))).as("s"))
      .select(col("word"), col("n"), col("s"),
        explode(sequence(lit(1), lit(maxPieceLen))).as("l"))
      .filter(col("s") + col("l") - 1 <= length(col("word")))
      .select(substr(col("word"), col("s"), col("l")).as("piece"), col("n"))
      .groupBy("piece").agg(sum(col("n")).as("weight"))
    val top = subs
      .orderBy(col("weight").desc, col("piece"))
      .limit(seedSize)
    val chars = subs.filter(length(col("piece")) === 1)
    top.unionByName(chars).groupBy("piece")
      .agg(max(col("weight")).as("weight"))
  }

  /** One hard-EM round: Viterbi-segment the word dictionary under the
    * current (piece, weight) table (weights normalize to log-probs
    * inside), then re-estimate piece weights as the count-weighted
    * piece occurrences of the best segmentations. Output ≤ |pieces|
    * rows: (piece, weight).
    */
  def emRound(
      words: DataFrame, pieces: Seq[(String, Long)],
      maxPieceLen: Int): DataFrame = {
    val total = pieces.map(_._2).sum.toDouble
    val model = pieces.map { case (p, w) => p -> math.log(w / total) }
    words
      .select(col("n"),
        explode(graft.functions.UnigramViterbi.unigramViterbi(
          col("word"), model, maxPieceLen)).as("piece"))
      .groupBy("piece").agg(sum(col("n")).as("weight"))
  }

  /** Full induction: seed → `rounds` hard-EM rounds, pruning the
    * lowest-weight quarter of the multi-char pieces per round
    * (ties break piece-asc; single chars are never pruned) until at
    * most `vocabSize` pieces remain. Returns the final
    * (piece, logprob) model, weight-desc then piece-asc.
    */
  def unigramTrain(
      df: DataFrame, textCol: String, vocabSize: Int,
      maxPieceLen: Int = 6, seedSize: Int = 2000, rounds: Int = 4): Seq[(String, Double)] = {
    require(vocabSize >= 1 && rounds >= 1)
    val words = wordCounts(df, textCol).localCheckpoint()
    var pieces = seedVocab(words, maxPieceLen, seedSize)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    var r = 0
    while (r < rounds) {
      val counted = emRound(words, pieces, maxPieceLen)
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      // unreferenced pieces drop to weight 0 and prune first
      val updated = pieces.map { case (p, _) => p -> counted.getOrElse(p, 0L) }
      val (chars, multi) = updated.partition(_._1.length == 1)
      val sortedMulti = multi.sortBy { case (p, w) => (-w, p) }
      val targetMulti = math.max(
        vocabSize - chars.size,
        (sortedMulti.size * (1.0 - 0.25)).toInt)
      // chars are NEVER pruned (the coverage guarantee) — a char fully
      // absorbed by longer pieces keeps a floor weight of 1
      val kept = sortedMulti.take(math.max(0, targetMulti)).filter(_._2 > 0L)
      pieces = chars.map { case (p, w) => p -> math.max(w, 1L) } ++ kept
      r += 1
    }
    val (chars, multi) = pieces.partition(_._1.length == 1)
    val finalMulti = multi.sortBy { case (p, w) => (-w, p) }
      .take(math.max(0, vocabSize - chars.size))
    val kept = chars ++ finalMulti
    val total = kept.map(_._2).sum.toDouble
    kept.sortBy { case (p, w) => (-w, p) }
      .map { case (p, w) => p -> math.log(w / total) }
  }

  /** Encode a corpus with a trained model: segment the DISTINCT-word
    * dictionary once ([[BpeOps.bpeFertility]]'s shape — the expression
    * runs |dictionary| times, not |corpus| times) and broadcast-join
    * the per-word piece arrays back onto the exploded corpus. Output:
    * (idCol, pieces array per document, in word order flattened).
    */
  def unigramEncode(
      df: DataFrame, textCol: String, idCol: String,
      model: Seq[(String, Double)], maxPieceLen: Int = 6): DataFrame = {
    val perWord = df
      .select(explode(TextOps.whitespaceTokenize(col(textCol))).as("word"))
      .distinct()
      .select(col("word"),
        graft.functions.UnigramViterbi.unigramViterbi(
          col("word"), model, maxPieceLen).as("pieces"))
    val exploded = df
      .select(col(idCol),
        posexplode(TextOps.whitespaceTokenize(col(textCol))))
      .select(col(idCol), col("pos"), col("col").as("word"))
    exploded.join(broadcast(perWord), Seq("word"))
      .select(col(idCol), col("pos"), col("pieces"))
      .groupBy(idCol)
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("pieces")))),
        s => s.getField("pieces"))).as("pieces"))
  }
}
