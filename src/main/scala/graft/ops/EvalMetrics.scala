package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.F1Aggregator

/** Classification metric block — the reference's `evaluate`
  * (`src/util.py:136-156`) rewritten as pure relational algebra, no UDAF:
  * per-class TP/FP/FN via conditional sums, micro-F1 from global counts,
  * macro-F1 as the unweighted mean of per-class F1 with sklearn's
  * zero-division→0 rule, accuracy as mean(pred == label).
  *
  * The class set for macro averaging is the union of classes present in
  * labels or predictions (sklearn `f1_score(average='macro')` default).
  *
  * Scales: one shuffle (groupBy class) over pre-aggregated counts, then a
  * tiny (|classes|-row) reduction — no per-row state, streaming-friendly.
  * [[hierarchicalF1]] needs two such blocks at once, so it runs the
  * same semantics through [[graft.functions.F1Aggregator]] instead: one
  * aggregate with a column per hierarchy level.
  */
object EvalMetrics {

  /** From a (pred, label) DataFrame, one row:
    * (micro_f1, macro_f1, accuracy) — all double.
    *
    * In single-label multiclass, micro-F1 == accuracy; both are computed
    * independently here anyway (micro from TP/FP/FN totals) so the
    * equality is a test invariant rather than an assumption.
    */
  def f1Block(df: DataFrame, pred: String, label: String): DataFrame = {
    val p = col(pred)
    val l = col(label)
    // one row per (class, side) contribution: count rows where the class
    // appears as pred (tp+fp) / as label (tp+fn) / as both (tp).
    val perClass = df
      .select(explode(array_distinct(array(p, l))).as("cls"), p.as("p"), l.as("l"))
      .groupBy("cls")
      .agg(
        sum(when(col("p") === col("cls") && col("l") === col("cls"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("p") === col("cls") && col("l") =!= col("cls"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("l") === col("cls") && col("p") =!= col("cls"), 1L).otherwise(0L)).as("fn"))
    val f1 = safeDiv(lit(2.0) * col("tp"), lit(2.0) * col("tp") + col("fp") + col("fn"))
    val macroDf = perClass.agg(
      avg(f1).as("macro_f1"),
      sum("tp").cast("double").as("tps"),
      sum("fp").cast("double").as("fps"),
      sum("fn").cast("double").as("fns"))
    val micro = safeDiv(lit(2.0) * col("tps"), lit(2.0) * col("tps") + col("fps") + col("fns"))
    val acc = df.agg(avg(when(p === l, 1.0).otherwise(0.0)).as("accuracy"))
    macroDf.select(micro.as("micro_f1"), col("macro_f1")).crossJoin(acc)
  }

  private def safeDiv(num: Column, den: Column): Column =
    when(den === 0.0, 0.0).otherwise(num / den)

  /** OP-24 validation join (reference `src/evaluate.py:12-22`): every
    * predicted vid must exist in the ground truth (unknown ids raise),
    * and the row counts must match exactly. Returns the joined
    * (vid, pred, label) frame on success.
    *
    * Both guards come from ONE action: the two vid columns are unioned,
    * grouped by vid, and a single aggregate yields (unknown, np, nt).
    * Counting is per row: a duplicated pred vid counts twice, and a pred
    * row with a null vid is unknown (a null key never matches the truth,
    * as in a `left_anti` join).
    */
  def validatePredictions(
      preds: DataFrame, truth: DataFrame,
      vidCol: String = "vid", predCol: String = "pred", labelCol: String = "label"): DataFrame = {
    val vids = preds.select(col(vidCol), lit(1L).as("p"), lit(0L).as("t"))
      .union(truth.select(col(vidCol), lit(0L).as("p"), lit(1L).as("t")))
      .groupBy(vidCol).agg(sum("p").as("p"), sum("t").as("t"))
    def total(c: Column): Column = coalesce(sum(c), lit(0L))
    val r = vids.agg(
      total(when(col(vidCol).isNull || col("t") === 0L, col("p")).otherwise(0L)),
      total(col("p")), total(col("t"))).head()
    val (unknown, np, nt) = (r.getLong(0), r.getLong(1), r.getLong(2))
    require(unknown == 0, s"$unknown predicted ids missing from ground truth")
    require(np == nt, s"prediction count $np != ground truth count $nt")
    preds.join(truth, Seq(vidCol))
  }

  /** The reference's full `evaluate` block (`src/util.py:136-156`):
    * micro/macro F1 and accuracy at both hierarchy levels plus
    * `mean_f1` = mean of the four F1s. lv1 ids are derived from lv2 ids
    * through the category dimension (OP-14).
    *
    * A pred/label lv2 id ABSENT from the dimension fails loudly at
    * execution (left join + `raise_error`, no extra driver action) —
    * the same contract as [[validatePredictions]]; an inner join here
    * would silently drop the pair from the metric. "Absent" is judged
    * against the dim rows that actually CARRY a parent (`lv1id IS NOT
    * NULL`) — a dim row with a null lv1id cannot vouch for its lv2id —
    * and a null pred/label id prints as "NULL" in the error rather than
    * nulling the whole message.
    *
    * Both levels come from one aggregate: two `udaf(F1Aggregator)`
    * columns (spec-pinned to [[f1Block]]) over the guarded pairs, so the
    * metrics row is one action with no cross joins.
    */
  def hierarchicalF1(
      pairs: DataFrame, dim: DataFrame): DataFrame = {
    val lv1 = dim.filter(col("lv1id").isNotNull).select(col("lv2id"), col("lv1id"))
    def found(lv1Col: String, lv2Col: String): Column =
      when(col(lv1Col).isNull, raise_error(concat(
        lit(s"hierarchicalF1: $lv2Col id absent from category dim: "),
        coalesce(col(lv2Col).cast("string"), lit("NULL"))))).otherwise(col(lv1Col))
    val withLv1 = pairs
      .join(broadcast(lv1.withColumnRenamed("lv2id", "pred")
        .withColumnRenamed("lv1id", "pred_lv1")), Seq("pred"), "left")
      .join(broadcast(lv1.withColumnRenamed("lv2id", "label")
        .withColumnRenamed("lv1id", "label_lv1")), Seq("label"), "left")
      .withColumn("pred_lv1", found("pred_lv1", "pred"))
      .withColumn("label_lv1", found("label_lv1", "label"))
    // both levels in one aggregate; an empty input gives a row of nulls,
    // as the relational f1Block does (the aggregator alone would say 0)
    val f1 = udaf(F1Aggregator)
    val m = withLv1.agg(
      count(lit(1)).as("n"),
      f1(col("pred").cast("int"), col("label").cast("int")).as("lv2"),
      f1(col("pred_lv1").cast("int"), col("label_lv1").cast("int")).as("lv1"))
    def metric(level: String, field: Int, name: String): Column =
      when(col("n") > 0, col(s"$level._$field")).as(s"${level}_$name")
    m.select(
        metric("lv2", 1, "f1_micro"), metric("lv2", 2, "f1_macro"), metric("lv2", 3, "acc"),
        metric("lv1", 1, "f1_micro"), metric("lv1", 2, "f1_macro"), metric("lv1", 3, "acc"))
      .withColumn("mean_f1",
        (col("lv2_f1_macro") + col("lv1_f1_macro") + col("lv1_f1_micro") + col("lv2_f1_micro")) / 4.0)
  }

  /** ROUGE-N (Lin 2004) per reference/candidate pair: clipped n-gram
    * overlap — for each distinct candidate gram, `min(count_in_ref,
    * count_in_cand)` summed (the multiset-intersection size) — with
    * precision = overlap / |cand grams|, recall = overlap / |ref grams|,
    * F1 their harmonic mean (null when a side has no grams, matching
    * the metric's undefined-not-zero convention).
    *
    * Whitespace tokenization (the reference-free form; swap in any
    * tokenizer upstream by pre-splitting). Pure per-row column algebra
    * over the two text columns — zero shuffles, so it composes with
    * whatever join produced the pairs. The distinct-gram loop is
    * O(distinct grams × grams) per ROW, not per corpus: fine for the
    * summary-length texts the metric is defined over.
    *
    * Appends `overlap`, `ref_n`, `cand_n` (long), `rouge_p`, `rouge_r`,
    * `rouge_f1` (double).
    */
  def rougeN(pairs: DataFrame, refCol: String, candCol: String, n: Int): DataFrame = {
    require(n >= 1, "rougeN: n must be >= 1")
    def grams(c: Column): Column = {
      val toks = filter(split(c, " "), t => t =!= "")
      // sequence(0, size-n) flips to a DESCENDING range when size < n
      // (Spark's default step is -1 there) — guard to an empty gram list
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n), i =>
          concat_ws(" ", array((0 until n).map(j =>
            element_at(toks, (i + j + 1).cast("int"))): _*))))
        .otherwise(array().cast("array<string>"))
    }
    val withGrams = pairs
      .withColumn("__rg", grams(col(refCol)))
      .withColumn("__cg", grams(col(candCol)))
    def cnt(arr: Column, g: Column): Column = size(filter(arr, x => x === g))
    withRougeScores(withGrams
      .withColumn("overlap",
        aggregate(array_distinct(col("__cg")), lit(0L), (acc, g) =>
          acc + least(cnt(col("__rg"), g), cnt(col("__cg"), g)).cast("long"))),
      "__rg", "__cg")
  }

  /** The ROUGE-N scores from the clipped n-gram `overlap` and the two
    * n-gram arrays `ref`/`cand` (dropped after): `ref_n`, `cand_n`,
    * precision, recall and F1 (null on an empty side). */
  private def withRougeScores(df: DataFrame, ref: String, cand: String): DataFrame =
    df.withColumn("ref_n", size(col(ref)).cast("long"))
      .withColumn("cand_n", size(col(cand)).cast("long"))
      .withColumn("rouge_p",
        when(col("cand_n") > 0, col("overlap").cast("double") / col("cand_n")))
      .withColumn("rouge_r",
        when(col("ref_n") > 0, col("overlap").cast("double") / col("ref_n")))
      .withColumn("rouge_f1",
        when(col("rouge_p") + col("rouge_r") > 0.0,
          lit(2.0) * col("rouge_p") * col("rouge_r") / (col("rouge_p") + col("rouge_r"))))
      .drop(ref, cand)

  /** ROC AUC via the Mann-Whitney U statistic — the quality-classifier
    * evaluation gauge next to [[f1Block]] (a DSIR / NB / quality-score
    * filter is tuned by how well its SCORE separates good from bad,
    * threshold-free): `AUC = (Σ_{positives} avgrank − P(P+1)/2) /
    * (P·N)` with tie-AVERAGED ranks (the exact tie convention —
    * pessimistic/optimistic rank choices bias AUC on quantized
    * scores). Returns one row: (auc double — null when a class is
    * empty, n_pos, n_neg).
    *
    * Scale shape: global ranks come from the range-partitioned
    * sort + `zipWithIndex` pattern ([[JoinOps.withRowIndex]]) — NO
    * unpartitioned window; tie groups collapse to per-score average
    * ranks in one keyed agg (average of a contiguous integer run, so
    * partition order inside a tie never matters), and the final sums
    * are one aggregate. Per-score `round(·, 9)` then DECIMAL keeps
    * the positives' rank sum order-free and bit-equal cross-engine.
    */
  def aucRoc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val ranked = graft.ops.JoinOps.withRowIndex(
      df.select(col(scoreCol).cast("double").as("s"),
        col(labelCol).cast("int").as("y")).sort("s"), "__ri")
    val avgRanks = ranked.groupBy("s").agg(
      round(avg(col("__ri") + 1), 9).cast("decimal(28,9)").as("ar"),
      sum(col("y")).as("np"), count(lit(1)).as("nt"))
    avgRanks.agg(
      sum(col("ar") * col("np")).as("rank_sum_pos"),
      sum(col("np")).as("p"),
      sum(col("nt") - col("np")).as("n"))
      .select(
        when(col("p") > 0 && col("n") > 0,
          (col("rank_sum_pos").cast("double") -
            col("p").cast("double") * (col("p").cast("double") + 1.0) / 2.0) /
            (col("p").cast("double") * col("n").cast("double"))).as("auc"),
        col("p").cast("long").as("n_pos"), col("n").cast("long").as("n_neg"))
  }

  /** Expected calibration error (Naeini et al. 2015; Guo et al. 2017's
    * reliability-diagram summary): scores in [0, 1] land in 10
    * equal-width bins (right-closed at 1), ECE = Σ_b (n_b / N) ·
    * |accuracy_b − confidence_b|. Returns the per-bin reliability
    * frame (bin, n, avg confidence, accuracy, |gap|) PLUS the ECE on
    * every row — one keyed agg over ≤ 10 rows, round-then-DECIMAL
    * terms so the weighted sum replays bit-level cross-engine.
    */
  def calibrationBins(
      df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val b = least(floor(col(scoreCol).cast("double") * 10), lit(9))
      .cast("int")
    // per-row round-then-DECIMAL before the bin sums: a double `avg`
    // folds in partition order and can differ in the last ulp across
    // engines; an exact decimal sum divided once is order-free
    val perBin = df
      .select(b.as("bin"), col(scoreCol).cast("double").as("s"),
        col(labelCol).cast("int").as("y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(round(col("s"), 9).cast("decimal(28,9)")).as("__ssum"),
        sum(col("y")).as("__ysum"))
      .select(col("bin"), col("n"),
        round(col("__ssum").cast("double") / col("n"), 9)
          .cast("decimal(28,9)").as("confidence"),
        round(col("__ysum").cast("double") / col("n"), 9)
          .cast("decimal(28,9)").as("accuracy"))
      .withColumn("gap", abs(col("accuracy") - col("confidence")))
    val tot = perBin.agg(
      sum(col("n")).as("__N"),
      sum(col("gap") * col("n")).as("__gsum"))
    perBin.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"),
        col("confidence").cast("double").as("confidence"),
        col("accuracy").cast("double").as("accuracy"),
        col("gap").cast("double").as("gap"),
        (col("__gsum").cast("double") / col("__N").cast("double")).as("ece"))
  }

  /** Production ROUGE-N: same metric as [[rougeN]], computed in three
    * fused codegen passes per row instead of the HOF tower — each
    * side's grams become a SORTED xxhash64 multiset in one pass
    * ([[graft.functions.ShingleHashes64]] multiset form), and the
    * clipped overlap Σ_g min(count_ref, count_cand) is a two-pointer
    * merge ([[graft.functions.SortedIntersectCount]], which on
    * multiset inputs counts exactly the multiset-intersection size).
    * O(L log L) per row vs the HOF form's O(distinct × L) re-scans —
    * the same pathology-and-fix as `TopNgramFrac` (VERDICT r6 #2;
    * b_rouge2 10.1 s → see BASELINE.md).
    *
    * Equal to [[rougeN]] up to xxhash64 gram collisions (~L²/2⁶⁴ per
    * pair — vanishing; the differential spec pins equality on real
    * text). [[rougeN]] stays as the string-exact oracle twin (q82
    * replays it verbatim in DuckDB).
    */
  /** Corpus-level BLEU (Papineni et al. 2002): per order `n ≤ maxN`
    * the CLIPPED n-gram matches and candidate gram totals sum over
    * the whole corpus (micro-average — the published definition, not
    * a mean of sentence BLEUs), `p_n = M_n / T_n`, brevity penalty
    * `exp(1 − r/c)` when the candidate side is shorter, and
    * `BLEU = BP · exp(Σ ln p_n / maxN)` — strictly 0 when any order
    * has zero matches (the unsmoothed reference form; smoothing
    * belongs to the caller). One row out:
    * `(m_1..m_maxN, t_1..t_maxN, c_len, r_len, bleu)`.
    *
    * The per-pair clipped overlaps ARE the ROUGE machinery:
    * `fused = true` (production) uses [[rougeNFused]]'s sorted-hash
    * multiset merge, `fused = false` the string-exact [[rougeN]] the
    * q142 oracle replays — the same twin contract as q82, with the
    * differential spec pinning the two equal.
    */
  def bleuCorpus(
      pairs: DataFrame, refCol: String, candCol: String,
      maxN: Int = 4, fused: Boolean = true): DataFrame = {
    require(maxN >= 1, "bleuCorpus: maxN must be >= 1")
    val per = (1 to maxN).foldLeft(pairs) { (df, n) =>
      val withR =
        if (fused) rougeNFused(df, refCol, candCol, n)
        else rougeN(df, refCol, candCol, n)
      withR
        .withColumnRenamed("overlap", s"__m_$n")
        .withColumnRenamed("cand_n", s"__t_$n")
        .withColumnRenamed("ref_n", s"__r_$n")
        .drop("rouge_p", "rouge_r", "rouge_f1")
    }
    val aggs = (1 to maxN).flatMap(n => Seq(
      sum(col(s"__m_$n")).as(s"m_$n"), sum(col(s"__t_$n")).as(s"t_$n"))) ++
      Seq(sum(col("__t_1")).as("c_len"), sum(col("__r_1")).as("r_len"))
    val tot = per.agg(aggs.head, aggs.tail: _*)
    val allPos = ((1 to maxN).map(n => col(s"m_$n") > 0) :+
      (col("c_len") > 0)).reduce(_ && _)
    val logSum = (1 to maxN).map(n =>
      log(col(s"m_$n").cast("double") / col(s"t_$n").cast("double")))
      .reduce(_ + _)
    val bp = when(col("c_len") > col("r_len"), lit(1.0))
      .otherwise(exp(lit(1.0) -
        col("r_len").cast("double") / col("c_len").cast("double")))
    tot.withColumn("bleu",
      when(allPos, bp * exp(logSum / lit(maxN.toDouble))).otherwise(lit(0.0)))
  }

  def rougeNFused(pairs: DataFrame, refCol: String, candCol: String, n: Int): DataFrame = {
    require(n >= 1, "rougeNFused: n must be >= 1")
    def gramHashes(c: Column): Column =
      graft.functions.ShingleHashes64.shingleHashesMulti64(
        filter(split(c, " "), t => t =!= ""), n)
    withRougeScores(pairs
      .withColumn("__rh", gramHashes(col(refCol)))
      .withColumn("__ch", gramHashes(col(candCol)))
      .withColumn("overlap",
        graft.functions.SortedIntersectCount
          .sortedIntersectCount(col("__rh"), col("__ch")).cast("long")),
      "__rh", "__ch")
  }

  /** BRADLEY–TERRY STRENGTHS from head-to-head outcomes — the model
    * behind arena leaderboards: latent strengths `s` with
    * `P(i beats j) = sᵢ/(sᵢ+sⱼ)`, fit by `iters` Hunter-2004 MM
    * passes `sᵢ ← Wᵢ / Σⱼ nᵢⱼ/(sᵢ+sⱼ)`, sum-normalized each pass.
    * Ties credit half a win to each side, carried as the INTEGER
    * `2·wins + ties`, so every win total is exact; per-pass
    * denominators and the normalizer are round-then-DECIMAL sums —
    * the whole iteration replays stage-for-stage in the oracle (the
    * q118 PageRank unroll convention). The comparison graph must be
    * connected with every system winning at least half a point
    * (else its strength collapses to 0 — which IS the MLE there).
    *
    * Scale shape: the heavy work is the per-unit score aggregation
    * and one unit-keyed self-join ([[pairwiseWins]]'s geometry); the
    * iteration itself runs on the |systems|²-bounded pair dim.
    */
  def bradleyTerry(
      df: DataFrame, unitCol: String, systemCol: String,
      scoreCol: String, iters: Int = 5): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val d = (c: Column) => c.cast("double")
    val m = df.filter(col(scoreCol).isNotNull)
      .groupBy(col(unitCol).as("__u"), col(systemCol).as("__sys"))
      .agg(sum(round(col(scoreCol).cast("double"), 6)
        .cast("decimal(38,6)")).cast("double").as("__m"))
    val a = m.select(col("__u"), col("__sys").as("i"), col("__m").as("__ma"))
    val b = m.select(col("__u"), col("__sys").as("j"), col("__m").as("__mb"))
    val sym = a.join(b, Seq("__u"))
      .filter(col("i") =!= col("j"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__ma") > col("__mb"), 2L)
          .when(col("__ma") === col("__mb"), 1L).otherwise(0L)).as("w2"))
      .localCheckpoint()
    val wi = sym.groupBy("i")
      .agg((sum(col("w2")).cast("double") / lit(2.0)).as("__W"),
        sum(col("n")).as("n_comparisons"))
    var s = wi.select(col("i"), lit(1.0).as("s"))
    for (_ <- 1 to iters) {
      val raw = sym
        .join(s.select(col("i"), col("s").as("__si")), Seq("i"))
        .join(s.select(col("i").as("j"), col("s").as("__sj")), Seq("j"))
        .groupBy("i")
        .agg(sum(round(d(col("n")) / (col("__si") + col("__sj")), 9)
          .cast("decimal(38,9)")).cast("double").as("__den"))
        .join(wi.select(col("i"), col("__W")), Seq("i"))
        .select(col("i"), (col("__W") / col("__den")).as("__raw"))
      val tot = raw.agg(sum(round(col("__raw"), 9).cast("decimal(38,9)"))
        .cast("double").as("__tot"))
      s = raw.crossJoin(broadcast(tot))
        .select(col("i"), (col("__raw") / col("__tot")).as("s"))
        .localCheckpoint()
    }
    s.join(wi, Seq("i"))
      .select(col("i").as("system"), col("n_comparisons"),
        col("__W").as("win_score"), col("s").as("strength"))
  }

  /** PAIRWISE WIN MATRIX — the head-to-head eval aggregate (LLM
    * arena / offline judge scoring): per evaluation unit (prompt,
    * query) each system's metric is its exact DECIMAL score sum; for
    * every system pair present on the same unit, count wins / ties /
    * losses and the tie-excluded win rate. Systems pair as
    * `system_a < system_b` (string order), so each matchup appears
    * once with a deterministic orientation.
    *
    * Scale shape: one (unit, system) keyed aggregation, one
    * unit-keyed self-join of the per-unit score dim (rows = units ×
    * systems² at worst — systems is small by contract), one
    * pair-keyed count. Units where a system is absent simply don't
    * contribute to that system's matchups (no imputation).
    */
  def pairwiseWins(
      df: DataFrame, unitCol: String, systemCol: String,
      scoreCol: String): DataFrame = {
    val m = df.filter(col(scoreCol).isNotNull)
      .groupBy(col(unitCol).as("__u"), col(systemCol).as("__sys"))
      .agg(sum(round(col(scoreCol).cast("double"), 6)
        .cast("decimal(38,6)")).cast("double").as("__m"))
    val a = m.select(col("__u"), col("__sys").as("system_a"),
      col("__m").as("__ma"))
    val b = m.select(col("__u"), col("__sys").as("system_b"),
      col("__m").as("__mb"))
    val wins = sum(when(col("__ma") > col("__mb"), 1L).otherwise(0L))
    val losses = sum(when(col("__ma") < col("__mb"), 1L).otherwise(0L))
    a.join(b, Seq("__u"))
      .filter(col("system_a") < col("system_b"))
      .groupBy("system_a", "system_b")
      .agg(count(lit(1)).as("n_units"), wins.as("wins"),
        losses.as("losses"),
        sum(when(col("__ma") === col("__mb"), 1L).otherwise(0L)).as("ties"))
      .withColumn("win_rate",
        when(col("wins") + col("losses") > 0,
          col("wins").cast("double") /
            (col("wins") + col("losses")).cast("double")))
  }

  /** LABEL-NOISE screen by NEIGHBOR DISAGREEMENT (the cheap core of
    * confident learning / deep-kNN label audits): for each query
    * point, the fraction of its nearest neighbors carrying a
    * DIFFERENT label — a point whose whole neighborhood disagrees is
    * a mislabel candidate, and at dataset scale this list IS the
    * re-annotation queue. Generic over any `(query_id, neighbor_id)`
    * frame, so the same harness audits brute-force, LSH, IVF or PQ
    * neighborhoods ([[graft.ops.SimilarityOps.annRecall]]'s
    * convention). NULL-label rows carry no evidence: null-label
    * queries are excluded, null-label neighbors leave the
    * denominator.
    *
    * All joins are id-keyed (the label side never moves more than its
    * (id, label) pairs); counts stay integer until one exact-ratio
    * division.
    */
  def labelDisagreement(
      neighbors: DataFrame, labels: DataFrame,
      idCol: String, labelCol: String,
      suspectAt: Double = 0.8): DataFrame = {
    require(suspectAt > 0 && suspectAt <= 1,
      s"need 0 < suspectAt <= 1, got $suspectAt")
    val l = labels.select(col(idCol), col(labelCol))
      .filter(col(labelCol).isNotNull)
    val ql = l.select(col(idCol).as("query_id"), col(labelCol).as("__ql"))
    val nl = l.select(col(idCol).as("neighbor_id"), col(labelCol).as("__nl"))
    neighbors.select("query_id", "neighbor_id")
      .join(ql, Seq("query_id"))
      .join(nl, Seq("neighbor_id"))
      .groupBy(col("query_id"), col("__ql"))
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when(col("__nl") =!= col("__ql"), 1L).otherwise(0L))
          .as("n_disagree"))
      .select(col("query_id"), col("__ql").as("label"),
        col("n_neighbors"), col("n_disagree"),
        (col("n_disagree").cast("double") /
          col("n_neighbors").cast("double")).as("disagree_frac"))
      .withColumn("suspect", col("disagree_frac") >= suspectAt)
  }

  /** PER-GROUP FAIRNESS AUDIT of a binary classifier (Hardt et al.
    * 2016's group metrics): per protected/slice group the selection
    * rate, TPR and FPR, plus the two headline gaps against the
    * OVERALL rates — demographic parity (`dp_gap` = group selection
    * rate − overall) and equal opportunity (`eo_gap` = group TPR −
    * overall). The report a curation pipeline runs before letting a
    * quality classifier gate a corpus: a filter that passes one
    * source/language at half the rate of another is a data-mix
    * decision someone should have made on purpose.
    *
    * Rates degenerate groups can't define stay NULL (no positives →
    * TPR, no negatives → FPR). Everything is integer counts until
    * exact-ratio divisions, so any engine replays it bit-for-bit.
    * Scale shape: ONE group-keyed integer aggregation (map-side
    * combined), overall totals re-folded from the constant-size
    * per-group frame — the corpus is scanned once.
    */
  def fairnessAudit(
      df: DataFrame, groupCol: String, predCol: Column,
      labelCol: Column): DataFrame = {
    val base = df.select(col(groupCol).as("__g"),
        predCol.cast("int").as("__p"), labelCol.cast("int").as("__y"))
      .filter(col("__p").isNotNull && col("__y").isNotNull)
    val per = base.groupBy("__g").agg(
      count(lit(1)).as("__n"),
      sum(col("__p").cast("long")).as("__pp"),
      sum(when(col("__y") === 1 && col("__p") === 1, 1L).otherwise(0L))
        .as("__tp"),
      sum(when(col("__y") === 0 && col("__p") === 1, 1L).otherwise(0L))
        .as("__fp"),
      sum(col("__y").cast("long")).as("__pos"))
    val tot = per.agg(sum(col("__n")).as("__tn"),
      sum(col("__pp")).as("__tpp"), sum(col("__tp")).as("__ttp"),
      sum(col("__pos")).as("__tpos"))
    def rate(a: Column, b: Column): Column =
      when(b > 0, a.cast("double") / b.cast("double"))
    per.crossJoin(broadcast(tot)).select(
      col("__g").as(groupCol), col("__n").as("n"),
      rate(col("__pp"), col("__n")).as("pos_rate"),
      rate(col("__tp"), col("__pos")).as("tpr"),
      rate(col("__fp"), col("__n") - col("__pos")).as("fpr"),
      (rate(col("__pp"), col("__n")) - rate(col("__tpp"), col("__tn")))
        .as("dp_gap"),
      (rate(col("__tp"), col("__pos")) - rate(col("__ttp"), col("__tpos")))
        .as("eo_gap"))
  }

  /** COHEN'S KAPPA (Cohen 1960) — chance-corrected agreement between
    * two categorical raters: `κ = (p_o − p_e)/(1 − p_e)` with observed
    * agreement `p_o` and the chance agreement `p_e` implied by the two
    * raters' marginal distributions. THE gate metric for labeling
    * pipelines (are two annotators — or a heuristic and a model —
    * actually agreeing beyond chance?). Rows where either rating is
    * NULL are excluded (un-rated items carry no agreement evidence).
    *
    * Cross-engine parity by construction: everything up to the final
    * two divisions is INTEGER — cell counts, the agreeing-cell sum,
    * and `Σ_k rowA_k·rowB_k` stay BIGINT, so `p_o = agree/N` and
    * `p_e = Σ/N²` are each one exact-integer-ratio double division.
    * Perfect agreement with `p_e = 1` (both raters constant and equal)
    * returns κ = NULL (undefined, 0/0).
    *
    * Scale shape: ONE keyed count down to the K×K contingency cells
    * (map-side combined; K is the label alphabet, a constant), then
    * all margins and sums fold on that constant-size frame. One row
    * out: `(n, po, pe, kappa)`.
    */
  def cohensKappa(df: DataFrame, raterA: Column, raterB: Column): DataFrame = {
    val cells = df
      .select(raterA.cast("string").as("__a"), raterB.cast("string").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy("__a", "__b").agg(count(lit(1)).as("__c"))
    val totals = cells.agg(
      sum(col("__c")).as("__n"),
      sum(when(col("__a") === col("__b"), col("__c")).otherwise(0L))
        .as("__agree"))
    val ma = cells.groupBy("__a").agg(sum(col("__c")).as("__ca"))
    val mb = cells.groupBy(col("__b").as("__a"))
      .agg(sum(col("__c")).as("__cb"))
    // margin products and n² leave BIGINT range on 10¹⁰⁺-row corpora:
    // accumulate them as exact DECIMAL, divide once in double
    val peNum = ma.join(mb, Seq("__a"))
      .agg(coalesce(sum(col("__ca").cast("decimal(19,0)") *
          col("__cb").cast("decimal(19,0)")),
        lit(0).cast("decimal(38,0)")).as("__pe_num"))
    totals.crossJoin(peNum)
      .select(col("__n").as("n"),
        (col("__agree").cast("double") / col("__n").cast("double"))
          .as("po"),
        (col("__pe_num").cast("double") /
          (col("__n").cast("double") * col("__n").cast("double")))
          .as("pe"))
      .withColumn("kappa",
        when(col("pe") < 1.0, (col("po") - col("pe")) / (lit(1.0) - col("pe"))))
  }
}
