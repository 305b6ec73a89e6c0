package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.PortableHash

/** Dataset splitting/sampling operators from the reference's training
  * pipeline, made deterministic and shuffle-minimal:
  *
  *  - stratified holdout (reference `src/data_helper.py:98-99`,
  *    `train_test_split(stratify=y)`) — exact per-class counts via one
  *    window over the label partition, ordered by a key-derived hash
  *    (NOT `rand()`: results must survive repartitioning, SURVEY §7.4.2);
  *  - stratified k-fold (reference `src/data_helper.py:102-113`) — fold
  *    = per-class row_number % k;
  *  - fixed-size chunking (reference `src/split_pretrain_data.py:28-35`)
  *    — shard id = row_index / chunkSize, for partitioned writes;
  *  - head slice / union (reference `src/pretrained_model.py:295-302`).
  *
  * Scale: all of these are one window (= one shuffle on the label or a
  * global range partition) regardless of data size; nothing collects to
  * the driver.
  */
object SplitOps {

  /** Deterministic per-class order: md5(id#seed), tie-broken by id. */
  private def strataWindow(labelCol: String, idCol: String, seed: Long) =
    Window.partitionBy(labelCol)
      .orderBy(PortableHash.md5Long(col(idCol), lit(seed)), col(idCol))

  /** Stratified holdout: adds `split` ∈ {"train", "val"} with exactly
    * floor(classCount × valRatio) validation rows per class.
    */
  def stratifiedSplit(
      df: DataFrame, labelCol: String, idCol: String,
      valRatio: Double, seed: Long = 42L): DataFrame = {
    val w = strataWindow(labelCol, idCol, seed)
    val cnt = Window.partitionBy(labelCol)
    df.withColumn("split",
      when(row_number().over(w) <= floor(count(lit(1)).over(cnt) * valRatio),
        lit("val")).otherwise(lit("train")))
  }

  /** Stratified k-fold: adds `fold` ∈ [0, k) = per-class row_number % k
    * (id order — matching `StratifiedKFold(shuffle=False)` semantics).
    */
  def kFold(df: DataFrame, labelCol: String, idCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(labelCol).orderBy(idCol)
    df.withColumn("fold", ((row_number().over(w) - 1) % k).cast("int"))
  }

  /** Fixed-size chunk id by a total order on `idCol` (OP-42): shard =
    * floor(rank / chunkSize). Use with `write.partitionBy("shard")`.
    *
    * Scale shape: a global `Window.orderBy` would move EVERYTHING to one
    * partition (Spark's "No Partition Defined" warning). Instead: range-
    * partitioned parallel sort, then the dense global index from
    * [[JoinOps.withRowIndex]] (zipWithIndex = one cheap partition-size
    * count, offsets added per-partition) — every stage stays parallel.
    */
  def chunkBy(df: DataFrame, idCol: String, chunkSize: Int): DataFrame = {
    require(chunkSize > 0, s"chunkBy: chunkSize must be positive, got $chunkSize")
    JoinOps.withRowIndex(df.sort(col(idCol)), "__chunk_rank")
      .withColumn("shard", floor(col("__chunk_rank") / chunkSize).cast("int"))
      .drop("__chunk_rank")
  }

  /** Seeded global shuffle order (reference DataLoader(shuffle=True,
    * generator=g)): deterministic, key-derived.
    */
  def shuffled(df: DataFrame, idCol: String, seed: Long): DataFrame =
    df.orderBy(PortableHash.md5Long(col(idCol), lit(seed)), col(idCol))

  /** Weighted Bernoulli sampling — the corpus-mixing knob (CCNet/LLaMA
    * style per-bucket up/down-sampling): keep each row independently
    * with probability `prob` (a per-row column, e.g. quality- or
    * domain-derived; values outside [0,1] clamp). The draw is
    * [[PortableHash.uniform01]] of (idCol, seed): key-derived, so the
    * decision survives repartitioning at any scale, and replayable in
    * the DuckDB oracle as one IEEE multiply + compare — no
    * transcendental functions whose last-ulp could differ between
    * engines. Pure codegen'd filter: zero shuffles, runs inside the
    * scan's whole-stage span.
    */
  def weightedSample(
      df: DataFrame, idCol: String, prob: Column, seed: Long = 42L): DataFrame =
    df.filter(PortableHash.uniform01(col(idCol), lit(seed)) <
      least(greatest(prob, lit(0.0)), lit(1.0)))

  /** Deterministic EXACT-size sample: the `k` rows with the smallest
    * [[PortableHash.md5Long]] of (idCol, seed), id ascending as the
    * tiebreak — the fixed-budget companion of [[weightedSample]]'s
    * Bernoulli form (eval-set carving, "take exactly 100k docs"
    * budgets). Key-derived, so the SAME k rows come back under any
    * partitioning or input order, and adding new rows only perturbs the
    * selection where a new hash displaces the old k-th (bounded churn —
    * the consistent-hashing property; a `rand()`-based sort resamples
    * everything).
    *
    * Scale shape: orderBy+limit compiles to TakeOrderedAndProject —
    * per-partition partial top-k then a k-row merge on the driver, no
    * global sort, no full-row shuffle.
    */
  def sampleExactK(
      df: DataFrame, idCol: String, k: Int, seed: Long = 42L): DataFrame = {
    require(k >= 0, "sampleExactK: k must be non-negative")
    df.orderBy(PortableHash.md5Long(col(idCol), lit(seed)), col(idCol)).limit(k)
  }

  /** Per-stratum [[sampleExactK]]: exactly `min(k, |stratum|)` rows
    * from every `strataCol` group (the balanced-eval-set carve: "200
    * docs per language"). Same key-derived hash order, so per-stratum
    * selections inherit sampleExactK's determinism, prefix property
    * and churn bound.
    *
    * Scale shape: one shuffle keyed by the stratum, ranking window
    * PARTITIONED by it (never global); only the hash rank is computed
    * per row.
    */
  def sampleExactKStratified(
      df: DataFrame, idCol: String, strataCol: String, k: Int,
      seed: Long = 42L): DataFrame = {
    require(k >= 0, "sampleExactKStratified: k must be non-negative")
    val w = Window.partitionBy(strataCol)
      .orderBy(PortableHash.md5Long(col(idCol), lit(seed)), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }

  /** Word2vec-style negative sampling: `k` deterministic draws per row
    * of `df` from the corpus unigram distribution damped to the 3/4
    * power — the contrastive-training staple (Mikolov et al., NIPS'13).
    *
    * Cross-engine exactness: the damped weight is
    * `round(1000 * sqrt(cnt * sqrt(cnt)))` — `x^0.75` written as two
    * IEEE-correctly-rounded sqrts and a multiply, so DuckDB reproduces
    * the weights bit-for-bit where a libm `pow` could differ in the
    * last ulp; draws are key-derived md5 (`id#j#salt`) mod the total
    * weight, and category selection walks the cumulative ladder
    * (`[cum_{i-1}, cum_i)` ranges partition `[0, W)`).
    *
    * Scale: the vocabulary folds to the driver ONCE, CAPPED to the
    * `maxVocab` most frequent tokens (TakeOrdered on (count desc,
    * token asc) — the [[graft.ops.SearchOps.buildVocab]]
    * construction; word2vec's unigram table is capped the same way,
    * so V is a model hyperparameter, not an unbounded corpus
    * statistic, and an open-domain 100 TB corpus can no longer OOM
    * the driver or explode the plan with a 10⁸-entry literal). The
    * survivors ship in the plan as two sorted literal arrays (the
    * TopCentroids pattern); each draw is then one O(log V) generated
    * binary search ([[graft.functions.SortedLongUpperBound]]) — no
    * per-draw joins, no O(V) interpreted fold, nothing corpus-sized
    * ever shuffles. Draws are unchanged by the cap whenever the true
    * vocabulary fits under it.
    */
  def negativeSamples(
      df: DataFrame, idCol: String, corpus: DataFrame, textCol: String,
      k: Int, salt: String, maxVocab: Int = 1 << 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxVocab >= 1, s"maxVocab must be >= 1, got $maxVocab")
    val vocab = corpus
      .select(explode(TextOps.whitespaceTokenize(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(maxVocab)
      .select(col("tok"),
        round(sqrt(col("cnt").cast("double") *
          sqrt(col("cnt").cast("double"))) * 1000).cast("long").as("w"))
      .orderBy("tok")
      .collect()
    require(vocab.nonEmpty, "negativeSamples: empty vocabulary")
    val toks = vocab.map(_.getString(0))
    val cum = vocab.scanLeft(0L)((acc, r) => acc + r.getLong(1)).tail
    val total = cum.last
    val u = PortableHash.md5Long(concat_ws("#",
      col(idCol).cast("string"), col("j").cast("string"), lit(salt))) % total
    df.select(col(idCol), explode(sequence(lit(0), lit(k - 1))).as("j"))
      .select(col(idCol), col("j"),
        element_at(typedlit(toks.toSeq),
          graft.functions.SortedLongUpperBound.sortedLongUpperBound(
            typedlit(cum.toSeq), u) + 1).as("neg"))
  }

  /** LEAK-PROOF train/test split — the content-keyed assignment that
    * keeps exact duplicates on ONE side (Lee et al. 2022's
    * deduplication lesson applies to SPLITS first: a test doc whose
    * twin sits in train is a leaked answer, and row-hash splits plant
    * exactly that). The draw keys on the NORMALIZED TEXT
    * ([[graft.ops.DedupOps.normText]]) through the portable md5 draw
    * ([[graft.core.PortableHash.md5Long]] with a seed salt), so two
    * byte-identical documents — any row order, any partitioning, any
    * engine — land on the same side by construction. Appends a
    * `split` column ('test' when `draw mod 100 < testPct`).
    *
    * Near-dup families need the same property at the CLUSTER level:
    * feed a cluster representative (e.g. [[graft.ops.DedupOps
    * .dedupKeepersConverged]]'s rep id) as `textCol` instead.
    *
    * NULL text falls to 'train' — the oracle twin builds its salted
    * key with NULL-propagating `||`, so its draw is NULL and the
    * `< testPct` test is false; the explicit guard here keeps the two
    * engines agreeing (concat_ws would silently skip the NULL and
    * hash the bare salt).
    */
  def leakProofSplit(
      df: DataFrame, textCol: String, testPct: Int,
      seed: String): DataFrame = {
    require(testPct >= 1 && testPct <= 99, s"testPct 1..99, got $testPct")
    val draw = pmod(graft.core.PortableHash.md5Long(
      DedupOps.normText(col(textCol)), lit(seed)), lit(100L))
    df.withColumn("split",
      when(col(textCol).isNotNull && draw < testPct, "test")
        .otherwise("train"))
  }

  /** TEMPORAL EMBARGO SPLIT — the leakage-free time-based train/test
    * split (the purged/embargoed evaluation discipline of López de
    * Prado 2018, group-aware the way temporal recsys/ads evals must
    * be): assignment is PER USER, not per event — a user whose
    * activity straddles the boundary would leak serial correlation
    * across the split, so `train` takes only users whose LAST event
    * precedes the cutoff, `test` only users whose FIRST event clears
    * the cutoff + embargo gap, and everyone else lands in
    * `embargoed` (dropped from both sides, the purge). Timestamps are
    * integer epoch micros end-to-end so every boundary comparison is
    * exact on any engine.
    *
    * One user-keyed min/max/count aggregation (map-side combined) —
    * nothing else moves at any scale.
    */
  def temporalEmbargoSplit(
      df: DataFrame, userCol: String, tsUs: Column,
      cutoffUs: Long, embargoUs: Long): DataFrame = {
    require(embargoUs >= 0, s"embargo must be >= 0, got $embargoUs")
    df.groupBy(userCol)
      .agg(min(tsUs).as("min_ts"), max(tsUs).as("max_ts"),
        count(lit(1)).as("n_events"))
      .withColumn("split",
        when(col("max_ts") < cutoffUs, "train")
          .when(col("min_ts") >= cutoffUs + embargoUs, "test")
          .otherwise("embargoed"))
  }

  /** CURRICULUM ORDERING — the easy-to-hard training order (Bengio et
    * al. 2009, and the staged-data recipe of modern pretraining runs):
    * rows are bucketed by a difficulty score into coarse bins via
    * FIXED thresholds (fixed, not quantile — quantile edges move with
    * every ingest batch, fixed thresholds give a stable, auditable
    * curriculum), shuffled WITHIN each bin by the key-derived
    * [[PortableHash.uniform01]] draw (deterministic under any
    * partitioning), and assigned a dense global `position` by a
    * range-partitioned sort + `zipWithIndex`
    * ([[JoinOps.withRowIndex]]) — NO single-partition window at any
    * cardinality.
    *
    * `binThresholds` are DESCENDING score cutoffs: bin 0 is
    * `score >= t(0)` (easiest first), bin i is `score >= t(i)`, and
    * scores below the last threshold land in bin `t.length`.
    */
  def curriculumOrder(
      df: DataFrame, scoreCol: Column, idCol: String,
      binThresholds: Seq[Double], seed: String): DataFrame = {
    require(binThresholds.nonEmpty &&
      binThresholds == binThresholds.sorted.reverse,
      "curriculumOrder: thresholds must be non-empty and descending")
    val bin = binThresholds.zipWithIndex.foldRight(
        lit(binThresholds.length): Column) { case ((t, i), rest) =>
      when(scoreCol >= t, i).otherwise(rest)
    }
    val drawn = df
      .withColumn("bin", bin)
      .withColumn("draw", PortableHash.uniform01(col(idCol), lit(seed)))
      .orderBy(col("bin"), col("draw"), col(idCol))
    JoinOps.withRowIndex(drawn, "position")
      .select(col(idCol), col("bin"), col("position"))
  }
}
