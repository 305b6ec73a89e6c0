package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.PortableHash

/** Corpus mixture re-weighting — the multilingual/multi-source sampling
  * recipe from the XLM-R / mBERT line of work (Conneau et al. 2020 §3.1;
  * also the data-mixing stage of every multi-source pretraining run):
  * a stratum with share `p_s = n_s / N` is sampled proportionally to
  * `p_s^alpha`, flattening the head so low-resource strata are not
  * drowned out. `alpha = 1` keeps natural proportions, `alpha = 0` makes
  * all strata equal.
  *
  * This implementation fixes `alpha = 0.5` (`sqrt`) — the common choice,
  * and the one exponent whose `pow` is an IEEE-754 correctly-rounded
  * primitive (`sqrt`) in every engine, so the computed rates replay
  * bit-level across Spark, DuckDB and anything else (a general
  * `pow(x, a)` is transcendental and may differ in the last ulp, which
  * a rate-threshold comparison would amplify into membership flips).
  * The one remaining order-dependent step — the cross-stratum SUM of
  * sqrt shares — is pinned to a left-to-right fold in stratum-ascending
  * order (collect_list → array_sort → aggregate), the same defined
  * order the DuckDB oracle replays via `list_sum(list(... ORDER BY
  * stratum))`; an unordered `sum()` could differ in the last ulp
  * between engines (or between Spark runs) and flip a membership at
  * the rate threshold.
  *
  * Scale shape: the weight table is one partial-agg `groupBy` over the
  * stratum column producing |strata| rows — the ordered fold and the
  * 1-row total broadcast run over that bounded dim, never the corpus —
  * broadcast back for the sampling filter, which is then a pure
  * codegen'd per-row predicate on the key-derived
  * [[PortableHash.uniform01]] (same contract as
  * [[SplitOps.weightedSample]]): zero extra shuffles at any corpus size,
  * deterministic under any partitioning.
  */
object MixOps {

  /** Per-stratum mixture weights at `alpha = 0.5`: one row per stratum
    * with `n` (stratum size), `q` (normalized `sqrt`-share, sums to 1)
    * and `rate` (per-row keep probability hitting an expected total of
    * `budget` rows, capped at 1 for strata smaller than their
    * allocation — the cap means the realized expectation can undershoot
    * `budget`; callers wanting exactness re-normalize or take the
    * [[SplitOps.sampleExactKStratified]] route).
    */
  def temperatureMixWeights(
      df: DataFrame, strataCol: String, budget: Long): DataFrame = {
    require(budget >= 0, "temperatureMixWeights: budget must be non-negative")
    val counts = df.groupBy(strataCol).agg(count(lit(1)).as("n"))
    // cross-stratum total: ordered fold over the |strata|-row dim
    // (stratum-ascending, left-to-right — the engine-portable order;
    // see object scaladoc), broadcast back as a 1-row scalar
    val tot = counts.agg(
      aggregate(
        array_sort(collect_list(struct(
          col(strataCol).as("s"), sqrt(col("n").cast("double")).as("r")))),
        lit(0.0), (acc, x) => acc + x.getField("r")).as("tot"))
    counts.crossJoin(broadcast(tot))
      .withColumn("q", sqrt(col("n").cast("double")) / col("tot"))
      .withColumn("rate",
        least(lit(1.0), lit(budget.toDouble) * col("q") / col("n").cast("double")))
      .select(col(strataCol), col("n"), col("q"), col("rate"))
  }

  /** Temperature-balanced Bernoulli sample: keeps each row of stratum
    * `s` with probability `rate_s` from [[temperatureMixWeights]],
    * decided by the key-derived uniform hash — deterministic,
    * engine-portable, zero-shuffle beyond the tiny weight aggregation
    * (broadcast back onto the corpus).
    */
  def temperatureSample(
      df: DataFrame, strataCol: String, idCol: String, budget: Long,
      seed: Long = 42L): DataFrame = {
    val rates = temperatureMixWeights(df, strataCol, budget)
      .select(col(strataCol), col("rate"))
    df.join(broadcast(rates), strataCol)
      .filter(PortableHash.uniform01(col(idCol), lit(seed)) < col("rate"))
      .drop("rate")
  }

  /** TOKEN-BUDGET EPOCH PLAN — the mixture-design step a pretraining
    * run does before any sampling: give each domain a share
    * `w_d = n_d^τ / Σ n_d^τ` of the `targetTokens` budget (temperature
    * `τ < 1` upweights small domains relative to their size — the
    * standard temperature-mixing rule), and report the implied
    * `epochs_d = target_d / n_d` (how many passes over the domain the
    * budget forces — the repeat factor data-governance caps at ~4 in
    * published mixes). One keyed count, per-domain token sums exact in
    * LONG, the damped share rounded to 6 decimals BEFORE the
    * cross-domain total (both engines then fold identical doubles in
    * domain order — [[temperatureMixWeights]]' portability rule), and
    * the |domains|-row result broadcast-meets itself only.
    */
  def epochPlan(
      df: DataFrame, domainCol: String, tokensCol: String,
      targetTokens: Long, temperature: Double): DataFrame = {
    require(targetTokens >= 0, "epochPlan: targetTokens must be non-negative")
    require(temperature > 0, "epochPlan: temperature must be positive")
    val per = df.groupBy(col(domainCol).as("domain"))
      .agg(sum(col(tokensCol)).cast("long").as("n_tokens"))
    val w = per.withColumn("w",
      round(pow(col("n_tokens").cast("double"), lit(temperature)), 6))
    val tot = w.agg(
      aggregate(
        array_sort(collect_list(struct(col("domain").as("s"), col("w").as("r")))),
        lit(0.0), (acc, x) => acc + x.getField("r")).as("tw"))
    w.crossJoin(broadcast(tot))
      .withColumn("weight", col("w") / col("tw"))
      .withColumn("target_tokens",
        round(col("weight") * lit(targetTokens.toDouble), 6))
      .withColumn("epochs",
        round(col("target_tokens") / col("n_tokens").cast("double"), 6))
      .select("domain", "n_tokens", "weight", "target_tokens", "epochs")
  }

  /** EPOCH-PLAN MATERIALIZER — turn [[epochPlan]]'s per-domain repeat
    * factors into the actual training-set row multiset: every doc in
    * domain `d` appears `floor(epochs_d)` times plus one more copy
    * with probability `frac(epochs_d)` (stochastic rounding — the
    * standard way a fractional epoch is realized so the EXPECTED token
    * count per domain hits its budget exactly). The extra-copy draw is
    * the key-derived [[PortableHash.uniform01]] over `id#copy`, so the
    * multiset is deterministic under any partitioning and replayable
    * in any engine.
    *
    * Scale shape: the plan is |domains| rows broadcast onto the
    * corpus; the repeat is a per-row `sequence`/`explode` bounded by
    * `ceil(epochs)` (a mixture-design constant, ~4 in published
    * mixes) — no shuffle beyond [[epochPlan]]'s own keyed count. The
    * output carries `(id, domain, copy)` so downstream shuffling/
    * packing sees distinct physical rows.
    */
  def epochPlanApply(
      df: DataFrame, domainCol: String, tokensCol: String, idCol: String,
      targetTokens: Long, temperature: Double): DataFrame = {
    val plan = epochPlan(df, domainCol, tokensCol, targetTokens, temperature)
      .select(col("domain").as(domainCol), col("epochs"))
    df.join(broadcast(plan), domainCol)
      .withColumn("full_copies", floor(col("epochs")).cast("int"))
      .withColumn("frac", col("epochs") - col("full_copies").cast("double"))
      .select(col(idCol), col(domainCol).as("domain"), col("full_copies"),
        col("frac"),
        explode(sequence(lit(0), col("full_copies"))).as("copy"))
      // copies 0..full-1 always survive; the one extra candidate copy
      // (index == full_copies) survives its stochastic-rounding draw
      .filter(col("copy") < col("full_copies") ||
        PortableHash.uniform01(
          concat_ws("#", col(idCol), col("copy")), lit(42L)) < col("frac"))
      .select(col(idCol), col("domain"), col("copy"))
  }

  /** DoReMi-STYLE domain reweighting step (Xie et al. 2023's
    * exponentiated-gradient core): given one scalar loss per domain,
    * the next mixture is `w'_d ∝ w_d · exp(η · loss_d)` — domains the
    * proxy model finds hard (high excess loss) get more weight. One
    * step from the uniform prior; iterate by feeding the output back
    * as losses update. The normalizer folds over domains in SORTED
    * domain order (the [[epochPlan]] total-weight convention), so the
    * released mixture is bit-replayable; the domain frame is
    * |domains| rows — constant-size work however big the corpus that
    * produced the losses.
    */
  def doremiStep(
      domainLoss: DataFrame, domainCol: String, lossCol: String,
      eta: Double): DataFrame = {
    require(eta > 0, s"eta must be positive, got $eta")
    val cnt = domainLoss.agg(count(lit(1)).as("__k"))
    val scored = domainLoss.crossJoin(broadcast(cnt))
      .withColumn("__w0", lit(1.0) / col("__k").cast("double"))
      .withColumn("__raw",
        col("__w0") * exp(lit(eta) * col(lossCol).cast("double")))
    val tot = scored.agg(
      aggregate(
        array_sort(collect_list(struct(
          col(domainCol).cast("string").as("s"), col("__raw").as("r")))),
        lit(0.0), (a, e) => a + e.getField("r")).as("__t"))
    scored.crossJoin(broadcast(tot))
      .select(col(domainCol).as("domain"), col(lossCol).as("loss"),
        col("__w0").as("weight_old"),
        (col("__raw") / col("__t")).as("weight_new"))
  }

  /** IMPORTANCE REWEIGHTING to a UNIFORM category target — the
    * mix-correction primitive when resampling is off the table
    * (training loss weights, estimator reweighting): per category the
    * weight `w_c = N/(k·n_c)` that makes the weighted marginal
    * uniform, plus on every row Kish's EFFECTIVE SAMPLE SIZE
    * `ESS = (Σw)²/Σw² = N²/Σ_c n_c·w_c²` — the honesty metric (a
    * 1000:1 skew "fixed" by weights leaves far fewer effective rows
    * than N, and downstream error bars must use ESS, not N).
    * Per-category rows from one keyed count; weights are pinned
    * doubles, the ESS denominator a round-then-DECIMAL sum.
    */
  def importanceWeights(df: DataFrame, catCol: String): DataFrame = {
    val d = (c: Column) => c.cast("double")
    val per = df.groupBy(col(catCol)).agg(count(lit(1)).as("n"))
    val tot = per.agg(sum(col("n")).as("__N"), count(lit(1)).as("__k"))
    val w = d(col("__N")) / (d(col("__k")) * d(col("n")))
    val cat = per.crossJoin(broadcast(tot))
      .select(col(catCol), col("n"),
        (d(col("n")) / d(col("__N"))).as("observed_share"),
        w.as("weight"), col("__N"), col("__k"))
    val ess = cat
      .select(col("__N"),
        round(d(col("n")) * col("weight") * col("weight"), 9)
          .cast("decimal(38,9)").as("__t"))
      .groupBy("__N")
      .agg((d(col("__N")) * d(col("__N")) /
        sum(col("__t")).cast("double")).as("ess"))
      .select(col("ess"))
    cat.crossJoin(broadcast(ess))
      .select(col(catCol), col("n"), col("observed_share"), col("weight"),
        col("ess"))
  }
}
