package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution-drift monitoring between two dataset versions — the
  * gate a production pipeline runs before accepting an ingest batch
  * (did the language mix shift? did a source vanish?).
  *
  * Scale shape: each side collapses to a |categories|-row count dim
  * (one map-side-combined shuffle over the category key); the dims
  * full-outer-join on the category and the scalar totals ride 1-row
  * broadcasts. Output is |categories| rows regardless of data volume.
  */
object DriftOps {

  /** Per category of either side, `(catCol, n_old, n_new)` row
    * counts: two count aggregates, full-outer joined with coalesced
    * zeros (the full union grid — the chi-square zero-cell lesson).
    */
  private def countGrid(oldDf: DataFrame, newDf: DataFrame, catCol: String): DataFrame = {
    def counts(df: DataFrame, n: String): DataFrame =
      df.groupBy(col(catCol)).agg(count(lit(1)).as(n))
    counts(oldDf, "n_old")
      .join(counts(newDf, "n_new"), Seq(catCol), "full_outer")
      .select(col(catCol),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
  }

  /** Per-category Population Stability Index terms between `oldDf`
    * and `newDf` on `catCol`, with add-one (Laplace) smoothing over
    * the UNION domain so vanished/new categories stay finite:
    * `p = (n + 1) / (N + K)` per side, `psi_term =
    * (p_new - p_old) * ln(p_new / p_old)`, plus the PSI total on
    * every row (1-row broadcast). PSI < 0.1 is the conventional
    * "stable" band, > 0.25 "shifted" — thresholds belong to the
    * caller. All inputs to the double formula are exact integer
    * counts, so the replay is bit-level.
    */
  def categoricalDrift(
      oldDf: DataFrame, newDf: DataFrame, catCol: String): DataFrame = {
    val joined = countGrid(oldDf, newDf, catCol)
    val totals = joined.agg(
      sum(col("n_old")).as("__t_old"),
      sum(col("n_new")).as("__t_new"),
      count(lit(1)).as("__k"))

    val d = (c: Column) => c.cast("double")
    val pOld = (d(col("n_old")) + lit(1.0)) / (d(col("__t_old")) + d(col("__k")))
    val pNew = (d(col("n_new")) + lit(1.0)) / (d(col("__t_new")) + d(col("__k")))
    val withTerms = joined.crossJoin(broadcast(totals))
      .select(col(catCol), col("n_old"), col("n_new"),
        pOld.as("p_old"), pNew.as("p_new"),
        ((pNew - pOld) * log(pNew / pOld)).as("psi_term"))
    // PSI total: the |categories|-row term frame re-aggregates to one
    // row and rides back on a second 1-row broadcast. The double sum
    // over an unordered tiny frame is made deterministic by summing
    // round(term, 9) as DECIMAL — exact, order-free, and well inside
    // the oracle's 6-decimal compare.
    val total = withTerms.agg(
      sum(round(col("psi_term"), 9).cast("decimal(38,9)"))
        .cast("double").as("psi_total"))
    withTerms.crossJoin(broadcast(total))
  }

  /** Jensen–Shannon divergence between two categorical distributions —
    * the BOUNDED drift gauge (JSD ∈ [0, ln 2] in nats): unlike PSI or
    * KL it never diverges on vanished/new categories, so no smoothing
    * is applied — zero-count cells contribute their exact closed form
    * (p = 0 makes the p-branch 0 and the q-branch 0.5·q·ln 2). Same
    * plan shape as [[categoricalDrift]]: two count aggregates,
    * full-outer join with coalesced zeros (the full union grid — the
    * chi-square zero-cell lesson), 1-row broadcast totals, and an
    * order-free round-to-DECIMAL total sum. Per-category rows carry
    * p_old, p_new and the term; `jsd_total` rides every row.
    */
  def jsDivergence(
      oldDf: DataFrame, newDf: DataFrame, catCol: String): DataFrame = {
    val joined = countGrid(oldDf, newDf, catCol)
    val totals = joined.agg(
      sum(col("n_old")).as("__t_old"), sum(col("n_new")).as("__t_new"))
    val d = (c: Column) => c.cast("double")
    val p = d(col("n_old")) / d(col("__t_old"))
    val q = d(col("n_new")) / d(col("__t_new"))
    val m = (p + q) / lit(2.0)
    val term =
      when(col("n_old") === 0L, lit(0.0)).otherwise(p * log(p / m) * 0.5) +
      when(col("n_new") === 0L, lit(0.0)).otherwise(q * log(q / m) * 0.5)
    val withTerms = joined.crossJoin(broadcast(totals))
      .select(col(catCol), col("n_old"), col("n_new"),
        p.as("p_old"), q.as("p_new"), term.as("jsd_term"))
    val total = withTerms.agg(
      sum(round(col("jsd_term"), 9).cast("decimal(38,9)"))
        .cast("double").as("jsd_total"))
    withTerms.crossJoin(broadcast(total))
  }

  /** Numeric drift: PSI over the OLD version's `nBins` quantile bins —
    * the original (credit-scoring) PSI formulation. Bin edges are
    * exact interpolated percentiles of `round(value, 6)` computed on
    * the old side only (the reference distribution), ride a 1-row
    * broadcast, and bin both sides with the same codegen'd when-chain
    * (the quantileBuckets pattern); then [[categoricalDrift]] runs on
    * the integer bin ids. NULL values are excluded from both sides.
    * Equal-frequency bins on the reference mean each old bin holds
    * ~1/nBins of the mass, so the PSI terms are well-conditioned.
    */
  def numericDrift(
      oldDf: DataFrame, newDf: DataFrame, valueCol: String,
      nBins: Int): DataFrame = {
    require(nBins >= 2, s"need at least 2 bins, got $nBins")
    val probs = (1 until nBins).map(_.toDouble / nBins)
    val v = round(col(valueCol), 6)
    val cuts = oldDf.filter(v.isNotNull)
      .agg(percentile(v, array(probs.map(lit): _*)).as("__cuts"))
    def binned(df: DataFrame): DataFrame = {
      val tag = probs.indices.foldRight(lit(nBins - 1): Column)((i, acc) =>
        when(v <= element_at(col("__cuts"), i + 1), lit(i)).otherwise(acc))
      df.filter(v.isNotNull).crossJoin(broadcast(cuts)).select(tag.as("bin"))
    }
    categoricalDrift(binned(oldDf), binned(newDf), "bin")
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic on `valueCol`:
    * `D = sup_x |F_a(x) − F_b(x)|` over the empirical CDFs — the
    * bin-free numeric drift gauge next to [[numericDrift]]'s quantile
    * PSI (PSI needs a bin choice; D is the distribution-free maximum
    * CDF gap the KS test thresholds at `c(α)·√((n+m)/(n·m))`,
    * thresholds belong to the caller). Returns one row
    * `(ks_d, n_a, n_b)`; `ks_d` is null when a side is empty. NULLs
    * are excluded.
    *
    * Cross-engine exactness: cumulative counts are exact longs from
    * [[StatsOps.runningTotals]], each CDF value is ONE integer/integer
    * double division, and the sup is an order-free max — bit-level
    * replayable. Scale shape: each side collapses to a
    * (value, count) dim on one map-side-combined shuffle, the dims
    * full-outer-join on the value, and the running sums use the
    * range-partitioned two-pass scan — NO unpartitioned window, no
    * per-row data to the driver (one totals row per partition).
    */
  def ksStatistic(
      a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    def counts(df: DataFrame, n: String): DataFrame =
      df.select(col(valueCol).cast("double").as("v"))
        .filter(col("v").isNotNull)
        .groupBy("v").agg(count(lit(1)).as(n))
    val m = counts(a, "ca").join(counts(b, "cb"), Seq("v"), "full_outer")
      .select(col("v"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val tot = broadcast(m.agg(
      sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b")))
    StatsOps.runningTotals(m, "v", Seq("ca", "cb"))
      .crossJoin(tot)
      .select(col("n_a"), col("n_b"),
        // guarded per-row (ANSI x/0): an empty side nulls every gap,
        // so the max — and the output ks_d — is null
        when(col("n_a") > 0 && col("n_b") > 0,
          abs(col("ca_cum").cast("double") / col("n_a").cast("double") -
            col("cb_cum").cast("double") / col("n_b").cast("double"))).as("d"))
      .groupBy("n_a", "n_b")
      .agg(max(col("d")).as("ks_d"))
      .select(
        when(col("n_a") > 0 && col("n_b") > 0, col("ks_d")).as("ks_d"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
  }

  /** Random-Fourier-feature matrix for the RBF kernel (Rahimi & Recht
    * 2007): `features × dim` Gaussian draws `N(0, 1/σ²)` via
    * Box–Muller over [[graft.core.PortableHash]]-convention md5
    * uniforms — every cell derives from the literal string
    * `"w#f#i#seed"` / `"u#f#i#seed"`, so a SQL oracle re-creates the
    * matrix independently. Driver-side constant (a few thousand
    * cells), folded into generated code by
    * [[graft.functions.MatVec]] — the broadcast-dim contract, not a
    * collect anti-pattern.
    */
  def rffMatrix(
      dim: Int, features: Int, sigma: Double,
      seed: Long): Array[Array[Double]] = {
    def u(tag: String, f: Int, i: Int): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$tag#$f#$i#$seed".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.take(15), 16) + 0.5) /
        1152921504606846976.0 // 2^60: uniform strictly inside (0, 1)
    }
    Array.tabulate(features, dim) { (f, i) =>
      math.sqrt(-2.0 * math.log(u("w", f, i))) *
        math.cos(2.0 * math.Pi * u("u", f, i)) / sigma
    }
  }

  /** The per-feature phase offsets `b_f ~ U[0, 2π)` for [[rffMatrix]],
    * md5-derived from `"b#f#seed"`.
    */
  def rffPhases(features: Int, seed: Long): Array[Double] =
    Array.tabulate(features) { f =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"b#$f#$seed".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      2.0 * math.Pi *
        ((java.lang.Long.parseLong(hex.take(15), 16) + 0.5) /
          1152921504606846976.0)
    }

  /** EMBEDDING-level drift: squared Maximum Mean Discrepancy (Gretton
    * et al. 2012) between two vector populations under the RBF
    * kernel, approximated with `features` random Fourier features —
    * `MMD² ≈ Σ_f (mean_A φ_f − mean_B φ_f)²` with
    * `φ_f(x) = √(2/F)·cos(w_f·x + b_f)`. This is the drift gate the
    * scalar monitors (PSI/KS/JSD — which need a binned scalar) cannot
    * provide: it detects a SEMANTIC shift in an embedding column
    * (new topic cluster, encoder version change) directly.
    *
    * Scale shape: the W matrix is a generated-code constant
    * ([[graft.functions.MatVec]] — one fused projection pass per
    * row); each side then collapses to a `features`-row mean frame
    * (one map-side-combined shuffle of F partial cells), and the
    * final combine touches 2F rows. Output is ONE row
    * `(mmd2, n_a, n_b)` at any corpus size. Rows violating the
    * fixed-`dim`/null contract are excluded. Cross-engine parity:
    * φ terms are round(·, 9)-then-DECIMAL summed (order-free), the
    * squared differences round(·, 12) — the PSI/chi² pattern.
    */
  def mmdDrift(
      a: DataFrame, b: DataFrame, vecCol: String, dim: Int,
      features: Int = 16, sigma: Double = 4.0): DataFrame = {
    require(dim > 0 && features > 0 && sigma > 0, "bad mmdDrift params")
    val w = rffMatrix(dim, features, sigma, 8L)
    val phases = rffPhases(features, 8L)
    val bLit = typedlit(phases.toSeq)
    val scale = math.sqrt(2.0 / features)
    def featureMeans(df: DataFrame, muCol: String): DataFrame =
      df.filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
        .select(graft.functions.MatVec.matVec(col(vecCol), w).as("proj"))
        .select(posexplode(col("proj")).as(Seq("f", "p")))
        .select(col("f"),
          round(lit(scale) * cos(col("p") + element_at(bLit, col("f") + 1)),
            9).cast("decimal(38,9)").as("ph"))
        .groupBy("f")
        .agg((sum(col("ph")).cast("double") /
          count(lit(1)).cast("double")).as(muCol),
          count(lit(1)).as(s"__n_$muCol"))
    val ma = featureMeans(a, "mu_a")
    val mb = featureMeans(b, "mu_b")
    ma.join(mb, "f")
      .agg(
        sum(round((col("mu_a") - col("mu_b")) * (col("mu_a") - col("mu_b")),
          12).cast("decimal(38,12)")).cast("double").as("mmd2"),
        first(col("__n_mu_a")).as("n_a"),
        first(col("__n_mu_b")).as("n_b"))
  }
}
