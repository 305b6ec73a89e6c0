package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Statistical hypothesis testing over contingency counts — the
  * A/B-testing / independence-check staple next to [[DriftOps]]'s
  * distribution monitors. Everything derives from exact integer
  * counts, so results replay bit-level across engines.
  */
object StatsOps {

  /** Shannon entropy of a categorical column (nats): `-Σ p ln p` over
    * the category distribution — the diversity gauge next to
    * [[graft.ops.DriftOps]]'s shift monitors (a collapsing source mix
    * shows up as falling entropy before any single category's drift
    * term flags). One category-keyed count, a 1-row total broadcast,
    * and the order-free round-then-DECIMAL term sum; output is one
    * row. NULL categories count as a category (they are a real mass
    * in the distribution); filter upstream to exclude.
    */
  def entropy(df: DataFrame, catCol: String): DataFrame = {
    val c = df.groupBy(col(catCol)).agg(count(lit(1)).as("n"))
    val t = c.agg(sum(col("n")).as("__tot"),
      count(lit(1)).as("__k"))
    val p = col("n").cast("double") / col("__tot").cast("double")
    c.crossJoin(broadcast(t))
      .select((-p * log(p)).as("__term"), col("__k"), col("__tot"))
      .groupBy("__k", "__tot")
      .agg(sum(round(col("__term"), 9).cast("decimal(38,9)"))
        .cast("double").as("entropy"))
      .select(col("entropy"), col("__k").as("n_categories"),
        col("__tot").as("n_rows"))
  }

  /** Pearson chi-square test of independence between two categorical
    * columns: observed (a, b) cell counts vs the independence
    * expectation `row_total × col_total / n`, with
    * `chi2 = Σ (o - e)² / e` and `dof = (|a|-1)(|b|-1)`. The
    * cross-engine total sums `round(term, 9)` as DECIMAL (exact,
    * order-free — the PSI pattern); p-value thresholds belong to the
    * caller's chi-square table.
    *
    * Scale shape: one (a, b) keyed count (map-side combined), two
    * marginal dims and a 1-row total broadcast back over the
    * |a|×|b|-cell frame — output is ONE row regardless of data size.
    *
    * The statistic sums over the FULL |a|×|b| grid, not just observed
    * combinations: an unobserved cell contributes `(0 - e)²/e = e`,
    * and dof = (|a|-1)(|b|-1) already assumes the full grid — so the
    * grid is built by cross-joining the two marginal dims and
    * left-joining the observed counts with n coalesced to 0 (ADVICE r6:
    * omitting empty cells understated chi2 on sparse tables).
    */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val o = df.groupBy(col(aCol), col(bCol)).agg(count(lit(1)).as("n"))
    val r = o.groupBy(col(aCol)).agg(sum(col("n")).as("__rn"))
    val c = o.groupBy(col(bCol)).agg(sum(col("n")).as("__cn"))
    // |a| and |b| from the marginals, one row per level (count skips
    // the NULL level, as countDistinct does): a countDistinct over `o`
    // would plan an Expand whose key order changes between runs
    val t = r.agg(sum(col("__rn")).as("__tot"), count(col(aCol)).as("__ka"))
      .crossJoin(c.agg(count(col(bCol)).as("__kb")))
    val d = (x: Column) => x.cast("double")
    val n0 = coalesce(col("n"), lit(0L))
    val expCt = d(col("__rn")) * d(col("__cn")) / d(col("__tot"))
    val term = (d(n0) - expCt) * (d(n0) - expCt) / expCt
    broadcast(r).crossJoin(broadcast(c))
      .join(o, Seq(aCol, bCol), "left")
      .crossJoin(broadcast(t))
      .select(term.as("__term"), col("__ka"), col("__kb"), col("__tot"))
      .groupBy("__ka", "__kb", "__tot")
      .agg(sum(round(col("__term"), 9).cast("decimal(38,9)"))
        .cast("double").as("chi2"))
      .select(col("chi2"),
        ((col("__ka") - 1) * (col("__kb") - 1)).as("dof"),
        col("__tot").as("n_total"))
  }

  /** WEIGHTED QUANTILE per group: the smallest value whose cumulative
    * weight reaches `q · W` — the exact weighted-median/percentile
    * (median latency weighted by request count, median price weighted
    * by quantity). The cumulative sum runs over a RANGE frame ordered
    * by the value, so ties contribute together and the result is
    * deterministic under any partitioning or tie order. Weights pass
    * through DECIMAL(38,6), so the running sums are exact and the
    * single `cum ≥ q·W` comparison replays bit-level.
    *
    * One keyed window + one keyed aggregate; NULL values/weights and
    * non-positive weights are excluded (a caller error for weights,
    * but excluding beats poisoning the cumulative sum).
    */
  def weightedQuantile(
      df: DataFrame, keyCol: String, valueCol: String, weightCol: String,
      q: Double): DataFrame =
    weightedQuantiles(df, keyCol, valueCol, weightCol, Seq(q))
      .withColumnRenamed("__q0", "weighted_quantile")
      .select(col(keyCol), col("weighted_quantile"), col("total_weight"))

  /** Several exact weighted quantiles of ONE (key, value, weight)
    * frame in a SINGLE keyed window pass — [[weightedQuantile]] for a
    * list of `qs` (guide §2.4: operations keyed the same way share one
    * exchange; [[winsorize]]'s two bounds previously sorted and
    * cumulative-summed the same rows twice). Each quantile is the
    * identical `min(v | cum >= q·W)` over the SAME cumulative frame,
    * so the values match the one-q form bit-for-bit. Returns
    * `(key, __q0..__q{n-1}, total_weight)`.
    */
  def weightedQuantiles(
      df: DataFrame, keyCol: String, valueCol: String, weightCol: String,
      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty, "need at least one quantile")
    qs.foreach(q => require(q > 0 && q <= 1, s"q must be in (0, 1], got $q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("__v"))
      .rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val clean = df
      .filter(col(valueCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol) > 0)
      .select(col(keyCol), col(valueCol).cast("double").as("__v"),
        col(weightCol).cast("decimal(38,6)").as("__w"))
    val aggs = qs.zipWithIndex.map { case (q, i) =>
      // min(v | cum >= q·W) as a conditional aggregate — identical to
      // the filter-then-min of the single-q form
      min(when(col("__cum") >= col("__tot") * q, col("__v"))).as(s"__q$i")
    } :+ max(col("__tot")).as("total_weight")
    clean
      .withColumn("__cum", sum(col("__w")).over(w).cast("double"))
      .withColumn("__tot",
        sum(col("__w")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(keyCol))).cast("double"))
      .groupBy(keyCol)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** WINSORIZE: clamp `valueCol` into its per-group exact
    * [pLo, pHi] quantile band — the outlier-capping cleaner run
    * before averaging heavy-tailed metrics (a single fat-finger price
    * stops owning the mean). Bounds come from [[weightedQuantile]]
    * with unit weights (the exact lower-edge quantile, deterministic
    * under ties and partitioning); the ≤|groups|-row bound dims ride
    * broadcasts back onto the rows. Output: the input columns plus
    * `p_lo`, `p_hi`, and `winsorized` (NULL value rows pass through
    * with a NULL winsorized value).
    */
  def winsorize(
      df: DataFrame, keyCol: String, valueCol: String, pLo: Double,
      pHi: Double): DataFrame = {
    require(pLo > 0 && pHi <= 1 && pLo < pHi,
      s"need 0 < pLo < pHi <= 1, got ($pLo, $pHi)")
    val one = df.select(col(keyCol), col(valueCol))
      .withColumn("__one", lit(1.0))
    // both bounds from ONE window pass (previously two identical
    // sort+cumsum passes over the same rows), materialized as a local
    // dim — it is broadcast-bound anyway, and callers like
    // [[trimmedMean]] reference it from several plan branches
    val bounds = graft.core.PlanOps.localDim(
      weightedQuantiles(one, keyCol, valueCol, "__one", Seq(pLo, pHi))
        .select(col(keyCol), col("__q0").as("p_lo"), col("__q1").as("p_hi")))
    df.join(broadcast(bounds), Seq(keyCol))
      // greatest/least IGNORE nulls (they return the extreme of the
      // non-null args), so a null value must be guarded explicitly or
      // it would silently clamp to p_lo
      .withColumn("winsorized",
        when(col(valueCol).isNotNull,
          least(greatest(col(valueCol).cast("double"), col("p_lo")),
            col("p_hi"))))
  }

  /** EQUAL-FREQUENCY BINNING — the feature-discretization staple: per
    * group, values split into `k` bins of (near-)equal row count, by
    * PURE INTEGER math on the cumulative RANGE-frame count:
    * `bin = ⌈cnt·k / n⌉ = (cnt·k + n − 1) div n` — tie masses share a
    * cumulative count, hence a bin (deterministic; no floating
    * boundary exists to disagree across engines). Output per
    * (key, bin): row count and the value span. Heavy tie mass makes
    * bins uneven — that is the correct equal-frequency semantics, not
    * an error.
    */
  def equalFreqBins(
      df: DataFrame, keyCol: String, valueCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("__v"))
      .rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val clean = df.filter(col(valueCol).isNotNull)
      .select(col(keyCol), col(valueCol).cast("double").as("__v"))
    clean
      .withColumn("__cnt", count(lit(1)).over(w))
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))))
      // DIV: true integer division (Spark `/` on longs is double
      // division, whose cast-truncation could misplace a boundary row)
      .withColumn("bin",
        expr(s"CAST((__cnt * $k + __n - 1) DIV __n AS INT)"))
      .groupBy(col(keyCol), col("bin"))
      .agg(count(lit(1)).as("n"), min(col("__v")).as("v_min"),
        max(col("__v")).as("v_max"))
  }

  /** PAIRWISE PEARSON CORRELATION MATRIX over `cols` — the feature
    * redundancy screen before modeling, in ONE aggregation pass: all
    * (n, Σx, Σx², Σxy) sufficient statistics accumulate
    * round-then-DECIMAL simultaneously, then the ≤ k(k−1)/2 matrix
    * rows explode out of the single stats row. Rows with a NULL in
    * ANY column are excluded (listwise deletion — all cells share one
    * n, so the matrix is positive semi-definite). Zero-variance
    * columns emit NULL cells.
    */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val d = (c: Column) => c.cast("double")
    def t9(c: Column) = round(c, 9).cast("decimal(38,9)")
    val xs = cols.map(c => col(c).cast("double"))
    // the decimal sufficient statistics are the whole cost and the
    // narrow projection is a few dozen bytes/row: fan out when the
    // scan cannot (guide §2.2; no-op at scale)
    val clean = graft.core.PlanOps.fanOutSmall(
      df.filter(xs.map(_.isNotNull).reduce(_ && _))
        .select(cols.indices.map(i => xs(i).as(s"__x$i")): _*))
    val aggs = Seq(count(lit(1)).as("__n")) ++
      cols.indices.flatMap { i =>
        Seq(sum(t9(col(s"__x$i"))).as(s"__s$i"),
          sum(t9(col(s"__x$i") * col(s"__x$i"))).as(s"__ss$i"))
      } ++
      cols.indices.flatMap { i =>
        ((i + 1) until cols.size).map { j =>
          sum(t9(col(s"__x$i") * col(s"__x$j"))).as(s"__p${i}_$j")
        }
      }
    val one = clean.agg(aggs.head, aggs.tail: _*)
    val n = d(col("__n"))
    def den(i: Int) = n * d(col(s"__ss$i")) - d(col(s"__s$i")) * d(col(s"__s$i"))
    val cells = cols.indices.flatMap { i =>
      ((i + 1) until cols.size).map { j =>
        struct(lit(cols(i)).as("col_a"), lit(cols(j)).as("col_b"),
          when(den(i) > 0 && den(j) > 0,
            (n * d(col(s"__p${i}_$j")) -
              d(col(s"__s$i")) * d(col(s"__s$j"))) /
              (sqrt(den(i)) * sqrt(den(j)))).as("corr"))
      }
    }
    one.select(col("__n").as("n"), explode(array(cells: _*)).as("c"))
      .select(col("c.col_a"), col("c.col_b"), col("n"), col("c.corr"))
  }

  /** SPEARMAN RANK CORRELATION — Pearson on AVERAGE ranks (the
    * monotone-association measure robust to any monotone
    * transformation and to outliers): per column, tie blocks get the
    * standard average rank `C − (t−1)/2` computed from integer
    * tie-group counts over the range-partitioned [[runningTotals]]
    * prefix (no unpartitioned window), ranks join back to rows, and
    * the final correlation is the pinned sufficient-statistics
    * formula (round-then-DECIMAL sums). NULL-in-either rows are
    * excluded up front so both rankings cover the same n.
    */
  def spearman(
      df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val d = (c: Column) => c.cast("double")
    def t9(c: Column) = round(c, 9).cast("decimal(38,9)")
    // no fan-out here: the rank joins and runningTotals shuffle by the
    // value columns anyway, so the scan stage does no heavy per-row
    // work (measured: a fan-out made q201 ~30% slower, pure overhead).
    // stageNarrow: clean feeds both rank passes AND the final join —
    // three executions of the scan lineage collapse to one.
    val clean = graft.core.PlanOps.stageNarrow(df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y")))
    // ONE fused rank pass for BOTH columns (r15, VERDICT r14 #3): the
    // former per-column groupBy + runningTotals chain paid the sort
    // machinery (range sort, sampling pass, partition-totals collect)
    // TWICE. Stacking the columns as (side, value) runs ONE groupBy and
    // ONE range-partitioned prefix sum. Ordering by (side, value) makes
    // side 1's global prefix equal n + its own per-column prefix, and
    // both sides stack the SAME n NULL-filtered rows, so subtracting
    // side·n restores the exact per-column cumulative counts — the
    // subtraction is long arithmetic, so the average ranks are
    // bit-identical to the two-pass form.
    val stacked = clean.select(lit(0L).as("__s"), col("__x").as("__v"))
      .unionAll(clean.select(lit(1L).as("__s"), col("__y").as("__v")))
      .groupBy("__s", "__v").agg(count(lit(1)).as("t"))
    val nRows = clean.agg(count(lit(1)).as("__n"))
    // stage the rank dim too: both column filters below scan it, and
    // the runningTotals output otherwise re-executes its emit pass —
    // through the external-Row conversion — once per reference
    val ranks = graft.core.PlanOps.stageNarrow(
      runningTotalsBy(stacked, Seq("__s", "__v"), Seq("t"))
        .crossJoin(broadcast(nRows))
        .select(col("__s"), col("__v"),
          (d(col("t_cum") - col("__s") * col("__n")) -
            (d(col("t")) - lit(1.0)) / lit(2.0)).as("__r")))
    val ranked = clean
      .join(ranks.filter(col("__s") === 0)
        .select(col("__v").as("__x"), col("__r").as("__x_r")), Seq("__x"))
      .join(ranks.filter(col("__s") === 1)
        .select(col("__v").as("__y"), col("__r").as("__y_r")), Seq("__y"))
    val s = ranked.agg(count(lit(1)).as("n"),
      sum(t9(col("__x_r"))).as("sx"), sum(t9(col("__y_r"))).as("sy"),
      sum(t9(col("__x_r") * col("__x_r"))).as("sxx"),
      sum(t9(col("__y_r") * col("__y_r"))).as("syy"),
      sum(t9(col("__x_r") * col("__y_r"))).as("sxy"))
    val n = d(col("n"))
    val denX = n * d(col("sxx")) - d(col("sx")) * d(col("sx"))
    val denY = n * d(col("syy")) - d(col("sy")) * d(col("sy"))
    s.select(col("n"),
      when(denX > 0 && denY > 0,
        (n * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
          (sqrt(denX) * sqrt(denY))).as("spearman_rho"))
  }

  /** TARGET ENCODING with smoothing AND the leave-one-out form — the
    * categorical-feature workhorse, built leak-aware: the smoothed
    * encoding `(S_c + m·ȳ)/(n_c + m)` (Micci-Barreca 2001) shrinks
    * rare categories toward the global mean, and the LOO encoding
    * `(S_c − y_row)/(n_c − 1)` excludes the row's own target — the
    * version safe to train on (a category's own label leaking into
    * its feature is the classic target-encoding overfit). Category
    * sums are exact DECIMAL, the row's target subtracts as DECIMAL
    * (exact), and singleton categories fall back to the global mean
    * for LOO (nothing else to average). One keyed aggregation + the
    * category dim joined back + a 1-row global-mean broadcast.
    */
  def targetEncode(
      df: DataFrame, catCol: String, targetCol: String,
      m: Double = 10.0): DataFrame = {
    require(m >= 0, s"m must be >= 0, got $m")
    val d = (c: Column) => c.cast("double")
    def t6(c: Column) = round(c, 6).cast("decimal(38,6)")
    val y = col(targetCol).cast("double")
    val clean = df.filter(y.isNotNull)
    val per = clean.groupBy(col(catCol))
      .agg(count(lit(1)).as("__nc"), sum(t6(y)).as("__sc"))
    val g = clean.agg((sum(t6(y)).cast("double") /
      count(lit(1)).cast("double")).as("__gm"))
    clean.join(per, Seq(catCol)).crossJoin(broadcast(g))
      .withColumn("enc_smoothed",
        (d(col("__sc")) + col("__gm") * lit(m)) / (d(col("__nc")) + lit(m)))
      .withColumn("enc_loo",
        when(col("__nc") > 1,
          d(col("__sc") - t6(y)) / (d(col("__nc")) - lit(1.0)))
          .otherwise(col("__gm")))
      .drop("__nc", "__sc", "__gm")
  }

  /** HERFINDAHL–HIRSCHMAN concentration index of a categorical
    * column: `HHI = 10000·Σ share²` (classic 0–10000 scale; 10000 =
    * one category holds everything, N/k→ uniform floor 10000/k) —
    * the concentration gauge beside [[entropy]] and [[gini]]. One
    * keyed count, a 1-row total broadcast, round-then-DECIMAL term
    * sum; output is one row.
    */
  def hhi(df: DataFrame, catCol: String): DataFrame = {
    val d = (c: Column) => c.cast("double")
    val per = df.groupBy(col(catCol)).agg(count(lit(1)).as("n"))
    val tot = per.agg(sum(col("n")).as("__N"), count(lit(1)).as("__k"))
    val share = d(col("n")) / d(col("__N"))
    per.crossJoin(broadcast(tot))
      .select(round(lit(10000.0) * share * share, 9)
        .cast("decimal(38,9)").as("__t"), col("__N"), col("__k"))
      .groupBy("__N", "__k")
      .agg(sum(col("__t")).cast("double").as("hhi"))
      .select(col("hhi"), col("__k").as("n_categories"),
        col("__N").as("n_rows"))
  }

  /** HUBER ROBUST LOCATION (M-estimator, 3 fixed IRLS passes, c = 1.345) —
    * the efficiency upgrade over the median: near-Gaussian data keeps
    * ~95% efficiency (the median only 64%) while outliers beyond
    * `c·scale` are down-weighted `w = c·scale/|x−m|` instead of
    * dominating. Starts at the exact lower-edge median, scale =
    * 1.4826·MAD (both [[weightedQuantile]]-deterministic), and runs a
    * PINNED number of reweighting passes — each one keyed join of the
    * per-key center dim plus round-then-DECIMAL weighted sums — so
    * the whole iteration replays stage-for-stage (the q118/q192
    * unroll convention). Zero-MAD groups (over half the mass on one
    * point) keep the median: the ψ-weights are undefined there, and
    * the median IS the MLE.
    */
  def huberMean(
      df: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val c = 1.345
    val iters = 3
    def t9(x: Column) = round(x, 9).cast("decimal(38,9)")
    // fan out the narrow (key, value) projection when the scan can't
    // split, and MATERIALIZE every per-key center dim (median, scale,
    // each IRLS iterate) as a local dim: left lazy, iteration k's plan
    // nests iterations 1..k-1's whole trees and the median/MAD windows
    // re-execute ~O(iters²) times — the dims are broadcast-bound by
    // contract, so the collect costs what the broadcast already paid.
    // stageNarrow: the ~6 eager passes (median window, MAD window,
    // `iters` IRLS aggregates, final count) would otherwise EACH
    // re-run the scan+filter+fan-out lineage; one localCheckpoint
    // feeds them all from memory (guide §5 — values unchanged).
    val clean = graft.core.PlanOps.stageNarrow(
      graft.core.PlanOps.fanOutSmall(
        df.filter(col(valueCol).isNotNull)
          .select(col(keyCol).as("__k"),
            col(valueCol).cast("double").as("__x")))
        .withColumn("__one", lit(1.0)))
    val med = graft.core.PlanOps.localDim(
      weightedQuantile(clean, "__k", "__x", "__one", 0.5)
        .select(col("__k"), col("weighted_quantile").as("__med")))
    val dev = clean.join(broadcast(med), Seq("__k"))
      .withColumn("__ad", abs(col("__x") - col("__med")))
      .withColumn("__one", lit(1.0))
    val scale = graft.core.PlanOps.localDim(
      weightedQuantile(dev, "__k", "__ad", "__one", 0.5)
        .select(col("__k"), (lit(1.4826) * col("weighted_quantile"))
          .as("__s")))
    val base = clean.join(broadcast(med), Seq("__k"))
      .join(broadcast(scale), Seq("__k"))
    var m = med.join(scale, Seq("__k"))
      .select(col("__k"), col("__med").as("__m"))
    for (_ <- 1 to iters) {
      val cur = base.join(broadcast(m), Seq("__k"))
      val w = when(abs(col("__x") - col("__m")) <= lit(c) * col("__s"),
        lit(1.0)).otherwise(
        lit(c) * col("__s") / abs(col("__x") - col("__m")))
      m = graft.core.PlanOps.localDim(cur
        .groupBy("__k")
        .agg((sum(t9(w * col("__x"))).cast("double") /
          sum(t9(w)).cast("double")).as("__mn"),
          min(col("__s")).as("__sc"), min(col("__med")).as("__md"))
        .select(col("__k"),
          when(col("__sc") > 0, col("__mn")).otherwise(col("__md"))
            .as("__m")))
    }
    clean.groupBy("__k").agg(count(lit(1)).as("n"))
      .join(med, Seq("__k")).join(scale, Seq("__k"))
      .join(m, Seq("__k"))
      .select(col("__k").as(keyCol), col("n"), col("__med").as("median"),
        col("__s").as("scale"), col("__m").as("huber_mean"))
  }

  /** TRIMMED MEAN — [[winsorize]]'s dropping sibling: rows OUTSIDE
    * the per-group exact [pLo, pHi] lower-edge quantile band are
    * EXCLUDED (not clamped) before averaging — the robust mean when
    * the tails are garbage rather than merely extreme. Bounds are the
    * deterministic [[weightedQuantile]]s; the kept-row mean is a
    * round-then-DECIMAL sum over one double division. Output per
    * group: total n, kept n, band, raw and trimmed means.
    */
  def trimmedMean(
      df: DataFrame, keyCol: String, valueCol: String, pLo: Double,
      pHi: Double): DataFrame = {
    val w = winsorize(df, keyCol, valueCol, pLo, pHi)
    def dsum(c: Column) = sum(round(c, 6).cast("decimal(38,6)"))
      .cast("double")
    val v = col(valueCol).cast("double")
    val kept = v >= col("p_lo") && v <= col("p_hi")
    w.filter(col(valueCol).isNotNull)
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        min(col("p_lo")).as("p_lo"), min(col("p_hi")).as("p_hi"),
        (dsum(v) / count(lit(1)).cast("double")).as("mean_raw"),
        (dsum(when(kept, v)) /
          sum(when(kept, 1L).otherwise(0L)).cast("double"))
          .as("mean_trimmed"))
  }

  /** TWO-PROPORTION Z-TEST (pooled) — the A/B-test readout: given
    * per-variant trial and success counts, the difference in
    * conversion rates and the pooled z statistic
    * `z = (p1 − p2) / √(p̂(1−p̂)(1/n1 + 1/n2))`. Everything derives
    * from four integer counts, so the one-row output replays exactly;
    * p-value thresholds belong to the caller's normal table (the chi²
    * convention). `variantCol` must take exactly two values; the
    * lexicographically FIRST is variant 1 (pinned, engine-neutral).
    */
  def twoProportionZ(
      df: DataFrame, variantCol: String, successCol: String): DataFrame = {
    val agg = df.groupBy(col(variantCol).as("v"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(successCol), 1L).otherwise(0L)).as("s"))
    val d = (x: Column) => x.cast("double")
    // two-row pivot without a window: re-aggregate by comparing to the
    // min variant label (exactly two labels by contract)
    val lohi = agg
      .crossJoin(broadcast(agg.agg(min(col("v")).as("__v1"))))
      .groupBy("__v1")
      .agg(
        max(when(col("v") === col("__v1"), col("n"))).as("n1"),
        max(when(col("v") === col("__v1"), col("s"))).as("s1"),
        max(when(col("v") =!= col("__v1"), col("v"))).as("__v2"),
        max(when(col("v") =!= col("__v1"), col("n"))).as("n2"),
        max(when(col("v") =!= col("__v1"), col("s"))).as("s2"),
        count(lit(1)).as("__k"))
    val p1 = d(col("s1")) / d(col("n1"))
    val p2 = d(col("s2")) / d(col("n2"))
    val pp = (d(col("s1")) + d(col("s2"))) / (d(col("n1")) + d(col("n2")))
    lohi
      // assert_true is NULL when the contract holds and throws when it
      // doesn't — the rollingAgg axis-guard idiom
      .withColumn("__guard", assert_true(col("__k") === 2,
        lit("twoProportionZ: variantCol must take exactly 2 values")))
      .filter(col("__guard").isNull)
      .select(col("__v1").as("variant1"), col("__v2").as("variant2"),
        col("n1"), col("s1"), col("n2"), col("s2"),
        p1.as("p1"), p2.as("p2"),
        ((p1 - p2) / sqrt(pp * (lit(1.0) - pp) *
          (lit(1.0) / d(col("n1")) + lit(1.0) / d(col("n2"))))).as("z"))
  }

  /** GROUP-WISE ORDINARY LEAST SQUARES `y = intercept + slope·x` —
    * per-key trend fitting (price-vs-quantity sensitivity per
    * segment, metric drift per cohort) in ONE keyed aggregation of
    * the five sufficient statistics (n, Σx, Σy, Σxy, Σx²) plus Σy²
    * for r². Every term is round(·,9)-then-DECIMAL (the covariance
    * q132 parity pattern: exact, order-free sums), and the closed
    * forms are pinned double expressions, so the output replays
    * bit-level. Groups with zero x-variance emit NULL slope/intercept
    * /r² (vertical fit undefined); rows with NULL x or y are
    * excluded.
    */
  def groupwiseRegression(
      df: DataFrame, keyCol: String, xCol: String,
      yCol: String): DataFrame = {
    val d = (c: Column) => c.cast("double")
    def t(c: Column) = round(c, 9).cast("decimal(38,9)")
    val x0 = col(xCol).cast("double")
    val y0 = col(yCol).cast("double")
    val base = graft.core.PlanOps.fanOutSmall(
      df.filter(x0.isNotNull && y0.isNotNull)
        .select(col(keyCol), x0.as("__x"), y0.as("__y")))
    val x = col("__x")
    val y = col("__y")
    val agg = base
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(t(x)).as("sx"), sum(t(y)).as("sy"),
        sum(t(x * y)).as("sxy"), sum(t(x * x)).as("sxx"),
        sum(t(y * y)).as("syy"))
    val n = d(col("n"))
    val (sx, sy, sxy, sxx, syy) =
      (d(col("sx")), d(col("sy")), d(col("sxy")), d(col("sxx")),
        d(col("syy")))
    val denX = n * sxx - sx * sx
    val denY = n * syy - sy * sy
    val cov = n * sxy - sx * sy
    val slope = when(denX > 0, cov / denX)
    agg.select(col(keyCol), col("n"),
      slope.as("slope"),
      when(denX > 0, (sy - (cov / denX) * sx) / n).as("intercept"),
      when(denX > 0 && denY > 0, (cov * cov) / (denX * denY)).as("r2"))
  }

  /** THEIL–SEN ROBUST SLOPE per key — [[groupwiseRegression]]'s
    * outlier-proof sibling: the MEDIAN of all pairwise slopes
    * `(y_j − y_i)/(x_j − x_i)` (29% breakdown point — one fat-finger
    * point owns an OLS fit but not this), plus the matching intercept
    * as the median of `y − slope·x`. Both medians are the exact
    * lower-edge [[weightedQuantile]] (deterministic under ties and
    * partitioning). Pairs come from a keyed self-join — O(n²) PER
    * KEY, so run it on per-bucket report dims (daily aggregates), not
    * raw events; x duplicates within a key are excluded pairwise
    * (vertical slopes are undefined), NULL x/y rows up front.
    */
  def theilSen(
      df: DataFrame, keyCol: String, xCol: String,
      yCol: String): DataFrame = {
    // stageNarrow: `s` feeds both sides of the pair self-join, the
    // residual pass and the final join — four reads of the same
    // narrow frame across two eager passes (slope localDim + final)
    val s = graft.core.PlanOps.stageNarrow(df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(keyCol).as("__k"), col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y")))
    val pairs = s
      .join(s.select(col("__k"), col("__x").as("__x2"),
        col("__y").as("__y2")), Seq("__k"))
      .filter(col("__x2") > col("__x"))
      .select(col("__k"),
        ((col("__y2") - col("__y")) / (col("__x2") - col("__x")))
          .as("__slope"))
      .withColumn("__one", lit(1.0))
    // localDim: the residual pass and the final join both reference
    // the slope dim — broadcast-bound by contract (≤ |keys| rows)
    val slope = graft.core.PlanOps.localDim(
      weightedQuantile(pairs, "__k", "__slope", "__one", 0.5)
        .select(col("__k"), col("weighted_quantile").as("ts_slope"),
          col("total_weight").cast("long").as("n_pairs")))
    val resid = s.join(broadcast(slope), Seq("__k"))
      .select(col("__k"), col("ts_slope"), col("n_pairs"),
        (col("__y") - col("ts_slope") * col("__x")).as("__b"))
      .withColumn("__one", lit(1.0))
    weightedQuantile(resid, "__k", "__b", "__one", 0.5)
      .select(col("__k"), col("weighted_quantile").as("ts_intercept"))
      .join(slope, Seq("__k"))
      .select(col("__k").as(keyCol), col("n_pairs"), col("ts_slope"),
        col("ts_intercept"))
  }

  /** BENFORD first-digit audit — the fraud/data-quality screen for
    * naturally-scaled positive amounts: observed first-significant-
    * digit shares vs Benford's `log10(1 + 1/d)`, with each digit's
    * deviation and the Mean Absolute Deviation total on every row
    * (Nigrini's conformity gauge; MAD > 0.015 conventionally flags).
    * The first digit comes from STRING formatting of the absolute
    * value (leading zeros and the decimal point skipped) — exact, no
    * log-of-value rounding hazards; `log10` only touches the nine
    * CONSTANT expectations. One digit-keyed count + a 1-row total
    * broadcast; output is ≤ 9 rows. Non-positive/NULL values are
    * excluded (Benford is defined on positive magnitudes).
    */
  def benfordDeviation(df: DataFrame, valueCol: String): DataFrame = {
    val digit = substring(regexp_replace(
      abs(col(valueCol)).cast("string"), "[0.]*", ""), 1, 1)
    val o = df.filter(col(valueCol).isNotNull && col(valueCol) > 0)
      .select(digit.cast("int").as("d"))
      .filter(col("d") >= 1 && col("d") <= 9)
      .groupBy("d").agg(count(lit(1)).as("n"))
    val t = o.agg(sum(col("n")).as("__tot"))
    val share = col("n").cast("double") / col("__tot").cast("double")
    val expected = log(10.0, lit(1.0) + lit(1.0) / col("d").cast("double"))
    val dev = o.crossJoin(broadcast(t))
      .select(col("d"), col("n"), share.as("observed"),
        expected.as("expected"),
        (share - expected).as("deviation"))
    val mad = dev
      .select(round(abs(col("deviation")), 9).cast("decimal(38,9)").as("__a"))
      .agg((sum(col("__a")).cast("double") / lit(9.0)).as("mad"))
    dev.crossJoin(broadcast(mad))
  }

  /** WELCH'S TWO-SAMPLE T-TEST (unequal variances) — the A/B readout
    * for CONTINUOUS metrics (revenue per user, latency), the mean-
    * difference companion to [[twoProportionZ]]: per variant the
    * sufficient statistics (n, Σx, Σx²) accumulate round-then-DECIMAL
    * (exact, order-free), sample variance `s² = (Σx² − (Σx)²/n)/(n−1)`
    * and `t = (m1 − m2) / √(s1²/n1 + s2²/n2)` are pinned double
    * expressions, plus the Welch–Satterthwaite df. `variantCol` must
    * take exactly two values (lexicographically first = variant 1,
    * assert_true-guarded like [[twoProportionZ]]).
    */
  def welchTTest(
      df: DataFrame, variantCol: String, valueCol: String): DataFrame = {
    val d = (x: Column) => x.cast("double")
    def t9(c: Column) = round(c, 9).cast("decimal(38,9)")
    val x = col(valueCol).cast("double")
    val agg = df.filter(x.isNotNull)
      .groupBy(col(variantCol).as("v"))
      .agg(count(lit(1)).as("n"), sum(t9(x)).as("sx"),
        sum(t9(x * x)).as("sxx"))
    val lohi = agg
      .crossJoin(broadcast(agg.agg(min(col("v")).as("__v1"))))
      .groupBy("__v1")
      .agg(
        max(when(col("v") === col("__v1"), col("n"))).as("n1"),
        max(when(col("v") === col("__v1"), col("sx"))).as("sx1"),
        max(when(col("v") === col("__v1"), col("sxx"))).as("sxx1"),
        max(when(col("v") =!= col("__v1"), col("v"))).as("__v2"),
        max(when(col("v") =!= col("__v1"), col("n"))).as("n2"),
        max(when(col("v") =!= col("__v1"), col("sx"))).as("sx2"),
        max(when(col("v") =!= col("__v1"), col("sxx"))).as("sxx2"),
        count(lit(1)).as("__k"))
    def mean(sx: Column, n: Column) = d(sx) / d(n)
    def svar(sxx: Column, sx: Column, n: Column) =
      (d(sxx) - d(sx) * d(sx) / d(n)) / (d(n) - lit(1.0))
    val m1 = mean(col("sx1"), col("n1"))
    val m2 = mean(col("sx2"), col("n2"))
    val v1 = svar(col("sxx1"), col("sx1"), col("n1"))
    val v2 = svar(col("sxx2"), col("sx2"), col("n2"))
    val se1 = v1 / d(col("n1"))
    val se2 = v2 / d(col("n2"))
    lohi
      .withColumn("__guard", assert_true(col("__k") === 2,
        lit("welchTTest: variantCol must take exactly 2 values")))
      .filter(col("__guard").isNull)
      .select(col("__v1").as("variant1"), col("__v2").as("variant2"),
        col("n1"), col("n2"), m1.as("mean1"), m2.as("mean2"),
        v1.as("var1"), v2.as("var2"),
        ((m1 - m2) / sqrt(se1 + se2)).as("t"),
        ((se1 + se2) * (se1 + se2) /
          (se1 * se1 / (d(col("n1")) - lit(1.0)) +
            se2 * se2 / (d(col("n2")) - lit(1.0)))).as("df"))
  }

  /** MANN–WHITNEY U (Wilcoxon rank-sum) test — the NONPARAMETRIC A/B
    * readout beside [[welchTTest]]: no normality assumption, robust to
    * the heavy-tailed metrics (revenue, latency) where a mean test
    * misleads. The rank algebra runs entirely on INTEGER tie-group
    * counts: per distinct value the tie block of size `t` at inclusive
    * cumulative count `C` has average rank `C − (t−1)/2`, so twice the
    * variant-1 rank sum is `Σ nₐ·(2C − t + 1)` — exact in DECIMAL, no
    * fractional ranks ever materialize. `U₁ = R₁ − n₁(n₁+1)/2`, the
    * normal approximation uses the tie-corrected variance
    * `n₁n₂/12 · ((N+1) − Σ(t³−t)/(N(N−1)))` (no continuity
    * correction — pinned, engine-neutral), and the rank-biserial
    * effect size `r = 1 − 2U₁/(n₁n₂)` rides along. All-tied input
    * (zero variance) emits NULL z.
    *
    * Scale shape: one value-keyed count (map-side combined), then the
    * cumulative count over the distinct-value frame via
    * [[runningTotals]] (range-partitioned prefix sums — NO
    * unpartitioned window even when the metric has millions of
    * distinct values), one exact aggregate to a single row.
    * `variantCol` must take exactly two values (lexicographically
    * first = variant 1, assert_true-guarded like [[twoProportionZ]]).
    */
  def mannWhitneyU(
      df: DataFrame, variantCol: String, valueCol: String): DataFrame = {
    val d = (x: Column) => x.cast("double")
    val x = col(valueCol).cast("double")
    val base = df.filter(x.isNotNull)
      .select(col(variantCol).as("__v"), x.as("__x"))
    val lab = base.agg(min(col("__v")).as("__v1"), max(col("__v")).as("__v2"),
      countDistinct(col("__v")).as("__k"))
    val counts = base.crossJoin(broadcast(lab))
      .groupBy("__x", "__v1", "__v2", "__k")
      .agg(count(lit(1)).as("t"),
        sum(when(col("__v") === col("__v1"), 1L).otherwise(0L)).as("na"))
    val cum = runningTotals(
      counts.select("__x", "t", "na", "__v1", "__v2", "__k"), "__x", Seq("t"))
    def big(c: Column) = c.cast("decimal(38,0)")
    val s = cum.groupBy("__v1", "__v2", "__k")
      .agg(sum(col("na")).as("n1"), sum(col("t") - col("na")).as("n2"),
        sum(big(col("na")) * big(lit(2) * col("t_cum") - col("t") + 1))
          .as("r2x"),
        sum(big(col("t")) * big(col("t")) * big(col("t")) - big(col("t")))
          .as("ties"))
    val (n1, n2) = (d(col("n1")), d(col("n2")))
    val bigN = n1 + n2
    val u1 = d(col("r2x")) / lit(2.0) - n1 * (n1 + lit(1.0)) / lit(2.0)
    val mu = n1 * n2 / lit(2.0)
    val s2 = n1 * n2 / lit(12.0) *
      ((bigN + lit(1.0)) - d(col("ties")) / (bigN * (bigN - lit(1.0))))
    s.withColumn("__guard", assert_true(col("__k") === 2,
        lit("mannWhitneyU: variantCol must take exactly 2 values")))
      .filter(col("__guard").isNull)
      .select(col("__v1").as("variant1"), col("__v2").as("variant2"),
        col("n1"), col("n2"), u1.as("u1"),
        when(s2 > 0, (u1 - mu) / sqrt(s2)).as("z"),
        (lit(1.0) - lit(2.0) * u1 / (n1 * n2)).as("r_rank_biserial"))
  }

  /** MAD ROBUST OUTLIER GATE — per-group modified z-scores: the
    * median/MAD pair resists the very outliers a mean/stddev gate is
    * poisoned by (one fat-finger price inflates σ until nothing else
    * flags). Both centers are exact lower-edge quantiles
    * ([[weightedQuantile]] with unit weights — deterministic under
    * ties and partitioning); a row flags when
    * `|0.6745·(x − median)/MAD| > 3.5` (Iglewicz–Hoaglin). Per group:
    * n, median, MAD, outlier count and the max
    * |modified z|; a zero-MAD group (> half the mass on one value)
    * emits NULL counts — the score is undefined there, and a NULL
    * beats silently flagging everything off-mode.
    *
    * Scale shape: two quantile passes (each one keyed window + keyed
    * aggregate), the ≤|groups|-row center dims ride broadcasts back
    * over the rows, one keyed aggregate ends it.
    */
  def madOutliers(
      df: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    // NO stageNarrow here (r15): unlike huberMean/theilSen, every
    // reference to `clean` is LAZY inside one final plan — there are
    // no eager passes to deduplicate, so the localCheckpoint
    // materialization was pure added cost (driver-measured q172
    // 1.64 s r13 → 2.45 s r14 at 32 cores AND 2.24 s at 8; removing
    // it restores the r13 plan shape).
    val clean = df.filter(col(valueCol).isNotNull)
      .select(col(keyCol), col(valueCol).cast("double").as("__x"))
      .withColumn("__one", lit(1.0))
    val med = weightedQuantile(clean, keyCol, "__x", "__one", 0.5)
      .select(col(keyCol), col("weighted_quantile").as("median"))
    val dev = clean.join(broadcast(med), Seq(keyCol))
      .withColumn("__ad", abs(col("__x") - col("median")))
    val mad = weightedQuantile(
        dev.withColumn("__one", lit(1.0)), keyCol, "__ad", "__one", 0.5)
      .select(col(keyCol), col("weighted_quantile").as("mad"))
    val z = lit(0.6745) * (col("__x") - col("median")) / col("mad")
    dev.join(broadcast(mad), Seq(keyCol))
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n"),
        min(col("median")).as("median"), min(col("mad")).as("mad"),
        sum(when(col("mad") > 0 && abs(z) > 3.5, 1L).otherwise(0L))
          .as("__no"),
        max(when(col("mad") > 0, abs(z))).as("max_abs_z"))
      .select(col(keyCol), col("n"), col("median"), col("mad"),
        when(col("mad") > 0, col("__no")).as("n_outliers"),
        col("max_abs_z"))
  }

  /** CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013
    * "Improving the Sensitivity of Online Controlled Experiments by
    * Utilizing Pre-Experiment Data"): adjust each unit's metric by its
    * PRE-period covariate, `y' = y − θ·(x − x̄)` with
    * `θ = cov(x, y)/var(x)` estimated on the POOLED population (never
    * per-variant — a per-arm θ reintroduces bias), then report
    * per-variant means/variances of both the raw and adjusted metric
    * and the variance reduction `1 − var(y')/var(y)` (≈ corr(x,y)² —
    * the factor by which the experiment's effective sample size
    * grows). All sufficient statistics accumulate round-then-DECIMAL
    * (exact, order-free); θ and x̄ ride a 1-row broadcast back over
    * the units. Zero covariate variance leaves θ NULL and the
    * adjusted columns NULL (no adjustment is defined); rows with NULL
    * metric or covariate are excluded.
    */
  def cuped(
      df: DataFrame, variantCol: String, metricCol: String,
      covariateCol: String): DataFrame = {
    val d = (c: Column) => c.cast("double")
    def t9(c: Column) = round(c, 9).cast("decimal(38,9)")
    val x = col(covariateCol).cast("double")
    val y = col(metricCol).cast("double")
    val base = df.filter(x.isNotNull && y.isNotNull)
      .select(col(variantCol).as("variant"), x.as("__x"), y.as("__y"))
    val pooled = base.agg(count(lit(1)).as("__n"),
      sum(t9(col("__x"))).as("__sx"), sum(t9(col("__y"))).as("__sy"),
      sum(t9(col("__x") * col("__x"))).as("__sxx"),
      sum(t9(col("__x") * col("__y"))).as("__sxy"))
    val nP = d(col("__n"))
    val denX = nP * d(col("__sxx")) - d(col("__sx")) * d(col("__sx"))
    val theta = pooled.select(
      when(denX > 0,
        (nP * d(col("__sxy")) - d(col("__sx")) * d(col("__sy"))) / denX)
        .as("__theta"),
      (d(col("__sx")) / nP).as("__xbar"))
    val adj = base.crossJoin(broadcast(theta))
      .withColumn("__ya",
        col("__y") - col("__theta") * (col("__x") - col("__xbar")))
    def svar(sxx: Column, sx: Column, n: Column) =
      (d(sxx) - d(sx) * d(sx) / d(n)) / (d(n) - lit(1.0))
    adj.groupBy("variant")
      .agg(count(lit(1)).as("n"), min(col("__theta")).as("theta"),
        sum(t9(col("__y"))).as("__sy"), sum(t9(col("__y") * col("__y")))
          .as("__syy"),
        sum(t9(col("__ya"))).as("__sa"), sum(t9(col("__ya") * col("__ya")))
          .as("__saa"))
      .select(col("variant"), col("n"), col("theta"),
        (d(col("__sy")) / d(col("n"))).as("mean_raw"),
        (d(col("__sa")) / d(col("n"))).as("mean_adj"),
        svar(col("__syy"), col("__sy"), col("n")).as("var_raw"),
        svar(col("__saa"), col("__sa"), col("n")).as("var_adj"),
        (lit(1.0) - svar(col("__saa"), col("__sa"), col("n")) /
          svar(col("__syy"), col("__sy"), col("n")))
          .as("variance_reduction"))
  }

  /** DELETE-ONE-GROUP JACKKNIFE standard error of the mean — the
    * cluster-robust uncertainty estimate (Efron & Stein 1981; the
    * "bucketed jackknife" of large-scale experimentation): rows are
    * grouped into `bucketCol` clusters (users, sessions — the unit of
    * independence), each leave-one-bucket-out mean
    * `θ₍g₎ = (S − s_g)/(N − n_g)` is exact DECIMAL subtraction over
    * one double division, and
    * `SE² = (G−1)/G · Σ (θ₍g₎ − θ̄)²` (round-then-DECIMAL term sum).
    * A plain i.i.d. SE understates uncertainty when rows within a
    * user correlate — this is the one to quote. One bucket-keyed
    * aggregation (map-side combined), then constant-size math on the
    * G-row dim; needs G ≥ 2 and no bucket holding everything.
    */
  def jackknifeMean(
      df: DataFrame, bucketCol: String, valueCol: String): DataFrame = {
    val d = (c: Column) => c.cast("double")
    val x = col(valueCol).cast("double")
    val per = df.filter(x.isNotNull)
      .groupBy(col(bucketCol).as("__g"))
      .agg(count(lit(1)).as("__ng"),
        sum(round(x, 6).cast("decimal(38,6)")).as("__sg"))
    val tot = per.agg(count(lit(1)).as("__nb"), sum(col("__ng")).as("__N"),
      sum(col("__sg")).as("__S"))
    val theta = per.crossJoin(broadcast(tot))
      .select(col("__nb"), col("__N"), col("__S"),
        (d(col("__S") - col("__sg")) / d(col("__N") - col("__ng")))
          .as("__th"))
    // SS from sufficient sums (Σθ² − (Σθ)²/G) — one aggregation, no
    // self-referential join; the identical pinned formula replays in
    // the oracle (the q162 sufficient-statistics convention)
    theta.groupBy("__nb", "__N", "__S")
      .agg(sum(round(col("__th"), 9).cast("decimal(38,9)")).cast("double")
        .as("__st"),
        sum(round(col("__th") * col("__th"), 9).cast("decimal(38,9)"))
          .cast("double").as("__stt"))
      .select(col("__N").cast("long").as("n"), col("__nb").as("n_buckets"),
        (d(col("__S")) / d(col("__N"))).as("mean"),
        sqrt((d(col("__nb")) - lit(1.0)) / d(col("__nb")) *
          (col("__stt") - col("__st") * col("__st") / d(col("__nb"))))
          .as("se_jackknife"))
  }

  /** MANTEL–HAENSZEL pooled odds ratio across strata — the
    * Simpson's-paradox-proof A/B readout: per stratum the 2×2 cell
    * counts (variant × success), pooled as
    * `OR_MH = Σ aᵢdᵢ/nᵢ / Σ bᵢcᵢ/nᵢ` (Mantel & Haenszel 1959). A
    * marginal odds ratio flips sign under confounded stratum mixes;
    * the MH estimate conditions on the stratum. Everything derives
    * from integer counts — per-stratum terms are pinned doubles,
    * round-then-DECIMAL summed. `variantCol` must take exactly two
    * values (lexicographically first = treatment, assert_true-guarded
    * like [[twoProportionZ]]); zero pooled denominator emits NULL.
    */
  def mantelHaenszel(
      df: DataFrame, stratumCol: String, variantCol: String,
      successCol: String): DataFrame = {
    val d = (c: Column) => c.cast("double")
    val lab = df.agg(min(col(variantCol)).as("__v1"),
      max(col(variantCol)).as("__v2"),
      countDistinct(col(variantCol)).as("__k"))
    val cells = df.crossJoin(broadcast(lab))
      .groupBy(col(stratumCol).as("__s"), col("__v1"), col("__v2"),
        col("__k"))
      .agg(
        sum(when(col(variantCol) === col("__v1") && col(successCol), 1L)
          .otherwise(0L)).as("a"),
        sum(when(col(variantCol) === col("__v1") && !col(successCol), 1L)
          .otherwise(0L)).as("b"),
        sum(when(col(variantCol) =!= col("__v1") && col(successCol), 1L)
          .otherwise(0L)).as("c"),
        sum(when(col(variantCol) =!= col("__v1") && !col(successCol), 1L)
          .otherwise(0L)).as("d"))
      .withColumn("__n", col("a") + col("b") + col("c") + col("d"))
    def t9(c: Column) = round(c, 9).cast("decimal(38,9)")
    cells
      .groupBy("__v1", "__v2", "__k")
      .agg(count(lit(1)).as("n_strata"),
        sum(t9(d(col("a")) * d(col("d")) / d(col("__n")))).cast("double")
          .as("__num"),
        sum(t9(d(col("b")) * d(col("c")) / d(col("__n")))).cast("double")
          .as("__den"))
      .withColumn("__guard", assert_true(col("__k") === 2,
        lit("mantelHaenszel: variantCol must take exactly 2 values")))
      .filter(col("__guard").isNull)
      .select(col("__v1").as("variant1"), col("__v2").as("variant2"),
        col("n_strata"),
        when(col("__den") > 0, col("__num") / col("__den")).as("or_mh"))
  }

  /** Group-wise rank (quantile) normalization: `pct_rank ∈ [0, 1]` of
    * `valueCol` within each `keyCol` group — the scale-free feature
    * transform (per-language quality scores become comparable across
    * languages with wildly different raw distributions). Ordering ties
    * break on `idCol`, making the rank deterministic; a 1-row group
    * degenerates to 0. One keyed window — partition-parallel, no
    * global sort.
    */
  def rankNormalize(
      df: DataFrame, valueCol: String, keyCol: String,
      idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(valueCol), col(idCol))
    df.select(col(idCol), col(keyCol), col(valueCol))
      .withColumn("pct_rank", percent_rank().over(w))
  }

  /** Exact GINI COEFFICIENT of a non-negative `valueCol` — the
    * inequality gauge for corpus composition ("what share of training
    * tokens do the top sources hold?"): 0 = uniform, →1 = one row
    * holds everything. Computed from the sorted-rank identity
    * `G = Σ_i (2i − n − 1)·x_(i) / (n·Σx)` (i 1-based ascending);
    * within a tie block the rank weights sum identically under any
    * permutation, so the result is deterministic. Values are
    * `round(·, 6)` then DECIMAL — the term sum is exact and
    * order-free; the output is one row `(gini, n, total)`
    * (null gini when empty or Σx = 0; NULL values excluded; negative
    * values are a caller error — Gini is undefined there).
    *
    * Scale shape: global ranks come from the range-partitioned
    * sort + zipWithIndex pattern ([[graft.ops.JoinOps.withRowIndex]] —
    * NO unpartitioned window); totals ride a 1-row broadcast; one
    * exact aggregate ends it.
    */
  def gini(df: DataFrame, valueCol: String): DataFrame = {
    val v = df.select(round(col(valueCol).cast("double"), 6).as("x"))
      .filter(col("x").isNotNull)
    val ranked = graft.ops.JoinOps.withRowIndex(v.sort("x"), "__ri")
    val tot = broadcast(v.agg(count(lit(1)).as("n"),
      sum(col("x").cast("decimal(38,6)")).as("tot")))
    ranked.crossJoin(tot)
      .select(((lit(2) * col("__ri") + 1 - col("n")) *
        col("x").cast("decimal(38,6)")).as("term"), col("n"), col("tot"))
      .groupBy("n", "tot").agg(sum(col("term")).as("num"))
      .select(
        when(col("n") > 0 && col("tot") =!= 0,
          col("num").cast("double") /
            (col("n").cast("double") * col("tot").cast("double"))).as("gini"),
        col("n").cast("long").as("n"),
        col("tot").cast("double").as("total"))
  }

  /** Distributed RUNNING (prefix) sums of long columns over a global
    * `orderCol` ordering, appended as `<col>_cum` — the CDF/Lorenz
    * primitive behind [[DriftOps.ksStatistic]]. NO unpartitioned
    * window: `sort` range-partitions the frame, a first pass reduces
    * each partition to its column totals (one tiny row per partition
    * to the driver — #partitions values, the
    * [[graft.ops.JoinOps.withRowIndex]] zipWithIndex contract), the
    * exclusive prefix of those totals seeds each partition's
    * accumulator, and a second pass emits the running values. Both
    * passes see identical partitioning: the range bounds live in the
    * one reused partitioner object.
    */
  def runningTotals(
      df: DataFrame, orderCol: String, sumCols: Seq[String]): DataFrame =
    runningTotalsBy(df, Seq(orderCol), sumCols)

  /** [[runningTotals]] over a COMPOSITE ordering — callers whose
    * primary order key ties (equal metrics in a Pareto walk) pass the
    * tiebreak columns explicitly so the prefix sums are deterministic
    * under any partitioning.
    */
  def runningTotalsBy(
      df: DataFrame, orderCols: Seq[String], sumCols: Seq[String]): DataFrame = {
    require(sumCols.nonEmpty, "runningTotals: no columns to sum")
    require(orderCols.nonEmpty, "runningTotals: no ordering")
    // NO stageNarrow here (r15, reverting the r14 change): both passes
    // below run on the ONE `rdd` materialized next — the same physical
    // plan, the same shuffle dependency, so the range sort's map side
    // runs once and the second pass reads the REUSED shuffle files
    // with byte-identical partitioning (the shuffle-reuse contract the
    // operator relied on through r13). The r14 localCheckpoint
    // materialized the whole sorted frame into block storage on top of
    // that — a second copy of the input at scale (VERDICT r14 #3) —
    // and its consumers all drifted UP in the driver run (q194 +28%,
    // q171 +30%, q196 +17%).
    val sorted = df.sort(orderCols.map(col): _*)
    val idx = sumCols.map(sorted.schema.fieldIndex).toArray
    // INTERNAL rows for both passes (r15, like [[JoinOps.withRowIndex]]):
    // `sorted.rdd` deserialized every row to an external `Row` in the
    // totals pass and the emit pass re-boxed each row through
    // `Row.fromSeq` + `createDataFrame` re-encoding. `toRdd` keeps
    // Tungsten rows end to end; it is ONE RDD instance, so the second
    // pass still reads the range sort's reused shuffle files with
    // byte-identical partitioning (the r13 contract this operator
    // documents above).
    val rdd = sorted.queryExecution.toRdd
    val partTotals = rdd.mapPartitionsWithIndex { (pid, it) =>
      val acc = Array.fill(idx.length)(0L)
      it.foreach { r => var i = 0; while (i < idx.length) { acc(i) += r.getLong(idx(i)); i += 1 } }
      Iterator((pid, acc))
    }.collect().sortBy(_._1).map(_._2)
    val offsets: Array[Array[Long]] =
      partTotals.scanLeft(Array.fill(idx.length)(0L)) { (a, b) =>
        Array.tabulate(idx.length)(i => a(i) + b(i))
      }.init
    val schema = StructType(sorted.schema.fields ++
      sumCols.map(c => StructField(s"${c}_cum", LongType, nullable = false)))
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      val acc = offsets(pid).clone()
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(schema)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      val cumRow = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(idx.length)
      it.map { r =>
        var i = 0
        while (i < idx.length) {
          acc(i) += r.getLong(idx(i)); cumRow.update(i, acc(i)); i += 1
        }
        proj(joined(r, cumRow))
          : org.apache.spark.sql.catalyst.InternalRow
      }
    }
    org.apache.spark.sql.graftbridge.DatasetBridge
      .internalCreateDataFrame(df.sparkSession, out, schema)
  }

  /** QUANTILE NORMALIZATION across groups — the batch-effect
    * correction (Bolstad et al. 2003's microarray standard, equally
    * the cross-source feature alignment of mixed-corpus pipelines):
    * every value is replaced by the POOLED distribution's value at
    * its own within-group rank, so all groups end up with the same
    * marginal distribution and only the ordering information each
    * group contributes survives. Rank mapping is pure integer
    * arithmetic — within-group `row_number` (value, id tiebreak:
    * deterministic under ties), pooled position
    * `k = ⌈rank·N / n_g⌉` via `(rank·N + n_g − 1) div n_g` — so any
    * engine replays it exactly. `rank·N` stays in BIGINT up to
    * N ≈ 3·10⁹ rows; swap the product to DECIMAL beyond that.
    *
    * Scale shape: one per-group window (partitioned — no global
    * window), one range-partitioned global sort for the pooled index
    * ([[graft.ops.JoinOps.withRowIndex]]), one index-keyed join back.
    */
  def quantileNormalize(
      df: DataFrame, groupCol: String, valueCol: String,
      idCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val base = df.filter(v.isNotNull)
      .select(col(idCol), col(groupCol).as("__g"), v.as("__v"))
    val ranked = base.withColumn("__r", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy("__g").orderBy(col("__v"), col(idCol))))
    val counts = base.groupBy("__g").agg(count(lit(1)).as("__ng"))
    val tot = base.agg(count(lit(1)).as("__nt"))
    val pooled = graft.ops.JoinOps.withRowIndex(
      base.orderBy(col("__v"), col(idCol)).select(col("__v").as("__pv")),
      "__pi")
    ranked.join(broadcast(counts), Seq("__g"))
      .crossJoin(broadcast(tot))
      .withColumn("__k", expr("(__r * __nt + __ng - 1) div __ng"))
      .join(pooled, col("__k") === col("__pi") + 1)
      .select(col(idCol), col("__g").as(groupCol), col("__v").as("value"),
        col("__pv").as("normalized"))
  }

  /** Poisson(1) CDF F(0..5) — the resampling thresholds of
    * [[poissonBootstrapCI]], public so the oracle SQL is built from
    * the IDENTICAL doubles (shortest-round-trip literals re-parse
    * exactly). Multiplicities above 5 are capped to 6 (P ≈ 0.06%).
    */
  val poisson1Cdf: IndexedSeq[Double] = {
    val e1 = math.exp(-1.0)
    var fact = 1.0
    var cum = 1.0
    (0 to 5).map { k =>
      if (k > 0) { fact *= k; cum += 1.0 / fact }
      cum * e1
    }
  }

  /** Key-derived uniform for replicate `b` — THE bootstrap draw-key
    * format (`rowKey#replicate`, salted by `seed`), shared by the
    * global/per-group batch operators and the streaming gauge so
    * their draws stay bit-identical by construction.
    */
  def bootstrapDraw(
      rowKey: Column, b: Column, seed: String,
      uniform: (Column, Column) => Column): Column =
    uniform(concat_ws("#", rowKey, b), lit(seed))

  /** Inverse Poisson(1) CDF of a STAGED uniform column — the
    * replicate-multiplicity when-chain, kept in one place because
    * three operators (both batch bootstraps and the streaming gauge)
    * must fold the SAME [[poisson1Cdf]] thresholds in the same order.
    * The input must be a staged column, never an inlined draw: CSE
    * skips conditional branches, so an inlined draw re-hashes once
    * per branch (measured ~6×).
    */
  def poissonWeight(u: Column): Column =
    poisson1Cdf.zipWithIndex.foldRight(lit(6): Column) {
      case ((t, k), rest) => when(u < t, k).otherwise(rest)
    }

  /** Production draw for [[poissonBootstrapCI]]: xxhash64 top-53-bit
    * uniform (the [[graft.ops.MaskingOps]] Xxh-family convention) —
    * ~20× cheaper per draw than the md5-portable default, same
    * key-derived determinism, not SQL-replayable.
    */
  val xxhUniform: (Column, Column) => Column = (key, salt) =>
    shiftrightunsigned(xxhash64(key, salt), 11).cast("double") /
      lit((1L << 53).toDouble)

  /** [[poissonBootstrapCI]] PER GROUP, fully distributed — the
    * per-slice CI column a metrics dashboard actually wants (every
    * segment's mean WITH its uncertainty, no driver loop over
    * segments): the corpus expands to a narrow `(group, replicate,
    * weight, value)` stream (B× row amplification of ~24-byte rows —
    * the price of per-group resampling; map-side combine folds it to
    * |groups|·B partial rows), replicate means reduce per (group, b),
    * and the order-statistic CI + SE fold run INSIDE the engine over
    * each group's sorted B-element mean array (`sort_array` +
    * left-fold HOFs — 40 elements, constant work per group). Same
    * determinism pins as the global form; empty replicates (possible
    * on tiny groups) drop before the order statistics, mirroring it.
    * Returns `(group, n, mean, boot_lo, boot_hi, boot_se)`.
    */
  def poissonBootstrapCIByGroup(
      df: DataFrame, groupCol: String, valueCol: String, keyCol: String,
      reps: Int = 40, seed: String = "boot", alpha: Double = 0.05,
      uniform: (Column, Column) => Column =
        graft.core.PortableHash.uniform01,
      exact: Boolean = true,
      parallelism: Option[Int] = None): DataFrame = {
    require(reps >= 4, s"need reps >= 4, got $reps")
    require(alpha > 0 && alpha < 1, s"need 0 < alpha < 1, got $alpha")
    val v = col(valueCol).cast("double")
    val base0 = df.filter(v.isNotNull)
      .select(col(groupCol).as("__g"), col(keyCol).cast("string").as("__k"),
        v.as("__v"))
    // narrow-projection fan-out for unsplittable local fixtures — see
    // [[poissonBootstrapCI]]; production sources split at the scan.
    // With no explicit parallelism the scale-adaptive form applies
    // (fires only when the whole input fits one scan split).
    val base = parallelism.map(base0.repartition(_))
      .getOrElse(graft.core.PlanOps.fanOutSmall(base0))
    // exact=true: round-then-DECIMAL(38,9) replicate sums — the
    // bit-replayable oracle contract (q237). exact=false: plain double
    // sums — the production form (VERDICT r8 #2); replicate means
    // agree with the exact form to ~1e-12 relative (differential spec
    // pins CI bounds to 6 decimals), and the hash-agg buffers stay in
    // codegen instead of the DECIMAL sort-based path.
    def d9(c: Column) =
      if (exact) sum(round(c, 9).cast("decimal(38,9)")).cast("double")
      else sum(c)
    val point = base.groupBy("__g")
      .agg(count(lit(1)).as("n"),
        (d9(col("__v")) / count(lit(1)).cast("double"))
          .as("mean"))
    val rep = base
      .select(col("__g"), col("__k"), col("__v"),
        explode(sequence(lit(0), lit(reps - 1))).as("__b"))
      .withColumn("__u", bootstrapDraw(col("__k"), col("__b"), seed, uniform))
      .withColumn("__w", poissonWeight(col("__u")))
      .groupBy("__g", "__b")
      .agg(d9(col("__w").cast("double") * col("__v")).as("__s"),
        sum(col("__w").cast("long")).as("__c"))
      .filter(col("__c") > 0)
      .select(col("__g"),
        (col("__s").cast("double") / col("__c").cast("double")).as("__m"))
    val ms = rep.groupBy("__g")
      .agg(sort_array(collect_list(col("__m"))).as("__ms"))
      .withColumn("__nb", size(col("__ms")))
      .withColumn("__kk",
        floor(lit(alpha / 2.0) * (col("__nb") - 1).cast("double"))
          .cast("int"))
      .withColumn("__mb",
        aggregate(col("__ms"), lit(0.0), (a, x) => a + x) /
          col("__nb").cast("double"))
      .select(col("__g"),
        element_at(col("__ms"), col("__kk") + 1).as("boot_lo"),
        element_at(col("__ms"), col("__nb") - col("__kk")).as("boot_hi"),
        when(col("__nb") > 1,
          sqrt(aggregate(col("__ms"), lit(0.0),
            (a, x) => a + (x - col("__mb")) * (x - col("__mb"))) /
            (col("__nb") - 1).cast("double")))
          .otherwise(0.0).as("boot_se"))
    point.join(ms, Seq("__g"))
      .select(col("__g").as(groupCol), col("n"), col("mean"),
        col("boot_lo"), col("boot_hi"), col("boot_se"))
  }

  /** POISSON BOOTSTRAP confidence interval for the mean (Chamandy et
    * al. 2012 — the bootstrap that works on data too big to resample):
    * instead of drawing n rows with replacement per replicate (a full
    * shuffle × B), every row gets an INDEPENDENT Poisson(1)
    * multiplicity per replicate — for large n the replicate is
    * distributionally indistinguishable from the classic bootstrap,
    * and all `reps` replicates reduce in ONE corpus pass as 2·B
    * map-side-combined aggregates. The multiplicity is the inverse
    * Poisson CDF of the key-derived [[graft.core.PortableHash.uniform01]]
    * draw over `key#replicate#seed` — partition-independent,
    * idempotent, and replayable in any engine ([[poisson1Cdf]]).
    *
    * Exactness (`exact = true`, the q232 oracle contract): replicate
    * sums are round-then-DECIMAL(38,9); replicate means are
    * exact-ratio doubles; the CI is order statistics of the B means
    * (`floor(α/2·(B−1))` trimmed from each end) and the bootstrap SE
    * folds over the ASCENDING means — every step bit-replayable.
    * `exact = false` keeps the SAME draws but accumulates plain double
    * sums (the production form — differential-spec'd to agree with
    * the exact CI to 6 decimals). The only driver work is one row of
    * 2·B+2 aggregates. Returns one row:
    * `(n, mean, boot_lo, boot_hi, boot_se)`.
    */
  def poissonBootstrapCI(
      df: DataFrame, valueCol: String, keyCol: String,
      reps: Int = 40, seed: String = "boot",
      alpha: Double = 0.05,
      uniform: (Column, Column) => Column =
        graft.core.PortableHash.uniform01,
      exact: Boolean = true,
      parallelism: Option[Int] = None): DataFrame = {
    require(reps >= 4, s"need reps >= 4, got $reps")
    require(alpha > 0 && alpha < 1, s"need 0 < alpha < 1, got $alpha")
    val spark = df.sparkSession
    import spark.implicits._
    val v = col(valueCol).cast("double")
    val base0 = df.filter(v.isNotNull)
      .select(col(keyCol).cast("string").as("__k"), v.as("__v"))
    // the draw work is CPU-bound per row; when the source can't split
    // (a single parquet row group — the local bench fixture), an
    // explicit repartition of the NARROW (key, value) projection buys
    // full-core fan-out for a ~25-byte/row shuffle. On a real corpus
    // the scan supplies thousands of splits — None now applies the
    // scale-adaptive form, which fans out ONLY in the single-split
    // case (a structural no-op at scale).
    val base = parallelism.map(base0.repartition(_))
      .getOrElse(graft.core.PlanOps.fanOutSmall(base0))
    // exact accumulation vs production doubles: see
    // [[poissonBootstrapCIByGroup]] — same draws either way, only the
    // replicate-sum buffer type changes.
    def d9(c: Column) =
      if (exact) sum(round(c, 9).cast("decimal(38,9)")).cast("double")
      else sum(c)
    // stage the draws, THEN the weights, as two projections: the
    // inverse-CDF when-chain references its uniform in every branch,
    // and Spark's subexpression elimination skips conditionally
    // evaluated branches — inlining `u` in the chain re-hashed each
    // draw up to 6× (measured: the whole row 9.7 s at sf0.1; staged
    // draws land it at ~1 s with bit-identical output). Same reason
    // the weights are staged before the aggregates (r7: 14.7 s when
    // every weight fed two agg buffers and paid its hash twice).
    val us = base.select(
      col("__v") +: (0 until reps).map(b =>
        bootstrapDraw(col("__k"), lit(b), seed, uniform).as(s"__u$b")): _*)
    val weighted = us.select(
      col("__v") +: (0 until reps).map(b =>
        poissonWeight(col(s"__u$b")).as(s"__w$b")): _*)
    val aggs =
      Seq(count(lit(1)).as("__n"), d9(col("__v")).as("__sv")) ++
        (0 until reps).flatMap(b => Seq(
          d9(col(s"__w$b").cast("double") * col("__v")).as(s"__s$b"),
          sum(col(s"__w$b").cast("long")).as(s"__c$b")))
    val r = weighted.agg(aggs.head, aggs.tail: _*).head()
    val n = r.getLong(0)
    require(n > 0, "poissonBootstrapCI: no non-null values")
    val mean = r.getDouble(1) / n.toDouble
    val (lo, hi, se) = bootstrapInterval((0 until reps).flatMap { b =>
      val c = r.getLong(2 + 2 * b + 1)
      if (c == 0) None
      else Some(r.getDouble(2 + 2 * b) / c.toDouble)
    }, alpha)
    Seq((n, mean, lo, hi, se))
      .toDF("n", "mean", "boot_lo", "boot_hi", "boot_se")
  }

  /** `(lo, hi, se)` of a non-empty set of bootstrap replicate means:
    * the percentile interval of the ascending means with
    * `floor(α/2·(B−1))` trimmed from each end, and the bootstrap SE
    * folded over the ascending means — the one definition the batch
    * CI and the streaming gauge share, so both replay bit-for-bit.
    */
  private[graft] def bootstrapInterval(
      replicateMeans: IndexedSeq[Double], alpha: Double): (Double, Double, Double) = {
    val means = replicateMeans.sorted
    val b = means.length
    val k = math.floor(alpha / 2.0 * (b - 1)).toInt
    val mm = means.reduceLeft(_ + _) / b
    val se =
      if (b > 1)
        math.sqrt(means.map(m => (m - mm) * (m - mm)).reduceLeft(_ + _)
          / (b - 1))
      else 0.0
    (means(k), means(b - 1 - k), se)
  }
}
