package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset profiling (the Deequ/data-quality shape): per-column
  * completeness and domain statistics computed in ONE pass, emitted as
  * a stats dim of |columns| rows.
  *
  * Scale notes: the single aggregation carries (4 × |columns|) partial
  * cells; the exact distinct counts ride Spark's EXPAND strategy (one
  * shuffle, input × |distinct-aggs| rows). For very wide tables or
  * when approximate distincts suffice, swap the `countDistinct` cells
  * for [[SketchOps.hllRegistersBy]] estimates — the profile schema is
  * unchanged. min/max are cast to string so heterogeneous column
  * types share one stats frame (binary/UTF8 comparison semantics are
  * identical in Spark and the DuckDB oracle).
  */
object ProfileOps {

  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column to profile")
    val aggs = Seq(count(lit(1)).as("__n")) ++ cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__null_$c"),
        countDistinct(col(c)).as(s"__dist_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stats = array(cols.map { c =>
      struct(
        lit(c).as("col_name"),
        col("__n").as("n_rows"),
        col(s"__null_$c").as("n_null"),
        col(s"__dist_$c").as("n_distinct"),
        col(s"__min_$c").as("min_val"),
        col(s"__max_$c").as("max_val"))
    }: _*)
    one.select(explode(stats).as("s")).select("s.*")
  }

  /** K-ANONYMITY audit (Sweeney 2002) over a quasi-identifier column
    * set: every combination whose group is smaller than `k` — the rows
    * a release would expose to re-identification by joining the
    * quasi-identifiers against an external source. The privacy-side
    * complement of [[graft.ops.CurationOps]]'s PII scrub: scrubbing
    * removes DIRECT identifiers; this measures how identifying the
    * remaining demographic columns still are.
    *
    * Output: `(quasiCols..., group_n)` for violating groups only —
    * at release scale the violations are the tail, so the output is
    * small even when the table is not. One keyed count with map-side
    * combine; NULLs form their own equivalence class (grouping
    * semantics), which is the conservative audit choice.
    */
  def kAnonymityViolations(
      df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    require(k >= 2, s"k must be >= 2, got $k")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_n"))
      .filter(col("group_n") < k)
  }

  /** L-DIVERSITY violation audit — k-anonymity's sharper sibling
    * ([[kAnonymityViolations]]): a class can hold ≥ k members yet
    * still leak the SENSITIVE attribute if they all share one value
    * (homogeneity attack — "everyone in that ZIP+age class has the
    * same diagnosis"). Flags equivalence classes over `quasiCols`
    * whose sensitive column takes fewer than `l` distinct values.
    * One keyed count+distinct (map-side combined); output is the
    * violating tail only; NULL sensitive values count as a value
    * (they are an observable outcome — the conservative choice,
    * matching the NULL-class grouping convention).
    */
  def lDiversityViolations(
      df: DataFrame, quasiCols: Seq[String], sensitiveCol: String,
      l: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    require(l >= 2, s"l must be >= 2, got $l")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_n"),
        // count(DISTINCT) skips NULLs in every engine; add the NULL
        // "value" back explicitly (no sentinel collisions, no
        // collect_set memory on high-cardinality sensitive columns)
        (countDistinct(col(sensitiveCol)) +
          max(when(col(sensitiveCol).isNull, 1L).otherwise(0L)))
          .as("distinct_sensitive"))
      .filter(col("distinct_sensitive") < l)
  }

  /** ε-DIFFERENTIALLY-PRIVATE group counts (Dwork et al. 2006): the
    * sensitivity-1 counting query released with Laplace(1/ε) noise —
    * the mechanism behind every private data-release dashboard, and
    * the third rung of the privacy ladder after [[kAnonymityViolations]]
    * (who is exposed) and [[lDiversityViolations]] (what leaks). The
    * noise draw is the key-derived inverse CDF
    * `−b·sgn(u−½)·ln(1−2|u−½|)` over
    * [[graft.core.PortableHash.uniform01]]`(group#salt)` — per the
    * engine randomness rule (SURVEY §7.4.2) it is partition-independent
    * and replayable in any engine, which also makes the release
    * IDEMPOTENT: re-running the pipeline re-releases the same noisy
    * value instead of spending fresh ε each run.
    *
    * One keyed count (map-side combined) + row-local noise — no extra
    * exchange at any scale. NULL groups form their own class.
    */
  def dpCounts(
      df: DataFrame, groupCol: String, epsilon: Double,
      salt: String): DataFrame = {
    require(epsilon > 0, s"epsilon must be positive, got $epsilon")
    val u = graft.core.PortableHash.uniform01(col(groupCol), lit(salt))
    df.groupBy(groupCol)
      .agg(count(lit(1)).as("__n"))
      .select(col(groupCol),
        (col("__n").cast("double") -
          lit(1.0 / epsilon) * signum(u - 0.5) *
            log(lit(1.0) - lit(2.0) * abs(u - 0.5))).as("noisy_count"))
  }

  /** ε-DP CLIPPED MEAN per group — the second standard release after
    * [[dpCounts]]: each contribution is CLIPPED to `[clipLo, clipHi]`
    * (bounding the sum's sensitivity to `max(|lo|,|hi|)` — without the
    * clip one outlier user re-identifies itself through the mean),
    * then sum and count are released with Laplace noise under an
    * ε/2 + ε/2 budget split and the mean is the post-processed ratio
    * (post-processing is free under DP). Draws are key-derived over
    * `group#salt#sum` / `group#salt#cnt` — idempotent re-release, no
    * fresh ε spent on re-runs, engine-replayable.
    *
    * The clipped sum accumulates as round-then-DECIMAL(38,9) so the
    * pre-noise statistic is bit-identical everywhere; one keyed agg,
    * row-local noise.
    */
  def dpMean(
      df: DataFrame, groupCol: String, valueCol: String, epsilon: Double,
      clipLo: Double, clipHi: Double, salt: String): DataFrame = {
    require(epsilon > 0, s"epsilon must be positive, got $epsilon")
    require(clipLo < clipHi, s"need clipLo < clipHi, got [$clipLo, $clipHi]")
    val sensSum = math.max(math.abs(clipLo), math.abs(clipHi))
    def lap(tag: String, b: Double): Column = {
      val u = graft.core.PortableHash.uniform01(col(groupCol),
        lit(s"$salt#$tag"))
      lit(-b) * signum(u - 0.5) * log(lit(1.0) - lit(2.0) * abs(u - 0.5))
    }
    val v = greatest(lit(clipLo),
      least(lit(clipHi), col(valueCol).cast("double")))
    df.filter(col(valueCol).isNotNull)
      .groupBy(groupCol)
      .agg(count(lit(1)).as("__n"),
        sum(round(v, 9).cast("decimal(38,9)")).cast("double").as("__s"))
      .select(col(groupCol),
        (col("__s") + lap("sum", sensSum / (epsilon / 2.0))).as("noisy_sum"),
        (col("__n").cast("double") + lap("cnt", 1.0 / (epsilon / 2.0)))
          .as("noisy_count"))
      .withColumn("noisy_mean",
        col("noisy_sum") / greatest(lit(1.0), col("noisy_count")))
  }

  /** RFM SCORING (recency / frequency / monetary — the classic
    * customer-value segmentation): per key, days since the last
    * transaction (relative to the corpus max date), transaction
    * count, and exact DECIMAL-summed spend, each bucketed into
    * five quantile scores 1..5 (higher = better: more
    * recent, more frequent, bigger spend). Ties break on the key, so
    * every score is deterministic under any partitioning.
    *
    * Scale shape: one keyed aggregation to the per-key metric frame,
    * then each score is a RANGE-PARTITIONED sort + dense row index
    * ([[graft.ops.JoinOps.withRowIndex]] — the gini pattern, NO
    * single-partition ntile window), `score = ⌊idx·5/n⌋ + 1`;
    * three key-equi-joins reassemble. The corpus max date rides a
    * 1-row broadcast.
    *
    * Output: `(key, recency_days, frequency, monetary, r_score,
    * f_score, m_score, segment)` with `segment = r·100 + f·10 + m`.
    */
  def rfmScores(
      df: DataFrame, keyCol: String, tsCol: String, amountCol: String): DataFrame = {
    val perKey = df.groupBy(col(keyCol).as("k"))
      .agg(max(col(tsCol)).as("__last"),
        count(lit(1)).as("frequency"),
        sum(col(amountCol).cast("decimal(38,6)")).cast("double")
          .as("monetary"))
    val maxTs = df.agg(max(col(tsCol)).as("__maxTs"))
    val base = perKey.crossJoin(broadcast(maxTs))
      .select(col("k"),
        datediff(col("__maxTs"), col("__last")).as("recency_days"),
        col("frequency"), col("monetary"))
      .persist()
    val n = base.count()
    // ONE stacked rank pass for all three scores (r15, the spearman
    // fusion; guide §2.4): metric m contributes the same n rows ordered
    // by (m, sort value, k), so its 0-based per-metric index is the
    // GLOBAL sorted row index − m·n — exact long arithmetic, identical
    // scores. One range sort + one zipWithIndex (the external-Row
    // conversion runs ONCE over 3n rows instead of three times), and
    // the former base ⋈ r ⋈ f ⋈ m reassembly collapses to one keyed
    // aggregation — every carried column is functionally dependent on
    // k. Sort direction folds into the sort value (recency scores
    // stale→1, so DESC ⇒ negate); int/long sort keys are exact as
    // doubles (counts beyond 2^53 per key would be the same caveat
    // class as row_number's own 2^31 bound).
    def leg(m: Int, sv: Column) = base.select(lit(m.toLong).as("__m"),
      sv.cast("double").as("__sv"), col("k"), col("recency_days"),
      col("frequency"), col("monetary"))
    val stacked = leg(0, -col("recency_days"))
      .unionAll(leg(1, col("frequency")))
      .unionAll(leg(2, col("monetary")))
      .sort(col("__m"), col("__sv"), col("k"))
    val scoredAll = JoinOps.withRowIndex(stacked, "__gi")
      .select(col("__m"), col("k"), col("recency_days"), col("frequency"),
        col("monetary"),
        (floor((col("__gi") - col("__m") * n).cast("double") * 5 /
          n.toDouble) + 1).cast("int").as("__score"))
    def sc(m: Int) = max(when(col("__m") === m, col("__score")))
    scoredAll.groupBy(col("k"))
      .agg(max(col("recency_days")).as("recency_days"),
        max(col("frequency")).as("frequency"),
        max(col("monetary")).as("monetary"),
        sc(0).as("r_score"), sc(1).as("f_score"), sc(2).as("m_score"))
      .select(col("k").as(keyCol), col("recency_days"), col("frequency"),
        col("monetary"), col("r_score"), col("f_score"), col("m_score"),
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
          .as("segment"))
  }

  /** ABC / PARETO CLASSIFICATION — the 80/15/5 inventory cut: items
    * ranked by exact integer metric (micros), class A while the
    * cumulative total sits within 80% of the grand total, B
    * within 95%, C beyond. Both thresholds compare as INTEGER
    * cross-products (`cum·100 ≤ tot·80`) — no floating boundary can
    * flip an item between engines. Ranks come from the
    * range-partitioned sorted row index + [[graft.ops.StatsOps
    * .runningTotals]] prefix sums (the gini pattern — NO
    * unpartitioned window at any item count); ties break on the item.
    *
    * `metricMicros` must be a non-negative long (pre-scaled exact
    * units — e.g. `round(x, 6)·10⁶`).
    */
  def abcClassify(
      df: DataFrame, itemCol: String, metricMicrosCol: String): DataFrame = {
    val items = df.groupBy(col(itemCol))
      .agg(sum(col(metricMicrosCol)).as("metric_micros"))
    // order by metric desc (negated metric ascending), item tiebreak —
    // the running prefix walks the Pareto curve front-to-back
    // deterministically even through equal metrics
    val sorted = items.withColumn("__neg", -col("metric_micros"))
    val cum = StatsOps.runningTotalsBy(sorted, Seq("__neg", itemCol),
      Seq("metric_micros"))
    val tot = items.agg(sum(col("metric_micros")).as("__tot"))
    cum.crossJoin(broadcast(tot))
      .select(col(itemCol), col("metric_micros"),
        col("metric_micros_cum").as("cum_micros"),
        when(col("metric_micros_cum") * 100 <= col("__tot") * 80, "A")
          .when(col("metric_micros_cum") * 100 <= col("__tot") * 95, "B")
          .otherwise("C").as("abc_class"))
  }

  /** DECILE GAINS / LIFT TABLE — the targeting-model report card:
    * rank units by score (desc, id tiebreak), split into `buckets`
    * equal slices by rank, and per slice report the response rate,
    * the cumulative share of all responders captured, and the lift
    * over the base rate. Every number derives from integer counts
    * and the deterministic rank, so the table replays exactly. Ranks
    * and cumulative counts ride the range-partitioned row-index +
    * prefix-sum machinery (NO unpartitioned window).
    */
  def gainsTable(
      df: DataFrame, idCol: String, scoreCol: String,
      responseCol: String, buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val base = df.select(col(idCol).as("__id"),
      col(scoreCol).cast("double").as("__score"),
      when(col(responseCol), 1L).otherwise(0L).as("__resp"))
      .filter(col("__score").isNotNull)
    val sorted = base.withColumn("__neg", -col("__score"))
      .sort(col("__neg"), col("__id"))
    val idx = graft.ops.JoinOps.withRowIndex(sorted, "__idx")
    val tot = base.agg(count(lit(1)).as("__n"), sum(col("__resp")).as("__r"))
    val d = (c: org.apache.spark.sql.Column) => c.cast("double")
    val bucketed = idx.crossJoin(broadcast(tot))
      .withColumn("bucket",
        floor(d(col("__idx")) * buckets / d(col("__n"))).cast("int") + 1)
    val per = bucketed.groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(col("__resp")).as("responders"),
        max(col("__n")).as("__n"), max(col("__r")).as("__r"))
    val cum = StatsOps.runningTotals(
      per.sort("bucket"), "bucket", Seq("responders"))
    cum.select(col("bucket"), col("n"), col("responders"),
      (d(col("responders")) / d(col("n"))).as("response_rate"),
      when(col("__r") > 0, d(col("responders_cum")) / d(col("__r")))
        .as("cum_capture"),
      when(col("__r") > 0,
        (d(col("responders")) / d(col("n"))) / (d(col("__r")) / d(col("__n"))))
        .as("lift"))
  }

  /** TOP-N + OTHER contribution table — the BI staple ("which sources
    * carry the corpus?"): categories ranked by their exact DECIMAL
    * metric sum, the top `n` kept by name, everything else collapsed
    * into a single `__other__` row, each with its share of the grand
    * total and the running cumulative share in rank order. Rank ties
    * break on the category (deterministic cut). One category-keyed
    * sum (map-side combined) then constant-size math on the
    * |categories| dim — the output is ≤ n+1 rows at any corpus size.
    */
  def topNWithOther(
      df: DataFrame, catCol: String, valueCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val sums = df.groupBy(col(catCol).cast("string").as("category"))
      .agg(sum(round(col(valueCol).cast("double"), 6)
        .cast("decimal(38,6)")).as("__v"))
    // rank over the category dim via the range-partitioned row-index
    // pattern (r15, VERDICT r14 #6): the former global `Window.orderBy`
    // moved the WHOLE dim to one partition — usually small, but
    // nothing bounds |categories| at 100 TB (a high-cardinality
    // catCol is a caller choice, not an error). row_number over
    // (v desc, category) ≡ 1 + range-sorted row index: ties are fully
    // broken, so the ranks are identical.
    val ranked = graft.ops.JoinOps
      .withRowIndex(sums.sort(col("__v").desc, col("category")), "__ri")
      // INT like row_number() was — the emitted schema is part of the
      // oracle contract (row_number's own 2^31 bound applies either way)
      .withColumn("__rk", (col("__ri") + 1).cast("int")).drop("__ri")
      .withColumn("category",
        when(col("__rk") <= n, col("category")).otherwise("__other__"))
      .groupBy("category")
      .agg(sum(col("__v")).as("__v"), min(col("__rk")).as("__rk"))
    val tot = ranked.agg(sum(col("__v")).as("__tot"))
    // this one runs on ≤ n+1 rows BY CONSTRUCTION (the groupBy above
    // collapsed everything past rank n into "__other__"), so the
    // single-partition window is bounded by the caller's n, not the
    // data — the documented bounded-input exception
    val w2 = org.apache.spark.sql.expressions.Window
      .orderBy(col("__rk"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    ranked.crossJoin(broadcast(tot))
      .withColumn("__cum", sum(col("__v")).over(w2))
      .select(col("category"), col("__rk").as("rank"),
        col("__v").cast("double").as("total"),
        (col("__v").cast("double") / col("__tot").cast("double"))
          .as("share"),
        (col("__cum").cast("double") / col("__tot").cast("double"))
          .as("cum_share"))
  }

  /** One-row summary of a table's k-anonymity posture: total
    * equivalence classes, violating classes, rows at risk, and the
    * minimum class size (the table's EFFECTIVE k — the largest k the
    * release actually satisfies). Derived from the same single keyed
    * count as [[kAnonymityViolations]]; the summary agg sees one row
    * per class.
    */
  def kAnonymitySummary(
      df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    require(k >= 2, s"k must be >= 2, got $k")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_n"))
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("group_n") < k, 1L).otherwise(0L))
          .as("n_violating_classes"),
        sum(when(col("group_n") < k, col("group_n")).otherwise(0L))
          .as("n_rows_at_risk"),
        min(col("group_n")).as("effective_k"))
  }
}
