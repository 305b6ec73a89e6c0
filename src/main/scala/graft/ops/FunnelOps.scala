package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Event-sequence analytics over the events table (SURVEY §2 extension:
  * the conversion/retention shapes every behavioral-analytics engine
  * ships; the reference's training-metrics plumbing has no equivalent,
  * so these are engine extensions like q38/q83).
  *
  * Scale design: every pass shuffles on the USER key only — after the
  * first aggregation the frames are co-partitioned on `userCol`, so
  * the per-step joins reuse the partitioning (no re-exchange under
  * AQE), and the outputs are step/bucket-sized dims, never
  * event-sized.
  */
object FunnelOps {

  /** Ordered-funnel completion counts: for `steps = Seq(s1, s2, ...)`,
    * a user completes step i when an event of type `steps(i)` occurs
    * AT OR AFTER the user's completion time of step i-1 (first
    * qualifying occurrence, `min`). Emits one row per step with the
    * number of users who completed through it — the classic
    * monotonically-decreasing conversion funnel.
    *
    * Each step is one aggregation + one co-partitioned join over the
    * events PRUNED to that step's type — k tiny passes (k = funnel
    * length) beats a per-user sort+fold when the funnel is short, and
    * every intermediate is a (user, ts) pair frame, never wider.
    */
  def funnelCounts(
      events: DataFrame, userCol: String, tsCol: String, typeCol: String,
      steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct == steps, s"funnel steps must be distinct: $steps")

    // (user, completion ts) per step; step i filtered to ts >= step i-1
    val completions = steps.zipWithIndex
      .scanLeft(Option.empty[DataFrame]) { case (prevOpt, (step, _)) =>
        val stepEvents = events
          .filter(col(typeCol) === step)
          .select(col(userCol), col(tsCol))
        val qualified = prevOpt match {
          case None => stepEvents
          case Some(prev) =>
            stepEvents.join(prev.select(col(userCol), col(tsCol).as("__prev_ts")),
                Seq(userCol))
              .filter(col(tsCol) >= col("__prev_ts"))
              .select(col(userCol), col(tsCol))
        }
        Some(qualified.groupBy(userCol).agg(min(tsCol).as(tsCol)))
      }
      .flatten

    completions.zip(steps).zipWithIndex
      .map { case ((frame, step), i) =>
        frame.agg(count(lit(1)).as("n_users"))
          .select(lit(step).as("step"), lit(i + 1).as("step_idx"),
            col("n_users"))
      }
      .reduce(_ unionByName _)
  }

  /** Gap-constrained funnel (ClickHouse `windowFunnel` semantics): a
    * user reaches level k when SOME step-1 event (the anchor) is
    * followed by steps 2..k in order, ALL inside the anchor's
    * `[t1, t1 + windowUs)` window. Emits one row per level with the
    * distinct-user count.
    *
    * Greedy-min chaining is exact for the existence question: taking
    * the EARLIEST qualifying occurrence of each step leaves maximal
    * room in the window for the rest, so a user completes level k via
    * the greedy chain iff they complete it at all.
    *
    * Scale path: each level is one [[JoinOps.rangeJoinBucketed]] of
    * the step's (user, ts) events against the live (anchor chain-time,
    * window-end) intervals — never a per-user cross product — followed
    * by a (user, anchor)-keyed min. Intermediates carry three longs
    * per live anchor; anchors that miss a step drop out of later
    * levels entirely.
    */
  def windowFunnel(
      events: DataFrame, userCol: String, tsCol: String, typeCol: String,
      steps: Seq[String], windowUs: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct == steps, s"funnel steps must be distinct: $steps")
    require(windowUs > 0, s"windowUs must be positive, got $windowUs")
    val evs = events.select(col(userCol),
      unix_micros(col(tsCol)).as("__t"), col(typeCol))

    val anchors = evs.filter(col(typeCol) === steps.head)
      .select(col(userCol), col("__t").as("__anchor"),
        col("__t").as("__chain"))
    val levels = steps.tail.scanLeft(anchors) { (live, step) =>
      val pts = evs.filter(col(typeCol) === step)
        .select(col(userCol), col("__t").as("__pt"))
      val ivs = live.select(col(userCol), col("__anchor"),
        col("__chain").as("__lo"), (col("__anchor") + windowUs).as("__hi"))
      JoinOps.rangeJoinBucketed(pts, ivs, userCol,
          "__pt", "__lo", "__hi", cellWidth = windowUs)
        .groupBy(userCol, "__anchor").agg(min(col("__pt")).as("__chain"))
    }
    levels.zip(steps).zipWithIndex.map { case ((frame, step), i) =>
      frame.agg(countDistinct(col(userCol)).as("n_users"))
        .select(lit(step).as("step"), lit(i + 1).as("step_idx"), col("n_users"))
    }.reduce(_ unionByName _)
  }

  /** The epoch-aligned `bucketSeconds` bucket of a timestamp: an
    * integer division of its epoch micros, exact on any engine. */
  private def bucketOf(ts: Column, bucketSeconds: Long): Column =
    floor(unix_micros(ts) / (bucketSeconds * 1000000L))

  /** `(userCol, cohort)`: each user's cohort, the bucket of their
    * first event (any type). */
  private def cohorts(
      events: DataFrame, userCol: String, tsCol: String,
      bucketSeconds: Long): DataFrame = {
    require(bucketSeconds > 0, s"bucketSeconds must be positive")
    events
      .groupBy(userCol).agg(min(col(tsCol)).as("__first_ts"))
      .select(col(userCol), bucketOf(col("__first_ts"), bucketSeconds).as("cohort"))
  }

  /** Cohort retention grid: users cohorted by the time bucket of their
    * FIRST event (any type), then for every (cohort, later-or-equal
    * activity bucket) the count of distinct cohort users active in
    * that bucket, plus the period index (activity - cohort in
    * buckets). `bucketSeconds` is the cohort granularity (86400 = daily,
    * 604800 = weekly). Buckets are epoch-aligned integer divisions of
    * the epoch-micros timestamp, so the grid replays exactly anywhere.
    *
    * Two user-keyed shuffles (first-seen agg + cohort join back) and
    * one grid-keyed count-distinct; output is |cohorts| × |periods|,
    * independent of event volume.
    */
  def cohortRetention(
      events: DataFrame, userCol: String, tsCol: String,
      bucketSeconds: Long): DataFrame = {
    val firstSeen = cohorts(events, userCol, tsCol, bucketSeconds)
    events
      .select(col(userCol), bucketOf(col(tsCol), bucketSeconds).as("bucket"))
      .join(firstSeen, Seq(userCol))
      .groupBy("cohort", "bucket")
      .agg(countDistinct(userCol).as("n_active"))
      .select(col("cohort"), (col("bucket") - col("cohort")).as("period"),
        col("n_active"))
  }

  /** Cohort LTV curve — [[cohortRetention]]'s revenue sibling: users
    * cohorted by first-seen bucket, revenue (`valueCol` summed over
    * `revenueType` events) attributed to the (cohort, age-in-buckets)
    * cell, and the CUMULATIVE per-user lifetime value by age:
    * `cum_ltv = running Σ revenue / cohort size` — the payback-curve
    * table growth teams read ("week-3 LTV of the January cohort").
    *
    * Revenue sums are round(·, 6)-then-DECIMAL (exact, order-free);
    * the running sum is one cohort-keyed window over the tiny
    * (cohort × age) grid; cohort sizes ride a broadcast equi-join.
    * Ages with zero revenue but activity still appear (revenue 0);
    * buckets with NO events at all are absent (gap-fill via
    * [[graft.ops.TrendOps.resampleInterpolate]] if a dense axis is
    * needed).
    */
  def cohortLtv(
      events: DataFrame, userCol: String, tsCol: String, valueCol: String,
      revenueType: String, typeCol: String,
      bucketSeconds: Long): DataFrame = {
    val firstSeen = cohorts(events, userCol, tsCol, bucketSeconds)
    val sizes = firstSeen.groupBy("cohort")
      .agg(count(lit(1)).as("n_users"))
    val grid = events
      .select(col(userCol), bucketOf(col(tsCol), bucketSeconds).as("bucket"),
        when(col(typeCol) === revenueType,
          round(col(valueCol).cast("double"), 6).cast("decimal(38,6)"))
          .otherwise(lit(BigDecimal(0)).cast("decimal(38,6)")).as("__v"))
      .join(firstSeen, Seq(userCol))
      .groupBy(col("cohort"), (col("bucket") - col("cohort")).as("age"))
      .agg(sum(col("__v")).as("__rev"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cohort").orderBy("age")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    grid
      .withColumn("__cum", sum(col("__rev")).over(w))
      .join(broadcast(sizes), Seq("cohort"))
      .select(col("cohort"), col("age"), col("n_users"),
        col("__rev").cast("double").as("revenue"),
        (col("__cum").cast("double") / col("n_users").cast("double"))
          .as("cum_ltv_per_user"))
  }
}
