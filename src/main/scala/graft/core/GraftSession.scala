package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Defaults are chosen for oracle-parity and local-mode determinism
  * (UTC, AQE on, shuffle partitions sized to cores, not 200) while the
  * same settings scale to a real cluster: AQE re-plans skew/coalesce at
  * runtime, and `shufflePartitions` is the only local-mode override.
  */
object GraftSession {

  /** Local core count for every entry point: `SPARK_GRAFT_CPUS`, or
    * the machine's processor count when unset.
    */
  private val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Build (or fetch) the engine session.
    *
    * @param master            Spark master; `local[cpus]` by default.
    * @param shufflePartitions number of shuffle partitions. On a real
    *                          cluster leave larger (AQE coalesces); in
    *                          local[N] match N so a 60k-row test run
    *                          doesn't schedule 200 empty tasks. The
    *                          default matches the default master.
    */
  def build(
      master: String = s"local[$cpus]",
      appName: String = "graft",
      shufflePartitions: Int = cpus
  ): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      // native expressions as SQL functions (cosine_sim, ...)
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet stores ts as TIMESTAMP(NANOS); Spark has no
      // nanosecond timestamp type — see Tables.events for the decode.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // generated-class cache sized to the engine's plan count (default
      // 100 entries): a many-plan single JVM (bench sweep, long verify
      // run) otherwise evicts and re-Janinos whole plan families, and
      // every re-load restarts JIT tiering from zero — measured at the
      // 100x fixture (round-12 PlanProbe): with the default cache 4 of
      // 8 identical-plan attempts ran 3-20x task-CPU in tier-down
      // windows; at 2000 entries 1 of 8. Classes are small; the cache
      // is bounded by plan count, not data. 2000 → 4000 (r14): the
      // 362-row r13 sweep crossed the 2000-entry line and evictions
      // landed on the last-run phase (2-9x streaming inflation, see
      // Bench/BASELINE).
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
