package graft.streaming

import org.apache.spark.sql.DataFrame

/** Spec-side views of [[StreamingOps.runToMemoryStats]]. */
object StreamingHarness {

  /** Drain a streaming DataFrame into an in-memory table synchronously
    * and return the materialized result.
    */
  def runToMemory(df: DataFrame, name: String, outputMode: String): DataFrame =
    runToMemoryMaxState(df, name, outputMode)._1

  /** [[runToMemory]] plus the MAX state rows across the run's progress
    * reports, so a spec can ASSERT the bounded-state claim instead of
    * just recording it.
    */
  def runToMemoryMaxState(
      df: DataFrame, name: String, outputMode: String): (DataFrame, Long) =
    StreamingOps.runToMemoryStats(df, name, outputMode) match { case (t, s, _) => (t, s) }
}
