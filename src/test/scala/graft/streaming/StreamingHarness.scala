package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.TempDirs.tempDir

/** Spec-side stream fixtures and views of [[StreamingOps.runToMemoryStats]]. */
object StreamingHarness {

  /** Write `df` as ONE parquet file `name` into the stream directory
    * `dir`, modified at `mtimeMs`: a file stream source picks files up
    * in modification-time order, so the mtimes fix which rows land in
    * which micro-batch.
    */
  def writeStreamFile(df: DataFrame, dir: String, name: String, mtimeMs: Long): Unit = {
    val tmp = tempDir().toFile
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles()
      .find(f => f.getName.endsWith(".parquet") && f.length > 0).get
    val dst = new java.io.File(dir, name)
    java.nio.file.Files.copy(part.toPath, dst.toPath)
    dst.setLastModified(mtimeMs)
  }

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
