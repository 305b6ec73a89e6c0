package graft
import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.GraftSession
import java.io.File
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local
    // iteration only — the driver always calls the 2-arg full form)
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, None)
      case Array(a, b, c) => (a, b, Some(c.split(",").toSet))
    }
    val selected = (name: String) => only.forall(_.contains(name))
    val spark = GraftSession.build(appName = "graft-verify")
    new File(outDir).mkdirs()
    dump(spark, sfDir, outDir, SparkEntry.queries.filter { case (name, _) => selected(name) })
    val mapper = new ObjectMapper()
    val json = mapper.createObjectNode()
    SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .foreach { case (k, v) => json.put(k, v) }
    mapper.writeValue(new File(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Write each query's result to `$outDir/$name`. A query that throws,
    * while planning or mid-write, leaves no directory there: neither a
    * partial write nor an earlier run's output, so the compare reports
    * the missing Spark output instead of diffing stale rows.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Iterable[(String, (SparkSession, String) => DataFrame)]): Unit =
    queries.foreach { case (name, fn) =>
      val out = new Path(s"$outDir/$name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(out.toString)
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        out.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(out, true)
      }
      // queries may persist stage boundaries (q59); don't let caches
      // ride into later queries
      spark.sharedState.cacheManager.clearCache()
    }
}
