package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs.tempDir

/** Verify's dump leaves `$outDir/$name` only for a query that wrote its
  * whole result, so `tools/check.py` reports a failed query as "no spark
  * output" rather than diffing a partial or stale directory.
  */
class VerifySpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private type Query = (SparkSession, String) => DataFrame

  private val good: Query = (s, _) => s.range(0, 10, 1, 2).toDF("id")

  private def staleOutput(out: Path, name: String): Path = {
    val dir = Files.createDirectories(out.resolve(name))
    Files.write(dir.resolve("part-00000-stale.parquet"), "stale rows".getBytes)
    dir
  }

  test("a query that throws while planning removes an earlier run's output") {
    val out = tempDir()
    val stale = staleOutput(out, "q_plan")
    val planFails: Query = (s, _) => s.range(3).select(col("no_such_column"))
    Verify.dump(spark, "unused", out.toString, Seq("q_plan" -> planFails, "q_good" -> good))
    assert(!Files.exists(stale), "stale output survived a failed query")
    assert(spark.read.parquet(out.resolve("q_good").toString).count() == 10)
  }

  test("a query that throws mid-write leaves no partial directory") {
    val out = tempDir()
    staleOutput(out, "q_write")
    val writeFails: Query = (s, _) => s.range(0, 1000, 1, 1)
      .select(when(col("id") === 500, raise_error(lit("boom at row 500")))
        .otherwise(col("id")).as("id"))
    Verify.dump(spark, "unused", out.toString, Seq("q_write" -> writeFails))
    assert(!Files.exists(out.resolve("q_write")), "partial output survived a failed write")
  }
}
