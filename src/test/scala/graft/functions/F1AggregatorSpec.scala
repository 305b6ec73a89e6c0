package graft.functions

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.TempDirs.tempDir
import graft.ops.EvalMetrics

/** The one-pass F1 aggregator vs the relational metric block. */
class F1AggregatorSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val pairs = Seq((0, 0), (1, 1), (1, 2), (2, 2), (3, 0), (0, 0))

  test("one-pass aggregator matches the relational f1Block exactly") {
    val ds = pairs.toDS()
    val (micro, macroF1, acc) = ds.select(F1Aggregator.toColumn).head()
    val rel = EvalMetrics.f1Block(pairs.toDF("pred", "label"), "pred", "label")
      .as[(Double, Double, Double)].head()
    assert(micro == rel._1)
    assert(macroF1 == rel._2)
    assert(acc == rel._3)
  }

  test("merge associativity: partitioned reduce equals single-partition reduce") {
    val a = pairs.toDS().repartition(4).select(F1Aggregator.toColumn).head()
    val b = pairs.toDS().coalesce(1).select(F1Aggregator.toColumn).head()
    assert(a == b)
  }

  test("streaming: same metrics from a file stream in complete mode") {
    val dir = tempDir().toFile.getAbsolutePath
    pairs.take(3).toDF("pred", "label").coalesce(1).write.mode("append").parquet(dir)
    pairs.drop(3).toDF("pred", "label").coalesce(1).write.mode("append").parquet(dir)

    val stream = spark.readStream
      .schema("pred INT, label INT")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .as[(Int, Int)]
      .select(F1Aggregator.toColumn.name("m"))
    val q = stream.writeStream.format("memory").queryName("f1_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("f1_stream").select("_1", "_2", "_3")
      .as[(Double, Double, Double)].head()
    val batch = pairs.toDS().select(F1Aggregator.toColumn).head()
    assert(got == batch)
  }
}
