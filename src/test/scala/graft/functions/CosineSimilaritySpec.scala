package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.ops.VectorOps

class CosineSimilaritySpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def randVec(seed: Int, n: Int): Seq[Float] = {
    val r = new scala.util.Random(seed)
    Seq.fill(n)(r.nextFloat() * 2 - 1)
  }

  test("fused expression is bit-identical to the composable HOF formulation") {
    val df = (0 until 50).map(i => (randVec(i, 64), randVec(i + 1000, 64))).toDF("a", "b")
    val rows = df.select(
      CosineSimilarity.cosineFused(col("a"), col("b")).as("fused"),
      (VectorOps.dot(col("a"), col("b")) /
        (VectorOps.l2Norm(col("a")) * VectorOps.l2Norm(col("b")))).as("hof"))
      .as[(Double, Double)].collect()
    rows.foreach { case (f, h) => assert(f == h, s"fused $f != hof $h") }
  }

  test("zero-norm and null handling") {
    val df = Seq(
      (Some(Seq(0.0f, 0.0f)), Some(Seq(1.0f, 2.0f))),
      (None, Some(Seq(1.0f, 2.0f)))
    ).toDF("a", "b")
    val got = df.select(CosineSimilarity.cosineFused(col("a"), col("b"))).as[Option[Double]].collect()
    assert(got(0).contains(0.0))
    assert(got(1).isEmpty, "null input propagates null")
  }

  test("SQL registration works and codegen path evaluates") {
    // a range, not a local Seq: the optimizer folds an expression over
    // a LocalRelation itself, so the generated code would never run
    val df = spark.range(1).select(
      array((col("id") + 1).cast("float"), col("id").cast("float")).as("a"))
    val v = df.select(CosineSimilarity.cosineFused(col("a"), col("a"))).as[Double].head()
    assert(v == 1.0)
  }
}
