package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class VectorMathSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("softmax sums to 1 and matches direct computation") {
    val df = Seq(Seq(1.0f, 2.0f, 3.0f), Seq(-5.0f, 0.0f, 5.0f)).toDF("v")
    val got = df.select(VectorOps.softmax(col("v"))).as[Seq[Double]].collect()
    got.foreach { s => assert(math.abs(s.sum - 1.0) < 1e-12) }
    val expect = Seq(1.0, 2.0, 3.0).map(x => math.exp(x - 3.0))
    val z = expect.sum
    got(0).zip(expect.map(_ / z)).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
  }

  test("gelu matches erf-gelu reference values") {
    // gelu(0)=0, gelu(large)≈x, gelu(-large)≈0, gelu(1)≈0.8413*1
    val df = Seq(0.0, 1.0, 3.0, -3.0).toDF("x")
    val got = df.select(VectorOps.gelu(col("x"))).as[Double].collect().toSeq
    assert(got(0) == 0.0)
    assert(math.abs(got(1) - 0.841345) < 1e-4)
    assert(math.abs(got(2) - 2.99596) < 1e-3)
    assert(math.abs(got(3) - (-0.00405)) < 1e-3)
  }

  test("l2Normalize produces unit vectors; zero vector unchanged") {
    val df = Seq(Seq(3.0f, 4.0f), Seq(0.0f, 0.0f)).toDF("v")
    val got = df.select(VectorOps.l2Normalize(col("v"))).as[Seq[Double]].collect()
    assert(got(0) == Seq(0.6, 0.8))
    assert(got(1) == Seq(0.0, 0.0))
  }

  test("ema follows the reference recursion e = d*e + (1-d)*x") {
    val xs = Seq(10.0, 20.0, 30.0, 40.0)
    val df = xs.zipWithIndex.map { case (x, i) => (i, x) }.toDF("t", "x")
    val w = Window.orderBy("t")
    val got = df.select(col("t"), VectorOps.ema(col("x"), 0.9, w).as("e"))
      .orderBy("t").as[(Int, Double)].collect().map(_._2)
    var e = xs.head
    val expect = xs.head +: xs.tail.map { x => e = e * 0.9 + x * 0.1; e }
    got.zip(expect).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
  }
}
