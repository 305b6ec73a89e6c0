package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class VectorMathSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

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
