package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class JoinOpsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("positionalJoin pairs rows by position (OP-22)") {
    val a = Seq("x", "y", "z").toDF("l")
    val b = Seq(10, 20, 30).toDF("r")
    val got = JoinOps.positionalJoin(a, b).as[(String, Int)].collect().toSet
    assert(got == Set(("x", 10), ("y", 20), ("z", 30)))
  }

  test("withRowIndex is dense and 0-based") {
    val df = (0 until 100).map(i => s"r$i").toDF("v")
    val idx = JoinOps.withRowIndex(df).select("row_index").as[Long].collect().sorted
    assert(idx.toSeq == (0L until 100L))
  }
}
