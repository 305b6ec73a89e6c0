package graft.ops

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class AsOfJoinSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def ts(min: Long): Timestamp = new Timestamp(min * 60000L)

  test("asOfJoin attaches the most recent right row at or before left.ts") {
    val left = Seq((1L, ts(10), "p1"), (1L, ts(30), "p2"), (2L, ts(5), "p3"))
      .toDF("user_id", "ts", "pname")
    val right = Seq((1L, ts(8), "v1"), (1L, ts(10), "v2"), (1L, ts(25), "v3"),
      (2L, ts(9), "v4"))
      .toDF("user_id", "ts", "vname")
    val got = JoinOps.asOfJoin(left, right, "user_id", "ts", Seq("vname"))
      .select("pname", "asof_vname").as[(String, Option[String])].collect().toMap
    assert(got("p1").contains("v2"), "same-timestamp right row matches (<= rule)")
    assert(got("p2").contains("v3"))
    assert(got("p3").isEmpty, "no prior right row -> null")
  }

  test("asOfJoinForward attaches the earliest right row at or after left.ts") {
    val left = Seq((1L, ts(10), "p1"), (1L, ts(30), "p2"), (2L, ts(5), "p3"))
      .toDF("user_id", "ts", "pname")
    val right = Seq((1L, ts(10), "v2"), (1L, ts(25), "v3"), (1L, ts(8), "v1"),
      (2L, ts(4), "v4"))
      .toDF("user_id", "ts", "vname")
    val got = JoinOps.asOfJoinForward(left, right, "user_id", "ts", Seq("vname"))
      .select("pname", "next_vname").as[(String, Option[String])].collect().toMap
    assert(got("p1").contains("v2"), "same-timestamp right row matches (>= rule)")
    assert(got("p2").isEmpty, "no later right row -> null")
    assert(got("p3").isEmpty, "only earlier right rows -> null")
  }

  test("asOfJoin preserves left row count and carries multiple value columns") {
    val left = (0 until 50).map(i => (i.toLong % 5, ts(i * 2), i)).toDF("user_id", "ts", "n")
    val right = (0 until 20).map(i => (i.toLong % 5, ts(i * 3), i * 100, s"r$i"))
      .toDF("user_id", "ts", "rv", "rn")
    val got = JoinOps.asOfJoin(left, right, "user_id", "ts", Seq("rv", "rn"))
    assert(got.count() == 50)
    assert(got.columns.contains("asof_rv") && got.columns.contains("asof_rn"))
  }
}
