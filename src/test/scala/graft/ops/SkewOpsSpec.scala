package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class SkewOpsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("saltedJoin returns exactly the plain join's rows under heavy skew") {
    // 90% of fact rows share one key
    val fact = (0 until 1000).map(i => (if (i % 10 == 0) i % 7 else 42, s"row$i")).toDF("k", "payload")
    val dim = (0 until 50).map(i => (i, s"dim$i")).toDF("k", "attr")
    val plain = fact.join(dim, Seq("k")).select("k", "payload", "attr")
      .as[(Int, String, String)].collect().toSet
    val salted = SkewOps.saltedJoin(fact, dim, "k", salts = 8)
      .select("k", "payload", "attr").as[(Int, String, String)].collect().toSet
    assert(salted == plain)
    assert(plain.count(_._1 == 42) == 900)
  }

  test("saltedJoin left join keeps unmatched rows once") {
    val fact = Seq((1, "a"), (99, "b")).toDF("k", "payload")
    val dim = Seq((1, "d1")).toDF("k", "attr")
    val got = SkewOps.saltedJoin(fact, dim, "k", salts = 4, joinType = "left")
      .select("k", "payload", "attr").collect()
    assert(got.length == 2)
    assert(got.count(_.isNullAt(2)) == 1)
  }

  test("keyHistogram surfaces the hot key") {
    val fact = (0 until 100).map(i => (if (i < 80) 7 else i, i)).toDF("k", "v")
    val top = SkewOps.keyHistogram(fact, "k", 1).as[(Int, Long)].head()
    assert(top == ((7, 80L)))
  }
}
