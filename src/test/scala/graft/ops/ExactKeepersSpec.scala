package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The exact-dedup decision form ([[DedupOps.exactKeepers]]). */
class ExactKeepersSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("min id per normalized text wins; uniques untouched; schema unchanged") {
    val docs = Seq(
      (5L, "Hello World", "m5"),
      (2L, "  hello world  ", "m2"), // normalizes equal -> 2 wins
      (9L, "HELLO WORLD", "m9"),
      (7L, "unique content", "m7")
    ).toDF("doc_id", "text", "extra")
    val out = DedupOps.exactKeepers(docs, "text", "doc_id")
    assert(out.schema == docs.schema)
    assert(out.select("doc_id").as[Long].collect().toSet == Set(2L, 7L))
    // kept rows are the ORIGINAL rows, not normalized copies
    assert(out.filter(col("doc_id") === 2L).select("text").as[String].head()
      == "  hello world  ")
  }

  test("agrees with exactDupGroups: keepers = all ids minus non-winning group members") {
    val docs = Seq(
      (1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (5L, "b"), (6L, "c")
    ).toDF("doc_id", "text")
    val kept = DedupOps.exactKeepers(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 6L))
    val groups = DedupOps.exactDupGroups(docs, "text", "doc_id")
      .select("keep_id").as[Long].collect().toSet
    assert(groups.subsetOf(kept))
  }

  test("deterministic under repartitioning") {
    val docs = Seq(
      (8L, "x y z"), (3L, "x y z"), (5L, "q r s"), (1L, "x Y Z ")
    ).toDF("doc_id", "text")
    val a = DedupOps.exactKeepers(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    val b = DedupOps.exactKeepers(docs.repartition(7), "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(a == b && a == Set(1L, 5L))
  }
}
