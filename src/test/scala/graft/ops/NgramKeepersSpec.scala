package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The shingle-level decision path ([[DedupOps.dedupKeepersNgram]]):
  * order sensitivity, the short-doc keep contract, and soundness of
  * every drop against a scala brute-force shingle-Jaccard ground truth.
  */
class NgramKeepersSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def keeperIds(
      df: org.apache.spark.sql.DataFrame, n: Int, thr: Double = 0.6): Set[Long] =
    DedupOps.dedupKeepersNgram(df, "text", "doc_id", thr, n)
      .select("doc_id").as[Long].collect().toSet

  test("reordered docs collapse under token-set dedup but stay distinct under shingles") {
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "h g f e d c b a"), // same token set, opposite order
      (3L, "p q r s t u v w")
    ).toDF("doc_id", "text")
    // token-set path: 1 and 2 are identical sets -> 2 dropped
    assert(DedupOps.dedupKeepers(docs, "text", "doc_id", 0.6)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
    // shingle path (n=2): zero shared bigrams -> all kept
    assert(keeperIds(docs, 2) == Set(1L, 2L, 3L))
  }

  test("exact duplicates collapse to the min id; near-identical shingle overlap drops") {
    // doc 11 shares 6 of 7 bigrams with doc 10: J = 6/8 = 0.75 >= 0.6
    val docs = Seq(
      (10L, "a b c d e f g h"),
      (11L, "a b c d e f g x"),
      (12L, "a b c d e f g h"),
      (20L, "p q r s t u v w")
    ).toDF("doc_id", "text")
    assert(keeperIds(docs, 2) == Set(10L, 20L))
  }

  test("docs shorter than n tokens are always kept — even when textually identical") {
    val docs = Seq(
      (1L, "solo"), (2L, "solo"), (3L, "two words"),
      (9L, "a full length document with shingles present")
    ).toDF("doc_id", "text")
    // n=3: docs 1,2,3 have no trigrams -> no evidence -> all kept
    assert(keeperIds(docs, 3) == Set(1L, 2L, 3L, 9L))
  }

  test("soundness on a planted corpus: every drop has a smaller-id shingle-near-dup") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val docs = (0 until 40).map { i =>
      val words = base.split(" ").toSeq
      val text =
        if (i % 4 == 0) words.mkString(" ")                                // clones of base
        else if (i % 4 == 1) (words :+ s"tail$i").mkString(" ")            // near-dups
        else words.zipWithIndex.map { case (w, j) => s"$w$i$j" }.mkString(" ") // unique
      (i.toLong, text)
    }.toDF("doc_id", "text")

    def shingles(t: String, n: Int): Set[String] =
      t.split("\\s+").toSeq.sliding(n).filter(_.size == n).map(_.mkString(" ")).toSet
    val byId = docs.as[(Long, String)].collect().toMap
    val kept = keeperIds(docs, 3)
    val dropped = byId.keySet -- kept
    assert(dropped.nonEmpty, "fixture must exercise drops")
    dropped.foreach { d =>
      val s = shingles(byId(d), 3)
      val hasPartner = byId.exists { case (o, t) =>
        o < d && {
          val so = shingles(t, 3)
          val inter = (s & so).size.toDouble
          inter / (s.size + so.size - inter) >= 0.6
        }
      }
      assert(hasPartner, s"doc $d dropped without a qualifying smaller-id shingle partner")
    }
    // the unique docs must all survive
    assert((0 until 40).filter(i => i % 4 >= 2).map(_.toLong).toSet.subsetOf(kept))
  }

  test("deterministic under repartitioning") {
    val docs = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g x"),
      (3L, "h g f e d c b a"), (4L, "p q r s t u v w")
    ).toDF("doc_id", "text")
    assert(keeperIds(docs, 2) ==
      keeperIds(docs.repartition(7), 2))
  }
}
