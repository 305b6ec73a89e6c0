package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class SearchOpsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "spark engine runs fast queries on big data"),
    (2L, "spark spark spark everywhere spark"),          // high tf, short
    (3L, "a long document about nothing in particular with many words " +
         "and then one mention of spark near the end of the document"),
    (4L, "no relevant terms at all here"),
    (5L, "fast data fast queries fast engine")
  ).toDF("doc_id", "text")

  private def ref(query: Seq[String], k1: Double = 1.2, b: Double = 0.75) = {
    val corpus = Seq(
      1L -> "spark engine runs fast queries on big data",
      2L -> "spark spark spark everywhere spark",
      3L -> ("a long document about nothing in particular with many words " +
        "and then one mention of spark near the end of the document"),
      4L -> "no relevant terms at all here",
      5L -> "fast data fast queries fast engine")
      .map { case (id, t) => id -> t.split("\\s+").toSeq }
    val n = corpus.size.toDouble
    val avgdl = corpus.map(_._2.size).sum.toDouble / n
    query.map { t =>
      t -> corpus.count(_._2.contains(t)).toDouble
    }.foldLeft(Map.empty[Long, Double]) { case (acc, (t, dfc)) =>
      val idf = math.log(1.0 + (n - dfc + 0.5) / (dfc + 0.5))
      corpus.foldLeft(acc) { case (a, (id, toks)) =>
        val tf = toks.count(_ == t).toDouble
        val dl = toks.size.toDouble
        val s = idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))
        a.updated(id, a.getOrElse(id, 0.0) + s)
      }
    }
  }

  test("scores match an independent scala BM25; ranking is sane") {
    val got = SearchOps.bm25TopK(docs, "text", "doc_id", Seq("spark", "fast"), 5)
      .as[(Long, Double)].collect().toSeq
    val want = ref(Seq("spark", "fast"))
    got.foreach { case (id, s) => assert(math.abs(s - want(id)) < 1e-12, s"doc $id") }
    // doc 4 matches nothing -> last with score 0
    assert(got.last._1 == 4L && got.last._2 == 0.0)
    // tf saturation: doc 2 (4x spark, short) outranks doc 3 (1x, long)
    val rank = got.map(_._1).zipWithIndex.toMap
    assert(rank(2L) < rank(3L))
  }

  test("top-k truncates deterministically (score desc, id asc)") {
    val got = SearchOps.bm25TopK(docs, "text", "doc_id", Seq("fast"), 2)
      .as[(Long, Double)].collect().toSeq
    assert(got.size == 2)
    assert(got.map(_._1) == Seq(5L, 1L)) // 3x fast beats 1x fast
  }

  test("buildVocab: count-desc token-asc ids, cut at maxSize") {
    val got = SearchOps.buildVocab(docs, "text", 3)
      .select("token", "n", "id").as[(String, Long, Long)].collect().toSeq
      .sortBy(_._3)
    // corpus counts: fast=4, spark=6; next tier has several 2s — "data" wins ties alphabetically
    assert(got.map(_._1) == Seq("spark", "fast", "data"))
    assert(got.map(_._3) == Seq(0L, 1L, 2L))
    assert(got(0)._2 == 6L && got(1)._2 == 4L && got(2)._2 == 2L)
  }

  test("plan: stats broadcast; top-k is a partial TakeOrdered, no global sort") {
    val df = SearchOps.bm25TopK(docs, "text", "doc_id", Seq("spark"), 3)
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    val s = plan.toString
    assert(s.contains("TakeOrderedAndProject"), s"expected partial top-k in:\n$s")
    assert(s.contains("BroadcastExchange"), s"expected stats broadcast in:\n$s")
  }

  test("rankingMetrics: hand-computed MRR/recall@k/nDCG@k incl. edge queries") {
    import spark.implicits._
    val runs = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3), (1L, 13L, 4)
    ).toDF("query_id", "doc_id", "rank")
    val qrels = Seq(
      (1L, 11L, 2), (1L, 12L, 1), (1L, 99L, 1), (1L, 10L, 0),
      (2L, 10L, 0),            // judged, nothing relevant
      (3L, 11L, 1)             // relevant but system returned nothing
    ).toDF("query_id", "doc_id", "rel")
    val got = SearchOps.rankingMetrics(runs, qrels, k = 3)
      .orderBy("query_id")
      .as[(Long, Double, Option[Double], Option[Double])].collect().toSeq
    // q1: first relevant at rank 2 -> rr 1/2; recall 2 of 3 relevant;
    // DCG = 0 + 3/log2(3) + 1/log2(4), IDCG from rels [2,1,1]
    val dcg = BigDecimal((math.pow(2, 2) - 1) / (math.log(3.0) / math.log(2.0)))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.5
    val idcg = 3.0 + BigDecimal(1.0 / (math.log(3.0) / math.log(2.0)))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.5
    assert(got(0)._1 == 1L && got(0)._2 == 0.5)
    assert(math.abs(got(0)._3.get - 2.0 / 3) < 1e-15)
    assert(math.abs(got(0)._4.get - dcg / idcg) < 1e-12,
      s"ndcg ${got(0)._4} != ${dcg / idcg}")
    // q2: judged but zero relevant -> rr 0, recall/ndcg undefined
    assert(got(1) == ((2L, 0.0, None, None)))
    // q3: relevant exists, nothing retrieved -> all-zero scores, row kept
    assert(got(2)._1 == 3L && got(2)._2 == 0.0 &&
      got(2)._3.contains(0.0) && got(2)._4.contains(0.0))
    // rank 4 (beyond k) must not have contributed anywhere
    assert(got.size == 3)
  }

  test("topKPerGroup matches the row_number window twin, ties and all") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(61)
    // quantized values force cross-id ties; 3 groups, 400 rows
    val df = (0 until 400).map(i =>
      (s"g${i % 3}", (rnd.nextInt(20) / 2.0), i.toLong))
      .toDF("g", "v", "id")
    val w = Window.partitionBy("g").orderBy(col("v").desc, col("id"))
    val expected = df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 7)
      .select("g", "rank", "id", "v")
      .as[(String, Int, Long, Double)].collect().toSet
    val got = SearchOps.topKPerGroup(df.repartition(11), "g", "v", "id", 7)
      .as[(String, Int, Long, Double)].collect().toSet
    assert(got == expected)
    // k larger than the group keeps everything, still ranked
    val small = Seq(("a", 1.0, 1L), ("a", 2.0, 2L)).toDF("g", "v", "id")
    val all = SearchOps.topKPerGroup(small, "g", "v", "id", 10)
      .as[(String, Int, Long, Double)].collect().sortBy(_._2)
    assert(all.toSeq == Seq(("a", 1, 2L, 2.0), ("a", 2, 1L, 1.0)))
  }

  test("topKPerGroup's plan names its k; every k-bounded aggregator prints its k") {
    import org.apache.spark.sql.execution.FormattedMode
    val df = Seq(("a", 1.0, 1L)).toDF("g", "v", "id")
    def plan(k: Int) = SearchOps.topKPerGroup(df, "g", "v", "id", k)
      .queryExecution.explainString(FormattedMode)
      .replaceAll("#\\d+L?", "").replaceAll("\\[plan_id=\\d+\\]", "")
      .replaceAll("@[0-9a-f]{4,}", "@H")
    assert(plan(5) != plan(10))
    assert(plan(5).contains("TopKAggregator(k=5)"), plan(5))
    assert(graft.functions.MisraGries.mg(3).toString == "MisraGries(k=3)")
    assert(graft.functions.KMinDistinct.kMin(4).toString == "KMinDistinct(k=4)")
  }

  test("keywordExtract: idf suppresses corpus-frequent terms, ranked cut") {
    // df: apple 1, banana 3, cherry 1 over N=3 docs; smoothed idf
    // makes the rare terms beat the everywhere-banana
    val docs = Seq((1L, "apple apple banana"), (2L, "banana cherry"),
      (3L, "banana")).toDF("doc_id", "text")
    val r = SearchOps.keywordExtract(docs, "text", "doc_id", 2)
      .as[(Long, String, Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._6).toSeq).toMap
    val idfRare = math.log(4.0 / 2.0) + 1.0
    assert(r(1L).map(_._2) == Seq("apple", "banana"),
      s"rare apple outranks banana: ${r(1L)}")
    assert(math.abs(r(1L).head._5 - 2.0 * idfRare) < 1e-12)
    assert(r(2L).map(_._2) == Seq("cherry", "banana"))
    assert(math.abs(r(2L).head._5 - idfRare) < 1e-12)
    assert(r(3L).map(_._2) == Seq("banana") && r(3L).head._5 == 1.0,
      "idf of an everywhere-term is exactly 1 (smoothed ln(1)=0)")
  }
}
