package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class SimilarityOpsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Seq(0.99f, 0.1f, 0.0f, 0.0f)),   // near 0
    (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
    (3L, Seq(0.0f, 0.98f, 0.2f, 0.0f)),   // near 2
    (4L, Seq(0.0f, 0.0f, 0.0f, 1.0f))
  ).toDF("vec_id", "embedding")

  test("bruteCosineTopK ranks the planted neighbor first") {
    val topk = SimilarityOps.bruteCosineTopK(vecs, vecs, 2)
      .filter(col("rank") === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(topk(0L) == 1L)
    assert(topk(1L) == 0L)
    assert(topk(2L) == 3L)
    assert(topk(3L) == 2L)
  }

  test("lshCosineTopK finds identical-direction vectors (bucket recall)") {
    val dup = Seq(
      (10L, Seq(0.5f, 0.5f, 0.5f, 0.5f)),
      (11L, Seq(0.5f, 0.5f, 0.5f, 0.5f))
    ).toDF("vec_id", "embedding")
    val all = vecs.union(dup)
    val got = SimilarityOps.lshCosineTopK(all, k = 1, dim = 4)
      .filter(col("query_id") === 10L)
      .select("neighbor_id", "cosine").as[(Long, Double)].collect()
    assert(got.nonEmpty, "identical vectors share every bucket")
    assert(got.head._1 == 11L && math.abs(got.head._2 - 1.0) < 1e-9)
  }

  test("lshCosineSearch: a disjoint query batch finds its planted corpus neighbors") {
    // queries are copies of corpus vectors under NEW ids — the standing
    // search deployment (today's batch vs the indexed corpus); each
    // query must find its corpus original (identical direction => same
    // bucket in every band, cosine 1).
    val queries = Seq(
      (100L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (102L, Seq(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = SimilarityOps.lshCosineSearch(queries, vecs, k = 1, dim = 4)
      .filter(col("rank") === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(got(100L) == 0L)
    assert(got(102L) == 2L)
    // only query ids appear on the query side
    assert(got.keySet.subsetOf(Set(100L, 102L)))
  }

  test("quantizeInt8: round-trip error <= scale/2; zero vector safe; range [-127,127]") {
    val r = new scala.util.Random(23)
    val data = (0L until 50L).map(i =>
      (i, Seq.fill(16)((r.nextFloat() * 2 - 1) * (r.nextInt(10) + 1)))) :+
      (99L, Seq.fill(16)(0.0f))
    val df = data.toDF("vec_id", "embedding")
    val got = df.select(col("vec_id"),
        SimilarityOps.quantizeInt8(col("embedding")).as("qs"))
      .select(col("vec_id"), col("qs.scale"), col("qs.q"),
        // dequantize: q * scale, per component
        transform(col("qs.q"),
          q => (q.cast("double") * col("qs.scale")).cast("float")).as("deq"))
      .as[(Long, Double, Seq[Int], Seq[Float])].collect()
    val orig = data.toMap
    got.foreach { case (id, scale, q, deq) =>
      assert(q.forall(v => v >= -127 && v <= 127), s"vec $id out of int8 range")
      if (id == 99L) assert(scale == 0.0 && q.forall(_ == 0) && deq.forall(_ == 0.0f))
      else {
        val tol = scale / 2 + 1e-6
        orig(id).zip(deq).foreach { case (x, d) =>
          assert(math.abs(x - d) <= tol, s"vec $id: $x vs $d (scale $scale)")
        }
      }
    }
  }

  test("cosine over quantized vectors approximates float cosine (scales cancel)") {
    val r = new scala.util.Random(29)
    val df = (0L until 40L).map(i =>
      (i, Seq.fill(16)(r.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val q = df.select(col("vec_id"),
      transform(SimilarityOps.quantizeInt8(col("embedding")).getField("q"),
        x => x.cast("float")).as("embedding"))
    def top1(frame: org.apache.spark.sql.DataFrame) =
      SimilarityOps.bruteCosineTopK(frame, frame, 1)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val exact = top1(df)
    val approx = top1(q)
    // int8 keeps ~2 decimal digits of each component: top-1 should
    // agree for the overwhelming majority of queries
    val agree = exact.count { case (k, v) => approx.get(k).contains(v) }
    assert(agree >= 36, s"only $agree/40 top-1 agreements after quantization")
  }

  test("ivfCosineSearch: disjoint query batch probes the corpus index") {
    val queries = Seq(
      (200L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (204L, Seq(0.0f, 0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val got = SimilarityOps.ivfCosineSearch(
        queries, vecs, k = 1, nlist = 4, nprobe = 4)
      .filter(col("rank") === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(got(200L) == 0L)
    assert(got(204L) == 4L)
    assert(got.keySet.subsetOf(Set(200L, 204L)))
  }

  test("annRecall: hand overlaps, zero-recall queries present, " +
      "extra approx queries ignored") {
    val exact = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 4L), (2L, 5L),
      (2L, 6L)).toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 2L), (1L, 3L), (1L, 9L), (2L, 7L), (2L, 8L),
      (3L, 1L)).toDF("query_id", "neighbor_id")
    val got = SimilarityOps.annRecall(exact, approx, k = 3)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(1L, 2L), "queries come from the exact side")
    assert(got(1L)._2 == 2L && math.abs(got(1L)._3 - 2.0 / 3.0) < 1e-12)
    assert(got(2L)._2 == 0L && got(2L)._3 == 0.0,
      "a query the approx search missed entirely scores 0, not absent")
  }

  test("retrievalMetrics: perfect ranking scores 1s; late hit discounts " +
      "nDCG; missed query scores zeros") {
    def log2(x: Double) = math.log(x) / math.log(2.0)
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L),
      (3L, 30L), (3L, 31L)).toDF("query_id", "neighbor_id")
    val approx = Seq(
      // q1: both relevant, in the ideal positions
      (1L, 10L, 1), (1L, 11L, 2),
      // q2: first relevant only at rank 2 (rank-1 hit is junk)
      (2L, 99L, 1), (2L, 20L, 2),
      // q3: nothing relevant returned
      (3L, 98L, 1), (3L, 97L, 2)
    ).toDF("query_id", "neighbor_id", "rank")
    val got = SimilarityOps.retrievalMetrics(exact, approx, k = 2)
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(1L) == ((1L, 2L, 1.0, 1.0, 1.0)))
    // q2: recall 1/2, mrr 1/2, dcg = 1/log2(3), idcg = 1 + 1/log2(3)
    val ndcg2 = (1.0 / log2(3.0)) / (1.0 + 1.0 / log2(3.0))
    assert(got(2L)._2 == 1L && got(2L)._3 == 0.5 && got(2L)._4 == 0.5)
    assert(math.abs(got(2L)._5 - ndcg2) < 1e-8, s"ndcg ${got(2L)._5}")
    assert(got(3L) == ((3L, 0L, 0.0, 0.0, 0.0)),
      "a fully-missed query scores zeros, not absent")
    // an approx frame DEEPER than k must not credit hits beyond
    // position k: q4's only relevant hit sits at rank 3 of a top-4
    // pool, so at k=2 everything is zero
    val deep = Seq((4L, 99L, 1), (4L, 98L, 2), (4L, 40L, 3), (4L, 97L, 4))
      .toDF("query_id", "neighbor_id", "rank")
    val ex4 = Seq((4L, 40L), (4L, 41L)).toDF("query_id", "neighbor_id")
    val g4 = SimilarityOps.retrievalMetrics(ex4, deep, k = 2)
      .as[(Long, Long, Double, Double, Double)].head()
    assert(g4 == ((4L, 0L, 0.0, 0.0, 0.0)),
      s"hits past rank k must not count: $g4")
  }

  test("retrievalMetrics: capRecallDenom lets a query with fewer than k " +
      "relevant items reach recall 1.0") {
    // q1 has ONE relevant item, kept at rank 1 of a k=3 ranking
    val exact = Seq((1L, 10L)).toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L, 1), (1L, 98L, 2), (1L, 97L, 3))
      .toDF("query_id", "neighbor_id", "rank")
    val dflt = SimilarityOps.retrievalMetrics(exact, approx, k = 3)
      .as[(Long, Long, Double, Double, Double)].head()
    assert(dflt._3 == 1.0 / 3.0, "default convention: hits / k")
    val capped = SimilarityOps.retrievalMetrics(exact, approx, k = 3,
        capRecallDenom = true)
      .as[(Long, Long, Double, Double, Double)].head()
    assert(capped._3 == 1.0, s"capped: hits / min(k, n_rel) = 1/1: $capped")
    assert(capped._4 == 1.0 && capped._5 == 1.0,
      "mrr/ndcg unchanged by the recall denominator")
  }

  test("contrastivePairs: hard negatives are the nearest DIFFERENT-label " +
      "rows; positives the nearest same-label; NULL labels excluded") {
    // anchor 1 (label A) at x-axis; 2 (A) and 3 (B) near it; 4 (B)
    // orthogonal; 5 has NULL label and must never appear
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f), "A"), (2L, Seq(0.99f, 0.1f), "A"),
      (3L, Seq(0.98f, 0.2f), "B"), (4L, Seq(0.0f, 1.0f), "B"),
      (5L, Seq(1.0f, 0.01f), null)
    ).toDF("vec_id", "embedding", "label")
    val anchors = vecs.filter(col("vec_id") === 1L)
    val neg = SimilarityOps.contrastivePairs(anchors, vecs, k = 2)
      .orderBy("rank")
      .as[(Long, String, Long, String, Double, Int)].collect().toSeq
    assert(neg.map(_._3) == Seq(3L, 4L), s"nearest B rows in order: $neg")
    assert(neg.forall(r => r._2 == "A" && r._4 == "B"))
    assert(neg.head._5 > neg(1)._5, "ranked by cosine desc")
    val pos = SimilarityOps.contrastivePairs(anchors, vecs, k = 2,
        negatives = false)
      .as[(Long, String, Long, String, Double, Int)].collect().toSeq
    assert(pos.map(_._3) == Seq(2L), "self excluded, NULL-label 5 excluded")
  }

  test("mmrRerank: lambda=1 reproduces the relevance order; diversity " +
      "demotes a near-copy; short pools emit what they have") {
    // candidate vectors for query 100: ids 1 and 2 are near-copies on
    // the x-axis (1 most relevant), id 3 orthogonal, id 4 diagonal
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.999f, 0.01f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.7f, 0.7f))
    ).toDF("vec_id", "embedding")
    val cands = Seq(
      (100L, 1L, 0.99), (100L, 2L, 0.98), (100L, 3L, 0.50), (100L, 4L, 0.80)
    ).toDF("query_id", "neighbor_id", "cosine")
    // pure relevance: exactly the input ranking
    val rel = SimilarityOps.mmrRerank(cands, vecs, k = 3, lambdaRel = 1.0)
      .orderBy("mmr_rank").select("neighbor_id")
      .as[Long].collect().toSeq
    assert(rel == Seq(1L, 2L, 4L))
    // balanced: pick 1; then 2 is a near-copy of 1 (sim ~1) so its
    // score 0.5*0.98-0.5*~1 ~ -0.01 loses to 3 (0.5*0.5-0.5*0 = 0.25)
    // and 4 (0.5*0.8-0.5*~0.7 ~ 0.05); 3 then 4 (4 vs {1,3}: max sim
    // ~0.707 -> 0.046 beats 2's ~ -0.01)
    val div = SimilarityOps.mmrRerank(cands, vecs, k = 3, lambdaRel = 0.5)
      .orderBy("mmr_rank").select("neighbor_id")
      .as[Long].collect().toSeq
    assert(div == Seq(1L, 3L, 4L),
      s"the near-copy must be demoted out of the top-3, got $div")
    // short pool: k larger than the pool emits the whole pool
    val short = SimilarityOps.mmrRerank(
        cands.filter(col("neighbor_id") <= 2), vecs, k = 5, lambdaRel = 0.5)
      .as[(Long, Long, Int, Double, Double)].collect()
    assert(short.length == 2 && short.map(_._3).sorted.toSeq == Seq(1, 2))
  }

  test("mmrRerank: ids stay opaque (string ids never cast) and numeric " +
      "tie-breaks stay numeric, not lexicographic") {
    // STRING ids: the r9 long-cast would have nulled these out (or
    // thrown under ANSI) at the vectors join
    val svecs = Seq(
      ("a", Seq(1.0f, 0.0f)), ("b", Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val scands = Seq(("Q", "a", 0.9), ("Q", "b", 0.8))
      .toDF("query_id", "neighbor_id", "cosine")
    val sgot = SimilarityOps.mmrRerank(scands, svecs, k = 2, lambdaRel = 0.5)
      .orderBy("mmr_rank")
      .as[(String, String, Int, Double, Double)].collect().toSeq
    assert(sgot.map(_._2) == Seq("a", "b"), s"string-id pool reranks: $sgot")
    assert(sgot.head._1 == "Q", "query id emitted verbatim")
    // numeric tie at ids 9 vs 10: identical vectors and relevance, so
    // the lowest-id tiebreak must pick 9 (a string sort says "10" < "9")
    val tvecs = Seq(
      (9L, Seq(1.0f, 0.0f)), (10L, Seq(1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val tcands = Seq((1L, 9L, 0.5), (1L, 10L, 0.5))
      .toDF("query_id", "neighbor_id", "cosine")
    val first = SimilarityOps.mmrRerank(tcands, tvecs, k = 1, lambdaRel = 0.5)
      .as[(Long, Long, Int, Double, Double)].head()
    assert(first._2 == 9L, s"numeric lowest-id tiebreak: $first")
  }

  test("mmrRerank: a NULL query_id and the literal string id \"null\" " +
      "stay separate pools (null-tagged group key)") {
    val vecs = Seq(
      ("a", Seq(1.0f, 0.0f)), ("b", Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    // two queries: one with query_id = NULL, one with query_id = "null";
    // String.valueOf would have merged them into ONE 2-candidate pool
    // (k=1 would emit a single row); the tagged key keeps two pools
    val cands = Seq(
      (Option.empty[String], "a", 0.9),
      (Some("null"), "b", 0.8)
    ).toDF("query_id", "neighbor_id", "cosine")
    val got = SimilarityOps.mmrRerank(cands, vecs, k = 1, lambdaRel = 1.0)
      .as[(Option[String], String, Int, Double, Double)].collect().toSeq
    assert(got.length == 2, s"two pools, one pick each: $got")
    assert(got.toSet ==
      Set((None, "a", 1, 0.9, 0.9), (Some("null"), "b", 1, 0.8, 0.8)))
  }
}
