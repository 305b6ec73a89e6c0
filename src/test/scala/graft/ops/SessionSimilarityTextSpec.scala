package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class SessionOpsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def ts(min: Long): Timestamp = new Timestamp(min * 60000L)

  test("sessionize: gap > threshold starts a new session; boundaries exact") {
    // user 1: events at 0, 10, 20, 55, 60 min (gap 35 between 20 and 55)
    // user 2: single event
    val events = Seq(
      (1L, ts(0), 10L), (2L, ts(10), 10L), (3L, ts(20), 10L),
      (4L, ts(55), 10L), (5L, ts(60), 10L),
      (6L, ts(0), 20L)
    ).toDF("event_id", "ts", "user_id")
    val s = SessionOps.sessionize(events, "user_id", "ts", 30L * 60)
    val got = s.select("event_id", "session_id").as[(Long, Long)].collect().toMap
    assert(got(1L) == 1 && got(2L) == 1 && got(3L) == 1)
    assert(got(4L) == 2 && got(5L) == 2)
    assert(got(6L) == 1)
  }

  test("sessionize: gap exactly at threshold does NOT split (strict >)") {
    val events = Seq((1L, ts(0), 1L), (2L, ts(30), 1L)).toDF("event_id", "ts", "user_id")
    val s = SessionOps.sessionize(events, "user_id", "ts", 30L * 60)
    assert(s.select(max("session_id")).as[Long].head() == 1)
  }

  test("sessionize works on frames without event_id via the tieBreakCol parameter") {
    val clicks = Seq(
      ("c1", ts(0), 7L), ("c2", ts(10), 7L), ("c3", ts(55), 7L)
    ).toDF("click_id", "ts", "user_id")
    val s = SessionOps.sessionize(clicks, "user_id", "ts", 30L * 60,
      tieBreakCol = "click_id")
    val got = s.select("click_id", "session_id").as[(String, Long)].collect().toMap
    assert(got("c1") == 1 && got("c2") == 1 && got("c3") == 2)
  }

  test("kaplanMeier: textbook curve with censoring; zero-risk tail pins 0") {
    // classic: durations (event=1): 1, 3, 3, 6; censored: 2, 5
    // t=1: n=6, d=1 -> S=5/6
    // t=2: censor only -> S unchanged, risk drops to 4
    // t=3: n=4, d=2 -> S=5/6 * 1/2 = 5/12
    // t=5: censor only; t=6: n=1, d=1 -> factor 0 -> S=0
    val subj = Seq(
      (0L, 1L, 1), (0L, 2L, 0), (0L, 3L, 1), (0L, 3L, 1),
      (0L, 5L, 0), (0L, 6L, 1)
    ).toDF("cohort", "dur", "ev")
    val got = SessionOps.kaplanMeier(subj, "cohort", "dur", "ev")
      .as[(Long, Long, Long, Long, Long, Double)].collect().sortBy(_._2)
    val byT = got.map(r => r._2 -> r).toMap
    assert(byT(1L)._3 == 6L && math.abs(byT(1L)._6 - 5.0 / 6) < 1e-8)
    assert(byT(2L)._4 == 0L && byT(2L)._5 == 1L &&
      math.abs(byT(2L)._6 - 5.0 / 6) < 1e-8, "censor-only time keeps S")
    assert(byT(3L)._3 == 4L && math.abs(byT(3L)._6 - 5.0 / 12) < 1e-8)
    assert(byT(6L)._3 == 1L && byT(6L)._6 == 0.0, "exhausted risk set -> 0")
    val re = SessionOps.kaplanMeier(subj.repartition(5), "cohort", "dur", "ev")
      .as[(Long, Long, Long, Long, Long, Double)].collect().sortBy(_._2)
    assert(re.toSeq == got.toSeq, "partitioning-independent")
  }

  test("topPaths: ordered prefixes, short journeys kept, ranked cut") {
    val ev = Seq(
      (1L, ts(0), "A", 1L), (1L, ts(1), "B", 2L), (1L, ts(2), "C", 3L),
      (1L, ts(3), "D", 4L), // 4th event must not appear in the path
      (2L, ts(0), "A", 5L), (2L, ts(1), "B", 6L), (2L, ts(2), "C", 7L),
      (3L, ts(0), "X", 8L)  // single-event journey keeps its prefix
    ).toDF("u", "t", "et", "eid")
    val r = SessionOps.topPaths(ev, "u", "t", "et", "eid", 3, 10)
      .as[(String, Long)].collect().toSeq
    assert(r == Seq(("A>B>C", 2L), ("X", 1L)), s"got $r")
    val rep = SessionOps.topPaths(ev.repartition(5), "u", "t", "et",
      "eid", 3, 10).as[(String, Long)].collect().toSeq
    assert(rep == r, "path assembly must be partitioning-proof")
  }
}

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

class TextAnalysisSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("repetitionSignals: duplicate-token and top-bigram fractions, degenerate-safe") {
    val got = Seq(
      "a a a a",        // dup 3/4; bigrams [a a, a a, a a] -> top 1.0
      "a b c d",        // dup 0; 3 distinct bigrams -> top 1/3
      "x y x y x",      // dup 3/5; bigrams [x y, y x, x y, y x] -> top 2/4
      "solo",           // one token: no bigrams
      ""                // empty: both zero
    ).toDF("text")
      .select(TextAnalysis.repetitionSignals(col("text")).as("s"))
      .select(col("s.dup_token_frac"), col("s.top_bigram_frac"))
      .as[(Double, Double)].collect().toSeq
    assert(got(0) == ((0.75, 1.0)))
    assert(got(1)._1 == 0.0 && math.abs(got(1)._2 - 1.0 / 3) < 1e-15)
    assert(got(2) == ((1.0 - 2.0 / 5, 0.5)))
    assert(got(3) == ((0.0, 0.0)))
    assert(got(4) == ((0.0, 0.0)))
  }

  test("docCharEntropy: hand bit values, uniform/degenerate alphabets, " +
      "empty and NULL text excluded") {
    val df = Seq(
      (1L, "aaaa"),      // one symbol -> 0 bits
      (2L, "abab"),      // two equiprobable -> 1 bit
      (3L, "abcd"),      // four equiprobable -> 2 bits
      (4L, "aab"),       // h = -(2/3)log2(2/3) - (1/3)log2(1/3)
      (5L, ""),          // excluded
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextAnalysis.docCharEntropy(df, "text", "doc_id")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got(1L)._2 == 4L && got(1L)._3 == 0.0)
    assert(math.abs(got(2L)._3 - 1.0) < 1e-9)
    assert(math.abs(got(3L)._3 - 2.0) < 1e-9)
    val h4 = -(2.0 / 3) * math.log(2.0 / 3) / math.log(2.0) -
      (1.0 / 3) * math.log(1.0 / 3) / math.log(2.0)
    assert(math.abs(got(4L)._3 - h4) < 1e-8 && got(4L)._2 == 3L)
  }

  test("langId picks the profile with most stopword hits; ties broken by declaration order") {
    val df = Seq(
      "the cat sat on the mat and it is fine",   // en
      "el gato es un animal y la casa es grande", // es
      "zzz qqq www"                               // no hits anywhere -> first profile (en)
    ).toDF("text")
    val got = df.select(TextAnalysis.langId(split(col("text"), " "))).as[String].collect().toSeq
    assert(got == Seq("en", "es", "en"))
  }

  test("qualitySignals/score: sane ranges and ordering") {
    val df = Seq(
      "the quick brown fox jumps over the lazy dog and then it runs far away from here today",
      "!!! ??? ### $$$ %%%"
    ).toDF("text")
    val got = df.select(
      TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.qualitySignals(col("text")).getField("punct_ratio").as("p"))
      .as[(Double, Double)].collect()
    assert(got(0)._1 > got(1)._1, "clean english should outscore punctuation soup")
    assert(got.forall { case (q, p) => q >= 0.0 && q <= 1.0 && p >= 0.0 && p <= 1.0 })
  }

  test("readabilitySignals: counts, floors, the fixed flesch formula, " +
      "degenerate inputs") {
    val got = Seq(
      "The cat sat. The dog ran!",  // 6 words, 2 sentences, 6 vowel groups
      "no terminal punctuation",    // sentence floor 1
      "rhythm myth",                // y-groups: 2; floor at words=2 stays 2
      "zz zzz",                     // 0 vowel groups -> floored to 2 words
      "",                           // empty: 0 words -> NULL flesch
      "   "                         // whitespace only: same
    ).toDF("text")
      .select(TextAnalysis.readabilitySignals(col("text")).as("s"))
      .select(col("s.n_words"), col("s.n_sentences"), col("s.n_syllables"),
        col("s.flesch"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(got(0)._1 == 6 && got(0)._2 == 2 && got(0)._3 == 6)
    assert(got(0)._4.contains(206.835 - 1.015 * (6.0 / 2.0) - 84.6 * (6.0 / 6.0)))
    assert(got(1)._2 == 1, "fragment is one sentence")
    assert(got(2) == ((2, 1, 2, Some(206.835 - 1.015 * 2.0 - 84.6 * 1.0))))
    assert(got(3)._3 == 2, "all-consonant words floor syllables at word count")
    assert(got(4)._1 == 0 && got(4)._4.isEmpty)
    assert(got(5)._1 == 0 && got(5)._4.isEmpty)
  }

  test("c4LineFilter: line rules, sentence floor, doc-level poisons (multi-line)") {
    val doc = Seq(
      "This line survives the filter today.",   // kept
      "too short.",                             // < 3 words
      "no terminal punctuation on this line",   // no [.!?] ending
      "Enable javascript to view this page.",   // boilerplate rule
      "Is this a question? Yes it is!",         // kept (ends !)
      "Quoted sentence ends well.\"").mkString("\n")
    val got = Seq(doc, "short doc.", "has lorem ipsum. " + "Five. Full. Sentences. Here. Now.",
        "curly { brace. One. Two. Three. Four. Five.")
      .toDF("text")
      .select(TextAnalysis.c4LineFilter(col("text"), minWords = 3, minSentences = 3).as("c"))
      .select(col("c.n_lines_kept"), col("c.n_sentences"), col("c.keep"))
      .as[(Int, Int, Int)].collect().toSeq
    // doc 1: kept lines 1, 5, 6 -> sentences: 1 + 2 + 1 = 4 >= 3, no poison
    assert(got(0) == ((3, 4, 1)))
    // doc 2: "short doc." has 2 words -> dropped -> 0 sentences
    assert(got(1) == ((0, 0, 0)))
    // doc 3: enough sentences but lorem ipsum poisons it
    assert(got(2)._3 == 0 && got(2)._2 >= 3)
    // doc 4: curly brace poisons it
    assert(got(3)._3 == 0)
  }

  test("gopherQualityFlags: each published rule flips on its planted violation") {
    val good = (1 to 60).map(i => s"word$i").mkString(" ") +
      " the and that have with be to of"
    val rows = Seq(
      good,                                         // all pass
      "the and of short",                           // word count fails
      good + " " + Seq.fill(40)("12345").mkString(" "),  // alpha fraction fails
      good + " ### ... ### ... ### ... ### ... ### ...", // symbol ratio fails
      (1 to 60).map(i => s"word$i").mkString(" ")  // no stop words
    ).toDF("text")
      .select(TextAnalysis.gopherQualityFlags(col("text"), minWords = 50).as("g"))
      .select(col("g.f_word_count"), col("g.f_mean_word_len"),
        col("g.f_symbol_ratio"), col("g.f_alpha_words"),
        col("g.f_stop_words"), col("g.keep"))
      .as[(Int, Int, Int, Int, Int, Int)].collect().toSeq
    assert(rows(0) == ((1, 1, 1, 1, 1, 1)), s"clean doc must pass all: ${rows(0)}")
    assert(rows(1)._1 == 0 && rows(1)._6 == 0)
    assert(rows(2)._4 == 0 && rows(2)._6 == 0)
    assert(rows(3)._3 == 0 && rows(3)._6 == 0)
    assert(rows(4)._5 == 0 && rows(4)._6 == 0)
  }

  test("regexTokenCount: alpha runs, digit runs, single punct glyphs") {
    val df = Seq("abc12 de,f!").toDF("text")
    // tokens: abc, 12, de, ',', f, '!' -> 6
    assert(df.select(TextAnalysis.regexTokenCount(col("text"))).as[Int].head() == 6)
  }

  test("fingerprints: stable under case/trim for doc fp; shingle fp stable under tail edits") {
    val df = Seq(
      ("a b c d e f g h", "A b c d e f g h  "),
      ("a b c d e f g h", "a b c d e f g h x")
    ).toDF("t1", "t2")
    val rows = df.select(
      (TextAnalysis.docFingerprint(col("t1")) === TextAnalysis.docFingerprint(col("t2"))).as("fpEq"),
      (TextAnalysis.minShingleFingerprint(col("t1"), 3) ===
        TextAnalysis.minShingleFingerprint(col("t2"), 3)).as("shEq"))
      .as[(Boolean, Boolean)].collect()
    assert(rows(0)._1, "doc fingerprint normalizes case/whitespace")
    assert(!rows(1)._1, "doc fingerprint changes on content edit")
    // min-shingle: appending one token usually keeps the min shingle
    assert(rows(1)._2, "min-shingle fingerprint robust to a tail append (for this fixture)")
  }
}
