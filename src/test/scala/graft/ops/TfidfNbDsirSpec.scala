package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** hashedTfidf / nbClassify / dsirLogWeights / sampleExactK contracts
  * (part-6 curation-search additions). Hash-family parity with DuckDB
  * is pinned by q70-q73; these specs pin the algebra itself with
  * transparent token keys (token length) and planted fixtures.
  */
class TfidfNbDsirSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  /** Transparent "hash": token length — lets scala replay bucketing. */
  private val lenKey: Column => Column = t => length(t).cast("long")

  // ------------------------------------------------------------ tfidf

  test("hashedTfidfWeights matches a hand-computed tf-idf") {
    // dim 4, length-mod-4 buckets: "a"->1, "bb"->2, "ccc"->3, "dddd"->0
    val df = Seq(
      (1L, "a a bb"),    // buckets: 1(tf2), 2(tf1)
      (2L, "a ccc"),     // buckets: 1(tf1), 3(tf1)
      (3L, "dddd")       // bucket:  0(tf1)
    ).toDF("doc_id", "text")
    val out = SearchOps.hashedTfidfWeights(df, "text", "doc_id", 4, lenKey)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    // idf(b) = ln((1+3)/(1+df_b)) + 1; df: b0=1, b1=2, b2=1, b3=1
    val idf0 = math.log(4.0 / 2.0) + 1.0
    val idf1 = math.log(4.0 / 3.0) + 1.0
    val idf2 = math.log(4.0 / 2.0) + 1.0
    val idf3 = math.log(4.0 / 2.0) + 1.0
    val n1 = math.sqrt(math.pow(2 * idf1, 2) + math.pow(idf2, 2))
    val n2 = math.sqrt(math.pow(idf1, 2) + math.pow(idf3, 2))
    assert(math.abs(out((1L, 1)) - 2 * idf1 / n1) < 1e-12)
    assert(math.abs(out((1L, 2)) - idf2 / n1) < 1e-12)
    assert(math.abs(out((2L, 3)) - idf3 / n2) < 1e-12)
    assert(math.abs(out((3L, 0)) - idf0 / math.sqrt(idf0 * idf0)) < 1e-12)
  }

  test("hashedTfidf densifies the sparse weights at unit L2 norm") {
    val df = Seq((1L, "a a bb"), (2L, "a ccc"), (3L, "")).toDF("doc_id", "text")
    val dense = SearchOps.hashedTfidf(df, "text", "doc_id", 4, lenKey)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(!dense.contains(3L), "tokenless doc must be absent")
    val sparse = SearchOps.hashedTfidfWeights(df, "text", "doc_id", 4, lenKey)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    dense.foreach { case (id, vec) =>
      assert(vec.size == 4)
      vec.zipWithIndex.foreach { case (w, b) =>
        assert(math.abs(w - sparse.getOrElse((id, b), 0.0)) < 1e-6)
      }
      val nrm = math.sqrt(vec.map(x => x.toDouble * x).sum)
      assert(math.abs(nrm - 1.0) < 1e-6, s"doc $id norm $nrm")
    }
  }

  // --------------------------------------------------------------- nb

  test("nbClassify recovers planted disjoint-vocab labels") {
    // xx-docs use only 2-char tokens, yyy-docs only 3-char tokens;
    // length-key NB must separate them perfectly
    val docs = (1 to 10).map(i => (i.toLong, "xx xx yy zz", "L2")) ++
      (11 to 20).map(i => (i.toLong, "aaa bbb ccc aaa", "L3"))
    val df = docs.toDF("doc_id", "text", "lang")
    val out = CurationOps.nbClassify(df, "text", "doc_id", "lang", lenKey)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert((1 to 10).forall(i => out(i.toLong) == "L2"))
    assert((11 to 20).forall(i => out(i.toLong) == "L3"))
  }

  test("nbClassifyWith scores a new batch with unseen tokens (smoothed floor)") {
    val train = Seq((1L, "xx yy", "A"), (2L, "aaa bbb", "B")).toDF("doc_id", "text", "lang")
    val counts = CurationOps.nbTokenCounts(train, "text", "lang", lenKey)
    val priors = CurationOps.nbDocCounts(train, "lang")
    // "zzzzz" (len 5) appears in no class: both get the smoothed floor,
    // the len-2 token still pulls doc 10 to A
    val batch = Seq((10L, "xx zzzzz")).toDF("doc_id", "text")
    val out = CurationOps.nbClassifyWith(batch, "text", "doc_id", counts, priors, lenKey)
      .collect()
    assert(out.length == 1 && out.head.getString(1) == "A")
  }

  test("nbClassify is deterministic under repartition") {
    val df = (1 to 40).map(i =>
      (i.toLong, if (i % 2 == 0) "xx yy xx" else "aaa bbb", if (i % 3 == 0) "P" else "Q"))
      .toDF("doc_id", "text", "lang")
    val a = CurationOps.nbClassify(df, "text", "doc_id", "lang", lenKey)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    val b = CurationOps.nbClassify(df.repartition(7), "text", "doc_id", "lang", lenKey)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    assert(a.sameElements(b))
  }

  // ------------------------------------------------------------- dsir

  test("dsirLogWeights ranks target-like docs above off-target docs") {
    // target speaks 2-char tokens; raw corpus has both dialects
    val target = (1 to 20).map(i => (100L + i, "xx yy zz xx")).toDF("doc_id", "text")
    val raw = ((1 to 5).map(i => (i.toLong, "xx yy zz yy")) ++
      (6 to 10).map(i => (i.toLong, "aaaa bbbb cccc dddd")))
      .toDF("doc_id", "text")
    val out = CurationOps.dsirLogWeights(raw, "text", "doc_id", target, 32, lenKey)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val likeTarget = (1 to 5).map(i => out(i.toLong)).min
    val offTarget = (6 to 10).map(i => out(i.toLong)).max
    assert(likeTarget > offTarget,
      s"target-like floor $likeTarget must beat off-target ceiling $offTarget")
  }

  test("dsir n_grams = unigrams + bigrams; precomputed dists match self form") {
    val target = Seq((100L, "xx yy")).toDF("doc_id", "text")
    val raw = Seq((1L, "a bb ccc"), (2L, "dddd")).toDF("doc_id", "text")
    val self = CurationOps.dsirLogWeights(raw, "text", "doc_id", target, 16, lenKey)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    // 3 tokens -> 3 unigrams + 2 bigrams; 1 token -> 1 + 0
    assert(self.map(t => t._1 -> t._2).toMap == Map(1L -> 5L, 2L -> 1L))
    val pre = CurationOps.dsirLogWeightsWith(raw, "text", "doc_id",
        CurationOps.gramBucketCounts(target, "text", 16, lenKey),
        CurationOps.gramBucketCounts(raw, "text", 16, lenKey), 16, lenKey)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(self.sameElements(pre))
  }

  // ----------------------------------------------------- sampleExactK

  test("sampleExactK: exact size, prefix property, repartition-proof") {
    val df = (1 to 200).map(i => (i.toLong, s"row$i")).toDF("doc_id", "text")
    val k10 = SplitOps.sampleExactK(df, "doc_id", 10, seed = 5L)
      .collect().map(_.getLong(0))
    val k11 = SplitOps.sampleExactK(df, "doc_id", 11, seed = 5L)
      .collect().map(_.getLong(0))
    assert(k10.length == 10 && k11.length == 11)
    assert(k11.take(10).sameElements(k10), "k-sample must prefix the (k+1)-sample")
    val re = SplitOps.sampleExactK(df.repartition(13), "doc_id", 10, seed = 5L)
      .collect().map(_.getLong(0))
    assert(re.sorted.sameElements(k10.sorted))
    assert(SplitOps.sampleExactK(df, "doc_id", 500).count() == 200,
      "k > n keeps everything")
  }

  // ------------------------------------------------ logistic regression

  test("logisticGradient at w=0 matches the hand form; GD matches a manual fold") {
    val df = Seq((Seq(1.0f, 0.0f), 1), (Seq(0.0f, 2.0f), 0)).toDF("x", "y")
    val g0 = CurationOps.logisticGradient(df, "x", "y", 2, Array(0.0, 0.0))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // (0.5-1)*[1,0] + (0.5-0)*[0,2] over n=2 -> [-0.25, 0.5]
    assert(math.abs(g0(0) - (-0.25)) < 1e-12)
    assert(math.abs(g0(1) - 0.5) < 1e-12)
    // two GD steps == an independent driver-side fold of the same math
    val data = Seq((Seq(1.0f, 0.2f), 1), (Seq(0.9f, 0.1f), 1),
      (Seq(0.1f, 1.0f), 0), (Seq(0.2f, 0.9f), 0))
    val ddf = data.toDF("x", "y")
    val got = (0 until 2).foldLeft(Array(0.0, 0.0)) { (w, _) =>
      val g = CurationOps.logisticGradient(ddf, "x", "y", 2, w)
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      Array.tabulate(2)(i => w(i) - 0.5 * g(i))
    }
    var w = Array(0.0, 0.0)
    (0 until 2).foreach { _ =>
      val grads = data.map { case (x, y) =>
        val dot = x.zipWithIndex.map { case (v, i) => v * w(i) }.sum
        val s = if (w.forall(_ == 0.0)) 0.5 else 1.0 / (1.0 + math.exp(-dot))
        x.map(v => (s - y) * v.toDouble)
      }
      val g = Array.tabulate(2)(i =>
        grads.map(v => BigDecimal(v(i)).setScale(9, BigDecimal.RoundingMode.HALF_UP))
          .sum.toDouble / data.size)
      w = Array.tabulate(2)(i => w(i) - 0.5 * g(i))
    }
    got.zip(w).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
  }
}
