package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.TempDirs.tempDir

/** Curation-stage contracts: decontamination flags exactly the train
  * docs sharing an n-gram with the eval set, the decision path drops
  * exactly those, and the eval gram set arrives by broadcast (the
  * 100 TB plan shape).
  */
class CurationOpsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  /** AQE-unwrapped physical plan: `AdaptiveSparkPlanExec` is a LEAF to
    * `collect`, so node assertions must walk `initialPlan` or they pass
    * vacuously (same helper as PlanShapeSpec).
    */
  private def physical(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }

  private def assertNoStringShuffle(df: org.apache.spark.sql.DataFrame,
      expectShuffle: Boolean): Unit = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    val plan = physical(df)
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    if (expectShuffle) assert(shuffles.nonEmpty, s"expected a shuffle in:\n$plan")
    // The contract guards KEYED (hash/range) exchanges — the corpus-
    // shuffle failure modes a quadratic or join-by-text plan would show.
    // PlanOps.fanOutSmall's ROUND-ROBIN repartition of a sub-split
    // input is exempt: it exists only when the whole input fits in one
    // scan split (structurally absent at scale), so text riding it is
    // bounded by one split, never the corpus.
    shuffles.filterNot(_.outputPartitioning
        .isInstanceOf[RoundRobinPartitioning]).foreach { s =>
      s.output.foreach { attr =>
        assert(attr.dataType != org.apache.spark.sql.types.StringType,
          s"string attribute ${attr.name} crosses a keyed shuffle:\n$plan")
      }
    }
  }

  private val train = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "pack my box with five dozen liquor jugs"),     // clean
    (3L, "sphinx of black quartz judge my vow today"),   // clean
    (4L, "a quick brown fox ran far away yesterday"),    // shares "quick brown fox"
    (5L, "xx yy")                                        // shorter than n: never flagged
  ).toDF("doc_id", "text")

  private val evalSet = Seq(
    (100L, "benchmark asks about the quick brown fox story"),
    (101L, "totally unrelated benchmark question here")
  ).toDF("doc_id", "text")

  /** Train ids sharing an n-gram with `evalSet`, via its gram set. */
  private def contaminatedIds(
      t: org.apache.spark.sql.DataFrame, n: Int,
      gramKeys: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column =
        CurationOps.defaultGramKeys) =
    CurationOps.contaminatedIdsWithGramSet(t,
      CurationOps.evalGramSet(evalSet, "text", n, gramKeys), "text", "doc_id", n, gramKeys)

  test("contaminatedIds flags exactly the overlapping train docs") {
    val ids = contaminatedIds(train, n = 3).as[Long].collect().toSet
    assert(ids == Set(1L, 4L))
  }

  test("decontaminate keeps the complement with schema unchanged") {
    val kept = CurationOps.decontaminate(train, evalSet, "text", "doc_id", n = 3)
    assert(kept.columns.toSeq == train.columns.toSeq)
    assert(kept.select("doc_id").as[Long].collect().toSet == Set(2L, 3L, 5L))
  }

  test("a doc is flagged only for full n-gram matches, not shared words") {
    // shares words "quick" and "fox" but no 3-gram
    val t = Seq((9L, "fox saw a quick result")).toDF("doc_id", "text")
    assert(contaminatedIds(t, 3).count() == 0L)
  }

  test("eval gram set joins by broadcast; no text attribute crosses an exchange") {
    val df = CurationOps.decontaminate(train, evalSet, "text", "doc_id", 3)
    assert(physical(df).toString.contains("BroadcastExchange"),
      s"expected broadcast of the eval gram set in:\n${physical(df)}")
    // every shuffle in the plan carries only ids/hashes, never strings
    assertNoStringShuffle(df, expectShuffle = true)
  }

  test("spanList: non-overlapping m-token chunks, short tail kept, empty-safe") {
    val got = Seq("a b c d e f g", "a b", "").toDF("text")
      .select(CurationOps.spanList(col("text"), 3).as("s"))
      .as[Seq[String]].collect().toSeq
    assert(got(0) == Seq("a b c", "d e f", "g"))
    assert(got(1) == Seq("a b"))
    assert(got(2) == Seq())
  }

  test("scrubFrequentSpans removes exactly the corpus-frequent spans, in-place") {
    val docs = Seq(
      (1L, "spam spam spam alpha beta gamma"),
      (2L, "spam spam spam delta epsilon zeta"),
      (3L, "spam spam spam eta theta iota"),
      (4L, "unique words only here today now")
    ).toDF("doc_id", "text")
    val out = CurationOps.scrubFrequentSpans(docs, "text", m = 3, minCount = 3)
      .orderBy("doc_id").select("text").as[String].collect().toSeq
    assert(out == Seq("alpha beta gamma", "delta epsilon zeta",
      "eta theta iota", "unique words only here today now"))
  }

  test("scrubFrequentSpans with nothing frequent is the identity (incl. row count)") {
    val docs = Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text")
    val out = CurationOps.scrubFrequentSpans(docs, "text", 3, minCount = 2)
    assert(out.orderBy("doc_id").select("text").as[String].collect().toSeq ==
      Seq("a b c", "d e f"))
  }

  test("a doc whose every span is frequent survives with empty text") {
    val docs = Seq(
      (1L, "x y z"), (2L, "x y z"), (3L, "x y z w w w")).toDF("doc_id", "text")
    val out = CurationOps.scrubFrequentSpans(docs, "text", 3, minCount = 3)
      .orderBy("doc_id").select("text").as[String].collect().toSeq
    assert(out == Seq("", "", "w w w"))
  }

  test("scrub plan: span counting shuffles longs only; frequent set broadcasts") {
    val docs = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    val df = CurationOps.scrubFrequentSpans(docs, "text", 3, 2)
    assert(physical(df).toString.contains("BroadcastExchange"))
    assertNoStringShuffle(df, expectShuffle = true)
  }

  test("scrubPii redacts emails, IPv4 and phone formats; clean text unchanged") {
    val got = Seq(
      "contact jane.doe+spam@sub.example.co.uk for details",
      "server at 192.168.1.254 timed out",
      "call 415-555-0199 or (415) 555-0199 or +1 415.555.0199",
      "version 1.2 costs 3.50 and pi is 3.14159",   // no false positives
      "plain text with no pii at all"
    ).toDF("text").select(CurationOps.scrubPii(col("text")).as("t"))
      .as[String].collect().toSeq
    assert(got(0) == "contact <EMAIL> for details")
    assert(got(1) == "server at <IP> timed out")
    assert(got(2) == "call <PHONE> or <PHONE> or <PHONE>")
    assert(got(3) == "version 1.2 costs 3.50 and pi is 3.14159")
    assert(got(4) == "plain text with no pii at all")
  }

  test("capBuckets keeps the top-cap per bucket by rank desc, id-asc ties") {
    val docs = Seq(
      (1L, "en", 10.0), (2L, "en", 30.0), (3L, "en", 20.0), (4L, "en", 30.0),
      (5L, "fr", 5.0), (6L, "fr", 6.0),
      (7L, "de", 1.0)
    ).toDF("doc_id", "lang", "score")
    val kept = CurationOps.capBuckets(docs, Seq("lang"), col("score"), "doc_id", 2)
      .select("doc_id").as[Long].collect().toSet
    // en: 30.0 ties -> ids 2 then 4 win; fr/de under cap: all kept
    assert(kept == Set(2L, 4L, 5L, 6L, 7L))
  }

  test("capBuckets plan: only numeric columns cross the ranking shuffle") {
    val docs = Seq((1L, "en", "s0", 1.0), (2L, "en", "s0", 2.0))
      .toDF("doc_id", "lang", "source", "score")
    assertNoStringShuffle(
      CurationOps.capBuckets(docs, Seq("lang", "source"), col("score"), "doc_id", 1),
      expectShuffle = true)
  }

  test("packSequences: greedy fill, over-budget doc sits alone, per-shard restart") {
    val docs = Seq(
      ("a", 1L, 100L), ("a", 2L, 100L), ("a", 3L, 100L),  // 100+100 | 100
      ("a", 4L, 300L),                                     // alone (over budget)
      ("a", 5L, 10L),
      ("b", 6L, 250L), ("b", 7L, 1L)                       // exact fit | new pack
    ).toDF("shard", "doc_id", "n")
    val got = CurationOps.packSequences(docs, "shard", "doc_id", col("n"), 250L)
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 2L, 5L -> 3L,
      6L -> 0L, 7L -> 1L))
  }

  test("packSequences invariants hold against an independent fold on random input") {
    val rnd = new scala.util.Random(7)
    val rows = (1L to 400L).map(i =>
      (s"s${rnd.nextInt(5)}", i, rnd.nextInt(120).toLong))
    val df = rows.toDF("shard", "doc_id", "n")
    val budget = 200L
    val got = CurationOps.packSequences(df, "shard", "doc_id", col("n"), budget)
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    // reference: plain Scala greedy per shard in id order
    val want = rows.groupBy(_._1).flatMap { case (_, ds) =>
      var acc = 0L; var pack = -1L
      ds.sortBy(_._2).map { case (_, id, n) =>
        if (pack < 0 || acc + n > budget) { pack += 1; acc = n } else acc += n
        id -> pack
      }
    }
    assert(got == want)
  }

  test("packSequences plan: only the (shard_h, id, n) longs shuffle") {
    val docs = Seq(("a", 1L, 5L), ("b", 2L, 6L)).toDF("shard", "doc_id", "n")
    assertNoStringShuffle(
      CurationOps.packSequences(docs, "shard", "doc_id", col("n"), 10L),
      expectShuffle = true)
  }

  test("precomputed eval gram set round-trips through parquet with equal decisions") {
    val dir = tempDir().toString
    CurationOps.evalGramSet(evalSet, "text", 3).write.mode("overwrite").parquet(dir)
    val fromDisk = spark.read.parquet(dir)
    val direct = CurationOps.decontaminate(train, evalSet, "text", "doc_id", 3)
      .select("doc_id").as[Long].collect().toSet
    val precomp = CurationOps.decontaminateWithGramSet(
        train, fromDisk, "text", "doc_id", 3)
      .select("doc_id").as[Long].collect().toSet
    assert(direct == precomp && precomp == Set(2L, 3L, 5L))
  }

  test("precomputed frequent-span set round-trips through parquet with equal scrub") {
    val docs = Seq(
      (1L, "spam spam spam alpha beta gamma"),
      (2L, "spam spam spam delta epsilon zeta"),
      (3L, "spam spam spam eta theta iota")).toDF("doc_id", "text")
    val dir = tempDir().toString
    CurationOps.frequentSpans(docs, "text", 3, 3).write.mode("overwrite").parquet(dir)
    val direct = CurationOps.scrubFrequentSpans(docs, "text", 3, 3)
      .orderBy("doc_id").select("text").as[String].collect().toSeq
    val precomp = CurationOps.scrubWithFrequentSpans(
        docs, spark.read.parquet(dir), "text", 3)
      .orderBy("doc_id").select("text").as[String].collect().toSeq
    assert(direct == precomp &&
      precomp == Seq("alpha beta gamma", "delta epsilon zeta", "eta theta iota"))
  }

  test("gramKeys is pluggable: portable md5/string forms match the fused default") {
    val a = contaminatedIds(train, 3).as[Long].collect().toSet
    val b = contaminatedIds(train, 3,
        gramKeys = (t, n) => transform(
          array_distinct(CurationOps.ngramList(t, n)),
          g => graft.core.PortableHash.md5Long(g)))
      .as[Long].collect().toSet
    val c = contaminatedIds(train, 3,
        gramKeys = (t, n) => array_distinct(CurationOps.ngramList(t, n)))
      .as[Long].collect().toSet
    assert(a == b && b == c)
  }

  // ------------------------------------------------------ dedupSpans

  test("dedupSpans keeps exactly the first (doc_id, pos) copy of each span") {
    val docs = Seq(
      (1L, "a b c d e f", "keep"),       // spans: "a b", "c d", "e f"
      (2L, "c d x y a b", "keep"),       // "c d" and "a b" lose to doc 1
      (3L, "x y x y", "keep"),           // first "x y" loses to doc 2, second to its own first
      (4L, "c d a b", "gone")            // every span already owned
    ).toDF("doc_id", "text", "tag")
    val out = CurationOps.dedupSpans(docs, "text", "doc_id", m = 2)
      .orderBy("doc_id").collect()
    assert(out.map(_.getString(1)).toSeq ==
      Seq("a b c d e f", "x y", "", ""))
    // non-text columns and the full row set survive, including emptied docs
    assert(out.map(r => (r.getLong(0), r.getString(2))).toSeq ==
      Seq((1L, "keep"), (2L, "keep"), (3L, "keep"), (4L, "gone")))
  }

  test("dedupSpans is the identity on a corpus with no repeated span") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "epsilon zeta eta theta"),
      (3L, "")).toDF("doc_id", "text")
    val out = CurationOps.dedupSpans(docs, "text", "doc_id", m = 2)
      .orderBy("doc_id").select("text").as[String].collect().toSeq
    assert(out == Seq("alpha beta gamma delta", "epsilon zeta eta theta", ""))
  }

  test("dedupSpans: md5 key decisions match the fused xxhash64 default") {
    val docs = train.union(train.withColumn("doc_id", col("doc_id") + 100))
    val a = CurationOps.dedupSpans(docs, "text", "doc_id", m = 3)
      .orderBy("doc_id").select("text").as[String].collect().toSeq
    val b = CurationOps.dedupSpans(docs, "text", "doc_id", m = 3,
        spanKey = graft.core.PortableHash.md5Long)
      .orderBy("doc_id").select("text").as[String].collect().toSeq
    assert(a == b)
    // the +100 twins repeat every span of train: all emptied
    assert(a.drop(5).forall(_ == "") && a.take(5).exists(_.nonEmpty))
  }

  test("dedupSpans plan: ownership shuffles longs only; text moves at most in the rebuild join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val out = CurationOps.dedupSpans(train, "text", "doc_id", m = 2)
    val shuffles = physical(out).collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.nonEmpty)
    val stringCarrying = shuffles.filter(_.output.exists(
      _.dataType == org.apache.spark.sql.types.StringType))
    // only the id-keyed rebuild join may move text; the span-ownership
    // aggregation exchanges stay (hash, packed-long)
    stringCarrying.foreach { s =>
      s.outputPartitioning match {
        case h: HashPartitioning =>
          assert(h.expressions.exists(_.references.exists(_.name == "doc_id")),
            s"string-carrying shuffle not keyed by doc_id:\n$s")
        case p => fail(s"unexpected partitioning $p for string-carrying shuffle")
      }
    }
    assert(stringCarrying.size <= 1)
  }

  // ------------------------------------------------------ perplexity

  test("perplexitySelf matches hand-computed add-one bigram scores") {
    val docs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    // unigrams: a=3 b=3 c=1 -> V=3; bigrams: "a b"=3, "b a"=1, "b c"=1
    val out = CurationOps.perplexitySelf(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    val p_ab = 4.0 / 6.0; val p_ba = 2.0 / 6.0; val p_bc = 2.0 / 6.0
    val nll1 = -(math.log(p_ab) * 2 + math.log(p_ba)) / 3
    val nll2 = -(math.log(p_ab) + math.log(p_bc)) / 2
    assert(out.map(_.getLong(1)).toSeq == Seq(3L, 2L))
    assert(math.abs(out(0).getDouble(2) - nll1) < 1e-12)
    assert(math.abs(out(1).getDouble(2) - nll2) < 1e-12)
    assert(math.abs(out(0).getDouble(3) - math.exp(nll1)) < 1e-12)
  }

  test("perplexity: unseen tokens/bigrams fall back to the smoothing floor") {
    val corpus = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val uni = CurationOps.lmUnigramCounts(corpus, "text")
    val bi = CurationOps.lmBigramCounts(corpus, "text")
    val probe = Seq((9L, "z q"), (10L, "a")).toDF("doc_id", "text")
    val out = CurationOps.perplexity(probe, "text", "doc_id", uni, bi).collect()
    // "a" has no bigram position -> absent; "z q" scores 1/(0+V) = 1/3
    assert(out.map(_.getLong(0)).toSeq == Seq(9L))
    assert(math.abs(out(0).getDouble(2) - (-math.log(1.0 / 3.0))) < 1e-12)
  }

  test("perplexity: md5 key scores match the fused xxhash64 default") {
    val a = CurationOps.perplexitySelf(train, "text", "doc_id")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val b = CurationOps.perplexitySelf(train, "text", "doc_id",
        tokenKey = graft.core.PortableHash.md5Long)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(a.map(x => (x._1, x._2)).sameElements(b.map(x => (x._1, x._2))))
    a.zip(b).foreach { case (x, y) => assert(math.abs(x._3 - y._3) < 1e-12) }
  }

  test("perplexity plan: document text never crosses an exchange") {
    assertNoStringShuffle(
      CurationOps.perplexitySelf(train, "text", "doc_id"), expectShuffle = true)
  }

  // -------------------------------------------------- stupid backoff

  test("stupidBackoffSelf matches hand-computed trigram ladder scores") {
    val docs = Seq((1L, "a b c a b c"), (2L, "a b d")).toDF("doc_id", "text")
    // trigrams: "a b c"=2, "b c a"=1, "c a b"=1, "a b d"=1
    // bigram contexts: "a b"=3, "b c"=2, "c a"=1
    val out = CurationOps.stupidBackoffSelf(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    val nll1 = -(math.log(2.0 / 3.0) * 2 + math.log(1.0 / 2.0) + math.log(1.0)) / 4
    val nll2 = -math.log(1.0 / 3.0)
    assert(out.map(_.getLong(1)).toSeq == Seq(4L, 1L))
    assert(math.abs(out(0).getDouble(2) - nll1) < 1e-12)
    assert(math.abs(out(1).getDouble(2) - nll2) < 1e-12)
    assert(math.abs(out(0).getDouble(3) - math.exp(nll1)) < 1e-12)
  }

  test("stupidBackoff: unseen trigrams walk the backoff rungs") {
    val corpus = Seq((1L, "a b c a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val uni = CurationOps.lmUnigramCounts(corpus, "text")
    val bi = CurationOps.lmBigramCounts(corpus, "text")
    val tri = CurationOps.lmTrigramCounts(corpus, "text")
    // N=9 tokens, V=4 distinct
    val probe = Seq((9L, "a b x"), (10L, "x a b"), (11L, "a b"))
      .toDF("doc_id", "text")
    val out = CurationOps.stupidBackoff(probe, "text", "doc_id", uni, bi, tri)
      .orderBy("doc_id").collect()
    // "a b x": tri and "b x" unseen -> unigram floor 0.16*(0+1)/(9+4);
    // "x a b": tri unseen, backoff bigram "a b"=3 over c("a")=3 -> 0.4;
    // "a b": < 3 tokens -> absent
    assert(out.map(_.getLong(0)).toSeq == Seq(9L, 10L))
    assert(math.abs(out(0).getDouble(2) - (-math.log(0.4 * 0.4 / 13.0))) < 1e-12)
    assert(math.abs(out(1).getDouble(2) - (-math.log(0.4))) < 1e-12)
  }

  test("stupidBackoff: md5 key scores match the xxhash64 default") {
    val a = CurationOps.stupidBackoffSelf(train, "text", "doc_id")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val b = CurationOps.stupidBackoffSelf(train, "text", "doc_id",
        tokenKey = graft.core.PortableHash.md5Long)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(a.map(x => (x._1, x._2)).sameElements(b.map(x => (x._1, x._2))))
    a.zip(b).foreach { case (x, y) => assert(math.abs(x._3 - y._3) < 1e-12) }
  }

  test("stupidBackoff plan: document text never crosses an exchange") {
    assertNoStringShuffle(
      CurationOps.stupidBackoffSelf(train, "text", "doc_id"), expectShuffle = true)
  }

  test("semanticDecontaminate: an exact embedding leak is ALWAYS flagged " +
      "(shares every band bucket); near-orthogonal corpus rows are not") {
    val r = new scala.util.Random(3)
    val leak = Seq.fill(64)(r.nextFloat() * 2f - 1f)
    val heldout = Seq((1000L, leak)).toDF("vec_id", "embedding")
    val corpus = ((1 to 30).map(i =>
      (i.toLong, Seq.fill(64)(r.nextFloat() * 2f - 1f))) :+ (99L -> leak))
      .toDF("vec_id", "embedding")
    val flagged = CurationOps.semanticDecontaminate(
        corpus, heldout, "vec_id", "embedding", minCosine = 0.95)
      .as[(Long, Long, Double)].collect()
    assert(flagged.map(f => (f._1, f._2)).toSet == Set((99L, 1000L)),
      s"exactly the planted leak must be flagged, got ${flagged.toSeq}")
    assert(flagged.head._3 > 0.9999)
  }

  test("semanticDecontaminate: flagged pairs are distinct even when a pair " +
      "collides in several bands") {
    val v = Seq.fill(64)(0.5f)
    val flagged = CurationOps.semanticDecontaminate(
        Seq((1L, v)).toDF("vec_id", "embedding"),
        Seq((2L, v)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", minCosine = 0.5)
      .collect()
    assert(flagged.length == 1, "identical vectors share all 8 bands -> one row")
  }

  test("noveltyRate: hand gram overlaps, gram-less doc NULL rate, " +
      "repartition-proof") {
    import org.apache.spark.sql.functions.array_distinct
    val evalDocs = Seq((1L, "a b c d"), (2L, "x y z w"), (3L, "p q"))
      .toDF("doc_id", "text")
    val train = Seq((10L, "a b c q q"), (11L, "m n o")).toDF("doc_id", "text")
    val keys = (t: org.apache.spark.sql.Column, n: Int) =>
      array_distinct(CurationOps.ngramList(t, n))
    val got = CurationOps.noveltyRate(
        train, evalDocs, "text", "doc_id", n = 3, gramKeys = keys)
      .as[(Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    // doc 1: grams {a b c, b c d}; train has "a b c" -> seen 1 of 2
    assert(got(1L) == ((1L, 2L, 1L, Some(0.5))))
    // doc 2: no overlap -> fully novel
    assert(got(2L) == ((2L, 2L, 0L, Some(1.0))))
    // doc 3: fewer than n tokens -> no grams, rate undefined
    assert(got(3L) == ((3L, 0L, 0L, None)))
    val re = CurationOps.noveltyRate(
        train.repartition(3), evalDocs.repartition(2),
        "text", "doc_id", 3, keys)
      .as[(Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(re == got)
  }
}
