package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class SplitOpsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val rows = (0 until 100).map(i => (i.toLong, i % 4)).toDF("id", "label")

  test("stratifiedSplit: exact per-class val counts, rows partitioned") {
    val s = SplitOps.stratifiedSplit(rows, "label", "id", 0.2, seed = 1L)
    val counts = s.groupBy("label", "split").count()
      .as[(Int, String, Long)].collect()
      .map { case (l, sp, n) => (l, sp) -> n }.toMap
    (0 until 4).foreach { l =>
      assert(counts((l, "val")) == 5)    // floor(25 * 0.2)
      assert(counts((l, "train")) == 20)
    }
    assert(s.count() == 100, "split adds no rows and drops none")
  }

  test("stratifiedSplit is stable under repartitioning (key-derived order)") {
    val a = SplitOps.stratifiedSplit(rows, "label", "id", 0.2, seed = 1L)
      .select("id", "split").as[(Long, String)].collect().toSet
    val b = SplitOps.stratifiedSplit(rows.repartition(7), "label", "id", 0.2, seed = 1L)
      .select("id", "split").as[(Long, String)].collect().toSet
    assert(a == b)
  }

  test("kFold: every row in exactly one fold, folds balanced per class") {
    val f = SplitOps.kFold(rows, "label", "id", 5)
    assert(f.count() == 100)
    val perFold = f.groupBy("fold", "label").count().as[(Int, Int, Long)].collect()
    perFold.foreach { case (_, _, n) => assert(n == 5) } // 25 per class / 5 folds
    assert(f.select("fold").distinct().count() == 5)
  }

  test("chunkBy: shard sizes = chunkSize except the tail") {
    val c = SplitOps.chunkBy(rows, "id", 30)
    val sizes = c.groupBy("shard").count().orderBy("shard").as[(Int, Long)].collect()
    assert(sizes.map(_._2).toSeq == Seq(30L, 30L, 30L, 10L))
  }

  test("shuffled: deterministic permutation, same seed same order") {
    val a = SplitOps.shuffled(rows, "id", 9L).select("id").as[Long].collect().toSeq
    val b = SplitOps.shuffled(rows, "id", 9L).select("id").as[Long].collect().toSeq
    val c = SplitOps.shuffled(rows, "id", 10L).select("id").as[Long].collect().toSeq
    assert(a == b)
    assert(a != c, "different seed should permute differently")
    assert(a.sorted == (0L until 100L))
  }

  test("weightedSample: deterministic, repartition-proof, tracks the probability") {
    val big = spark.range(0, 4000).toDF("id")
    val kept = SplitOps.weightedSample(big, "id", lit(0.3), seed = 5L)
      .select("id").as[Long].collect().toSet
    // deterministic: same call, same set — even under a different partitioning
    val kept2 = SplitOps.weightedSample(big.repartition(7), "id", lit(0.3), 5L)
      .select("id").as[Long].collect().toSet
    assert(kept == kept2)
    // Bernoulli(0.3) over 4000 draws: ~1200 ± a few σ (σ ≈ 29)
    assert(kept.size > 1050 && kept.size < 1350, s"kept ${kept.size} of 4000")
    // prob 0 keeps nothing, prob >= 1 (clamped) keeps everything
    assert(SplitOps.weightedSample(big, "id", lit(0.0), 5L).count() == 0L)
    assert(SplitOps.weightedSample(big, "id", lit(2.5), 5L).count() == 4000L)
  }

  test("negativeSamples: deterministic, frequency-weighted, repartition-proof") {
    val corpus = Seq(
      (1L, "common common common common common common common common rare"),
      (2L, "common common common common common common common common other")
    ).toDF("doc_id", "text")
    val s1 = SplitOps.negativeSamples(corpus, "doc_id", corpus, "text", 4, "t")
      .as[(Long, Int, String)].collect().toSet
    val s2 = SplitOps.negativeSamples(
        corpus.repartition(5), "doc_id", corpus.repartition(3), "text", 4, "t")
      .as[(Long, Int, String)].collect().toSet
    assert(s1 == s2, "draws must be key-derived, not partition-dependent")
    assert(s1.size == 8, "k draws per row")
    assert(s1.forall(r => Set("common", "rare", "other").contains(r._3)))

    // distribution sanity on many draws: 'common' has weight
    // round(1000*16^0.75)=8000 vs 1000 each for the two singletons —
    // expect ~80% of a large sample
    val many = (1L to 500L).map((_, "x")).toDF("doc_id", "ignored")
    val draws = SplitOps.negativeSamples(many, "doc_id", corpus, "text", 4, "d")
    val frac = draws.filter(col("neg") === "common").count().toDouble /
      draws.count()
    assert(frac > 0.72 && frac < 0.88, s"damped-frequency share off: $frac")

    // exact replay of one draw: binary-search pick == interval lookup
    val toks = Seq("common", "other", "rare")
    val w = toks.map {
      case "common" => math.round(1000 * math.sqrt(16.0 * math.sqrt(16.0)))
      case _        => 1000L
    }
    val cum = w.scanLeft(0L)(_ + _).tail
    val one = SplitOps.negativeSamples(
        Seq((7L, "x")).toDF("doc_id", "ignored"), "doc_id", corpus, "text", 1, "t")
      .as[(Long, Int, String)].head()
    val u = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest("7#0#t".getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % cum.last
    }
    val expected = toks(cum.indexWhere(u < _))
    assert(one._3 == expected)
  }

  test("negativeSamples: maxVocab caps the unigram table; no-op under cap") {
    val corpus = Seq(
      (1L, "common common common common common common common common rare"),
      (2L, "common common common common common common common common other")
    ).toDF("doc_id", "text")
    val many = (1L to 200L).map((_, "x")).toDF("doc_id", "ignored")
    // under cap: any maxVocab >= true vocab size leaves every draw
    // unchanged (the cap is a truncation rule, not a reweighting)
    val unc = SplitOps.negativeSamples(many, "doc_id", corpus, "text", 3, "c")
      .as[(Long, Int, String)].collect().toSet
    val big = SplitOps.negativeSamples(many, "doc_id", corpus, "text", 3, "c",
        maxVocab = 3)
      .as[(Long, Int, String)].collect().toSet
    assert(big == unc, "cap at vocab size must not change draws")
    // cap engages: top-1 by (count desc, tok asc) is 'common' — every
    // draw renormalizes onto the surviving table
    val one = SplitOps.negativeSamples(many, "doc_id", corpus, "text", 3, "c",
        maxVocab = 1)
      .as[(Long, Int, String)].collect()
    assert(one.length == 600 && one.forall(_._3 == "common"))
    // tie at the cut boundary breaks token-asc: 'other' < 'rare'
    val two = SplitOps.negativeSamples(many, "doc_id", corpus, "text", 3, "c",
        maxVocab = 2)
      .as[(Long, Int, String)].collect()
    assert(two.forall(r => r._3 == "common" || r._3 == "other"),
      "count-tied tokens must cut on token asc")
    assert(two.exists(_._3 == "other"), "9:1 weight still draws the tail")
  }

  test("leakProofSplit: duplicate texts land on one side; ratio tracks") {
    // dup pairs share content, distinct rows carry unique texts
    val docs = ((0 until 400).map(i => (i.toLong, s"unique text $i")) ++
      (0 until 50).flatMap(i => Seq((1000L + i, s"twin text $i"),
        (2000L + i, s"twin text $i")))).toDF("doc_id", "text")
    val s = SplitOps.leakProofSplit(docs, "text", testPct = 20, "sd")
    val byText = s.groupBy("text")
      .agg(countDistinct(col("split")).as("c"))
      .filter(col("c") > 1).count()
    assert(byText == 0L, "no content may span the split")
    val testFrac = s.filter(col("split") === "test").count().toDouble /
      s.count()
    assert(testFrac > 0.12 && testFrac < 0.28,
      s"20% draw should land near 0.2, got $testFrac")
    val rep = SplitOps.leakProofSplit(docs.repartition(7), "text", 20, "sd")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val base = s.select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(rep == base, "assignment is partitioning-proof")
    // NULL text falls to 'train' — the oracle's NULL-propagating draw
    // semantics (concat_ws would hash the bare salt and could leak a
    // NULL doc into 'test' while DuckDB keeps it in 'train')
    val withNull = Seq((1L, "some text"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val nullSide = SplitOps.leakProofSplit(withNull, "text", 50, "sd")
      .filter(col("doc_id") === 2L).select("split").as[String].head()
    assert(nullSide == "train", "NULL text must land in train on every engine")
  }

  test("curriculumOrder: fixed-threshold bins, dense global positions, " +
      "bins strictly ordered, repartition-proof") {
    val df = (0 until 60).map(i => (i.toLong, i / 20.0)).toDF("id", "score")
    val out = SplitOps.curriculumOrder(
        df, col("score"), "id", Seq(2.0, 1.0), "s")
      .as[(Long, Int, Long)].collect().sortBy(_._3)
    assert(out.length == 60)
    // dense 0..59 positions
    assert(out.map(_._3).toSeq == (0L until 60L))
    // bin 0 = score >= 2.0 (ids 40..59), bin 1 = [1,2), bin 2 = rest
    out.foreach { case (id, bin, _) =>
      val expect = if (id >= 40) 0 else if (id >= 20) 1 else 2
      assert(bin == expect, s"id $id bin $bin")
    }
    // all of bin 0 precedes all of bin 1 precedes all of bin 2
    assert(out.map(_._2).toSeq == out.map(_._2).toSeq.sorted)
    // deterministic under different input partitioning
    val re = SplitOps.curriculumOrder(
        df.repartition(7, col("id")), col("score"), "id", Seq(2.0, 1.0), "s")
      .as[(Long, Int, Long)].collect().sortBy(_._3)
    assert(re.toSeq == out.toSeq, "order must not depend on partitioning")
  }

  test("temporalEmbargoSplit: hand boundaries, straddlers purged, " +
      "boundary users exact") {
    // cutoff 100, embargo 20: train < 100, test >= 120
    val ev = Seq(
      (1L, 10L), (1L, 99L),            // all before cutoff -> train
      (2L, 120L), (2L, 200L),          // first event at the test edge
      (3L, 50L), (3L, 150L),           // straddles -> embargoed
      (4L, 100L),                      // max_ts == cutoff: NOT train
      (5L, 119L)                       // inside the gap -> embargoed
    ).toDF("u", "t")
    val got = SplitOps.temporalEmbargoSplit(ev, "u", col("t"), 100L, 20L)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 10L, 99L, 2L, "train")))
    assert(got(2L) == ((2L, 120L, 200L, 2L, "test")),
      "min_ts == cutoff + embargo is test (inclusive)")
    assert(got(3L)._5 == "embargoed", "straddler must be purged")
    assert(got(4L)._5 == "embargoed", "event AT the cutoff is not train")
    assert(got(5L)._5 == "embargoed", "gap events are purged")
  }

  test("curriculumOrder rejects unsorted thresholds") {
    val df = Seq((1L, 0.5)).toDF("id", "score")
    intercept[IllegalArgumentException] {
      SplitOps.curriculumOrder(df, col("score"), "id", Seq(0.1, 0.9), "s")
    }
  }
}
