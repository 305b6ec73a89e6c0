package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class SketchOpsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  // skewed synthetic corpus: token ti appears ~i times across docs
  private lazy val docs = {
    val rows = for (i <- 1 to 60; j <- 1 to i) yield (i.toLong * 100 + j, s"t$i")
    rows.groupBy(_._1 % 37).map { case (id, grp) =>
      (id, grp.map(_._2).mkString(" "))
    }.toSeq.toDF("doc_id", "text")
  }
  private lazy val exact = docs
    .select(explode(filter(split(col("text"), " "), t => t =!= "")).as("tok"))
    .groupBy("tok").count()
    .as[(String, Long)].collect().toMap

  test("CMS estimates are upper bounds within the eps*N error budget") {
    val (d, w, seed) = (4, 256, 7L)
    val sketch = SketchOps.cmsSketch(docs, "text", d, w, seed)
    val keys = exact.keys.toSeq.toDF("tok")
    val est = SketchOps.cmsEstimate(sketch, keys, "tok", d, w, seed)
      .as[(String, Long)].collect().toMap
    val n = exact.values.sum
    val budget = math.ceil(math.E / w * n).toLong * 3 // generous 3x eps*N
    exact.foreach { case (tok, ex) =>
      val e = est(tok)
      assert(e >= ex, s"$tok: CMS must never under-count ($e < $ex)")
      assert(e <= ex + budget, s"$tok: est $e exceeds exact $ex + $budget")
    }
  }

  test("CMS cells cap at depth*width and an unseen key estimates near zero") {
    val (d, w, seed) = (4, 64, 7L)
    val sketch = SketchOps.cmsSketch(docs, "text", d, w, seed)
    assert(sketch.count() <= d.toLong * w)
    val est = SketchOps.cmsEstimate(sketch, Seq("never-in-corpus").toDF("tok"),
        "tok", d, w, seed)
      .as[(String, Long)].collect().head._2
    val n = exact.values.sum
    assert(est <= math.ceil(math.E / w * n).toLong * 3,
      s"unseen key est $est outside the collision budget")
  }

  test("CMS merge: cell-wise sum of split sketches == whole-corpus sketch") {
    val (d, w, seed) = (4, 128, 11L)
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 =!= 0)
    val merged = SketchOps.cmsSketch(a, "text", d, w, seed)
      .unionByName(SketchOps.cmsSketch(b, "text", d, w, seed))
      .groupBy("r", "bucket").agg(sum("cnt").as("cnt"))
      .as[(Int, Long, Long)].collect().toSet
    val whole = SketchOps.cmsSketch(docs, "text", d, w, seed)
      .as[(Int, Long, Long)].collect().toSet
    assert(merged == whole)
  }

  test("HLL estimate lands within the m=256 error band; registers stay bounded") {
    val regs = SketchOps.hllRegisters(docs, "text", b = 8, seed = 9L)
    assert(regs.count() <= 256)
    val rhos = regs.select("rho_max").as[Int].collect()
    assert(rhos.forall(r => r >= 1 && r <= 41), "rho outside [1, lowWidth+1]")
    val est = SketchOps.hllEstimate(regs, b = 8)
    val truth = exact.size.toDouble // 60 distinct tokens
    // std error at m=256 is 1.04/16 = 6.5%; small-range correction
    // applies here — allow a generous 20% band
    assert(math.abs(est - truth) / truth < 0.20,
      s"HLL estimate $est vs exact $truth drifted > 20%")
  }

  test("HLL merge: register-wise max of split sketches == whole-corpus registers") {
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 =!= 0)
    val merged = SketchOps.hllRegisters(a, "text", 8, 9L)
      .unionByName(SketchOps.hllRegisters(b, "text", 8, 9L))
      .groupBy("bucket").agg(max("rho_max").as("rho_max"))
      .as[(Long, Int)].collect().toSet
    val whole = SketchOps.hllRegisters(docs, "text", 8, 9L)
      .as[(Long, Int)].collect().toSet
    assert(merged == whole)
  }

  test("CMS cells and estimates match an independent Scala sketch") {
    val (d, w, seed) = (4, 128, 13L)
    def md5Long60(s: String): Long = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      (java.nio.ByteBuffer.wrap(dig.take(8)).getLong >>> 4) & ((1L << 60) - 1)
    }
    val toks = docs.select(explode(filter(split(col("text"), " "), t => t =!= "")))
      .as[String].collect()
    val wantCells = toks.flatMap(t => (0 until d).map(r =>
      (r, md5Long60(s"$t#$seed#$r") % w))).groupBy(identity)
      .map { case ((r, b), hits) => (r, b, hits.size.toLong) }.toSet
    val gotCells = SketchOps.cmsSketch(docs, "text", d, w, seed)
      .as[(Int, Long, Long)].collect().toSet
    assert(gotCells == wantCells, "engine CMS cells != independent Scala sketch")

    val probes = exact.keys.toSeq
    val est = SketchOps.cmsEstimate(
        SketchOps.cmsSketch(docs, "text", d, w, seed),
        probes.toDF("tok"), "tok", d, w, seed)
      .as[(String, Long)].collect().toMap
    val cellMap = wantCells.map { case (r, b, c) => (r, b) -> c }.toMap
    probes.foreach { t =>
      val wantEst = (0 until d).map(r =>
        cellMap.getOrElse((r, md5Long60(s"$t#$seed#$r") % w), 0L)).min
      assert(est(t) == wantEst, s"$t: estimate ${est(t)} != $wantEst")
    }
  }

  test("Bloom: no false negatives; absent keys mostly reject; bits cap at m") {
    val (m, k, seed) = (4096, 3, 5L)
    val bits = SketchOps.bloomBits(docs, "text", m, k, seed)
    assert(bits.count() <= m)
    val present = exact.keys.toSeq
    val absent = present.map(_ + "-nope")
    val got = SketchOps.bloomProbe(bits, (present ++ absent).toDF("tok"),
        "tok", m, k, seed)
      .as[(String, Boolean)].collect().toMap
    present.foreach(t => assert(got(t), s"$t: bloom false negative"))
    // FP rate at n=60, m=4096, k=3 is ~1e-5; allow a couple anyway
    val fps = absent.count(got(_))
    assert(fps <= 2, s"$fps false positives out of ${absent.size}")
  }

  test("Bloom merge: union of split bit sets == whole-corpus bit set") {
    val (m, k, seed) = (512, 3, 5L)
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 =!= 0)
    val merged = SketchOps.bloomBits(a, "text", m, k, seed)
      .unionByName(SketchOps.bloomBits(b, "text", m, k, seed))
      .distinct().as[Long].collect().toSet
    val whole = SketchOps.bloomBits(docs, "text", m, k, seed)
      .as[Long].collect().toSet
    assert(merged == whole)
  }

  test("per-group HLL: registers partition cleanly; estimates match the driver fold") {
    val grouped = docs.withColumn("grp", (col("doc_id") % 2).cast("int"))
    val regs = SketchOps.hllRegistersBy(grouped, Seq("grp"), "text", 8, 9L)
    // each group's register slice must equal the global registers of
    // that group's docs alone
    for (g <- Seq(0, 1)) {
      val slice = regs.filter(col("grp") === g).select("bucket", "rho_max")
        .as[(Long, Int)].collect().toSet
      val direct = SketchOps.hllRegisters(
          grouped.filter(col("grp") === g), "text", 8, 9L)
        .as[(Long, Int)].collect().toSet
      assert(slice == direct, s"group $g register slice diverged")
      // the distributed estimate equals the driver-side fold exactly
      val est = SketchOps.hllEstimateBy(regs.filter(col("grp") === g), Seq("grp"), 8)
        .select("est_distinct").as[Double].collect().head
      val driver = SketchOps.hllEstimate(
        SketchOps.hllRegisters(grouped.filter(col("grp") === g), "text", 8, 9L), 8)
      assert(est == driver, s"group $g: column estimate $est != driver fold $driver")
    }
  }

  test("HLL estimate tracks scale on a larger synthetic cardinality") {
    val big = (1 to 20000).map(i => (i.toLong, s"u$i v${i % 7919}"))
      .toDF("doc_id", "text")
    val est = SketchOps.hllEstimate(
      SketchOps.hllRegisters(big, "text", b = 8, seed = 3L), b = 8)
    val truth = 20000.0 + 7919.0
    assert(math.abs(est - truth) / truth < 0.15,
      s"HLL estimate $est vs exact $truth drifted > 15%")
  }

  test("hdrQuantiles: lower-edge estimates within one bucket of the " +
      "exact quantile; partition-invariant; groups independent") {
    val vals = (1 to 2000).map(i => ("a", i / 10.0)) ++
      (1 to 500).map(i => ("b", 1000.0 + i))
    val df = vals.toDF("grp", "value")
    val probs = Seq(0.5, 0.95, 0.99)
    val got = SketchOps.hdrQuantiles(df, "value", "grp", probs)
      .as[(String, Double, Double, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    def exactQ(xs: Seq[Double], p: Double): Double =
      xs.sorted.apply(math.ceil(p * xs.size).toInt - 1)
    for (g <- Seq("a", "b"); p <- probs) {
      val v = exactQ(vals.filter(_._1 == g).map(_._2), p)
      val est = got((g, p))
      assert(est <= v + 1e-9, s"$g/$p: lower edge $est must not exceed $v")
      assert(v / est <= 1.0 + 1.0 / 16 + 1e-3,
        s"$g/$p: estimate $est more than one bucket below $v")
    }
    val re = SketchOps.hdrQuantiles(df.repartition(7), "value", "grp", probs)
      .as[(String, Double, Double, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(re == got, "sketch must be partition-invariant (mergeable)")
  }

  test("hdrQuantiles excludes nulls and non-positives; bucket state is bounded") {
    val df = Seq(("a", Some(-5.0)), ("a", None), ("a", Some(0.0)),
      ("a", Some(2.0)), ("a", Some(4.0))).toDF("grp", "value")
    val got = SketchOps.hdrQuantiles(df, "value", "grp", Seq(1.0))
      .as[(String, Double, Double, Long)].collect()
    assert(got.length == 1)
    assert(got.head._4 == 2L, "only the two positive values count")
    // 4.0 scaled = 4e6, octave 21 (2^21 <= 4e6 < 2^22): estimate is its
    // bucket's lower edge, within 1/16 below 4.0
    assert(got.head._3 <= 4.0 && 4.0 / got.head._3 <= 1.0 + 1.0 / 16 + 1e-3)
  }

  test("kmvSketch unsaturated is the exact distinct hash set; estimate exact") {
    val df = Seq(1L, 2L, 3L, 2L, 1L, 4L).toDF("id")
    val sk = SketchOps.kmvSketch(df, "id", k = 64, seed = 5L)
    val hs = sk.as[Long].collect()
    assert(hs.length == 4, "4 distinct values -> 4 sketch rows")
    assert(hs.sorted.sameElements(hs), "sketch frame is ascending")
    // n < k: the sketch IS the distinct hash set, so its size is exact
    val want = df.distinct()
      .select(graft.core.PortableHash.md5Long(col("id"), lit(5L)))
      .as[Long].collect().toSet
    assert(hs.toSet == want, "n < k path is exact")
  }

  test("kmvSketch is partition-invariant and mergeable") {
    val df = (1L to 5000L).toDF("id")
    val k = 128
    val a = SketchOps.kmvSketch(df, "id", k, seed = 5L).as[Long].collect()
    val b = SketchOps.kmvSketch(df.repartition(7), "id", k, seed = 5L)
      .as[Long].collect()
    assert(a.sameElements(b), "same k-min set under any partitioning")
    // merge rule: k-min of a union is the k-min of the per-side k-mins
    val left = SketchOps.kmvSketch((1L to 3000L).toDF("id"), "id", k, 5L)
    val right = SketchOps.kmvSketch((2000L to 5000L).toDF("id"), "id", k, 5L)
    val merged = left.unionByName(right).distinct().orderBy("h").limit(k)
      .as[Long].collect()
    assert(merged.sameElements(a), "sketch frames merge exactly")
  }

  test("kmvOverlap estimates Jaccard within bound; small unions are exact") {
    val k = 256
    val a = SketchOps.kmvSketch((1L to 10000L).toDF("id"), "id", k, 5L)
    val b = SketchOps.kmvSketch((5001L to 15000L).toDF("id"), "id", k, 5L)
    val row = SketchOps.kmvOverlap(a, b, k)
      .as[(Long, Double, Double, Double)].collect().head
    val (kUsed, jacc, uni, inter) = row
    assert(kUsed == k)
    // true J = 5000/15000 = 1/3; sigma ~ sqrt(J(1-J)/k) ~ 0.03: 5 sigma
    assert(math.abs(jacc - 1.0 / 3) < 0.15, s"jaccard_est $jacc")
    assert(math.abs(uni - 15000.0) / 15000.0 < 0.25, s"union_est $uni")
    assert(math.abs(inter - 5000.0) / 5000.0 < 0.5, s"intersect_est $inter")
    val sa = SketchOps.kmvSketch((1L to 40L).toDF("id"), "id", k, 5L)
    val sb = SketchOps.kmvSketch((21L to 60L).toDF("id"), "id", k, 5L)
    val ex = SketchOps.kmvOverlap(sa, sb, k)
      .as[(Long, Double, Double, Double)].collect().head
    assert(ex._1 == 60L && ex._3 == 60.0, "union below k stays exact")
    assert(math.abs(ex._2 - 20.0 / 60) < 1e-12 &&
      math.abs(ex._4 - 20.0) < 1e-9, "exact membership counts below k")
  }

  test("joinSizeEstimate never under-estimates and is exact sans collisions") {
    // fan-out join: key i on the left matches i copies on the right
    val left = (1L to 50L).toDF("k")
    val right = (for (i <- 1L to 50L; _ <- 1L to i) yield i).toDF("k")
    val exactSize = (1L to 50L).sum // 1275
    val mk = (df: org.apache.spark.sql.DataFrame, w: Int) =>
      SketchOps.cmsKeySketch(df, "k", depth = 4, width = w, seed = 3L)
    val wide = SketchOps.joinSizeEstimate(mk(left, 4096), mk(right, 4096))
      .as[Long].collect().head
    assert(wide == exactSize,
      s"50 keys in 4096 buckets: collisions possible but min-fold over 4 " +
        s"rows should be exact here (got $wide, exact $exactSize)")
    val narrow = SketchOps.joinSizeEstimate(mk(left, 16), mk(right, 16))
      .as[Long].collect().head
    assert(narrow >= exactSize, "CMS inner product never under-estimates")
  }

  test("joinSizeEstimate is partition-invariant and disjoint keys give zero") {
    val a = (1L to 500L).toDF("k")
    val b = (1L to 2000L).toDF("k")
    val est = SketchOps.joinSizeEstimate(
      SketchOps.cmsKeySketch(a, "k", 4, 512, 3L),
      SketchOps.cmsKeySketch(b, "k", 4, 512, 3L)).as[Long].collect().head
    val estRe = SketchOps.joinSizeEstimate(
      SketchOps.cmsKeySketch(a.repartition(7), "k", 4, 512, 3L),
      SketchOps.cmsKeySketch(b.repartition(5), "k", 4, 512, 3L))
      .as[Long].collect().head
    assert(est == estRe, "sketches (and thus the estimate) are mergeable")
    assert(est >= 500L, "every left key matches once")
    val disjoint = SketchOps.joinSizeEstimate(
      SketchOps.cmsKeySketch((1L to 100L).toDF("k"), "k", 4, 4096, 3L),
      SketchOps.cmsKeySketch((10001L to 10100L).toDF("k"), "k", 4, 4096, 3L))
      .as[Long].collect().head
    assert(disjoint <= 10L, s"disjoint key sets should estimate ~0, got $disjoint")
  }

  test("heavyHitters: deterministic exact output under MG eviction") {
    // planted skew: 'hot' 400/1000, 'warm' 200/1000, 100-item tail of
    // 4 each; k=8 << 102 distinct forces constant eviction in pass 1
    val rows = Seq.fill(400)("hot") ++ Seq.fill(200)("warm") ++
      (0 until 100).flatMap(i => Seq.fill(4)(s"tail$i"))
    val df = rows.toDF("v")
    val got = SketchOps.heavyHitters(df, "v", k = 8, minFrac = 0.15)
      .as[(String, Long)].collect().toMap
    assert(got == Map("hot" -> 400L, "warm" -> 200L),
      s"exact counts for exactly the >=15% items, got $got")
    val re = SketchOps.heavyHitters(df.repartition(13), "v", 8, 0.15)
      .as[(String, Long)].collect().toMap
    assert(re == got, "two-pass output is partitioning-independent")
    intercept[IllegalArgumentException] {
      SketchOps.heavyHitters(df, "v", k = 8, minFrac = 0.05)
    } // 0.05 < 1/9: the no-false-negative guarantee would not hold
  }

  test("MisraGries buffer bound: every > N/(k+1) item survives pass 1") {
    val rows = Seq.fill(300)("a") ++ Seq.fill(150)("b") ++
      (0 until 200).map(i => s"t$i")
    val k = 12
    val cand = rows.toDF("v")
      .agg(graft.functions.MisraGries.mgUdaf(k)(col("v")))
      .as[Seq[(String, Long)]].collect().head
    assert(cand.length <= k, "buffer never exceeds k entries")
    val n = rows.length
    val names = cand.map(_._1).toSet
    assert(names.contains("a") && names.contains("b"),
      s"items above N/(k+1)=${n / (k + 1)} must survive")
    cand.foreach { case (item, c) =>
      val truth = rows.count(_ == item)
      assert(c <= truth && c >= truth - n / (k + 1),
        s"$item MG count $c outside [truth-N/(k+1), truth]=[${truth - n / (k + 1)}, $truth]")
    }
  }
}
