package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.TempDirs.tempDir

/** Product quantization: the fused encode/lut/adc expressions vs an
  * independent straight-line Scala reference, the null contracts, the
  * ADC==reconstruction invariant, training determinism, and end-to-end
  * neighbor quality on planted clusters.
  */
class PqSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val dim = 16
  private val m = 4
  private val ksub = 4
  private val sub = dim / m

  /** Independent reference: squared L2 of subspace `s` of `v` vs
    * codebook entry `(s, c)` — same widen-then-accumulate order.
    */
  private def refD2(v: Seq[Float], cb: Array[Float], s: Int, c: Int): Double = {
    var acc = 0.0
    var j = 0
    while (j < sub) {
      val x = v(s * sub + j).toDouble - cb((s * ksub + c) * sub + j).toDouble
      acc += x * x
      j += 1
    }
    acc
  }

  private def refEncode(v: Seq[Float], cb: Array[Float]): Seq[Int] =
    (0 until m).map { s =>
      (0 until ksub).minBy(c => (refD2(v, cb, s, c), c))
    }

  private def rnd(seed: Int): Array[Float] = {
    val r = new scala.util.Random(seed)
    Array.fill(dim)(r.nextFloat() * 2f - 1f)
  }

  test("PqEncode / PqLut / AdcLookup agree with the independent reference " +
      "on 200 random vectors") {
    val cb = Array.tabulate(m * ksub * sub)(i => new scala.util.Random(i).nextFloat())
    val vecs = (0 until 200).map(i => (i.toLong, rnd(i).toSeq))
    val df = vecs.toDF("id", "v")
    val q = rnd(9999)
    val qlutRow = df.limit(1).select(
      Pq.pqLutCol(typedlit(q.toSeq), cb, m, ksub, dim)).head.getSeq[Double](0)
    // lut vs reference
    for (s <- 0 until m; c <- 0 until ksub)
      assert(qlutRow(s * ksub + c) == refD2(q.toSeq, cb, s, c),
        s"lut($s,$c) mismatch")
    val got = df.select(col("id"),
        Pq.pqCodes(col("v"), cb, m, ksub, dim).as("codes"),
        Pq.adcLookup(typedlit(qlutRow), Pq.pqCodes(col("v"), cb, m, ksub, dim),
          ksub).as("adc"))
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Int](1), r.getDouble(2)))).toMap

    vecs.foreach { case (id, v) =>
      val (codes, adc) = got(id)
      assert(codes == refEncode(v, cb), s"codes mismatch at $id")
      // ADC invariant: table walk == distance to the RECONSTRUCTED vector,
      // exactly (same d2 terms, same order)
      val expect = (0 until m).map(s => refD2(q.toSeq, cb, s, codes(s))).sum
      assert(adc == expect, s"adc mismatch at $id")
    }
  }

  test("equal-distance ties keep the LOWEST code") {
    // two identical codebook entries per subspace -> argmin must pick code 0
    val entry = Array.tabulate(sub)(j => j * 0.5f)
    val cb = new Array[Float](m * ksub * sub)
    for (s <- 0 until m; c <- 0 until ksub; j <- 0 until sub)
      cb((s * ksub + c) * sub + j) = entry(j)
    val v = Array.tabulate(dim)(j => (j % sub) * 0.5f + 1f).toSeq
    val codes = Seq((1L, v)).toDF("id", "v")
      .select(Pq.pqCodes(col("v"), cb, m, ksub, dim)).head.getSeq[Int](0)
    assert(codes == Seq.fill(m)(0))
  }

  test("null contracts: wrong length / null element -> NULL codes and lut; " +
      "out-of-range or null code -> NULL adc") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("v", ArrayType(FloatType, containsNull = true))))
    val rows = Seq(
      Row(1L, Seq.fill(dim - 1)(0.5f)),
      Row(2L, (Seq.fill(dim - 1)(0.5f) :+ null).asInstanceOf[Seq[Any]]),
      Row(3L, null))
    val cb = new Array[Float](m * ksub * sub)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r.get(0), r.get(1)))), schema)
    val out = df.select(
      Pq.pqCodes(col("v"), cb, m, ksub, dim).as("codes"),
      Pq.pqLutCol(col("v"), cb, m, ksub, dim).as("lut")).collect()
    assert(out.forall(r => r.isNullAt(0) && r.isNullAt(1)))

    val lut = Seq.fill(m * ksub)(1.0)
    val badCodes = Seq(
      Seq(0, 1, 2, ksub), // out of range
      Seq(0, 1, 2), // wrong arity
      null)
    badCodes.foreach { cs =>
      val adcDf = Seq(1L).toDF("id").select(
        Pq.adcLookup(typedlit(lut), typedlit(cs), ksub))
      assert(adcDf.head.isNullAt(0), s"adc should be NULL for codes=$cs")
    }
  }

  test("trainCodebooks: iters=0 returns the subvectors of the ksub " +
      "smallest ids; an emptied code keeps its seed entry") {
    val pts = (0 until 40).map { i =>
      // ids 0..3 seed 4 far-apart anchors; later rows all hug anchor id%3
      // (never anchor 3), so code 3 empties in the Lloyd round
      val anchor = if (i < 4) i else i % 3
      (i.toLong, Array.tabulate(dim)(j => anchor * 10f + j * 0.01f + (i % 7) * 0.001f).toSeq)
    }
    val df = pts.toDF("vec_id", "embedding")
    val cb0 = graft.ops.PqOps.trainCodebooks(df, "embedding", "vec_id",
      m, ksub, iters = 0, dim)
    for (c <- 0 until ksub; s <- 0 until m; j <- 0 until sub)
      assert(cb0((s * ksub + c) * sub + j) == pts(c)._2(s * sub + j))

    val cb1 = graft.ops.PqOps.trainCodebooks(df, "embedding", "vec_id",
      m, ksub, iters = 1, dim)
    // code 3 (anchor 3: only its own seed row assigns there) -> mean of the
    // single member = the seed row itself, rounded; codes 0..2 move to the
    // member means; either way every entry stays finite and code 3 stays
    // anchored at ~30+
    for (s <- 0 until m; j <- 0 until sub) {
      val e3 = cb1((s * ksub + 3) * sub + j)
      assert(e3 >= 29f && e3 <= 31f, s"code-3 entry drifted: $e3")
    }
  }

  test("pqSearchADC: on planted clusters every query's top-1 neighbor is " +
      "a same-cluster member") {
    val r = new scala.util.Random(7)
    val centers = Array.tabulate(4, dim)((c, j) => c * 5f + (j % 3) * 0.5f)
    val pts = (0 until 80).map { i =>
      val c = i % 4
      (i.toLong, (0 until dim).map(j => centers(c)(j) + r.nextFloat() * 0.2f))
    }
    val df = pts.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 8)
    val top1 = graft.ops.PqOps.pqSearchADC(queries, df, k = 1,
        m = m, ksub = ksub, dim = dim)
      .collect().map(row => (row.getLong(0), row.getLong(1)))
    assert(top1.length == 8)
    top1.foreach { case (q, n) =>
      assert(q % 4 == n % 4, s"query $q matched cross-cluster neighbor $n")
    }
  }

  test("ivfPqSearchADC: gated form with nprobe = nlist IS pqSearchADC; " +
      "residual form keeps planted-cluster neighbors; repartition-proof") {
    val r = new scala.util.Random(11)
    val centers = Array.tabulate(4, dim)((c, j) => c * 5f + (j % 3) * 0.5f)
    val pts = (0 until 80).map { i =>
      val c = i % 4
      (i.toLong, (0 until dim).map(j => centers(c)(j) + r.nextFloat() * 0.2f))
    }
    val df = pts.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 8)
    // differential: probing every list with raw-vector encoding is the
    // flat PQ search exactly (same seeds, codebooks, LUTs, candidates)
    val flat = graft.ops.PqOps.pqSearchADC(queries, df, k = 3,
        m = m, ksub = ksub, dim = dim)
      .as[(Long, Long, Double, Int)].collect().sortBy(t => (t._1, t._4))
    val gatedAll = graft.ops.PqOps.ivfPqSearchADC(queries, df, k = 3,
        nlist = 4, nprobe = 4, m = m, ksub = ksub, dim = dim,
        byResidual = false)
      .as[(Long, Long, Double, Int)].collect().sortBy(t => (t._1, t._4))
    assert(gatedAll.toSeq == flat.toSeq,
      "nprobe = nlist, byResidual = false must equal the flat PQ search")
    // residual IVFPQ: every query's top-1 stays in its planted cluster
    // even probing a single list
    val res = graft.ops.PqOps.ivfPqSearchADC(queries, df, k = 1,
        nlist = 4, nprobe = 1, m = m, ksub = ksub, dim = dim)
      .collect().map(row => (row.getLong(0), row.getLong(1)))
    assert(res.length == 8)
    res.foreach { case (q, n) =>
      assert(q % 4 == n % 4, s"query $q matched cross-cluster neighbor $n")
    }
    // deterministic under repartitioning (seeded pick, fused assigns)
    val re = graft.ops.PqOps.ivfPqSearchADC(queries.repartition(5),
        df.repartition(7), k = 1, nlist = 4, nprobe = 1,
        m = m, ksub = ksub, dim = dim)
      .collect().map(row => (row.getLong(0), row.getLong(1))).sortBy(_._1)
    assert(re.toSeq == res.sortBy(_._1).toSeq)
  }

  test("ivfPqIndex + ivfPqSearchIndexed: the persisted index serves the " +
      "exact one-shot ivfPqSearchADC results, residual and gated forms") {
    val r = new scala.util.Random(13)
    val centers = Array.tabulate(4, dim)((c, j) => c * 5f + (j % 3) * 0.5f)
    val pts = (0 until 80).map { i =>
      val c = i % 4
      (i.toLong, (0 until dim).map(j => centers(c)(j) + r.nextFloat() * 0.2f))
    }
    val df = pts.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 8)
    def sorted(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Long, Double, Int)].collect().sortBy(t => (t._1, t._4)).toSeq
    for (byRes <- Seq(true, false)) {
      val idx = tempDir().toString
      graft.ops.PqOps.ivfPqIndex(df, idx, nlist = 4, m = m, ksub = ksub,
        dim = dim, byResidual = byRes)
      val oneShot = sorted(graft.ops.PqOps.ivfPqSearchADC(queries, df,
        k = 3, nlist = 4, nprobe = 2, m = m, ksub = ksub,
        dim = dim, byResidual = byRes))
      val served = sorted(
        graft.ops.PqOps.ivfPqSearchIndexed(queries, idx, k = 3, nprobe = 2))
      assert(served == oneShot,
        s"byResidual=$byRes: indexed search must equal one-shot search")
      assert(served.nonEmpty)
    }
    // parameter guard: probing more lists than the index holds fails loudly
    val idx2 = tempDir().toString
    graft.ops.PqOps.ivfPqIndex(df, idx2, nlist = 4, m = m, ksub = ksub,
      dim = dim)
    intercept[IllegalArgumentException] {
      graft.ops.PqOps.ivfPqSearchIndexed(queries, idx2, k = 1, nprobe = 9)
    }
  }

  test("ivfPqAppend: frozen-quantizer add() — batch-split invariant, " +
      "appended rows retrievable, existing codes never retrained") {
    val r = new scala.util.Random(17)
    val centers = Array.tabulate(4, dim)((c, j) => c * 5f + (j % 3) * 0.5f)
    def mk(i: Int): (Long, Seq[Float]) = {
      val c = i % 4
      (i.toLong, (0 until dim).map(j => centers(c)(j) + r.nextFloat() * 0.2f))
    }
    val base = (0 until 60).map(mk)
    val batch = (60 until 100).map(mk)
    val baseDf = base.toDF("vec_id", "embedding")
    val queries = baseDf.filter(col("vec_id") < 8)
    def sorted(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Long, Double, Int)].collect().sortBy(t => (t._1, t._4)).toSeq
    // one append vs the same rows in two appends: encode is a pure
    // per-row function of (vector, stored artifacts), so the search
    // results must be byte-identical
    val d1 = tempDir().toString
    val d2 = tempDir().toString
    for (d <- Seq(d1, d2))
      graft.ops.PqOps.ivfPqIndex(baseDf, d, nlist = 4, m = m, ksub = ksub,
        dim = dim)
    graft.ops.PqOps.ivfPqAppend(batch.toDF("vec_id", "embedding"), d1)
    graft.ops.PqOps.ivfPqAppend(
      batch.filter(_._1 < 80).toDF("vec_id", "embedding"), d2)
    graft.ops.PqOps.ivfPqAppend(
      batch.filter(_._1 >= 80).toDF("vec_id", "embedding"), d2)
    val s1 = sorted(graft.ops.PqOps.ivfPqSearchIndexed(queries, d1, k = 5, nprobe = 2))
    val s2 = sorted(graft.ops.PqOps.ivfPqSearchIndexed(queries, d2, k = 5, nprobe = 2))
    assert(s1 == s2, "append must be batch-split invariant")
    // appended rows are retrievable: batch ids share the base clusters,
    // so they must appear among the top-5 of same-cluster queries
    val appendedSeen = s1.map(_._2).toSet.exists(_ >= 60L)
    assert(appendedSeen, s"no appended row ever retrieved: $s1")
    // the quantizer stayed frozen: searching only base-era queries on
    // the pre-append index gives the same codes for base rows (the
    // append touched nothing it shouldn't)
    val d0 = tempDir().toString
    graft.ops.PqOps.ivfPqIndex(baseDf, d0, nlist = 4, m = m, ksub = ksub,
      dim = dim)
    val preCodes = spark.read.parquet(s"$d0/codes")
      .as[(Int, Long, Seq[Int])].collect().sortBy(_._2).toSeq
    val postCodes = spark.read.parquet(s"$d1/codes")
      .filter(col("neighbor_id") < 60)
      .as[(Int, Long, Seq[Int])].collect().sortBy(_._2).toSeq
    assert(preCodes == postCodes,
      "append must not touch existing rows' codes or assignments")
  }

  test("ivfPqCompact: byte-identical search results, codes rows untouched, " +
      "file count restored after a run of appends") {
    val r = new scala.util.Random(31)
    val centers = Array.tabulate(4, dim)((c, j) => c * 5f + (j % 3) * 0.5f)
    def mk(i: Int): (Long, Seq[Float]) = {
      val c = i % 4
      (i.toLong, (0 until dim).map(j => centers(c)(j) + r.nextFloat() * 0.2f))
    }
    val base = (0 until 60).map(mk)
    val idx = tempDir().toString
    graft.ops.PqOps.ivfPqIndex(base.toDF("vec_id", "embedding"), idx,
      nlist = 4, m = m, ksub = ksub, dim = dim)
    for (b <- 0 until 3)
      graft.ops.PqOps.ivfPqAppend(
        (60 + b * 10 until 70 + b * 10).map(mk).toDF("vec_id", "embedding"),
        idx)
    def files() = new java.io.File(idx, "codes").listFiles()
      .count(_.getName.endsWith(".parquet"))
    def codesRows() = spark.read.parquet(s"$idx/codes")
      .as[(Int, Long, Seq[Int])].collect().sortBy(_._2).toSeq
    def search() = graft.ops.PqOps
      .ivfPqSearchIndexed(base.take(8).toDF("vec_id", "embedding"), idx,
        k = 5, nprobe = 2)
      .as[(Long, Long, Double, Int)].collect().sortBy(t => (t._1, t._4)).toSeq
    val filesBefore = files()
    val rowsBefore = codesRows()
    val resBefore = search()
    graft.ops.PqOps.ivfPqCompact(spark, idx)
    assert(codesRows() == rowsBefore,
      "compaction must not touch a single codes row")
    assert(search() == resBefore,
      "search must be byte-identical across compaction")
    assert(files() < filesBefore,
      s"3 appends scattered $filesBefore files; compaction must consolidate")
    assert(!new java.io.File(idx, "codes__compacting").exists() &&
      !new java.io.File(idx, "codes__old").exists(),
      "no temp directories may survive a clean compaction")
  }

  test("ivfPqRebuildGauge: a corpus-like batch keeps the quantizer, a " +
      "drifted batch (one-cluster pileup) flips the verdict to rebuild") {
    val r = new scala.util.Random(23)
    val centers = Array.tabulate(4, dim)((c, j) => c * 5f + (j % 3) * 0.5f)
    def mk(i: Int, c: Int): (Long, Seq[Float]) =
      (i.toLong, (0 until dim).map(j => centers(c)(j) + r.nextFloat() * 0.2f))
    val base = (0 until 80).map(i => mk(i, i % 4))
    val idx = tempDir().toString
    graft.ops.PqOps.ivfPqIndex(base.toDF("vec_id", "embedding"), idx,
      nlist = 4, m = m, ksub = ksub, dim = dim)
    // same cluster mix as the corpus: occupancy distributions align
    val like = (100 until 140).map(i => mk(i, i % 4))
    val keep = graft.ops.PqOps.ivfPqRebuildGauge(
      like.toDF("vec_id", "embedding"), idx)
    val keepRows = keep.select("centroid", "psi_total", "verdict")
      .as[(Int, Double, String)].collect().toSeq
    assert(keepRows.map(_._1).sorted == Seq(0, 1, 2, 3))
    assert(keepRows.forall(_._3 == "keep"),
      s"corpus-like batch must keep: $keepRows")
    // drifted: every incoming vector lands in ONE list — the
    // distribution the quantizer was never trained for
    val drifted = (100 until 140).map(i => mk(i, 0))
    val rebuild = graft.ops.PqOps.ivfPqRebuildGauge(
      drifted.toDF("vec_id", "embedding"), idx)
      .select("psi_total", "verdict")
      .as[(Double, String)].collect().toSeq
    assert(rebuild.forall(_._2 == "rebuild"),
      s"one-list pileup must trip the 0.25 PSI line: $rebuild")
    assert(rebuild.head._1 > keepRows.head._2,
      "drifted PSI must exceed the corpus-like PSI")
  }

  test("ivfPqNprobeCurve: self-recall is monotone in nprobe and exactly " +
      "1.0 at the unpruned point; the candidate count is the cost axis") {
    val r = new scala.util.Random(29)
    val centers = Array.tabulate(4, dim)((c, j) => c * 5f + (j % 3) * 0.5f)
    val pts = (0 until 80).map { i =>
      val c = i % 4
      (i.toLong, (0 until dim).map(j => centers(c)(j) + r.nextFloat() * 0.2f))
    }
    val df = pts.toDF("vec_id", "embedding")
    val idx = tempDir().toString
    graft.ops.PqOps.ivfPqIndex(df, idx, nlist = 4, m = m, ksub = ksub,
      dim = dim)
    val curve = graft.ops.PqOps.ivfPqNprobeCurve(
        df.filter(col("vec_id") < 8), df, idx, k = 3, nprobes = Seq(1, 2, 4))
      .orderBy("nprobe")
      .as[(Int, Long, Double, Double, Double)].collect().toSeq
    assert(curve.map(_._1) == Seq(1, 2, 4))
    assert(curve.forall(_._2 == 8L), s"8 queries per point: $curve")
    // hits(p) = |full-topk ∩ probed lists|, so self-recall can only grow
    val selfR = curve.map(_._5)
    assert(selfR == selfR.sorted, s"self-recall must be monotone: $curve")
    assert(selfR.last == 1.0,
      s"nprobe = nlist is the unpruned search itself: $curve")
    val cands = curve.map(_._3)
    assert(cands == cands.sorted && cands.distinct == cands,
      s"probing more lists must cost more candidates: $curve")
    assert(curve.forall(t => t._4 >= 0.0 && t._4 <= 1.0))
  }

  test("ivfPqCompact crash recovery: a crash between the two swap renames " +
      "(codes renamed away, new layout not yet live) self-heals; a crash " +
      "after the swap discards the stale codes__old") {
    val r = new scala.util.Random(37)
    val centers = Array.tabulate(4, dim)((c, j) => c * 5f + (j % 3) * 0.5f)
    def mk(i: Int): (Long, Seq[Float]) = {
      val c = i % 4
      (i.toLong, (0 until dim).map(j => centers(c)(j) + r.nextFloat() * 0.2f))
    }
    val idx = tempDir().toString
    graft.ops.PqOps.ivfPqIndex((0 until 60).map(mk).toDF("vec_id", "embedding"),
      idx, nlist = 4, m = m, ksub = ksub, dim = dim)
    def codesRows() = spark.read.parquet(s"$idx/codes")
      .as[(Int, Long, Seq[Int])].collect().sortBy(_._2).toSeq
    val rowsBefore = codesRows()
    // stage the mid-swap crash state: codes__old holds the ONLY copy,
    // codes is gone, and a leftover partial rewrite sits in the temp dir
    // (java.io.File is fine HERE — the spec stages a local fixture; the
    // operator under test goes through the Hadoop FileSystem API)
    assert(new java.io.File(idx, "codes")
      .renameTo(new java.io.File(idx, "codes__old")))
    assert(new java.io.File(idx, "codes__compacting").mkdirs())
    graft.ops.PqOps.ivfPqCompact(spark, idx)
    assert(codesRows() == rowsBefore,
      "mid-swap recovery must roll the old layout back and compact it")
    assert(!new java.io.File(idx, "codes__compacting").exists() &&
      !new java.io.File(idx, "codes__old").exists(),
      "no temp directories may survive a recovered compaction")
    // stage the post-swap crash state: codes live, a stale codes__old
    val oldDir = new java.io.File(idx, "codes__old")
    assert(oldDir.mkdirs())
    java.nio.file.Files.write(
      new java.io.File(oldDir, "stale").toPath, Array[Byte](1))
    graft.ops.PqOps.ivfPqCompact(spark, idx)
    assert(codesRows() == rowsBefore)
    assert(!oldDir.exists(), "post-swap recovery must discard codes__old")
  }

  test("standing-index I/O is scheme-agnostic: the full build/append/" +
      "compact/search loop against an explicit file:// URI equals the " +
      "plain-path index byte for byte") {
    val r = new scala.util.Random(43)
    val centers = Array.tabulate(4, dim)((c, j) => c * 5f + (j % 3) * 0.5f)
    def mk(i: Int): (Long, Seq[Float]) = {
      val c = i % 4
      (i.toLong, (0 until dim).map(j => centers(c)(j) + r.nextFloat() * 0.2f))
    }
    val rows = (0 until 60).map(mk)
    val batch = (60 until 80).map(mk)
    val plain = tempDir().toString
    val uriDir = tempDir()
    val uri = "file://" + uriDir.toString
    for (d <- Seq(plain, uri)) {
      graft.ops.PqOps.ivfPqIndex(rows.toDF("vec_id", "embedding"), d,
        nlist = 4, m = m, ksub = ksub, dim = dim)
      graft.ops.PqOps.ivfPqAppend(batch.toDF("vec_id", "embedding"), d)
      graft.ops.PqOps.ivfPqCompact(spark, d)
    }
    def search(d: String) = graft.ops.PqOps
      .ivfPqSearchIndexed(rows.take(8).toDF("vec_id", "embedding"), d,
        k = 5, nprobe = 2)
      .as[(Long, Long, Double, Int)].collect().sortBy(t => (t._1, t._4)).toSeq
    assert(search(uri) == search(plain),
      "a file:// URI index must serve identical results to a plain path")
    assert(new java.io.File(uriDir.toFile, "codes").isDirectory,
      "the URI index must land where the URI points")
    assert(!new java.io.File(uriDir.toFile, "codes__old").exists() &&
      !new java.io.File(uriDir.toFile, "codes__compacting").exists())
  }

  test("rebuild loop end-to-end: a drifted append trips ivfPqRebuildGauge, " +
      "and REBUILDING recovers recall at fixed nprobe vs the stale index") {
    val r = new scala.util.Random(41)
    // base clusters live on coordinate blocks 0..2 (coarse assignment is
    // by cosine, so clusters are DIRECTIONS); the drifted cluster points
    // midway between blocks 0 and 1 — equidistant in angle from both
    // stale centroids, so its rows split between those two lists on noise
    val nBlocks = m // dim 16 = 4 blocks of 4
    def mkVec(blocks: Set[Int]): Seq[Float] =
      (0 until dim).map(j =>
        (if (blocks(j / (dim / nBlocks))) 5f else 0.3f) + r.nextFloat() * 0.4f)
    val base = (0 until 90).map(i => (i.toLong, mkVec(Set(i % 3))))
    val stale = tempDir().toString
    graft.ops.PqOps.ivfPqIndex(base.toDF("vec_id", "embedding"), stale,
      nlist = 3, m = m, ksub = ksub, dim = dim)
    // the drifted batch, with a 6-row near-duplicate sub-blob planted ON
    // the stale quantizer's decision midline (the midpoint of two stored
    // centroids): the blob is a DISTINCT exact top-5 set for each of its
    // members (recall measures whether the index can reach it, not PQ
    // resolution inside an undifferentiated blob where any top-5 is as
    // exact as any other), and the frozen quantizer — trained before this
    // region existed — splits it across two lists on member jitter, the
    // structural leak the gauge's rebuild verdict exists to catch
    val cents = spark.read.parquet(s"$stale/centroids")
      .orderBy("centroid").as[(Int, Seq[Float])].collect().map(_._2)
    val hotCenter = (0 until dim).map(j => (cents(0)(j) + cents(1)(j)) / 2f)
    val hot = (100 until 106).map(i =>
      (i.toLong, hotCenter.map(_ + r.nextFloat() * 0.04f)))
    val drift = hot ++ (106 until 160).map(i => (i.toLong, mkVec(Set(0, 1))))
    // 1. the gauge sees the drifted batch and says rebuild
    val verdicts = graft.ops.PqOps.ivfPqRebuildGauge(
        drift.toDF("vec_id", "embedding"), stale)
      .select("verdict").distinct().as[String].collect().toSeq
    assert(verdicts == Seq("rebuild"),
      s"drifted batch must trip the gauge: $verdicts")
    // 2. ingest it anyway (the stale-index path the gauge warns against)
    graft.ops.PqOps.ivfPqAppend(drift.toDF("vec_id", "embedding"), stale)
    val corpus = (base ++ drift).toDF("vec_id", "embedding")
    val queries = hot.toDF("vec_id", "embedding")
    def recallAt1(idx: String): Double =
      graft.ops.PqOps.ivfPqNprobeCurve(queries, corpus, idx, k = 5,
          nprobes = Seq(1, 3))
        .filter(col("nprobe") === 1)
        .select("recall_mean").as[Double].head()
    val staleRecall = recallAt1(stale)
    // 3. the rebuild the gauge asked for: retrain quantizer + codebooks
    //    on the post-drift corpus
    val rebuilt = tempDir().toString
    graft.ops.PqOps.ivfPqIndex(corpus, rebuilt,
      nlist = 4, m = m, ksub = ksub, dim = dim)
    val rebuiltRecall = recallAt1(rebuilt)
    // the measured consequence behind the gauge's 0.25 line: the stale
    // quantizer scatters the drifted cluster across two lists (and its
    // codebooks never trained on drift residuals), so nprobe=1 search
    // leaks true neighbors; the rebuilt index holds the cluster in the
    // probed list
    assert(staleRecall <= 0.7,
      s"stale index should leak drifted neighbors at nprobe=1: $staleRecall")
    assert(rebuiltRecall >= staleRecall + 0.2,
      s"rebuild must recover recall: stale $staleRecall, rebuilt $rebuiltRecall")
  }

  test("ivfPqDelete: deleted ids are never served (pre- and post-compact), " +
      "ranks re-close over survivors, compaction physically removes the " +
      "rows and clears the tombstones, untouched rows stay byte-identical") {
    val r = new scala.util.Random(47)
    val centers = Array.tabulate(4, dim)((c, j) => c * 5f + (j % 3) * 0.5f)
    def mk(i: Int): (Long, Seq[Float]) = {
      val c = i % 4
      (i.toLong, (0 until dim).map(j => centers(c)(j) + r.nextFloat() * 0.2f))
    }
    val rows = (0 until 80).map(mk)
    val idx = tempDir().toString
    graft.ops.PqOps.ivfPqIndex(rows.toDF("vec_id", "embedding"), idx,
      nlist = 4, m = m, ksub = ksub, dim = dim)
    val queries = rows.take(8).toDF("vec_id", "embedding")
    def search() = graft.ops.PqOps
      .ivfPqSearchIndexed(queries, idx, k = 5, nprobe = 4)
      .as[(Long, Long, Double, Int)].collect().sortBy(t => (t._1, t._4)).toSeq
    val before = search()
    val deadIds = (20 until 40 by 2).map(_.toLong)
    assert(before.exists(t => deadIds.contains(t._2)),
      "fixture must serve at least one soon-deleted id pre-delete")
    graft.ops.PqOps.ivfPqDelete(
      deadIds.toDF("vec_id"), idx)
    val after = search()
    assert(after.forall(t => !deadIds.contains(t._2)),
      s"deleted ids served: ${after.filter(t => deadIds.contains(t._2))}")
    // the tombstone anti-join runs BEFORE ranking: the served frame is
    // exactly the pre-delete candidates minus the dead ids, re-ranked —
    // survivors' relative ADC order is untouched, ranks close the gaps
    val expect = before.filter(t => !deadIds.contains(t._2))
      .groupBy(_._1).toSeq.flatMap { case (q, ts) =>
        ts.sortBy(_._4).zipWithIndex.map { case ((_, n, a, _), i) =>
          (q, n, a, i + 1)
        }
      }.sortBy(t => (t._1, t._4))
    // pre-delete k=5 may not retain enough survivors to refill 5 ranks,
    // so compare on the prefix both sides can see
    expect.groupBy(_._1).foreach { case (q, exp) =>
      val got = after.filter(_._1 == q)
      assert(got.take(exp.length) == exp.sortBy(_._4),
        s"query $q: survivor re-rank mismatch")
    }
    // compaction physically applies: rows gone from the parquet itself,
    // tombstone table cleared, served results byte-identical
    graft.ops.PqOps.ivfPqCompact(spark, idx)
    assert(!new java.io.File(idx, "tombstones").exists(),
      "compaction must clear applied tombstones")
    val physical = spark.read.parquet(s"$idx/codes")
      .as[(Int, Long, Seq[Int])].collect()
    assert(physical.forall(t => !deadIds.contains(t._2)),
      "compaction must physically drop tombstoned codes rows")
    assert(physical.length == 80 - deadIds.length)
    assert(search() == after,
      "search must be byte-identical across the tombstone-applying compaction")
  }

  test("ivfPqDelete: absent ids are a no-op, deletes accumulate across " +
      "calls, and the nprobe curve and rebuild gauge serve around " +
      "tombstones") {
    val r = new scala.util.Random(53)
    val centers = Array.tabulate(4, dim)((c, j) => c * 5f + (j % 3) * 0.5f)
    def mk(i: Int): (Long, Seq[Float]) = {
      val c = i % 4
      (i.toLong, (0 until dim).map(j => centers(c)(j) + r.nextFloat() * 0.2f))
    }
    val rows = (0 until 80).map(mk)
    val df = rows.toDF("vec_id", "embedding")
    val idx = tempDir().toString
    graft.ops.PqOps.ivfPqIndex(df, idx, nlist = 4, m = m, ksub = ksub,
      dim = dim)
    val queries = rows.take(8).toDF("vec_id", "embedding")
    def search() = graft.ops.PqOps
      .ivfPqSearchIndexed(queries, idx, k = 5, nprobe = 4)
      .as[(Long, Long, Double, Int)].collect().sortBy(t => (t._1, t._4)).toSeq
    val before = search()
    // absent ids: tombstones exist but hit nothing
    graft.ops.PqOps.ivfPqDelete(Seq(9999L, 10000L).toDF("vec_id"), idx)
    assert(search() == before, "deleting absent ids must change nothing")
    // two calls accumulate like one
    graft.ops.PqOps.ivfPqDelete(Seq(20L).toDF("vec_id"), idx)
    graft.ops.PqOps.ivfPqDelete(Seq(21L, 20L).toDF("vec_id"), idx)
    val served = search().map(_._2).toSet
    assert(!served.contains(20L) && !served.contains(21L))
    // the tuning curve serves around the same tombstones
    val curveIds = graft.ops.PqOps.ivfPqNprobeCurve(queries, df, idx,
        k = 5, nprobes = Seq(4))
      .select("n_queries").as[Long].head()
    assert(curveIds == 8L)
    // direct witness on the curve's candidate frame: a full-probe search
    // at k = corpus size can return every non-deleted id and no deleted one
    val all = graft.ops.PqOps
      .ivfPqSearchIndexed(queries, idx, k = 80, nprobe = 4)
      .as[(Long, Long, Double, Int)].collect().map(_._2).toSet
    assert(!all.contains(20L) && !all.contains(21L))
    // gauge base side excludes tombstoned rows: deleting every row of
    // one list shifts the base occupancy the gauge reports
    val gaugeBefore = graft.ops.PqOps.ivfPqRebuildGauge(df, idx)
      .select("n_old").as[Long].collect().sum
    assert(gaugeBefore == 80L - 2L,
      s"gauge base must already exclude the 2 tombstoned rows: $gaugeBefore")
  }

  test("ivfPqDelete plan shape: the probed-centroid isin pushdown survives " +
      "a pending tombstone anti-join, and the anti-join is a broadcast") {
    val r = new scala.util.Random(61)
    val centers = Array.tabulate(4, dim)((c, j) => c * 5f + (j % 3) * 0.5f)
    def mk(i: Int): (Long, Seq[Float]) = {
      val c = i % 4
      (i.toLong, (0 until dim).map(j => centers(c)(j) + r.nextFloat() * 0.2f))
    }
    val rows = (0 until 80).map(mk)
    val idx = tempDir().toString
    graft.ops.PqOps.ivfPqIndex(rows.toDF("vec_id", "embedding"), idx,
      nlist = 4, m = m, ksub = ksub, dim = dim)
    graft.ops.PqOps.ivfPqDelete(Seq(7L, 9L).toDF("vec_id"), idx)
    val queries = rows.take(4).toDF("vec_id", "embedding")
    val plan = graft.ops.PqOps
      .ivfPqSearchIndexed(queries, idx, k = 3, nprobe = 2)
      .queryExecution.executedPlan.toString
    // the codes scan must still be pruned to the probed lists: the
    // serving contract is reading ~nprobe/nlist of the index, and a
    // tombstone anti-join placed wrong (below the filter, or forcing a
    // plain filter post-scan) would silently widen every served read
    assert(plan.contains("PushedFilters") && plan.contains("In(centroid"),
      s"probed-centroid isin no longer reaches the codes scan:\n$plan")
    // the tombstone set is broadcast by contract (bounded by the
    // between-compactions opt-out stream) — a sort-merge anti-join here
    // would shuffle the whole probed candidate frame by id
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"tombstone anti-join is not a broadcast:\n$plan")
  }

  test("ivfPqDelete + compaction crash states: pending tombstones survive " +
      "a mid-swap crash rollback (still served-around), and stale " +
      "already-applied tombstones after a post-swap crash stay harmless") {
    val r = new scala.util.Random(59)
    val centers = Array.tabulate(4, dim)((c, j) => c * 5f + (j % 3) * 0.5f)
    def mk(i: Int): (Long, Seq[Float]) = {
      val c = i % 4
      (i.toLong, (0 until dim).map(j => centers(c)(j) + r.nextFloat() * 0.2f))
    }
    val rows = (0 until 80).map(mk)
    val idx = tempDir().toString
    graft.ops.PqOps.ivfPqIndex(rows.toDF("vec_id", "embedding"), idx,
      nlist = 4, m = m, ksub = ksub, dim = dim)
    val queries = rows.take(8).toDF("vec_id", "embedding")
    def search() = graft.ops.PqOps
      .ivfPqSearchIndexed(queries, idx, k = 5, nprobe = 4)
      .as[(Long, Long, Double, Int)].collect().sortBy(t => (t._1, t._4)).toSeq
    graft.ops.PqOps.ivfPqDelete(Seq(4L, 5L).toDF("vec_id"), idx)
    val suppressed = search()
    assert(suppressed.forall(t => t._2 != 4L && t._2 != 5L))
    // stage the mid-swap crash WITH pending tombstones: codes renamed
    // away, rollback must restore the old layout and the tombstones
    // must still suppress at serve time, then compact applies them
    assert(new java.io.File(idx, "codes")
      .renameTo(new java.io.File(idx, "codes__old")))
    graft.ops.PqOps.ivfPqCompact(spark, idx)
    assert(search() == suppressed,
      "mid-swap recovery must keep deleted ids suppressed")
    assert(!new java.io.File(idx, "tombstones").exists())
    val physical = spark.read.parquet(s"$idx/codes")
      .as[(Int, Long, Seq[Int])].collect().map(_._2).toSet
    assert(!physical.contains(4L) && !physical.contains(5L),
      "recovered compaction must still apply the pending tombstones")
    // stage the post-swap crash state: rows already physically gone,
    // the tombstone table survived the crash (clear is last) — a
    // serving no-op, and the NEXT compaction retires it
    graft.ops.PqOps.ivfPqDelete(Seq(4L, 5L).toDF("vec_id"), idx)
    assert(search() == suppressed, "already-applied tombstones are no-ops")
    graft.ops.PqOps.ivfPqCompact(spark, idx)
    assert(!new java.io.File(idx, "tombstones").exists())
    assert(search() == suppressed)
  }
}
