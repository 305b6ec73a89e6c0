package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class VectorOpsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("argmaxFirst pins the torch.argmax first-max tie rule") {
    val df = Seq(
      Seq(1.0f, 3.0f, 3.0f, 2.0f), // tie: first max at index 1
      Seq(5.0f, 1.0f),
      Seq(-2.0f, -1.0f, -1.0f)
    ).toDF("v")
    val got = df.select(VectorOps.argmaxFirst(col("v")).as("i")).as[Int].collect().toSeq
    assert(got == Seq(1, 0, 1))
  }

  test("pad/mask invariants: mask sum = min(n, max), padded size = max") {
    val df = Seq(
      Seq(Seq(1.0f, 2.0f)),                       // 1 frame
      (1 to 5).map(i => Seq(i.toFloat, 0.0f)),    // 5 frames
      Seq.empty[Seq[Float]]                       // 0 frames
    ).toDF("frames")
    val got = df.select(
      size(VectorOps.padFrames(col("frames"), 3, 2)).as("pn"),
      VectorOps.arraySumD(VectorOps.frameMask(col("frames"), 3)).as("ms"),
      size(col("frames")).as("n")).as[(Int, Double, Int)].collect()
    got.foreach { case (pn, ms, n) =>
      assert(pn == 3)
      assert(ms == math.min(n, 3).toDouble)
    }
  }

  test("strideSample reproduces the reference range(0, n, n/max)[:max] rule") {
    def ref(n: Int, max: Int): Seq[Int] = (0 until n by n / max).take(max)
    val ns = Seq(33, 40, 64, 100)
    val df = ns.map(n => (0 until n).map(_.toFloat).map(Seq(_))).toDF("frames")
    val got = df.select(VectorOps.strideSample(col("frames"), 32).as("s"))
      .as[Seq[Seq[Float]]].collect()
    ns.zip(got).foreach { case (n, s) =>
      assert(s.map(_.head.toInt) == ref(n, 32), s"n=$n")
    }
  }

  test("strideSample is the identity for arrays at or under maxFrames") {
    val df = Seq(0, 3, 32).map(n => (0 until n).map(_.toFloat).map(Seq(_))).toDF("frames")
    val got = df.select(VectorOps.strideSample(col("frames"), 32).as("s"))
      .as[Seq[Seq[Float]]].collect()
    assert(got(0).isEmpty)
    assert(got(1).map(_.head.toInt) == Seq(0, 1, 2))
    assert(got(2).map(_.head.toInt) == (0 until 32))
  }

  test("seededSample: deterministic, sorted ascending, correct size") {
    val df = Seq.tabulate(3)(r => (s"id$r", (0 until 50).map(_.toFloat).map(Seq(_))))
      .toDF("id", "frames")
    val sample = VectorOps.seededSamplePortable(col("frames"), col("id"), 32, seed = 7L)
    val a = df.select(sample.as("s")).as[Seq[Seq[Float]]].collect()
    val b = df.repartition(3).select(sample.as("s")).as[Seq[Seq[Float]]].collect().toSet
    a.foreach { s =>
      assert(s.length == 32)
      val idxs = s.map(_.head)
      assert(idxs == idxs.sorted, "temporal order preserved")
    }
    assert(a.toSet == b, "partitioning must not change the sample (key-derived randomness)")
  }

  test("dot/cosine/l2Norm agree with direct computation") {
    val df = Seq((Seq(1.0f, 2.0f, 2.0f), Seq(2.0f, 0.0f, 1.0f))).toDF("a", "b")
    val (d, n, c) = df.select(
      VectorOps.dot(col("a"), col("b")),
      VectorOps.l2Norm(col("a")),
      VectorOps.cosine(col("a"), col("b"))).as[(Double, Double, Double)].head()
    assert(d == 4.0)
    assert(n == 3.0)
    assert(math.abs(c - 4.0 / (3.0 * math.sqrt(5.0))) < 1e-12)
  }

  test("cosine of zero vector is 0, not NaN") {
    val df = Seq((Seq(0.0f, 0.0f), Seq(1.0f, 1.0f))).toDF("a", "b")
    val c = df.select(VectorOps.cosine(col("a"), col("b"))).as[Double].head()
    assert(c == 0.0)
  }

  test("lastKLayerPool means the last k layer vectors (OP-30)") {
    val five = Seq(Seq(1.0f, 2.0f), Seq(3.0f, 4.0f), Seq(5.0f, 6.0f),
      Seq(7.0f, 8.0f), Seq(9.0f, 10.0f))
    val df = Seq(Tuple1(five), Tuple1(five.take(4)), Tuple1(five.take(3))).toDF("layers")
    val got = df.select(VectorOps.lastKLayerPool(col("layers"), 4).as("p"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getSeq[Double](0)))
    assert(got(0) == Some(Seq(6.0, 7.0)), "mean of layers 2..5")
    assert(got(1) == Some(Seq(4.0, 5.0)), "exactly k layers pools them all")
    assert(got(2) == None, "fewer than k layers is a caller error, not a partial pool")
  }

  test("maskedMean is (hidden*mask).sum / mask.sum, partial masks included (OP-29)") {
    val rows = Seq(
      (Seq(1.0f, 2.0f, 3.0f, 4.0f), Seq(1, 1, 1, 1)),
      (Seq(1.0f, 2.0f, 3.0f, 4.0f), Seq(1, 1, 0, 0)),
      (Seq(0.5f, -2.0f, 100.0f, 7.25f), Seq(0, 1, 0, 1)),
      (Seq(1.0f, 2.0f, 3.0f, 4.0f), Seq(0, 0, 0, 0)))
    val got = rows.toDF("h", "m")
      .select(VectorOps.maskedMean(col("h"), col("m"))).as[Option[Double]].collect().toSeq
    val reference = rows.map { case (h, m) =>
      if (m.sum == 0) None
      else Some(h.zip(m).map { case (x, k) => x.toDouble * k }.sum / m.sum) }
    assert(got == reference)
    assert(got == Seq(Some(2.5), Some(1.5), Some(2.625), None),
      "masked-out positions must not contribute; an all-zero mask (0/0) pools to NULL")
  }

  // ------------------------------------------------ random projection

  test("randomProject of a basis vector reads off the sign matrix exactly") {
    val inDim = 8; val outDim = 4
    val s = VectorOps.jlSignMatrix(inDim, outDim, seed = 7L)
    // e_2 -> proj_j = s(j)(2) / sqrt(outDim), bit-exact (one multiply)
    val basis = Seq.tabulate(inDim)(i => if (i == 2) 1.0f else 0.0f)
    val got = Seq(Tuple1(basis)).toDF("v")
    val out = VectorOps.randomProject(got, "v", inDim, outDim, seed = 7L)
      .select("proj").as[Seq[Double]].head()
    (0 until outDim).foreach { j =>
      assert(out(j) == s(j)(2) * (1.0 / math.sqrt(outDim.toDouble)),
        s"output dim $j must be the (j, 2) sign scaled")
    }
    assert(s.flatten.forall(v => v == 1.0 || v == -1.0))
  }

  test("randomProject preserves norms in expectation (JL contract)") {
    val rnd = new scala.util.Random(13)
    val vecs = Seq.tabulate(200)(i =>
      (i.toLong, Seq.fill(64)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("id", "v")
    val ratios = VectorOps.randomProject(df, "v", 64, 16, seed = 42L)
      .select(col("id"),
        VectorOps.arraySumD(transform(col("proj"), x => x * x)).as("pn"),
        VectorOps.arraySumD(transform(col("v"),
          x => x.cast("double") * x.cast("double"))).as("vn"))
      .select((col("pn") / col("vn")).as("r")).as[Double].collect()
    val mean = ratios.sum / ratios.length
    assert(math.abs(mean - 1.0) < 0.15,
      s"E[|proj|^2 / |v|^2] must be ~1, got $mean")
    // linearity: proj(2v) = 2 proj(v) bit-exact (pure column algebra)
    val doubled = df.select(col("id"),
      transform(col("v"), x => x * lit(2.0f)).as("v"))
    val p1 = VectorOps.randomProject(df, "v", 64, 16)
      .select("id", "proj").as[(Long, Seq[Double])].collect().toMap
    val p2 = VectorOps.randomProject(doubled, "v", 64, 16)
      .select("id", "proj").as[(Long, Seq[Double])].collect().toMap
    p1.foreach { case (id, p) =>
      p.zip(p2(id)).foreach { case (a, b) => assert(b == a * 2.0) }
    }
  }

  test("MatVec is bit-identical to the unrolled element_at chain") {
    val rnd = new scala.util.Random(53)
    val rows = Array.tabulate(5, 12)((_, _) => rnd.nextGaussian())
    val df = (0 until 60).map(i =>
      (i.toLong, Seq.fill(12)(rnd.nextGaussian().toFloat))).toDF("id", "v")
    val chain = df.select(col("id"), array(rows.toIndexedSeq.map { r =>
      r.indices.map(i =>
        element_at(col("v"), i + 1).cast("double") * lit(r(i)))
        .reduceLeft(_ + _)
    }: _*).as("p")).as[(Long, Seq[Double])].collect().toMap
    val fused = df.select(col("id"),
      graft.functions.MatVec.matVec(col("v"), rows).as("p"))
      .as[(Long, Seq[Double])].collect().toMap
    chain.foreach { case (id, p) =>
      p.zip(fused(id)).foreach { case (a, b) => assert(a == b) }
    }
    // null-on-mismatch contract
    val bad = Seq(Tuple1(Seq(1.0f, 2.0f))).toDF("v")
      .select(graft.functions.MatVec.matVec(col("v"), rows).as("p"))
      .collect().head
    assert(bad.isNullAt(0))
  }

  // ---------------------------------------------------- covariance/PCA

  test("covarianceMatrix matches a hand-computed 2x2 case") {
    val df = Seq(Tuple1(Seq(1.0f, 2.0f)), Tuple1(Seq(3.0f, 4.0f))).toDF("v")
    val got = VectorOps.covarianceMatrix(df, "v", 2)
      .as[(Int, Int, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(math.abs(got((0, 0)) - 1.0) < 1e-9)
    assert(math.abs(got((1, 1)) - 1.0) < 1e-9)
    assert(math.abs(got((0, 1)) - 1.0) < 1e-9)
    assert(got.size == 3, "upper triangle only")
  }

  test("jacobiEigen solves the classic symmetric 2x2") {
    val m = VectorOps.jacobiEigen(Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(math.abs(m.eigenvalues(0) - 3.0) < 1e-12)
    assert(math.abs(m.eigenvalues(1) - 1.0) < 1e-12)
    val r2 = 1.0 / math.sqrt(2.0)
    assert(m.components(0).zip(Array(r2, r2)).forall {
      case (a, b) => math.abs(a - b) < 1e-12 })
    assert(m.components(1).zip(Array(r2, -r2)).forall {
      case (a, b) => math.abs(a - b) < 1e-12 })
  }

  test("covarianceMatrixFast matches the exact pair-stream form") {
    val rnd = new scala.util.Random(41)
    val df = (0 until 150).map(_ =>
      Tuple1(Seq.fill(8)(rnd.nextGaussian().toFloat))).toDF("v")
    val exact = VectorOps.covarianceMatrix(df, "v", 8)
      .as[(Int, Int, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val fast = VectorOps.covarianceMatrixFast(df.repartition(7), "v", 8)
    exact.foreach { case ((i, j), c) =>
      assert(math.abs(fast(i)(j) - c) < 1e-8, s"cell ($i,$j): $c vs ${fast(i)(j)}")
      assert(fast(i)(j) == fast(j)(i))
    }
  }

  test("pcaTrain recovers a planted principal axis; projection decorrelates") {
    val dim = 8
    val rnd = new scala.util.Random(17)
    val u = Array.tabulate(dim)(i => if (i % 2 == 0) 0.5 else -0.5) // unit
    val rows = (0 until 400).map { _ =>
      val a = rnd.nextGaussian() * 3.0 // dominant axis, var 9
      Tuple1(Seq.tabulate(dim)(i =>
        (a * u(i) + rnd.nextGaussian() * 0.1).toFloat))
    }
    val df = rows.toDF("v")
    val model = VectorOps.pcaTrain(df, "v", dim, k = 2)
    val dot = model.components(0).zip(u).map { case (a, b) => a * b }.sum
    assert(math.abs(dot) > 0.99,
      s"first component must align with the planted axis, |dot| = ${math.abs(dot)}")
    assert(model.eigenvalues(0) > 5.0 && model.eigenvalues(1) < 0.5,
      s"explained variance must concentrate: ${model.eigenvalues.toSeq}")
    // projected scores are uncorrelated across components
    val proj = VectorOps.pcaProject(df, "v", model)
    val c01 = VectorOps.covarianceMatrix(
      proj.select(transform(col("pca"), x => x.cast("float")).as("p")), "p", 2)
      .as[(Int, Int, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(math.abs(c01((0, 1))) < 0.05,
      s"PCA scores must decorrelate, got cov ${c01((0, 1))}")
    assert(c01((0, 0)) > c01((1, 1)))
  }

  test("powerComponent converges to the Jacobi top component; " +
      "repartition-proof; invalid rows excluded") {
    val dim = 8
    val rnd = new scala.util.Random(29)
    val u = Array.tabulate(dim)(i => if (i % 2 == 0) 0.5 else -0.5)
    val rows = (0 until 300).map { _ =>
      val a = rnd.nextGaussian() * 3.0
      Tuple1(Seq.tabulate(dim)(i =>
        (a * u(i) + rnd.nextGaussian() * 0.05).toFloat))
    }
    val df = rows.toDF("v")
    val got = VectorOps.powerComponent(df, "v", dim, iters = 5)
      .as[(Int, Double, Double, Double)].collect().sortBy(_._1)
    assert(got.length == dim)
    val jac = VectorOps.pcaTrain(df, "v", dim, k = 1)
    // same direction up to sign
    val dot = got.map(_._2).zip(jac.components(0))
      .map { case (a, b) => a * b }.sum
    assert(math.abs(dot) > 0.999,
      s"power direction must match Jacobi, |dot| = ${math.abs(dot)}")
    assert(math.abs(got.head._3 - jac.eigenvalues(0))
      < 0.01 * jac.eigenvalues(0),
      s"eigenvalue ${got.head._3} vs Jacobi ${jac.eigenvalues(0)}")
    // dominant axis: var_share near lambda/totvar, within (0, 1]
    assert(got.head._4 > 0.9 && got.head._4 <= 1.0,
      s"planted dominant axis must explain most variance: ${got.head._4}")
    // repartition-proof (exact decimal sums are order-free)
    val re = VectorOps.powerComponent(df.repartition(7), "v", dim, iters = 5)
      .as[(Int, Double, Double, Double)].collect().sortBy(_._1)
    assert(re.toSeq == got.toSeq)
    // rows failing the vector contract do not perturb the result
    val dirty = df.unionByName(
      Seq(Tuple1(Seq(1.0f, 2.0f)), Tuple1(null: Seq[Float])).toDF("v"))
    val cleaned = VectorOps.powerComponent(dirty, "v", dim, iters = 5)
      .as[(Int, Double, Double, Double)].collect().sortBy(_._1)
    assert(cleaned.toSeq == got.toSeq)
  }

  test("powerComponents: k=1 equals powerComponent; deflated second " +
      "component matches Jacobi and is orthogonal to the first") {
    val dim = 8
    val rnd = new scala.util.Random(31)
    // two planted orthogonal axes with well-separated variances
    val u1 = Array.tabulate(dim)(i => if (i % 2 == 0) 0.5 else -0.5)
    val u2 = Array.tabulate(dim)(i => if (i < dim / 2) 0.5 else -0.5)
    val rows = (0 until 400).map { _ =>
      val a = rnd.nextGaussian() * 3.0
      val b = rnd.nextGaussian() * 1.5
      Tuple1(Seq.tabulate(dim)(i =>
        (a * u1(i) + b * u2(i) + rnd.nextGaussian() * 0.05).toFloat))
    }
    val df = rows.toDF("v")
    val got = VectorOps.powerComponents(df, "v", dim, iters = 5)
      .as[(Int, Int, Double, Double, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(got.keySet == Set(1, 2))
    // component 1 of the k=2 run is bit-identical to powerComponent
    val solo = VectorOps.powerComponent(df, "v", dim, iters = 5)
      .as[(Int, Double, Double, Double)].collect().sortBy(_._1)
    assert(got(1).map(r => (r._2, r._3, r._4, r._5)).toSeq == solo.toSeq)
    // both components match the Jacobi reference directions
    val jac = VectorOps.pcaTrain(df, "v", dim, k = 2)
    def absDot(w: Seq[Double], ref: Array[Double]) =
      math.abs(w.zip(ref).map { case (a, b) => a * b }.sum)
    assert(absDot(got(1).map(_._3).toSeq, jac.components(0)) > 0.999)
    assert(absDot(got(2).map(_._3).toSeq, jac.components(1)) > 0.99,
      "deflated second direction must align with Jacobi's second")
    assert(math.abs(got(2).head._4 - jac.eigenvalues(1))
      < 0.02 * jac.eigenvalues(1),
      s"lambda2 ${got(2).head._4} vs Jacobi ${jac.eigenvalues(1)}")
    // deflation makes the two power directions near-orthogonal; the
    // round-6 resync leaves residual component-1 content that later
    // passes re-amplify by ~lambda1/lambda2, so a few 1e-3 remain
    val cross = got(1).map(_._3).zip(got(2).map(_._3))
      .map { case (a, b) => a * b }.sum
    assert(math.abs(cross) < 5e-3, s"components must be orthogonal: $cross")
    // eigenvalues strictly ordered, var_shares consistent
    assert(got(1).head._4 > got(2).head._4)
    assert(got(1).head._5 > got(2).head._5 && got(2).head._5 > 0)
    // repartition-proof (exact decimal sufficient sums)
    val re = VectorOps.powerComponents(df.repartition(7), "v", dim,
        iters = 5)
      .as[(Int, Int, Double, Double, Double)].collect().sortBy(r => (r._1, r._2))
    assert(re.toSeq ==
      (got(1) ++ got(2)).sortBy(r => (r._1, r._2)).toSeq)
  }

  test("standardizeVectors: hand z-scores, zero-variance dim NULL, " +
      "dimension order preserved") {
    // dim0 constant -> NULL z; dim1: mean 15, std 5 -> z = -1 / +1
    val df = Seq((1L, Seq(3.0f, 10.0f)), (2L, Seq(3.0f, 20.0f)))
      .toDF("vec_id", "v")
    val got = VectorOps.standardizeVectors(df, "v", "vec_id")
      .as[(Long, Seq[Option[Double]])].collect().toMap
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L) == Seq(None, Some(-1.0)))
    assert(got(2L) == Seq(None, Some(1.0)))
    // repartition-proof (decimal sufficient sums)
    val re = VectorOps.standardizeVectors(df.repartition(5), "v", "vec_id")
      .as[(Long, Seq[Option[Double]])].collect().toMap
    assert(re == got)
  }

  test("dimStats: hand mean/std, outlier census, zero-variance NULL") {
    // dim 0: nine 0s and one 9 -> mean 0.9, var 7.29, std 2.7,
    // z(9) = 3 -> flags at z > 2; dim 1: constant -> std 0 -> NULL
    val vecs = ((1 to 9).map(_ => Seq(0.0f, 10.0f)) :+ Seq(9.0f, 10.0f))
      .map(Tuple1(_)).toDF("v")
    val r = VectorOps.dimStats(vecs, "v", outlierZ = 2.0)
      .as[(Int, Long, Double, Double, Option[Long])].collect()
      .sortBy(_._1).toSeq
    assert(r.map(_._2) == Seq(10L, 10L))
    assert(math.abs(r(0)._3 - 0.9) < 1e-9 && math.abs(r(0)._4 - 2.7) < 1e-9)
    assert(r(0)._5.contains(1L), s"exactly the 9.0 cell flags: ${r(0)._5}")
    assert(r(1)._4 == 0.0 && r(1)._5.isEmpty,
      "constant dimension: std 0, census undefined")
  }
}
