package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class MultimodalOpsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val payloads = Seq(
    (1L, "abcdefgh" * 20),  // 160 bytes -> 3 frames @ 64
    (2L, "xy"),             // 2 bytes -> 1 frame
    (3L, "")                // empty payload
  ).toDF("doc_id", "data")

  test("bundle: schema matches the declared contract, metadata without decode") {
    val b = MultimodalOps.bundle(payloads, "doc_id", "data", "text/plain", 64, 8)
    // names + types must match the contract (nullability flags differ
    // depending on the literal/derived provenance of each column)
    assert(b.schema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq ==
      MultimodalOps.bundleSchema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq)
    val rows = b.select(col("id"), col("meta.n_bytes"), col("meta.n_frames"))
      .as[(Long, Int, Int)].collect()
    assert(rows.contains((1L, 160, 3)))
    assert(rows.contains((2L, 2, 1)))
    assert(rows.contains((3L, 0, 0)))
  }

  test("decodeFrames: deterministic stub, shape follows metadata, empty-safe") {
    val b = MultimodalOps.bundle(payloads, "doc_id", "data", "text/plain", 64, 8)
    val d1 = MultimodalOps.decodeFrames(b).collect().map(d => d.id -> d.frames).toMap
    val d2 = MultimodalOps.decodeFrames(b.repartition(3)).collect().map(d => d.id -> d.frames).toMap
    assert(d1(1L).length == 3 && d1(1L).forall(_.length == 8))
    assert(d1(3L).isEmpty)
    d1.foreach { case (id, frames) =>
      assert(frames.map(_.toSeq).toSeq == d2(id).map(_.toSeq).toSeq,
        "decode must not depend on partitioning")
    }
    // stub formula spot check: first byte of 'a' = 97 -> 97/128
    assert(math.abs(d1(1L)(0)(0) - 97.0f / 128.0f) < 1e-7)
  }

  test("frameMeans composes decoded frames into a feature DataFrame") {
    val b = MultimodalOps.bundle(payloads, "doc_id", "data", "text/plain", 64, 8)
    val fm = MultimodalOps.frameMeans(MultimodalOps.decodeFrames(b))
      .as[(Long, Seq[Double])].collect().toMap
    assert(fm(1L).length == 3)
    assert(fm(3L).isEmpty)
  }

  test("reshapeFrames + consecutiveFrameCosines + shotBoundaries: " +
      "hand-checked sequence with one cut") {
    // 3 frames of dim 2: f1=(1,0), f2=(2,0) [cos 1], f3=(0,5) [cos 0]
    val df = Seq((1L, Seq(1f, 0f, 2f, 0f, 0f, 5f))).toDF("id", "vec")
    val frames = MultimodalOps.reshapeFrames(col("vec"), 3, 2)
    val out = df.select(
        MultimodalOps.consecutiveFrameCosines(frames).as("cos"))
      .select(col("cos"),
        MultimodalOps.shotBoundaries(col("cos"), 0.5).as("b"))
    val row = out.collect().head
    val cos = row.getSeq[Double](0)
    assert(cos.length == 2)
    assert(math.abs(cos(0) - 1.0) < 1e-12 && math.abs(cos(1)) < 1e-12)
    val bounds = row.getSeq[org.apache.spark.sql.Row](1)
    assert(bounds.map(_.getInt(0)) == Seq(2), "cut between frames 2 and 3")
  }

  test("shotBoundaries: zero frame yields cosine 0; short sequences are empty") {
    val df = Seq(
      (1L, Seq(0f, 0f, 1f, 1f)),  // zero first frame -> cosine 0
      (2L, Seq(3f, 4f)),          // single frame -> no cosines
      (3L, Seq.empty[Float])      // empty
    ).toDF("id", "vec")
    val frames = MultimodalOps.reshapeFrames(col("vec"), 2, 2)
    val twoFrames = df.filter(col("id") === 1L)
      .select(MultimodalOps.consecutiveFrameCosines(frames).as("cos"))
      .as[Seq[Double]].head()
    assert(twoFrames == Seq(0.0))
    val single = df.filter(col("id") === 2L)
      .select(MultimodalOps.consecutiveFrameCosines(
        MultimodalOps.reshapeFrames(col("vec"), 1, 2)).as("cos"))
      .as[Seq[Double]].head()
    assert(single.isEmpty)
    val bounds = df.filter(col("id") === 2L)
      .select(MultimodalOps.shotBoundaries(
        MultimodalOps.consecutiveFrameCosines(
          MultimodalOps.reshapeFrames(col("vec"), 1, 2)), 0.5).as("b"))
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(bounds.isEmpty)
  }

  // -------------------------------------------- audio frame features

  test("frameFeatures: hand energies and zero-crossing counts") {
    val sig = Seq(1.0f, -1.0f, 1.0f, -1.0f, 0.0f, 0.0f, 0.0f, 0.0f,
      2.0f, 2.0f, -3.0f, 3.0f)
    val got = Seq(Tuple1(sig)).toDF("v")
      .select(MultimodalOps.frameFeatures(col("v"), 3, 4).as("f"))
      .select(posexplode(col("f")))
      .select(col("col.energy"), col("col.zcr"))
      .as[(Double, Int)].collect()
    assert(got(0) == ((4.0, 3))) // alternating signs: 3 flips
    assert(got(1) == ((0.0, 0))) // silence
    assert(got(2) == ((26.0, 2))) // 4+4+9+9; flips at 2/-3 and -3/3
  }

  // -------------------------------------------------- bilinear resize

  test("resizeBilinear: identity, averaging, constancy, linearity, null contract") {
    import graft.functions.ResizeBilinear.resizeBilinear
    def run(img: Seq[Float], h: Int, w: Int, c: Int,
        oh: Int, ow: Int): Option[Seq[Float]] = {
      val r = Seq(Tuple1(img)).toDF("v")
        .select(resizeBilinear(col("v"), h, w, c, oh, ow).as("r"))
        .collect().head
      if (r.isNullAt(0)) None else Some(r.getSeq[Float](0))
    }
    // identity dims return the exact input
    val img = Seq(1.0f, 2.0f, 3.0f, 4.0f)
    assert(run(img, 2, 2, 1, 2, 2) == Some(img))
    // 2x1 -> 1x1 samples the midpoint = average
    assert(run(Seq(2.0f, 6.0f), 1, 2, 1, 1, 1) == Some(Seq(4.0f)))
    // 4x4 checkerboard -> 2x2: every sample blends a 2x2 cell to 0.5
    val checker = (0 until 16).map(i => ((i / 4 + i % 4) % 2).toFloat)
    assert(run(checker, 4, 4, 1, 2, 2) == Some(Seq(0.5f, 0.5f, 0.5f, 0.5f)))
    // constant image stays constant at any size (incl. upscale)
    assert(run(Seq.fill(4)(7.0f), 2, 2, 1, 3, 5) == Some(Seq.fill(15)(7.0f)))
    // channels resize independently
    val rgb = Seq(1.0f, 10.0f, 3.0f, 30.0f) // 1x2x2: pixels (1,10),(3,30)
    assert(run(rgb, 1, 2, 2, 1, 1) == Some(Seq(2.0f, 20.0f)))
    // linearity: resize(2*img) == 2*resize(img)
    val rnd = new scala.util.Random(3)
    val big = Seq.fill(6 * 5)(rnd.nextFloat())
    val once = run(big, 6, 5, 1, 3, 4).get
    val doubled = run(big.map(_ * 2.0f), 6, 5, 1, 3, 4).get
    once.zip(doubled).foreach { case (a, b) =>
      assert(math.abs(b - 2.0f * a) < 1e-5f)
    }
    // length-mismatch is NULL, not garbage
    assert(run(Seq(1.0f, 2.0f), 2, 2, 1, 1, 1) == None)
  }

  test("averageHash: mean-threshold bit pack, wrong-length NULL") {
    // 4 cells [0,10,0,10]: mean 5 -> bits 0101 -> hi = 01b, lo = 01b
    val df = Seq(Tuple1(Seq(0.0f, 10.0f, 0.0f, 10.0f))).toDF("v")
    val h = df.select(MultimodalOps.averageHash(col("v"), 4).as("h"))
      .select("h.hi", "h.lo").as[(Long, Long)].collect().head
    assert(h == ((1L, 1L)), s"got $h")
    val bad = Seq(Tuple1(Seq(1.0f, 2.0f))).toDF("v")
    assert(bad.select(MultimodalOps.averageHash(col("v"), 4))
      .collect().head.isNullAt(0), "wrong-length grid hashes to NULL")
    // NULL cell -> NULL hash (not the silent all-zero pack a NULL mean
    // would produce — two corrupted grids must not match as Hamming-0
    // twins); same contract as the fused AverageHashHalves
    val nullCell = Seq(Tuple1(Seq[java.lang.Float](0.0f, null, 0.0f, 10.0f)))
      .toDF("v")
    assert(nullCell.select(MultimodalOps.averageHash(col("v"), 4))
      .collect().head.isNullAt(0), "null-cell grid hashes to NULL")
    assert(nullCell.select(graft.functions.AverageHashHalves
      .averageHashHalves(col("v"), 4)).collect().head.isNullAt(0))
  }

  test("AverageHashHalves fused == composable HOF averageHash on random grids") {
    val rnd = new scala.util.Random(11)
    val grids = (0 until 200).map { i =>
      (i.toLong, Seq.fill(64)((rnd.nextFloat() - 0.5f) * 10.0f))
    }
    val df = grids.toDF("id", "v")
    val both = df.select(col("id"),
        MultimodalOps.averageHash(col("v"), 64).as("hof"),
        graft.functions.AverageHashHalves.averageHashHalves(col("v"), 64)
          .as("fused"))
      .select(col("id"), col("hof.hi"), col("hof.lo"),
        col("fused.hi").as("fhi"), col("fused.lo").as("flo"))
      .as[(Long, Long, Long, Long, Long)].collect()
    both.foreach { r =>
      assert(r._2 == r._4 && r._3 == r._5,
        s"fused hash must be bit-identical to the HOF form: $r")
    }
    // wrong-length grid: both forms NULL
    val bad = Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "v")
    assert(bad.select(graft.functions.AverageHashHalves
      .averageHashHalves(col("v"), 64)).collect().head.isNullAt(0))
  }

  test("imageNearDups: one-bit twin pairs; distant images don't") {
    val a = (0 until 32).map(_ => 0.0f) ++ (0 until 32).map(_ => 10.0f)
    val b = a.updated(0, 10.0f) // one extra high pixel -> 1-bit flip
    val c = (0 until 64).map(i => if (i % 2 == 0) 0.0f else 10.0f)
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("id", "v")
    val pairs = MultimodalOps.imageNearDups(df, "id", "v", maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 1)),
      s"only the planted twin pair at Hamming 1: $pairs")
  }
}
