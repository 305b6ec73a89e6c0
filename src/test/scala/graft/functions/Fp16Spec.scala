package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** fp16 codec: the shared binary16 decoder checked exhaustively against
  * an arithmetic reference, numpy-rule rounding, and the
  * NULL-on-malformed column contracts.
  */
class Fp16Spec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  /** binary16 by its definition: (-1)^s · m · 2^-24 for a subnormal,
    * (-1)^s · (1 + m/1024) · 2^(e-15) for a normal, ±Inf, and NaN with
    * the 10 payload bits at the top of the float32 mantissa.
    */
  private def referenceHalf(h: Int): Float = {
    val sign = if ((h & 0x8000) != 0) -1.0 else 1.0
    val e = (h >>> 10) & 0x1F
    val m = h & 0x3FF
    if (e == 0) (sign * m * math.pow(2, -24)).toFloat
    else if (e < 0x1F) (sign * (1 + m / 1024.0) * math.pow(2, e - 15)).toFloat
    else if (m == 0) (sign * Double.PositiveInfinity).toFloat
    else java.lang.Float.intBitsToFloat(((h & 0x8000) << 16) | 0x7F800000 | (m << 13))
  }

  test("halfToFloat agrees with io.Npy.halfToFloat on ALL 65,536 bit patterns; " +
      "floatToHalf round-trips every one of them") {
    var h = 0
    while (h < 0x10000) {
      val s = h.toShort
      val got = graft.io.Npy.halfToFloat(s)
      val want = referenceHalf(h)
      assert(java.lang.Float.floatToRawIntBits(got) ==
        java.lang.Float.floatToRawIntBits(want),
        f"halfToFloat($h%04x): decoder $got vs reference $want")
      assert(Fp16.floatToHalf(got) == s, f"roundtrip broke at $h%04x -> $got")
      h += 1
    }
  }

  test("floatToHalf: numpy round-to-nearest-even, overflow, underflow") {
    // exact halves stay exact
    assert(Fp16.floatToHalf(1.0f) == 0x3C00.toShort)
    assert(Fp16.floatToHalf(-2.5f) == 0xC100.toShort)
    assert(Fp16.floatToHalf(65504.0f) == 0x7BFF.toShort)
    assert(Fp16.floatToHalf(6.103515625e-05f) == 0x0400.toShort) // min normal
    assert(Fp16.floatToHalf(5.960464477539063e-08f) == 0x0001.toShort) // min subnormal
    assert(Fp16.floatToHalf(-0.0f) == 0x8000.toShort)
    // ties to even: 1 + 1/2048 is exactly between 1.0 (even) and 1+1/1024
    assert(Fp16.floatToHalf(1.00048828125f) == 0x3C00.toShort)
    // 1 + 3/2048 is between 1+1/1024 (odd) and 1+2/1024 (even) -> up
    assert(Fp16.floatToHalf(1.00146484375f) == 0x3C02.toShort)
    // just above a tie rounds up regardless of parity
    assert(Fp16.floatToHalf(1.0005f) == 0x3C01.toShort)
    // overflow -> Inf (numpy: float16(65520) = inf; 65519.996 < tie stays max)
    assert(Fp16.floatToHalf(65520.0f) == 0x7C00.toShort)
    assert(Fp16.floatToHalf(1e10f) == 0x7C00.toShort)
    assert(Fp16.floatToHalf(-1e10f) == 0xFC00.toShort)
    // underflow: < 2^-25 -> 0; exactly 2^-25 ties to even 0
    assert(Fp16.floatToHalf(2.9802322e-08f) == 0x0000.toShort)
    assert(Fp16.floatToHalf(1e-10f) == 0x0000.toShort)
    // 2^-25 * 1.5 rounds to the min subnormal
    assert(Fp16.floatToHalf(4.470348e-08f) == 0x0001.toShort)
    // NaN stays NaN
    assert((Fp16.floatToHalf(Float.NaN) & 0x7C00) == 0x7C00)
    assert((Fp16.floatToHalf(Float.NaN) & 0x03FF) != 0)
  }

  test("npy f2 payload: Fp16Unpack of the data section == Npy.readFloats") {
    def hexBytes(s: String): Array[Byte] =
      s.grouped(2).map(java.lang.Integer.parseInt(_, 16).toByte).toArray
    // the NpySpec golden: np.save([[1.0,-2.5,0.15625],[65504.0,6.103515625e-05,-0.0]], float16)
    val golden = hexBytes(
      "934e554d5059010076007b276465736372273a20273c6632272c2027666f727472616e5f6f72" +
      "646572273a2046616c73652c20277368617065273a2028322c2033292c207d20202020202020" +
      "2020202020202020202020202020202020202020202020202020202020202020202020202020" +
      "202020202020202020202020200a003c00c10031ff7b00040080")
    val (h, viaNpy) = graft.io.Npy.readFloats(golden)
    assert(h.descr == "<f2")
    val data = golden.drop(h.dataOffset)
    val viaCodec = Seq(Tuple1(data)).toDF("b")
      .select(Fp16.unpackFp16(col("b"))).as[Seq[Float]].head()
    assert(viaCodec == viaNpy.toSeq,
      "the codec and the npy reader must decode identical fp16 bytes identically")
  }

  test("column round trip: unpack(pack(v)) is the fp16 rounding of v; " +
      "pack(unpack(b)) is the identity on well-formed blobs") {
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 200).map { i =>
      (i.toLong, Seq.fill(64)((rnd.nextFloat() - 0.5f) * math.pow(10, rnd.nextInt(9) - 4).toFloat))
    }
    val df = vecs.toDF("id", "v")
    val rt = df.select(col("id"),
        Fp16.unpackFp16(Fp16.packFp16(col("v"))).as("rt"), col("v"))
      .as[(Long, Seq[Float], Seq[Float])].collect()
    rt.foreach { case (id, got, orig) =>
      val want = orig.map(x => graft.io.Npy.halfToFloat(Fp16.floatToHalf(x)))
      assert(got == want, s"row $id: fp16 rounding drifted")
    }
    // identity on packed bytes (fp16 -> fp32 -> fp16 is lossless)
    val idem = df.select(Fp16.packFp16(col("v")).as("b"))
      .select(col("b"), Fp16.packFp16(Fp16.unpackFp16(col("b"))).as("b2"))
      .as[(Array[Byte], Array[Byte])].collect()
    idem.foreach { case (b, b2) => assert(b.sameElements(b2)) }
    // size contract: exactly 2 bytes per element
    assert(idem.head._1.length == 128)
  }

  test("malformed input surfaces as NULL: odd-length blob, null element, null input") {
    val odd = Seq(Tuple1(Array[Byte](1, 2, 3))).toDF("b")
      .select(Fp16.unpackFp16(col("b"))).collect()
    assert(odd.head.isNullAt(0), "odd-length blob must decode to NULL")
    val nullElem = Seq(Tuple1(Seq[java.lang.Float](1.0f, null, 3.0f))).toDF("v")
      .select(Fp16.packFp16(col("v"))).collect()
    assert(nullElem.head.isNullAt(0), "null element must pack to NULL")
    val nullIn = Seq(Tuple1(null.asInstanceOf[Array[Byte]])).toDF("b")
      .select(Fp16.unpackFp16(col("b"))).collect()
    assert(nullIn.head.isNullAt(0))
  }
}
