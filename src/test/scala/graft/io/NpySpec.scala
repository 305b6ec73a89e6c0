package graft.io

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.NpyDecode

/** Golden-file tests for the NPY decoder: the byte streams below are
  * verbatim `numpy.save` output (numpy 1.x, format v1.0) — header
  * padding, dtype strings, and element bytes exactly as the reference's
  * `{id}.npy` files are written (`src/prepare_img_npy.py:12-24`).
  */
class NpySpec extends AnyFunSuite {

  private def hex(s: String): Array[Byte] =
    s.grouped(2).map(java.lang.Integer.parseInt(_, 16).toByte).toArray

  /** The `npy_frames` kernel's output as row-major frames. */
  private def frames(bytes: Array[Byte]): Seq[Seq[Float]] = {
    val outer = NpyDecode.decode(bytes)
    (0 until outer.numElements()).map(i => outer.getArray(i).toFloatArray().toSeq)
  }

  /** np.save of np.array([[1.0, -2.5, 0.15625], [65504.0, 6.103515625e-05, -0.0]], dtype=np.float16) */
  private val f2Golden = hex(
    "934e554d5059010076007b276465736372273a20273c6632272c2027666f727472616e5f6f72" +
    "646572273a2046616c73652c20277368617065273a2028322c2033292c207d20202020202020" +
    "2020202020202020202020202020202020202020202020202020202020202020202020202020" +
    "202020202020202020202020200a003c00c10031ff7b00040080")

  /** np.save of a FORTRAN-order float32 (3,2) matrix [[1.5,2.5],[3.5,4.5],[5.5,6.5]] */
  private val f4FortranGolden = hex(
    "934e554d5059010076007b276465736372273a20273c6634272c2027666f727472616e5f6f72" +
    "646572273a20547275652c20277368617065273a2028332c2032292c207d2020202020202020" +
    "2020202020202020202020202020202020202020202020202020202020202020202020202020" +
    "202020202020202020202020200a0000c03f000060400000b04000002040000090400000d040")

  /** np.save of np.array([7.25, -8.5], dtype=np.float64) — 1-D */
  private val f8OneDGolden = hex(
    "934e554d5059010076007b276465736372273a20273c6638272c2027666f727472616e5f6f72" +
    "646572273a2046616c73652c20277368617065273a2028322c292c207d202020202020202020" +
    "2020202020202020202020202020202020202020202020202020202020202020202020202020" +
    "202020202020202020202020200a0000000000001d4000000000000021c0")

  test("golden fp16 2x3 C-order: header fields and every element decode exactly") {
    val h = Npy.readHeader(f2Golden)
    assert(h.descr == "<f2")
    assert(!h.fortranOrder)
    assert(h.shape == Seq(2, 3))
    assert(h.dataOffset == 128, "numpy pads the v1 header to a 64-byte-aligned data start")
    val m = frames(f2Golden)
    assert(m.length == 2 && m.forall(_.length == 3))
    assert(m(0) == Seq(1.0f, -2.5f, 0.15625f))
    assert(m(1)(0) == 65504.0f, "half max")
    assert(m(1)(1) == 6.103515625e-05f, "smallest normal half")
    assert(java.lang.Float.floatToRawIntBits(m(1)(2)) == 0x80000000, "-0.0 sign preserved")
  }

  test("golden fp32 Fortran-order matrix is transposed back to row-major") {
    val h = Npy.readHeader(f4FortranGolden)
    assert(h.descr == "<f4" && h.fortranOrder && h.shape == Seq(3, 2))
    val m = frames(f4FortranGolden)
    assert(m ==
      Seq(Seq(1.5f, 2.5f), Seq(3.5f, 4.5f), Seq(5.5f, 6.5f)))
  }

  test("golden fp64 1-D array becomes a single row") {
    val m = frames(f8OneDGolden)
    assert(m.length == 1)
    assert(m(0) == Seq(7.25f, -8.5f))
  }

  test("half->float edge cases: subnormal, infinities, NaN, rounding-free values") {
    assert(Npy.halfToFloat(0x0001.toShort) == math.pow(2, -24).toFloat, "smallest subnormal")
    assert(Npy.halfToFloat(0x0200.toShort) == math.pow(2, -15).toFloat, "mid subnormal")
    assert(Npy.halfToFloat(0x7C00.toShort).isPosInfinity)
    assert(Npy.halfToFloat(0xFC00.toShort).isNegInfinity)
    assert(Npy.halfToFloat(0x7E00.toShort).isNaN)
    assert(Npy.halfToFloat(0x3555.toShort) == 0.333251953125f, "1/3 as stored in half")
  }

  test("v2.0 header (4-byte length) parses") {
    val head = "{'descr': '<f4', 'fortran_order': False, 'shape': (1, 2), }"
    val pad = (64 - ((12 + head.length + 1) % 64)) % 64
    val headerStr = head + (" " * pad) + "\n"
    val bytes = Array.concat(
      Array[Byte](0x93.toByte, 'N', 'U', 'M', 'P', 'Y', 2, 0),
      Array[Byte](
        (headerStr.length & 0xFF).toByte, ((headerStr.length >> 8) & 0xFF).toByte,
        ((headerStr.length >> 16) & 0xFF).toByte, ((headerStr.length >> 24) & 0xFF).toByte),
      headerStr.getBytes("ISO-8859-1"),
      Array[Byte](0, 0, 0x40.toByte, 0x40.toByte, 0, 0, 0x80.toByte, 0x3F.toByte)) // 3.0f, 1.0f LE
    val h = Npy.readHeader(bytes)
    assert(h.shape == Seq(1, 2) && h.dataOffset % 64 == 0)
    val m = frames(bytes)
    assert(m(0) == Seq(3.0f, 1.0f))
  }

  test("corrupt inputs fail loudly, not silently") {
    assertThrows[IllegalArgumentException](Npy.readHeader("not an npy file".getBytes))
    assertThrows[IllegalArgumentException](Npy.readHeader(f2Golden.take(8)))
    // unsupported dtype: patch the '<f2' descr bytes to '<c8' in place
    val bad = f2Golden.clone()
    val at = bad.indexOfSlice("'<f2'".getBytes("ISO-8859-1"))
    assert(at > 0)
    "'<c8'".getBytes("ISO-8859-1").copyToArray(bad, at)
    assertThrows[IllegalArgumentException](Npy.readFloats(bad))
    val e = intercept[IllegalArgumentException](NpyDecode.decode(f2Golden.take(64)))
    assert(e.getMessage == "requirement failed: npy: truncated header")
  }
}
