package graft.io

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/** Minimal NPY (NumPy binary format v1.0/v2.0) decoder.
  *
  * The reference ingests per-id `{id}.npy` fp16 feature matrices
  * (`src/prepare_img_npy.py:12-24`, loaded at `src/data_helper.py:91,157`);
  * this reader parses the header and widens the elements to one flat
  * `Array[Float]`, which [[graft.functions.NpyDecode]] cuts into frames.
  *
  * Format (public spec, numpy/lib/format.py): magic `\x93NUMPY`, one
  * byte each major/minor version, little-endian header length (2 bytes
  * v1 / 4 bytes v2), then an ASCII python-dict header
  * `{'descr': '<f2', 'fortran_order': False, 'shape': (32, 768), }`
  * padded so the data start is 64-byte aligned, then raw elements.
  *
  * Supported dtypes: f2 (half), f4, f8, i1/u1, i2, i4, i8 — widened to
  * Float. Both C and Fortran element order; 0/1/2-dimensional shapes.
  */
object Npy {

  /** Parsed NPY header: dtype string (endianness prefix stripped off in
    * `elemType`), storage order, dimensions, and the byte offset where
    * element data begins.
    */
  final case class Header(descr: String, fortranOrder: Boolean,
      shape: Seq[Int], dataOffset: Int) {
    def elemType: String = descr.dropWhile(c => c == '<' || c == '>' || c == '|' || c == '=')
    def littleEndian: Boolean = !descr.startsWith(">")
    def numElems: Int = shape.product // empty shape (scalar) → 1
  }

  private val Magic = Array[Byte](0x93.toByte, 'N', 'U', 'M', 'P', 'Y')

  def readHeader(bytes: Array[Byte]): Header = {
    require(bytes.length >= 10, "npy: truncated file (shorter than magic + version)")
    require(bytes.view.take(6).sameElements(Magic), "npy: bad magic")
    val major = bytes(6).toInt
    val (headerLen, headerStart) =
      if (major == 1)
        ((bytes(8) & 0xFF) | ((bytes(9) & 0xFF) << 8), 10)
      else {
        require(bytes.length >= 12, "npy: truncated v2+ header length")
        ((bytes(8) & 0xFF) | ((bytes(9) & 0xFF) << 8) |
          ((bytes(10) & 0xFF) << 16) | ((bytes(11) & 0xFF) << 24), 12)
      }
    require(bytes.length >= headerStart + headerLen, "npy: truncated header")
    val headerStr = new String(bytes, headerStart, headerLen, StandardCharsets.ISO_8859_1)
    val descr = "'descr'\\s*:\\s*'([^']+)'".r.findFirstMatchIn(headerStr).map(_.group(1))
      .getOrElse(throw new IllegalArgumentException(s"npy: no 'descr' in header: $headerStr"))
    val fortran = "'fortran_order'\\s*:\\s*(True|False)".r.findFirstMatchIn(headerStr)
      .exists(_.group(1) == "True")
    val shapeBody = "'shape'\\s*:\\s*\\(([^)]*)\\)".r.findFirstMatchIn(headerStr).map(_.group(1))
      .getOrElse(throw new IllegalArgumentException(s"npy: no 'shape' in header: $headerStr"))
    val shape = shapeBody.split(",").iterator.map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
    Header(descr, fortran, shape, headerStart + headerLen)
  }

  /** IEEE 754 binary16 → Float (Java 17 predates Float.float16ToFloat).
    * Handles subnormals, ±0, ±Inf, NaN.
    */
  def halfToFloat(h: Short): Float = {
    val bits = h & 0xFFFF
    val sign = (bits & 0x8000) << 16
    val exp = (bits >>> 10) & 0x1F
    val mant = bits & 0x03FF
    val fbits =
      if (exp == 0) {
        if (mant == 0) sign // ±0
        else { // subnormal: renormalize into the float32 exponent range
          var e = -1; var m = mant
          do { e += 1; m <<= 1 } while ((m & 0x0400) == 0)
          sign | ((127 - 15 - e) << 23) | ((m & 0x03FF) << 13)
        }
      } else if (exp == 0x1F) sign | 0x7F800000 | (mant << 13) // ±Inf / NaN
      else sign | ((exp - 15 + 127) << 23) | (mant << 13)
    java.lang.Float.intBitsToFloat(fbits)
  }

  /** Decode to (header, flat element array in STORAGE order), widening
    * every supported dtype to Float.
    */
  def readFloats(bytes: Array[Byte]): (Header, Array[Float]) = {
    val h = readHeader(bytes)
    val n = h.numElems
    val buf = ByteBuffer.wrap(bytes, h.dataOffset, bytes.length - h.dataOffset)
      .order(if (h.littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    val out = new Array[Float](n)
    var i = 0
    h.elemType match {
      case "f2" => while (i < n) { out(i) = halfToFloat(buf.getShort()); i += 1 }
      case "f4" => while (i < n) { out(i) = buf.getFloat(); i += 1 }
      case "f8" => while (i < n) { out(i) = buf.getDouble().toFloat; i += 1 }
      case "i1" => while (i < n) { out(i) = buf.get().toFloat; i += 1 }
      case "u1" => while (i < n) { out(i) = (buf.get() & 0xFF).toFloat; i += 1 }
      case "i2" => while (i < n) { out(i) = buf.getShort().toFloat; i += 1 }
      case "i4" => while (i < n) { out(i) = buf.getInt().toFloat; i += 1 }
      case "i8" => while (i < n) { out(i) = buf.getLong().toFloat; i += 1 }
      case t => throw new IllegalArgumentException(s"npy: unsupported dtype '${h.descr}' ($t)")
    }
    (h, out)
  }
}
