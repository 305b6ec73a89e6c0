package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** IEEE 754 binary16 feature codec (SURVEY §1.2 / VERDICT r7 #8): a
  * float vector packed as a little-endian 2-bytes-per-element `binary`
  * column — the storage discipline the reference's fp16 feature files
  * keep end-to-end (`data_helper.py:157`, `prepare_img_npy.py`), as a
  * columnar codec: HALF the bytes of `array<float>` before parquet
  * even sees it (and parquet stores array elements with per-element
  * repetition/definition overhead a flat binary blob never pays), so
  * the dominant multimodal payload at 100 TB scans at ~half the IO.
  *
  * [[Fp16Pack]] rounds to nearest-even (numpy `astype(float16)`
  * parity); [[Fp16Unpack]] widens back losslessly. Both are single
  * generated static calls per row (tight primitive loops, no boxing).
  * Malformed input surfaces as NULL, never as garbage: a null element
  * nulls the pack, an odd-length blob nulls the unpack — the
  * [[graft.ops.MultimodalOps.averageHash]] corruption contract.
  *
  * The unpack widens each element with [[graft.io.Npy.halfToFloat]],
  * the npy reader's binary16 decoder, so both paths share one kernel.
  */
case class Fp16Pack(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = BinaryType

  override def nullSafeEval(a: Any): Any =
    Fp16.packOrNull(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("packed")
      s"""
         |byte[] $tmp = graft.functions.Fp16.packOrNull($c);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "fp16_pack"
}

case class Fp16Unpack(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    Fp16.unpackOrNull(a.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("unpacked")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $tmp =
         |  graft.functions.Fp16.unpackOrNull($c);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "fp16_unpack"
}

object Fp16 {

  /** Float32 → binary16 bits, round-to-nearest-even (the numpy
    * `astype(np.float16)` rule). Overflow → ±Inf; |x| < 2^-25 → ±0;
    * NaN payloads keep their top 10 mantissa bits (quiet bit forced
    * when they'd be all zero, so NaN stays NaN).
    */
  def floatToHalf(f: Float): Short = {
    val fbits = java.lang.Float.floatToRawIntBits(f)
    val sign = (fbits >>> 16) & 0x8000
    val e = (fbits >>> 23) & 0xFF
    val m = fbits & 0x7FFFFF
    val out =
      if (e == 0xFF) { // Inf / NaN
        if (m == 0) sign | 0x7C00
        else { val nm = m >> 13; sign | 0x7C00 | (if (nm == 0) 0x200 else nm) }
      } else {
        val exp = e - 127 + 15
        if (exp >= 0x1F) sign | 0x7C00 // overflow → Inf
        else if (exp <= 0) {
          if (exp < -10) sign // underflow → ±0 (|x| < 2^-25)
          else { // subnormal half: shift the implicit-1 mantissa down
            val m2 = m | 0x800000
            val shift = 14 - exp // 14..24
            val base = m2 >>> shift
            val rem = m2 & ((1 << shift) - 1)
            val halfway = 1 << (shift - 1)
            val r = if (rem > halfway || (rem == halfway && (base & 1) == 1)) base + 1 else base
            sign | r // carry into the exponent field is correct IEEE rounding
          }
        } else {
          val base = (exp << 10) | (m >> 13)
          val rem = m & 0x1FFF
          val r = if (rem > 0x1000 || (rem == 0x1000 && (base & 1) == 1)) base + 1 else base
          sign | r // mantissa carry rolls into exp (and into Inf) correctly
        }
      }
    out.toShort
  }

  /** Pack a float ArrayData little-endian; null on any null element. */
  def packOrNull(arr: ArrayData): Array[Byte] = {
    val n = arr.numElements()
    val out = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val h = floatToHalf(arr.getFloat(i))
      out(2 * i) = (h & 0xFF).toByte
      out(2 * i + 1) = ((h >> 8) & 0xFF).toByte
      i += 1
    }
    out
  }

  /** Unpack a little-endian binary16 blob; null on odd length. */
  def unpackOrNull(bytes: Array[Byte]): ArrayData = {
    if (bytes.length % 2 != 0) return null
    val n = bytes.length / 2
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      val h = ((bytes(2 * i) & 0xFF) | ((bytes(2 * i + 1) & 0xFF) << 8)).toShort
      out(i) = graft.io.Npy.halfToFloat(h)
      i += 1
    }
    new GenericArrayData(out)
  }

  def packFp16(vec: Column): Column =
    ColumnBridge.column(Fp16Pack(ColumnBridge.expression(vec)))

  def unpackFp16(blob: Column): Column =
    ColumnBridge.column(Fp16Unpack(ColumnBridge.expression(blob)))
}
