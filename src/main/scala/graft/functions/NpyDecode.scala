package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

import graft.io.Npy

/** `.npy` payload → `array<array<float>>` frames, row-major: the decode
  * step of [[graft.io.Sources.readNpyById]] (the reference's per-id fp16
  * feature matrices, `src/prepare_img_npy.py:12-24`,
  * `src/data_helper.py:91,157`). Every [[Npy]] dtype widens to float;
  * Fortran-order data is transposed to C order; a scalar or 1-D array
  * is one frame. A null or empty payload gives zero frames; a malformed
  * one fails the task with [[Npy]]'s `npy:` message.
  *
  * One generated static call per row, no boxing and no encoder round
  * trip: [[decode]] widens the payload into one flat `float[]` and
  * copies each frame straight into its own `UnsafeArrayData`.
  */
case class NpyDecode(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  // frames may be null in the type (the shard schema), elements never are
  override def dataType: DataType =
    ArrayType(ArrayType(FloatType, containsNull = false), containsNull = true)
  /** Never null, but declared nullable: the field's nullability reaches
    * the parquet schema (optional vs required) of the shard files.
    */
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any =
    NpyDecode.decode(child.eval(input).asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        graft.functions.NpyDecode.decode(${c.isNull} ? null : ${c.value});
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "npy_frames"
}

object NpyDecode {

  private val NoFrames: ArrayData = new GenericArrayData(Array.empty[Any])

  /** The kernel: payload bytes → frames. */
  def decode(bytes: Array[Byte]): ArrayData = {
    if (bytes == null || bytes.isEmpty) return NoFrames
    val (h, flat) = Npy.readFloats(bytes)
    h.shape match {
      case Seq() | Seq(_) => new GenericArrayData(Array[Any](UnsafeArrayData.fromPrimitiveArray(flat)))
      case Seq(r, c) =>
        val cOrder = if (h.fortranOrder) transpose(flat, r, c) else flat
        val frames = new Array[Any](r)
        var i = 0
        while (i < r) {
          frames(i) = UnsafeArrayData.fromPrimitiveArray(
            cOrder, Platform.FLOAT_ARRAY_OFFSET + i * c * 4, c, 4)
          i += 1
        }
        new GenericArrayData(frames)
      case s => throw new IllegalArgumentException(
        s"npy: expected <=2-D payload, got shape ${s.mkString("(", ",", ")")}")
    }
  }

  /** Column-major (r, c) → row-major. */
  private def transpose(flat: Array[Float], r: Int, c: Int): Array[Float] = {
    val out = new Array[Float](flat.length)
    var i = 0
    while (i < r) {
      var j = 0
      while (j < c) { out(i * c + j) = flat(j * r + i); j += 1 }
      i += 1
    }
    out
  }

  def frames(payload: Column): Column =
    ColumnBridge.column(NpyDecode(ColumnBridge.expression(payload)))
}
