package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files => JFiles}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Byte-deterministic writers for generated inputs: the same rows give
  * the same bytes, with no run-dependent names or metadata, so the same
  * seed reproduces identical input files.
  */
object Files {

  def writeText(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    JFiles.write(f.toPath, s.getBytes(UTF_8))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** JSON text of Scala values (maps, sequences, options, numbers,
    * strings); a `ListMap` keeps its key order.
    */
  def json(v: Any): String = mapper.writeValueAsString(v)

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** IEEE 754 binary16 bits of `v` (round to nearest even); the
    * generators only produce finite values well inside half range.
    */
  def floatToHalf(v: Float): Short = {
    val bits = java.lang.Float.floatToIntBits(v)
    val sign = (bits >>> 16) & 0x8000
    val exp = ((bits >>> 23) & 0xff) - 127 + 15
    val mant = bits & 0x7fffff
    if (exp <= 0) sign.toShort // flush tiny values to signed zero
    else if (exp >= 31) (sign | 0x7bff).toShort // clamp to max finite
    else {
      var h = sign | (exp << 10) | (mant >>> 13)
      val rest = mant & 0x1fff
      if (rest > 0x1000 || (rest == 0x1000 && (h & 1) == 1)) h += 1
      h.toShort
    }
  }

  /** A row-major float16 `.npy` (format 1.0) of shape (rows, cols). */
  def writeNpyF16(f: File, rows: Int, cols: Int, values: Array[Short]): Unit = {
    require(values.length == rows * cols)
    val dict = s"{'descr': '<f2', 'fortran_order': False, 'shape': ($rows, $cols), }"
    val unpadded = 10 + dict.length + 1
    val header = dict + " " * ((64 - unpadded % 64) % 64) + "\n"
    val buf = java.nio.ByteBuffer.allocate(10 + header.length + 2 * values.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put(0x93.toByte).put("NUMPY".getBytes(UTF_8)).put(1.toByte).put(0.toByte)
    buf.putShort(header.length.toShort).put(header.getBytes(UTF_8))
    values.foreach(v => buf.putShort(v))
    f.getParentFile.mkdirs()
    JFiles.write(f.toPath, buf.array())
  }

  /** Write rows to one parquet file; `fill` sets one row's fields. */
  def writeParquet[T](f: File, schema: String, rows: Iterator[T])(
      fill: (Group, T) => Unit): Unit = {
    val mt: MessageType = MessageTypeParser.parseMessageType(schema)
    f.getParentFile.mkdirs()
    if (f.exists()) f.delete()
    val w: ParquetWriter[Group] = ExampleParquetWriter
      .builder(new LocalOutputFile(f.toPath))
      .withType(mt)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val factory = new SimpleGroupFactory(mt)
    try rows.foreach { r => val g = factory.newGroup(); fill(g, r); w.write(g) }
    finally w.close()
  }
}
