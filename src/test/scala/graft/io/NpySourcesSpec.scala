package graft.io

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.SharedSpark
import graft.TempDirs.tempDir
import graft.functions.NpyDecode

/** End-to-end: per-id `.npy` files on disk → binaryFile scan →
  * real NPY decode → (id, frames) rows. This is the ingest path for the
  * reference's per-id feature matrices (`src/data_helper.py:91,157`).
  */
class NpySourcesSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  /** Spec-local NPY v1.0 encoder for float32 C-order matrices (mirrors
    * numpy's header layout: 64-byte-aligned data start).
    */
  private def npyF4(rows: Array[Array[Float]]): Array[Byte] = {
    val head = s"{'descr': '<f4', 'fortran_order': False, 'shape': (${rows.length}, ${rows.head.length}), }"
    val pad = (64 - ((10 + head.length + 1) % 64)) % 64
    val hs = head + (" " * pad) + "\n"
    val bb = ByteBuffer.allocate(10 + hs.length + rows.map(_.length).sum * 4)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put(Array[Byte](0x93.toByte, 'N', 'U', 'M', 'P', 'Y', 1, 0))
    bb.putShort(hs.length.toShort)
    bb.put(hs.getBytes("ISO-8859-1"))
    rows.foreach(_.foreach(bb.putFloat))
    bb.array()
  }

  test("readNpyById: {id}.npy files decode to (id, frames) rows") {
    val dir = tempDir().toString
    val a = Array(Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f))
    val b = Array(Array(-1.5f, 0.25f, 8.0f))
    Files.write(Paths.get(dir, "vid101.npy"), npyF4(a))
    Files.write(Paths.get(dir, "vid102.npy"), npyF4(b))
    Files.write(Paths.get(dir, "ignore.txt"), "not npy".getBytes)

    val df = Sources.readNpyById(spark, dir)
    assert(df.schema("frames").dataType ==
      ArrayType(ArrayType(FloatType, containsNull = false), containsNull = true),
      "the shard schema: frames may be null in the type, elements never")
    val got = df.collect()
      .map(r => r.getAs[String]("id") ->
        r.getSeq[scala.collection.Seq[Float]](r.fieldIndex("frames")).map(_.toSeq).toSeq)
      .toMap
    assert(got.keySet == Set("vid101", "vid102"), "pathGlobFilter keeps only .npy")
    assert(got("vid101") == a.map(_.toSeq).toSeq)
    assert(got("vid102") == b.map(_.toSeq).toSeq)
  }

  test("npy_frames: null/empty payloads yield zero frames, not task failure") {
    import spark.implicits._
    val df = Seq(("x", Option.empty[Array[Byte]]), ("e", Some(Array.empty[Byte])),
        ("y", Some(npyF4(Array(Array(9.0f))))))
      .toDF("id", "payload")
    // interpreted (local relation folded by the optimizer) and generated
    // (same rows through an RDD scan) evaluation must agree
    val viaRdd = spark.createDataFrame(df.rdd, df.schema)
    for (in <- Seq(df, viaRdd)) {
      val got = in.select(col("id"), NpyDecode.frames(col("payload")).as("frames")).collect()
        .map(r => r.getString(0) ->
          r.getSeq[scala.collection.Seq[Float]](1).map(_.toSeq).toSeq).toMap
      assert(got("x") == Seq.empty)
      assert(got("e") == Seq.empty)
      assert(got("y") == Seq(Seq(9.0f)))
    }
  }

  test("npy_frames: a malformed payload fails the task with the npy: message") {
    val dir = tempDir().toString
    Files.write(Paths.get(dir, "ok.npy"), npyF4(Array(Array(1.0f))))
    Files.write(Paths.get(dir, "bad.npy"), npyF4(Array(Array(1.0f))).take(20))
    val e = intercept[Exception](Sources.readNpyById(spark, dir).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains("npy: truncated header")),
      e.toString)
  }
}
