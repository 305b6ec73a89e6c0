package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.TempDirs.tempDir
import graft.io.Sources
import graft.ops.{CategoryOps, EvalMetrics}

/** End-to-end test of the reference-flavored slice over a B1-style
  * micro-fixture (FIXTURES.md §B1): JSON annotations with nested OCR,
  * nullable category_id, every truncation regime represented.
  */
class ReferencePipelineSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  /** 6 lv2 codes over 3 lv1 buckets (same 2-char-prefix law as the
    * reference's 200-code list).
    */
  private val codes = Seq("0101", "0102", "0201", "0202", "0301", "0302")

  private def words(n: Int, p: String): String = (0 until n).map(i => s"$p$i").mkString(" ")

  private def writeFixture(): String = {
    val dir = tempDir().toFile.getAbsolutePath
    // 24 labeled rows across 6 classes + 2 unlabeled (test-shape) rows;
    // long asr/ocr rows force every cut regime of combine_text.
    val rows = (0 until 24).map { i =>
      val code = codes(i % 6)
      val ocrSegs = if (i % 5 == 0) "[]"
        else s"""[{"time": 0.5, "text": "${words(3, "o")}"}, {"time": 1.5, "text": "${words(120 + i, "p")}"}]"""
      s"""{"id": "vid$i", "title": "${words(30 + i * 7, "t")}",
          |"asr": "${words(60 + i * 11, "a")}", "ocr": $ocrSegs,
          |"category_id": "$code"}""".stripMargin.replace("\n", " ")
    } ++ Seq(
      """{"id": "test0", "title": "short", "asr": "tiny", "ocr": [], "category_id": null}""",
      """{"id": "test1", "title": "", "asr": "", "ocr": [], "category_id": null}""")
    Files.writeString(
      java.nio.file.Path.of(dir, "labeled.json"),
      rows.mkString("[", ",\n", "]"))
    dir
  }

  test("pipeline end-to-end: metrics row + CSV sink + schema/shape invariants") {
    val annDir = writeFixture()
    val outCsv = tempDir().toFile.getAbsolutePath + "/preds"
    val out = ReferencePipeline.run(spark, s"$annDir/labeled.json", codes, outCsv, valRatio = 0.25)

    val m = out.metrics.collect().head
    val fields = Seq("lv2_f1_micro", "lv2_f1_macro", "lv2_acc",
      "lv1_f1_micro", "lv1_f1_macro", "lv1_acc", "mean_f1")
    fields.foreach { f =>
      val v = m.getAs[Double](f)
      assert(v >= 0.0 && v <= 1.0, s"$f=$v out of range")
    }
    // majority predictor ⇒ lv1 metrics dominate lv2 metrics
    assert(m.getAs[Double]("lv1_acc") >= m.getAs[Double]("lv2_acc"))

    // CSV sink round-trips through the OP-08 scan
    val written = Sources.readResultCsv(spark, outCsv)
    assert(written.count() == out.predictions.count())
    assert(written.columns.toSeq == Seq("vid", "category_id"))
    val badCodes = written.join(
      CategoryOps.categoryDim(spark, codes), Seq("category_id"), "left_anti").count()
    assert(badCodes == 0, "sink must emit only dictionary codes")
  }

  test("pipeline runs end-to-end with a WordPiece tokenizer loaded from a vocab file") {
    // the reference's actual text path: per-field BertTokenizer with a
    // file-loaded vocab (src/data_helper.py:55-57) — here the WordPiece
    // ids feed the same string-typed budgeted assembly via a cast (the
    // cut_min algebra is index arithmetic, representation-agnostic).
    val annDir = writeFixture()
    val outCsv = tempDir().toFile.getAbsolutePath + "/preds"
    val vocab = Sources.readVocab(
      spark, getClass.getResource("/wordpiece_vocab.txt").getPath)
    val out = ReferencePipeline.run(
      spark, s"$annDir/labeled.json", codes, outCsv, valRatio = 0.25,
      tokenizer = t =>
        graft.functions.WordPieceTokenize.wordpiece(t, vocab).cast("array<string>"))
    val m = out.metrics.collect()
    assert(m.length == 1)
    assert(out.predictions.count() > 0)
  }

  test("unlabeled (null category_id) rows are excluded from the labeled path") {
    val annDir = writeFixture()
    val anns = Sources.readAnnotations(spark, s"$annDir/labeled.json")
    assert(anns.count() == 26)
    val labeled = CategoryOps.attachIds(anns, CategoryOps.categoryDim(spark, codes), "category_id")
      .filter(col("lv2id").isNotNull)
    assert(labeled.count() == 24)
  }

  test("validatePredictions raises on unknown vid and on count mismatch (OP-24)") {
    val truth = Seq(("a", 1), ("b", 2)).toDF("vid", "label")
    val okPreds = Seq(("a", 1), ("b", 1)).toDF("vid", "pred")
    assert(EvalMetrics.validatePredictions(okPreds, truth).count() == 2)

    val unknown = Seq(("a", 1), ("z", 1)).toDF("vid", "pred")
    val e1 = intercept[IllegalArgumentException] {
      EvalMetrics.validatePredictions(unknown, truth)
    }
    assert(e1.getMessage.contains("missing from ground truth"))

    val short = Seq(("a", 1)).toDF("vid", "pred")
    val e2 = intercept[IllegalArgumentException] {
      EvalMetrics.validatePredictions(short, truth)
    }
    assert(e2.getMessage.contains("count"))

    // a null pred vid never matches (even a null truth vid): unknown
    val nullTruth = Seq[(Option[String], Int)]((Some("a"), 1), (None, 2)).toDF("vid", "label")
    val nullPred = Seq[(Option[String], Int)]((Some("a"), 1), (None, 1)).toDF("vid", "pred")
    val e3 = intercept[IllegalArgumentException] {
      EvalMetrics.validatePredictions(nullPred, nullTruth)
    }
    assert(e3.getMessage.contains("1 predicted ids missing from ground truth"), e3.getMessage)

    // duplicated pred vids count per row
    val dup = Seq(("a", 1), ("a", 1), ("b", 2)).toDF("vid", "pred")
    val e4 = intercept[IllegalArgumentException] {
      EvalMetrics.validatePredictions(dup, truth)
    }
    assert(e4.getMessage.contains("prediction count 3 != ground truth count 2"), e4.getMessage)
  }

  test("validatePredictions over empty preds and empty truth is an empty join (OP-24)") {
    val truth = Seq.empty[(String, Int)].toDF("vid", "label")
    val preds = Seq.empty[(String, Int)].toDF("vid", "pred")
    val joined = EvalMetrics.validatePredictions(preds, truth)
    assert(joined.columns.toSeq == Seq("vid", "pred", "label"))
    assert(joined.count() == 0)
  }

  test("run releases its persisted split and returns a materialised metrics row") {
    val annDir = writeFixture()
    val outCsv = tempDir().toFile.getAbsolutePath + "/preds"
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = ReferencePipeline.run(spark, s"$annDir/labeled.json", codes, outCsv, valRatio = 0.25)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(after.size == before.size && after == before,
      s"run left ${(after -- before).size} persisted RDDs behind")
    val row = out.metrics.collect().toSeq
    Files.delete(java.nio.file.Path.of(annDir, "labeled.json"))
    // a fresh plan over `metrics` (not the already-executed one, whose
    // shuffle outputs would be reused) must not need the input
    assert(out.metrics.select("*").collect().toSeq == row, "metrics must not re-read the input")
    assert(row.length == 1 && out.metrics.columns.length == 7)
  }

  test("run with no train rows predicts nothing, so validation fails and the split is released") {
    val annDir = writeFixture()
    val outCsv = tempDir().toFile.getAbsolutePath + "/preds"
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException] {
      ReferencePipeline.run(spark, s"$annDir/labeled.json", codes, outCsv, valRatio = 1.0)
    }
    assert(e.getMessage.contains("prediction count 0 != ground truth count 24"), e.getMessage)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("category dim round-trip law on all codes (OP-14)") {
    val dim = CategoryOps.categoryDim(spark, codes)
    val rt = CategoryOps.attachCode(dim.select("lv2id"), dim, "lv2id")
      .join(dim, Seq("lv2id"))
      .filter(col("category_id_rt") =!= col("category_id")).count()
    assert(rt == 0)
    val lv1 = dim.select("category_id", "lv1id").as[(String, Int)].collect()
    lv1.foreach { case (code, l1) => assert(l1 == code.take(2).toInt) }
  }

  test("binary-by-id source extracts ids from filenames (OP-02/03 analog)") {
    val dir = tempDir()
    Files.write(dir.resolve("vid1.bin"), Array[Byte](1, 2, 3))
    Files.write(dir.resolve("vid2.bin"), Array[Byte](4, 5))
    Files.write(dir.resolve("ignore.txt"), Array[Byte](9))
    val got = Sources.readBinaryById(spark, dir.toString, "bin")
      .select("id", "n_bytes").as[(String, Long)].collect().toMap
    assert(got == Map("vid1" -> 3L, "vid2" -> 2L))
  }

  test("sharded sink writes fixed-size partitions (OP-05)") {
    val outDir = tempDir().toFile.getAbsolutePath + "/ds"
    val df = (0 until 95).map(i => (i.toLong, s"row$i")).toDF("id", "payload")
    Sources.writeSharded(df, "id", 40, outDir)
    val back = spark.read.parquet(outDir)
    val sizes = back.groupBy("shard").count().orderBy("shard").as[(Int, Long)].collect()
    assert(sizes.map(_._2).toSeq == Seq(40L, 40L, 15L))
    assert(back.count() == 95)
  }
}
