package graft.tools

import java.nio.file.Files

import graft.core.{GraftSession, Scratch}
import graft.pipeline.ReferencePipeline

/** Runnable example of the reference-flavored pipeline slice: generates
  * a tiny annotation JSON, runs the full OP-01→OP-07 chain, prints the
  * metric row and the sunk CSV. Usage: runMain graft.tools.PipelineDemo
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build(appName = "graft-pipeline-demo")
    val codes = Seq("0101", "0102", "0201", "0202", "0301", "0302")
    def words(n: Int, p: String): String = (0 until n).map(i => s"$p$i").mkString(" ")

    val dir = Scratch.dir("demo-anns") { d =>
      val rows = (0 until 30).map { i =>
        val ocr = s"""[{"time": 0.5, "text": "${words(100 + i, "o")}"}]"""
        s"""{"id": "vid$i", "title": "${words(40 + i, "t")}", "asr": "${words(90 + i, "a")}",
           |"ocr": $ocr, "category_id": "${codes(i % 6)}"}""".stripMargin.replace("\n", " ")
      }
      Files.writeString(java.nio.file.Path.of(d, "labeled.json"),
        rows.mkString("[", ",\n", "]"))
    }

    val outCsv = Scratch.dir("demo-out")(_ => ()) + "/preds"
    val out = ReferencePipeline.run(spark, s"$dir/labeled.json", codes, outCsv, valRatio = 0.2)

    println("=== metrics ===")
    out.metrics.show(truncate = false)
    println(s"=== result csv at $outCsv ===")
    graft.io.Sources.readResultCsv(spark, outCsv).show(10, truncate = false)

    // vector-math / join surface showcase (OP-52, OP-33, OP-22)
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import graft.ops.{JoinOps, VectorOps}
    import spark.implicits._
    println("=== vector math ===")
    Seq((0, Seq(1.0f, 2.0f, 3.0f), 10.0), (1, Seq(0.0f, 0.0f, 1.0f), 20.0),
        (2, Seq(-1.0f, 1.0f, 0.0f), 30.0))
      .toDF("t", "v", "x")
      .select(
        VectorOps.softmax(col("v")).as("softmax"),
        VectorOps.gelu(col("x") / 10.0).as("gelu"),
        VectorOps.l2Normalize(col("v")).as("unit"),
        VectorOps.ema(col("x"), 0.9, Window.orderBy("t")).as("ema"))
      .show(truncate = false)
    println("=== positional join ===")
    JoinOps.positionalJoin(Seq("a", "b").toDF("l"), Seq(1, 2).toDF("r")).show()

    // WordPiece tokenization + one-pass F1 aggregator
    import graft.functions.{F1Aggregator, WordPieceTokenize}
    println("=== wordpiece ===")
    val vocab = Seq("[PAD]", "[UNK]", "[CLS]", "[SEP]", "un", "##aff", "##able", "hello", "好")
    Seq("Hello unaffable 好", "zzz").toDF("t")
      .select(col("t"), WordPieceTokenize.wordpiece(col("t"), vocab).as("ids"))
      .show(truncate = false)
    println("=== one-pass F1 ===")
    Seq((0, 0), (1, 1), (1, 2)).toDS()
      .select(F1Aggregator.toColumn.name("micro_macro_acc")).show(truncate = false)

    println("=== salted join under skew ===")
    val fact = (0 until 100).map(i => (if (i < 90) 7 else i, s"r$i")).toDF("k", "payload")
    val dimT = (0 until 20).map(i => (i, s"d$i")).toDF("k", "attr")
    graft.ops.SkewOps.keyHistogram(fact, "k", 3).show()
    println("salted join rows: " + graft.ops.SkewOps.saltedJoin(fact, dimT, "k", 8).count())
    spark.stop()
  }
}
