package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.immutable.ListMap

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.WordPieceTokenize
import graft.io.Sources
import graft.ops.{CategoryOps, EvalMetrics, SplitOps, TextOps, VectorOps}
import graft.pipeline.ReferencePipeline

/** The reference's data path on generated inputs in its own formats: a
  * whole-array annotation JSON (title / asr / nested ocr, codes from the
  * 200-code category list) and a directory of per-video float16 `.npy`
  * frame files. One iteration runs the ETL job to sharded parquet and
  * `ReferencePipeline.run` (eval + CSV sink), then checks both outputs.
  */
final class RefEtl extends Workload {
  import RefEtl._

  private var labeledPerCode: Map[String, Int] = Map.empty

  def generate(dir: File, seed: Long): Unit = {
    val rng = new SplittableRandom(seed * 1000003L + 11L)
    val codes = CategoryOps.referenceCategoryCodes
    val sb = new StringBuilder("[\n")
    val counts = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    for (i <- 0 until Videos) {
      val id = f"v$i%06d"
      val code =
        if (rng.nextDouble() < UnlabeledFrac) None
        else Some(codes(math.min(codes.size - 1,
          (codes.size * math.pow(rng.nextDouble(), 1.5)).toInt)))
      code.foreach(c => counts(c) += 1)
      val ocr = (0 until rng.nextInt(7)).map(k => ListMap("time" -> k * 1.5, "text" -> text(rng, 3, 40)))
      val title = text(rng, 8, 30)
      if (i > 0) sb.append(",\n")
      sb.append(Files.json(ListMap("id" -> id, "title" -> title, "asr" -> text(rng, 0, 250),
        "ocr" -> ocr, "category_id" -> code)))
      val n = MinGenFrames + rng.nextInt(MaxGenFrames - MinGenFrames + 1)
      Files.writeNpyF16(new File(dir, s"frames/$id.npy"), n, FrameDim,
        Array.fill(n * FrameDim)(Files.floatToHalf((rng.nextDouble() * 2 - 1).toFloat)))
    }
    sb.append("\n]\n")
    Files.writeText(new File(dir, "labeled.json"), sb.toString)
    Files.writeText(new File(dir, "vocab.txt"), vocab.mkString("", "\n", "\n"))
    labeledPerCode = counts.toMap
  }

  /** One full iteration: codegen and the JIT's first tiers. */
  def warmup(ctx: Ctx, dir: File): Unit = {
    val o = new Outcome
    iteration(ctx, dir, o)
    if (o.errors.nonEmpty) throw new IllegalStateException(o.errors.mkString("; "))
  }

  def measure(ctx: Ctx, dir: File): Outcome = {
    val o = new Outcome
    Workload.loop(ctx.seconds, MinIters) { i =>
      ctx.tracer.recording = ctx.tracer.enabled && i % 2 == 1
      val (_, ns) = ctx.tracer.unit(s"iter-$i", "bench.iteration") {
        o.attempt(s"iteration $i")(iteration(ctx, dir, o))
      }
      o.latencyMs += ns / 1e6
      o.traced += ctx.tracer.recording
      ns / 1e6
    }
    o
  }

  /** One job iteration, from input files to written and checked output. */
  private def iteration(ctx: Ctx, dir: File, o: Outcome): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val out = new File(ctx.runDir, "out")
    val json = new File(dir, "labeled.json").getPath
    val shardsPath = new File(out, "shards").getPath
    val csvPath = new File(out, "result_csv").getPath
    val vocab = Sources.readVocab(spark, new File(dir, "vocab.txt").getPath)
    def wp(c: Column): Column = WordPieceTokenize.wordpiece(c, vocab).cast("array<string>")
    val dim = CategoryOps.referenceCategoryDim(spark)

    val anns = tr.span("io.read_annotations")(
      tr.boundary(Sources.readAnnotations(spark, json)))
    val labeled = tr.span("ops.category_attach")(tr.boundary(
      CategoryOps.attachIds(
        anns.withColumn("ocr_text", TextOps.flattenOcr(col("ocr"))).drop("ocr"),
        dim, "category_id")
        .filter(col("lv2id").isNotNull)))
    val tok = tr.span("functions.wordpiece")(tr.boundary(
      labeled.select(col("id"), col("lv2id"), col("lv1id"),
        wp(col("title")).as("t_title"), wp(col("asr")).as("t_asr"),
        wp(col("ocr_text")).as("t_ocr"))))
    if (tr.recording) o.add("wordpiece_tokens", tok.agg(sum(
      size(col("t_title")) + size(col("t_asr")) + size(col("t_ocr")))).head().getLong(0).toDouble)
    val asm = tr.span("functions.budgeted_assemble")(tr.boundary(
      tok.select(col("id"), col("lv2id"), col("lv1id"),
          TextOps.budgetedAssembleFused(col("t_title"), col("t_asr"), col("t_ocr"),
            MaxTokens, MinTitle, MinAsr, MinOcr).cast("array<int>").as("tokens"))
        .withColumn("input_ids", TextOps.padTo(col("tokens"), MaxTokens))
        .withColumn("attention_mask", TextOps.attentionMask(col("tokens"), MaxTokens))))
    val frames = tr.span("io.read_npy")(
      tr.boundary(Sources.readNpyById(spark, new File(dir, "frames").getPath)))
    if (tr.recording) o.add("npy_files", new File(dir, "frames").list().length)
    val withFrames = tr.span("ops.frames")(tr.boundary(
      asm.join(frames.select(col("id"),
        VectorOps.padFrames(VectorOps.strideSample(col("frames"), MaxFrames),
          MaxFrames, FrameDim).as("frames"),
        VectorOps.frameMask(col("frames"), MaxFrames).as("frame_mask")), Seq("id"))))
    val split = tr.span("ops.split")(tr.boundary(SplitOps.kFold(
      SplitOps.stratifiedSplit(withFrames, "lv2id", "id", ValRatio, SplitSeed),
      "lv2id", "id", Folds)))
    tr.span("io.write_shards")(Sources.writeSharded(split, "id", ShardRows, shardsPath))
    tr.span("pipeline.reference_run") {
      ReferencePipeline.run(spark, json, CategoryOps.referenceCategoryCodes, csvPath,
        ValRatio, SplitSeed, tokenizer = wp).metrics.collect()
    }
    tr.span("bench.check")(checkOutputs(ctx, shardsPath, csvPath, dim, o))
  }

  private def checkOutputs(ctx: Ctx, shardsPath: String, csvPath: String,
      dim: org.apache.spark.sql.DataFrame, o: Outcome): Unit = {
    val spark = ctx.spark
    val shards = spark.read.parquet(shardsPath)
    val rows = shards.groupBy("shard", "lv2id", "split")
      .agg(count(lit(1)).as("n"), max(size(col("tokens"))).as("max_tok"),
        min(size(col("input_ids"))).as("min_ids"), max(size(col("input_ids"))).as("max_ids"))
      .collect()
    val total = labeledPerCode.values.sum
    val byCode = CategoryOps.referenceCategoryCodes.zipWithIndex.toMap
    val expectTotal = labeledPerCode.map { case (c, n) => byCode(c) -> n }
    val gotTotal = rows.groupBy(_.getAs[Int]("lv2id"))
      .map { case (k, rs) => k -> rs.map(_.getAs[Long]("n")).sum.toInt }
    o.check("rows_per_lv2id", gotTotal == expectTotal,
      s"${gotTotal.size} classes vs ${expectTotal.size}")
    val gotVal = rows.filter(_.getAs[String]("split") == "val")
      .groupBy(_.getAs[Int]("lv2id")).map { case (k, rs) => k -> rs.map(_.getAs[Long]("n")).sum.toInt }
    val expectVal = expectTotal.map { case (k, n) => k -> math.floor(n * ValRatio).toInt }
      .filter(_._2 > 0)
    o.check("val_rows_per_lv2id", gotVal == expectVal)
    o.check("token_budget", rows.forall(r => r.getAs[Int]("max_tok") <= MaxTokens &&
      r.getAs[Int]("min_ids") == MaxTokens && r.getAs[Int]("max_ids") == MaxTokens))
    val perShard = rows.groupBy(_.getAs[Int]("shard"))
      .map { case (k, rs) => k -> rs.map(_.getAs[Long]("n")).sum }.toSeq.sortBy(_._1)
    val expectShards = (0 until (total + ShardRows - 1) / ShardRows).map { s =>
      s -> math.min(ShardRows, total - s * ShardRows).toLong
    }
    o.check("shard_row_counts", perShard == expectShards)

    val preds = CategoryOps.attachIds(Sources.readResultCsv(spark, csvPath), dim, "category_id")
      .select(col("vid"), col("lv2id").as("pred"))
    val truth = shards.filter(col("split") === "val")
      .select(col("id").as("vid"), col("lv2id").as("label"))
    val nVal = expectVal.values.sum
    val matched =
      try ctx.tracer.span("ops.eval")(
        EvalMetrics.validatePredictions(preds, truth).filter(col("pred").isNotNull).count())
      catch { case e: IllegalArgumentException => o.check("csv_round_trip", false, e.getMessage); -1L }
    o.check("csv_round_trip", matched == nVal, s"$matched of $nVal predictions matched")
  }
}

object RefEtl {
  val Videos = 1500
  val UnlabeledFrac = 0.05
  val FrameDim = 128
  val MinGenFrames = 2
  val MaxGenFrames = 20
  val MaxFrames = 8
  val MaxTokens = 256
  val MinTitle = 80
  val MinAsr = 86
  val MinOcr = 86
  val ValRatio = 0.1
  val SplitSeed = 42L
  val Folds = 5
  val ShardRows = 1000
  val MinIters = 3

  /** CJK ideographs the text draws from; the vocabulary leaves the last
    * tenth out, so those become [UNK].
    */
  private val cjk: IndexedSeq[String] =
    (0 until 2000).map(i => new String(Character.toChars(0x4E00 + i * 7)))
  private val syllables: IndexedSeq[String] =
    for (c <- "bdgklmnprst"; v <- "aeiou") yield s"$c$v"
  private val punct = IndexedSeq("，", "。", "！", "?", ",")

  val vocab: Seq[String] =
    Seq("[PAD]", "[UNK]", "[CLS]", "[SEP]") ++ punct ++ cjk.take(1800) ++
      syllables ++ syllables.map("##" + _)

  /** Chinese-like text: mostly ideographs, some latin words (split into
    * WordPiece continuations), some punctuation.
    */
  private def text(rng: SplittableRandom, minTok: Int, maxTok: Int): String = {
    val n = minTok + rng.nextInt(maxTok - minTok + 1)
    val sb = new StringBuilder
    for (_ <- 0 until n) {
      val u = rng.nextDouble()
      if (u < 0.85) sb.append(cjk(rng.nextInt(cjk.size)))
      else if (u < 0.95)
        sb.append(' ').append((0 to rng.nextInt(3)).map(_ => syllables(rng.nextInt(syllables.size))).mkString).append(' ')
      else sb.append(punct(rng.nextInt(punct.size)))
    }
    sb.toString
  }
}
