package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Sources
import graft.ops._

/** The reference-flavored end-to-end slice (SURVEY §7.2, second slice):
  * the data path of `create_dataloaders` + `validate` + result sink
  * (reference `src/data_helper.py:88-132`, `src/main.py:125-141`,
  * `src/inference.py:49-53`) as one declarative Spark job:
  *
  *   OP-01 JSON annotation scan (explicit schema)
  *   → OP-11 OCR flatten
  *   → OP-14 category dim broadcast join
  *   → OP-15/16/17 tokenize + budgeted head-tail assembly + pad/mask
  *   → OP-36 deterministic stratified split
  *   → a trivial deterministic predictor (train-mode majority class)
  *   → OP-24 validation join + OP-26 hierarchical F1 block
  *   → OP-07 CSV result sink.
  *
  * The input is read once: the split, projected to (id, lv2id, split),
  * is persisted on its first action and unpersisted before `run`
  * returns. On top of it come four actions — the majority class
  * (collected and used as a literal), the one-aggregate validation
  * guards, the one-aggregate metrics row, and the CSV write. Catalyst
  * prunes the unused annotation fields out of the JSON scan and
  * pipelines every narrow stage. The only shuffles are the split
  * window (by lv2id), the majority-class and validation groupBys, and
  * the metric aggregate's merge — same shape at any scale.
  */
object ReferencePipeline {

  final case class Output(metrics: DataFrame, predictions: DataFrame)

  /** Reference text-budget constants (`src/data_helper.py:18-25`):
    * total 258, floors asr=86 ocr=86 title=80; title is cut LAST.
    */
  val Budget = 258
  val MinTitle = 80
  val MinAsr = 86
  val MinOcr = 86

  /** @param tokenizer per-field tokenization, `text → array<string>`
    *        (the reference runs HF BertTokenizer over each of the three
    *        fields, `src/data_helper.py:55-57`). Defaults to whitespace;
    *        a WordPiece deployment passes e.g.
    *        `t => WordPieceTokenize.wordpiece(t, Sources.readVocab(spark, path)).cast("array<string>")`
    *        — the id→string cast feeds the string-typed budgeted
    *        assembly, whose cut_min algebra is pure index arithmetic
    *        and token-representation agnostic (spec-exercised end to
    *        end in `ReferencePipelineSpec`).
    */
  def run(
      spark: SparkSession,
      annotationsPath: String,
      categoryCodes: Seq[String],
      resultCsvPath: String,
      valRatio: Double = 0.1,
      seed: Long = 42L,
      tokenizer: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        TextOps.whitespaceTokenize(_)): Output = {

    val dim = CategoryOps.categoryDim(spark, categoryCodes)

    // OP-01 + OP-11 + OP-14
    val anns = Sources.readAnnotations(spark, annotationsPath)
      .withColumn("ocr_text", TextOps.flattenOcr(col("ocr")))
    val labeled = CategoryOps.attachIds(anns, dim, "category_id")
      .filter(col("lv2id").isNotNull)

    // OP-15/16/17: tokenize (injectable), budgeted assembly with the
    // reference's priority/floor algebra, pad + mask.
    val assembled = labeled.withColumn("tokens",
        TextOps.budgetedAssembleFused(
          tokenizer(col("title")),
          tokenizer(col("asr")),
          tokenizer(col("ocr_text")),
          Budget, MinTitle, MinAsr, MinOcr))
      .withColumn("attention_mask", TextOps.attentionMask(col("tokens"), 256))

    // OP-36 split, kept for every action below
    val split = SplitOps.stratifiedSplit(assembled, "lv2id", "id", valRatio, seed)
      .select("id", "lv2id", "split")
      .persist()
    try {
      val valSet = split.filter(col("split") === "val")

      // trivial deterministic predictor: majority lv2id of the train set
      // (ties to the smaller id) — enough to drive the metric/sink path.
      // No train rows means no prediction, so `scored` is empty.
      val majority = split.filter(col("split") === "train")
        .groupBy("lv2id").count()
        .orderBy(col("count").desc, col("lv2id"))
        .limit(1)
        .collect().headOption.map(_.getInt(0))

      val scored = valSet.where(lit(majority.isDefined))
        .select(col("id").as("vid"), lit(majority.getOrElse(0)).as("pred"), col("lv2id").as("label"))

      // OP-24 + OP-26
      val truth = valSet.select(col("id").as("vid"), col("lv2id").as("label"))
      val validated = EvalMetrics.validatePredictions(
        scored.select("vid", "pred"), truth)
      val metricsDf = EvalMetrics.hierarchicalF1(validated, dim)
      val metrics = spark.createDataFrame(
        java.util.List.of(metricsDf.head()), metricsDf.schema)

      // OP-07: lv2id → category string, then the csv result sink
      val predictions = CategoryOps.attachCode(
        scored.withColumnRenamed("pred", "lv2id"), dim, "lv2id")
        .select(col("vid"), col("category_id_rt").as("category_id"))
      Sources.writeResultCsv(predictions, resultCsvPath, singleFile = true)

      // `metrics` is a local row; `predictions` stays lazy and re-reads
      // the input once the split is unpersisted
      Output(metrics, predictions)
    } finally split.unpersist()
  }
}
