package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{PortableHash, Tables}
import graft.core.PortableHash.{md5LongSql, uniform01Sql}
import graft.ops._

/** Reference-pipeline operator queries (q31+): stratified splits,
  * k-fold, MLM masking statistics, ITM shuffle pairing, and frame
  * pad/mask/subsample — the deterministic data semantics of the
  * reference's training pipeline (SURVEY §2.5/§2.8), oracle-checked.
  */
object ReferenceQueries {

  // --------------------------------------------------------------- q31
  /** Stratified holdout (OP-36): per-label deterministic 10% validation
    * split; output per (label, split) counts.
    */
  def q31(spark: SparkSession, dir: String): DataFrame =
    SplitOps.stratifiedSplit(Tables.embeddings(spark, dir), "label", "vec_id", 0.1, seed = 42L)
      .groupBy("label", "split")
      .agg(count(lit(1)).as("n"))

  val q31Sql: String =
    s"""WITH w AS (
      | SELECT label,
      |  ROW_NUMBER() OVER (PARTITION BY label
      |    ORDER BY ${md5LongSql("CAST(vec_id AS VARCHAR) || '#42'")}, vec_id) AS rn,
      |  COUNT(*) OVER (PARTITION BY label) AS cnt
      | FROM embeddings)
      |SELECT label,
      | CASE WHEN rn <= floor(cnt * 0.1) THEN 'val' ELSE 'train' END AS split,
      | COUNT(*) AS n
      |FROM w GROUP BY label, split""".stripMargin

  // --------------------------------------------------------------- q32
  /** Stratified k-fold (OP-37): fold = per-label row_number % 10 in id
    * order (StratifiedKFold(shuffle=False) semantics).
    */
  def q32(spark: SparkSession, dir: String): DataFrame =
    SplitOps.kFold(Tables.embeddings(spark, dir), "label", "vec_id", 10)
      .groupBy("fold", "label")
      .agg(count(lit(1)).as("n"))

  val q32Sql: String =
    """WITH w AS (
      | SELECT label,
      |  CAST((ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) - 1) % 10 AS INT) AS fold
      | FROM embeddings)
      |SELECT fold, label, COUNT(*) AS n FROM w GROUP BY fold, label""".stripMargin

  // --------------------------------------------------------------- q33
  /** MLM masking (OP-55) distributional contract over document tokens:
    * token ids = md5 % 1000, mask prob 0.25, 80/10/10 [MASK]/random/keep
    * split, labels = original-where-selected else -100. Per-doc
    * checksums pin ids AND labels exactly.
    */
  def q33(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val tokIds = transform(split(col("text"), " "),
      t => PortableHash.md5Long(t) % 1000)
    val masked = MaskingOps.mlmMaskPortableFused(tokIds, col("doc_id"),
      maskProb = 0.25, maskToken = 999999, vocabSize = 1000, seed = 0L)
    val ids = masked.getField("ids")
    val labels = masked.getField("labels")
    d.select(
      col("doc_id"),
      size(ids).as("n_tokens"),
      size(filter(labels, l => l =!= MaskingOps.IgnoreLabel)).as("n_selected"),
      size(filter(ids, i => i === 999999)).as("n_mask_tok"),
      aggregate(ids, lit(0L), (a, x) => a + x.cast("long")).as("checksum_ids"),
      aggregate(labels, lit(0L),
        (a, x) => a + when(x =!= MaskingOps.IgnoreLabel, x.cast("long")).otherwise(0L))
        .as("checksum_labels"))
  }

  val q33Sql: String = {
    val key = "CAST(doc_id AS VARCHAR) || '#' || CAST(i - 1 AS VARCHAR) || '#0'"
    val uSel = uniform01Sql(s"$key || '#sel'")
    val uSub = uniform01Sql(s"$key || '#sub'")
    val rnd = s"${md5LongSql(s"$key || '#rand'")} % 1000"
    val tid = s"${md5LongSql("toks[i]")} % 1000"
    s"""WITH t AS (
      | SELECT doc_id, string_split(text, ' ') AS toks,
      |        len(string_split(text, ' ')) AS n FROM documents),
      |x AS (
      | SELECT doc_id, n,
      |  list_transform(generate_series(1, n), i -> CASE
      |    WHEN NOT ($uSel < 0.25) THEN $tid
      |    WHEN $uSub < 0.8 THEN 999999
      |    WHEN $uSub < 0.9 THEN $rnd
      |    ELSE $tid END) AS ids,
      |  list_transform(generate_series(1, n), i -> CASE
      |    WHEN $uSel < 0.25 THEN $tid ELSE -100 END) AS labels
      | FROM t)
      |SELECT doc_id, CAST(n AS INT) AS n_tokens,
      | CAST(len(list_filter(labels, l -> l <> -100)) AS INT) AS n_selected,
      | CAST(len(list_filter(ids, i -> i = 999999)) AS INT) AS n_mask_tok,
      | CAST(list_sum(ids) AS BIGINT) AS checksum_ids,
      | CAST(COALESCE(list_sum(list_transform(labels, l ->
      |   CASE WHEN l <> -100 THEN l ELSE 0 END)), 0) AS BIGINT) AS checksum_labels
      |FROM x""".stripMargin
  }

  // --------------------------------------------------------------- q34
  /** ITM batch shuffle (OP-57): buckets of 10 by vec_id; first half
    * keeps its pair, second half reversed; match = partner == self.
    */
  def q34(spark: SparkSession, dir: String): DataFrame = {
    val p = MaskingOps.itmPartner(col("vec_id"), 10)
    Tables.embeddings(spark, dir).select(
      col("vec_id"),
      p.getField("partnerPos").as("partner_id"),
      p.getField("match").as("is_match"))
  }

  val q34Sql: String =
    """SELECT vec_id,
      | CASE WHEN vec_id % 10 < 5 THEN vec_id
      |      ELSE (vec_id // 10) * 10 + (14 - vec_id % 10) END AS partner_id,
      | (CASE WHEN vec_id % 10 < 5 THEN vec_id
      |      ELSE (vec_id // 10) * 10 + (14 - vec_id % 10) END) = vec_id AS is_match
      |FROM embeddings""".stripMargin

  // --------------------------------------------------------------- q35
  /** Frame pad/mask/stride-subsample (OP-18/19): embeddings reshaped to
    * 16 frames × 4 dims; deterministic stride sample down to 8 frames;
    * zero-pad to 20 with mask.
    */
  def q35(spark: SparkSession, dir: String): DataFrame = {
    val frames = transform(sequence(lit(0), lit(15)),
      f => slice(col("embedding"), f * 4 + 1, lit(4)))
    val sampled = VectorOps.strideSample(frames, 8)
    val checksum = aggregate(sampled, lit(0.0), (a, f) => a + VectorOps.arraySumD(f))
    Tables.embeddings(spark, dir).select(
      col("vec_id"),
      size(frames).as("n_frames"),
      checksum.as("sampled_checksum"),
      VectorOps.arraySumD(VectorOps.frameMask(frames, 20)).as("mask_sum"),
      size(VectorOps.padFrames(frames, 20, 4)).as("padded_n"))
  }

  val q35Sql: String =
    """WITH f AS (
      | SELECT vec_id,
      |  list_transform(generate_series(0, 15), fr -> embedding[4*fr+1 : 4*fr+4]) AS frames
      | FROM embeddings),
      |s AS (
      | SELECT vec_id, frames,
      |  list_transform(generate_series(0, 7), i -> frames[2*i + 1]) AS sampled
      | FROM f)
      |SELECT vec_id,
      | CAST(len(frames) AS INT) AS n_frames,
      | list_sum(list_transform(sampled, fr ->
      |   list_sum(list_transform(fr, x -> CAST(x AS DOUBLE))))) AS sampled_checksum,
      | 16.0 AS mask_sum,
      | 20 AS padded_n
      |FROM s""".stripMargin

  // --------------------------------------------------------------- q36
  /** Multimodal decode pipeline end-to-end: text payload → binary
    * bundle → per-partition decode stub (deterministic bytes→frames) →
    * per-frame mean features. Exercises the full
    * [[graft.ops.MultimodalOps]] plumbing: schema, typed Dataset
    * boundary, mapPartitions batch shape, downstream vector fold.
    */
  def q36(spark: SparkSession, dir: String): DataFrame = {
    val bundles = MultimodalOps.bundle(
      Tables.documents(spark, dir), "doc_id", "text",
      mime = "text/plain", frameBytes = 64, dim = 8)
    val decoded = MultimodalOps.decodeFrames(bundles)
    MultimodalOps.frameMeans(decoded)
      .select(
        col("id").as("doc_id"),
        size(col("frame_means")).as("n_frames"),
        aggregate(col("frame_means"), lit(0.0), (a, x) => a + x).as("mean_checksum"))
  }

  val q36Sql: String =
    """WITH b AS (
      | SELECT doc_id, text, octet_length(encode(text)) AS n,
      |  CAST(ceil(octet_length(encode(text)) / 64.0) AS INT) AS n_frames
      | FROM documents)
      |SELECT doc_id, n_frames,
      | list_sum(list_transform(generate_series(0, n_frames - 1), f ->
      |   list_sum(list_transform(generate_series(0, 7), d ->
      |     CAST(CAST(ascii(substr(text, ((f * 8 + d) % n) + 1, 1)) AS FLOAT)
      |       / CAST(128 AS FLOAT) AS DOUBLE))) / 8)) AS mean_checksum
      |FROM b""".stripMargin

  // --------------------------------------------------------------- q37
  /** MFM frame masking (OP-56): embeddings reshaped to 16×4 frames,
    * frames selected w.p. 0.25 by the key-derived draw, zero-filled,
    * label-index matrix with -100 sentinels. Checksums pin both the
    * zero-fill and the sentinel positions.
    */
  def q37(spark: SparkSession, dir: String): DataFrame = {
    val frames = transform(sequence(lit(0), lit(15)),
      f => slice(col("embedding"), f * 4 + 1, lit(4)))
    val m = MaskingOps.mfmMask(frames, col("vec_id"), maskProb = 0.25, seed = 0L)
    val outFrames = m.getField("frames")
    val labelIdx = m.getField("labelIdx")
    Tables.embeddings(spark, dir).select(
      col("vec_id"),
      size(filter(labelIdx, l => l =!= MaskingOps.IgnoreLabel)).as("n_masked"),
      aggregate(outFrames, lit(0.0), (a, f) => a + VectorOps.arraySumD(f)).as("checksum_frames"),
      aggregate(labelIdx, lit(0L),
        (a, l) => a + when(l =!= MaskingOps.IgnoreLabel, l.cast("long")).otherwise(0L))
        .as("checksum_labels"))
  }

  val q37Sql: String = {
    val u = md5LongSql("CAST(vec_id AS VARCHAR) || '#' || CAST(i - 1 AS VARCHAR) || '#0#mfm'")
    s"""WITH f AS (
      | SELECT vec_id,
      |  list_transform(generate_series(0, 15), fr -> embedding[4*fr+1 : 4*fr+4]) AS frames
      | FROM embeddings),
      |m AS (
      | SELECT vec_id, frames,
      |  list_transform(generate_series(1, 16), i ->
      |    CASE WHEN $u / 1152921504606846976.0 < 0.25 THEN 1 ELSE 0 END) AS msk
      | FROM f)
      |SELECT vec_id,
      | CAST(list_sum(msk) AS INT) AS n_masked,
      | list_sum(list_transform(generate_series(1, 16), i ->
      |   CASE WHEN msk[i] = 1 THEN 0.0
      |        ELSE list_sum(list_transform(frames[i], x -> CAST(x AS DOUBLE))) END))
      |   AS checksum_frames,
      | CAST(list_sum(list_transform(generate_series(1, 16), i ->
      |   CASE WHEN msk[i] = 1 THEN i - 1 ELSE 0 END)) AS BIGINT) AS checksum_labels
      |FROM m""".stripMargin
  }

  /** name → (spark impl, oracle sql). */
  // --------------------------------------------------------------- q47
  /** OP-22 positional zip join: i-th row of the doc-id order paired
    * with the i-th row of the vec-id order — the index-aligned ingest
    * contract ([[graft.ops.JoinOps.positionalJoin]]; `withRowIndex` is
    * RDD `zipWithIndex` over the sorted frame, so the global index IS
    * the sort rank, deterministically, with no unpartitioned window).
    */
  def q47(spark: SparkSession, dir: String): DataFrame =
    JoinOps.positionalJoin(
      Tables.documents(spark, dir).sort("doc_id").select("doc_id"),
      Tables.embeddings(spark, dir).sort("vec_id").select("vec_id"))

  val q47Sql: String =
    """SELECT a.doc_id, b.vec_id
      |FROM (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn FROM documents) a
      |JOIN (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM embeddings) b
      | USING (rn)""".stripMargin

  // --------------------------------------------------------------- q48
  /** OP-30 last-4-layer pooling: the 64-float embedding viewed as 8
    * layers of 8, elementwise mean of the LAST 4
    * ([[graft.ops.VectorOps.lastKLayerPool]]) — fold order replayed
    * left-to-right in DuckDB (0.0 + l5 + l6 + l7 + l8, then / 4).
    */
  def q48(spark: SparkSession, dir: String): DataFrame = {
    val layers = transform(sequence(lit(0), lit(7)),
      j => slice(col("embedding"), j * 8 + 1, lit(8)))
    val pooled = VectorOps.lastKLayerPool(layers, 4)
    // one scalar column per pooled element: the driver canonicalizer
    // hashes scalars, not arrays
    Tables.embeddings(spark, dir).select(
      col("vec_id") +: (1 to 8).map(e => element_at(pooled, e).as(s"p$e")): _*)
  }

  val q48Sql: String = {
    val cols = (1 to 8).map { e =>
      s"""(0.0 + CAST(embedding[${32 + e}] AS DOUBLE) + CAST(embedding[${40 + e}] AS DOUBLE)
         |   + CAST(embedding[${48 + e}] AS DOUBLE) + CAST(embedding[${56 + e}] AS DOUBLE)) / 4 AS p$e""".stripMargin
    }.mkString(",\n ")
    s"""SELECT vec_id,
      | $cols
      |FROM embeddings""".stripMargin
  }

  // --------------------------------------------------------------- q49
  /** OP-38 seeded shuffle ([[graft.ops.SplitOps.shuffled]]): the
    * deterministic key-derived global order, emitted as an explicit
    * rank (the driver's canonicalization sorts rows, so ORDER itself
    * is not oracle-checkable — the rank VALUES are).
    */
  def q49(spark: SparkSession, dir: String): DataFrame =
    JoinOps.withRowIndex(
      SplitOps.shuffled(
        Tables.documents(spark, dir).select("doc_id"), "doc_id", seed = 7L),
      "shuffle_rank")

  val q49Sql: String =
    s"""SELECT doc_id,
      | ROW_NUMBER() OVER (
      |   ORDER BY ${md5LongSql("CAST(doc_id AS VARCHAR) || '#7'")}, doc_id) - 1 AS shuffle_rank
      |FROM documents""".stripMargin

  // --------------------------------------------------------------- q50
  /** OP-42 fixed-size chunking ([[graft.ops.SplitOps.chunkBy]]): shard
    * = sorted row index div chunk size — the sharded-sink partitioning
    * law (OP-05 writes these shards via partitionBy).
    */
  def q50(spark: SparkSession, dir: String): DataFrame =
    SplitOps.chunkBy(
      Tables.documents(spark, dir).select("doc_id"), "doc_id", chunkSize = 64)

  val q50Sql: String =
    """SELECT doc_id,
      | CAST(floor((ROW_NUMBER() OVER (ORDER BY doc_id) - 1) / 64) AS INT) AS shard
      |FROM documents""".stripMargin

  // --------------------------------------------------------------- q51
  /** OP-13 whitespace strip (reference `src/data_helper.py:194-196` —
    * the legacy text-compaction step): literal-space removal only, NOT
    * all-whitespace ([[graft.ops.TextOps.stripSpaces]]); checked with
    * per-row lengths so a regex-semantics drift cannot hash-collide
    * away.
    */
  def q51(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextOps.stripSpaces(col("text")).as("stripped"),
      length(TextOps.stripSpaces(col("text"))).as("n_stripped"))

  val q51Sql: String =
    """SELECT doc_id, replace(text, ' ', '') AS stripped,
      | CAST(length(replace(text, ' ', '')) AS INT) AS n_stripped
      |FROM documents""".stripMargin

  // --------------------------------------------------------------- q256
  /** OP-29 masked mean-pool ([[graft.ops.VectorOps.maskedMean]],
    * reference `src/model.py:48-49`) with an explicit 0/1 mask derived
    * from the key: stride `s = vec_id % 4` keeps every s-th element, and
    * `s = 0` is the all-zero mask. So the fixture holds full (s = 1),
    * partial and all-zero masks; the all-zero rows pin 0/0 → NULL
    * against DuckDB's `x/0`.
    */
  def q256(spark: SparkSession, dir: String): DataFrame = {
    val stride = col("vec_id") % 4
    val mask = transform(sequence(lit(0), lit(63)),
      i => (i % greatest(stride, lit(1)) === 0 && stride > 0).cast("int"))
    Tables.embeddings(spark, dir).select(col("vec_id"),
      VectorOps.maskedMean(col("embedding"), mask).as("masked_mean"))
  }

  val q256Sql: String =
    """WITH m AS (
      | SELECT vec_id, embedding,
      |  list_transform(generate_series(0, 63),
      |   i -> CAST(i % greatest(vec_id % 4, 1) = 0 AND vec_id % 4 > 0 AS INTEGER)) AS mask
      | FROM embeddings)
      |SELECT vec_id,
      | list_sum(list_transform(generate_series(1, 64),
      |   i -> CAST(embedding[i] AS DOUBLE) * CAST(mask[i] AS DOUBLE)))
      |   / list_sum(list_transform(mask, x -> CAST(x AS DOUBLE))) AS masked_mean
      |FROM m""".stripMargin

  val all: Seq[(String, ((SparkSession, String) => DataFrame, String))] = Seq(
    "q31_stratified_split" -> ((q31 _, q31Sql)),
    "q32_kfold" -> ((q32 _, q32Sql)),
    "q33_mlm_mask" -> ((q33 _, q33Sql)),
    "q34_itm_shuffle" -> ((q34 _, q34Sql)),
    "q35_frame_ops" -> ((q35 _, q35Sql)),
    "q36_multimodal_decode" -> ((q36 _, q36Sql)),
    "q37_mfm_mask" -> ((q37 _, q37Sql)),
    "q47_positional_zip" -> ((q47 _, q47Sql)),
    "q48_last4_pool" -> ((q48 _, q48Sql)),
    "q49_seeded_shuffle" -> ((q49 _, q49Sql)),
    "q50_chunk_assign" -> ((q50 _, q50Sql)),
    "q51_strip_spaces" -> ((q51 _, q51Sql)),
    "q256_masked_mean" -> ((q256 _, q256Sql)))
}
