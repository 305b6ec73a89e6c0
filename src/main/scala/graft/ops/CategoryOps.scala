package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Category-hierarchy dimension (OP-14, reference
  * `src/category_id_map.py:29-52`): 4-char level-2 codes whose first two
  * characters are the level-1 code; dense lv2 ids are positions in the
  * declared code list; lv1 ids come from the code prefix.
  *
  * The dimension is tiny (200 rows in the reference) — always broadcast.
  * The bidirectional maps become two broadcast equi-joins; the lv1
  * derivation is a pure substring, usable without the dim at all.
  */
object CategoryOps {

  /** Build the dimension DataFrame from an ordered code list:
    * (category_id, lv2id = list position, lv1id = int(code[0:2])).
    */
  def categoryDim(spark: SparkSession, codes: Seq[String]): DataFrame = {
    import spark.implicits._
    codes.zipWithIndex.toDF("category_id", "lv2id")
      .withColumn("lv1id", substring(col("category_id"), 1, 2).cast("int"))
  }

  /** The reference's concrete 200-code CATEGORY_ID_LIST
    * (`src/category_id_map.py:1-27`), reconstructed from its per-lv1
    * group sizes: lv1 prefix `pp` with n codes contributes
    * `pp00 .. pp{n-1}` in order (the list is contiguous within each
    * lv1 block and ordered by code).
    */
  private val lv2CountsByLv1: Seq[Int] =
    Seq(9, 5, 9, 6, 6, 3, 3, 6, 6, 8, 4, 6, 6, 12, 4, 10, 11, 9, 7, 6, 16, 24, 24)

  val referenceCategoryCodes: Seq[String] =
    lv2CountsByLv1.zipWithIndex.flatMap { case (n, lv1) =>
      (0 until n).map(i => f"$lv1%02d$i%02d")
    }

  /** The authoritative reference dimension: 200 lv2 codes / 23 lv1
    * groups, lv2id = list position (reference `:29-30`).
    */
  def referenceCategoryDim(spark: SparkSession): DataFrame =
    categoryDim(spark, referenceCategoryCodes)

  /** category_id string → (lv2id, lv1id) via broadcast join
    * (`category_id_to_lv2id`, reference `:39-41`). The attached `lv1id`
    * is also the reference's `lv2id_to_lv1id` (`:50-52`).
    */
  def attachIds(df: DataFrame, dim: DataFrame, codeCol: String): DataFrame =
    df.join(broadcast(dim.withColumnRenamed("category_id", codeCol)), Seq(codeCol), "left")

  /** lv2id → category string (`lv2id_to_category_id`, reference `:43-44`). */
  def attachCode(df: DataFrame, dim: DataFrame, lv2Col: String): DataFrame =
    df.join(broadcast(dim.select(col("lv2id").as(lv2Col),
      col("category_id").as("category_id_rt"))), Seq(lv2Col), "left")
}
