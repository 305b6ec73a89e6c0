package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** OP-14 golden test on the REAL reference dimension: all 200 codes of
  * `src/category_id_map.py:1-27`, round-tripped through the broadcast
  * maps.
  */
class CategoryDimSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("reference code list: 200 codes, 23 contiguous lv1 blocks, golden block boundaries") {
    val codes = CategoryOps.referenceCategoryCodes
    assert(codes.size == 200)
    assert(codes == codes.sorted, "list is ordered by code")
    assert(codes.distinct.size == 200)
    // every lv1 block is contiguous from 00 (the reference list's shape)
    codes.groupBy(_.take(2)).foreach { case (lv1, cs) =>
      assert(cs.map(_.drop(2).toInt).sorted == (0 until cs.size), s"block $lv1 contiguous")
    }
    assert(codes.map(_.take(2)).distinct.size == 23, "23 lv1 groups (src/model.py:38)")
    // golden spot checks at block boundaries against category_id_map.py
    val expect = Map(0 -> "0000", 8 -> "0008", 9 -> "0100", 23 -> "0300",
      61 -> "1000", 89 -> "1400", 135 -> "1905", 136 -> "2000", 151 -> "2015",
      152 -> "2100", 175 -> "2123", 176 -> "2200", 199 -> "2223")
    expect.foreach { case (i, c) => assert(codes(i) == c, s"codes($i)") }
  }

  test("round-trip identity on all 200 codes: code -> lv2id -> code, lv1 = int(code[0:2])") {
    val dim = CategoryOps.referenceCategoryDim(spark)
    val base = CategoryOps.referenceCategoryCodes.toDF("category_id")
    val withIds = CategoryOps.attachIds(base, dim, "category_id")
    val rt = CategoryOps.attachCode(withIds, dim, "lv2id")
      .select("category_id", "category_id_rt", "lv2id", "lv1id").collect()
    assert(rt.length == 200)
    rt.foreach { r =>
      val code = r.getString(0)
      assert(r.getString(1) == code, s"round-trip of $code")
      assert(r.getInt(2) == CategoryOps.referenceCategoryCodes.indexOf(code), "lv2id = list position")
      assert(r.getInt(3) == code.take(2).toInt, "lv1id = int(code[0:2])")
    }
    // lv2id -> lv1id without strings: attachIds brings lv1id from the
    // dim, and it agrees with the prefix rule
    val lv1 = withIds.select("lv2id", "lv1id")
      .as[(Int, Int)].collect().toMap
    assert(lv1.size == 200 && lv1.forall { case (lv2, l1) =>
      l1 == CategoryOps.referenceCategoryCodes(lv2).take(2).toInt })
  }
}
