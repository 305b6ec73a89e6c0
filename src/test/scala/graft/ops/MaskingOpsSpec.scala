package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class MaskingOpsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("mlmMask: sentinel/selection invariants and 80/10/10 structure") {
    val df = (0 until 50).map(i => (i.toLong, (0 until 40).map(t => t % 17))).toDF("id", "toks")
    val m = MaskingOps.mlmMask(col("toks"), col("id"),
      maskProb = 0.25, maskToken = 9999, vocabSize = 17, seed = 3L)
    val rows = df.select(col("toks"), m.getField("ids").as("ids"), m.getField("labels").as("labels"))
      .as[(Seq[Int], Seq[Int], Seq[Int])].collect()
    var selected = 0; var total = 0; var maskTok = 0
    rows.foreach { case (toks, ids, labels) =>
      assert(ids.length == toks.length && labels.length == toks.length)
      toks.indices.foreach { i =>
        if (labels(i) == MaskingOps.IgnoreLabel) {
          assert(ids(i) == toks(i), "unselected tokens must pass through")
        } else {
          assert(labels(i) == toks(i), "labels carry the ORIGINAL id where selected")
          selected += 1
          if (ids(i) == 9999) maskTok += 1
          else assert(ids(i) >= 0 && ids(i) < 17, "random draw stays in vocab")
        }
        total += 1
      }
    }
    val selRate = selected.toDouble / total
    assert(selRate > 0.18 && selRate < 0.32, s"selection rate $selRate far from 0.25")
    val maskShare = maskTok.toDouble / selected
    assert(maskShare > 0.68 && maskShare < 0.92, s"mask-token share $maskShare far from 0.8")
  }

  test("mlmMask is deterministic and repartition-safe") {
    val df = (0 until 20).map(i => (i.toLong, List.range(0, 30))).toDF("id", "toks")
    val m = MaskingOps.mlmMask(col("toks"), col("id"), 0.25, 9999, 100, seed = 5L)
    val a = df.select(col("id"), m.getField("ids")).as[(Long, Seq[Int])].collect().toSet
    val b = df.repartition(5).select(col("id"), m.getField("ids")).as[(Long, Seq[Int])].collect().toSet
    assert(a == b)
  }

  test("mfmMask zero-fills selected frames and writes -100 sentinels") {
    val df = Seq((7L, (0 until 20).map(f => Seq(f + 1.0f, f + 2.0f)))).toDF("id", "frames")
    val m = MaskingOps.mfmMask(col("frames"), col("id"), 0.5, seed = 1L)
    val (frames, labelIdx) = df.select(
      m.getField("frames").as("f"), m.getField("labelIdx").as("l"))
      .as[(Seq[Seq[Float]], Seq[Int])].head()
    assert(frames.length == 20 && labelIdx.length == 20)
    labelIdx.zipWithIndex.foreach { case (li, i) =>
      if (li == MaskingOps.IgnoreLabel) assert(frames(i).exists(_ != 0.0f))
      else { assert(li == i); assert(frames(i).forall(_ == 0.0f)) }
    }
    assert(labelIdx.count(_ != MaskingOps.IgnoreLabel) > 0, "some frame should be masked at p=0.5")
  }

  test("itmPartner: involution, half aligned, reversal fixed point") {
    val df = (0L until 40L).toDF("pos")
    val p = MaskingOps.itmPartner(col("pos"), 10)
    val rows = df.select(col("pos"), p.getField("partnerPos").as("partner"),
      p.getField("match").as("m")).as[(Long, Long, Boolean)].collect()
    val partnerOf = rows.map(r => r._1 -> r._2).toMap
    rows.foreach { case (pos, partner, m) =>
      assert(partnerOf(partner) == pos, "partner mapping must be an involution")
      assert(partner / 10 == pos / 10, "partners stay within the bucket")
      assert(m == (partner == pos))
      if (pos % 10 < 5) assert(partner == pos)
    }
    // per bucket: 5 aligned + the reversal fixed point (pos%10==7) match
    assert(rows.count(_._3) == 4 * 6)
  }

  // ------------------------------------------------- span corruption

  /** Independent plain-Scala re-derivation of the
    * [[graft.functions.SpanCorruptMd5]] contract (own md5, own
    * coverage scan — shares no code with the expression).
    */
  private def spanModel(key: String, toks: Seq[Int], rate: Double,
      m: Int, base: Int, seed: Long): (Seq[Int], Seq[Int], Int) = {
    def md5_60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(8).map("%02x".format(_)).mkString.take(15), 16)
    }
    val p = rate / m
    val n = toks.length
    val starts = (0 until n).map(i =>
      md5_60(s"$key#$i#$seed#sstart").toDouble / math.pow(2, 60) < p)
    val lens = (0 until n).map(i =>
      1 + (md5_60(s"$key#$i#$seed#slen") % (2 * m - 1)).toInt)
    val noise = (0 until n).map(j =>
      (math.max(0, j - 2 * m + 2) to j).exists(i => starts(i) && i + lens(i) > j))
    val input = Seq.newBuilder[Int]; val target = Seq.newBuilder[Int]
    var runs = 0; var corrupted = 0
    (0 until n).foreach { j =>
      if (noise(j)) {
        if (j == 0 || !noise(j - 1)) {
          input += (base + runs); target += (base + runs); runs += 1
        }
        target += toks(j); corrupted += 1
      } else input += toks(j)
    }
    (input.result(), target.result(), corrupted)
  }

  test("spanCorruptMd5 matches the independent model; spans reassemble") {
    val rnd = new scala.util.Random(31)
    val docs = (0 until 60).map(i =>
      (i.toLong, Seq.fill(5 + rnd.nextInt(120))(rnd.nextInt(900))))
    val got = docs.toDF("id", "toks")
      .select(col("id"),
        graft.functions.SpanCorruptMd5.spanCorruptMd5(
          col("toks"), col("id").cast("string"), 1000).as("sc"))
      .select(col("id"), col("sc.input_ids"), col("sc.target_ids"),
        col("sc.n_corrupted"))
      .as[(Long, Seq[Int], Seq[Int], Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    docs.foreach { case (id, toks) =>
      val (mi, mt, mc) = spanModel(id.toString, toks, 0.15, 3, 1000, 0L)
      val (gi, gt, gc) = got(id)
      assert(gi == mi, s"doc $id input mismatch")
      assert(gt == mt, s"doc $id target mismatch")
      assert(gc == mc)
      // reassembly: input non-sentinels interleaved with target spans
      // (in sentinel order) reproduce the original sequence
      val spans = {
        var m = Map.empty[Int, Seq[Int]]; var cur = -1
        gt.foreach(t => if (t >= 1000) { cur = t; m += cur -> Seq() }
          else m += cur -> (m(cur) :+ t))
        m
      }
      val rebuilt = gi.flatMap(t => if (t >= 1000) spans(t) else Seq(t))
      assert(rebuilt == toks, s"doc $id must reassemble")
    }
    // aggregate corruption rate lands near the requested 15%
    val total = docs.map(_._2.length).sum.toDouble
    val corrupted = docs.map(d => got(d._1)._3).sum.toDouble
    assert(math.abs(corrupted / total - 0.15) < 0.05,
      s"corrupted fraction ${corrupted / total} should be ~0.15")
  }
}
