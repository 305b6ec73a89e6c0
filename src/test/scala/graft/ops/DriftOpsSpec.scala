package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class DriftOpsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("identical distributions have PSI ~ 0; every term non-negative") {
    val df = (0 until 300).map(i => Tuple1(s"c${i % 4}")).toDF("cat")
    val got = DriftOps.categoricalDrift(df, df, "cat")
      .select("psi_term", "psi_total").as[(Double, Double)].collect()
    assert(got.length == 4)
    got.foreach { case (term, total) =>
      assert(term == 0.0 && total == 0.0, "self-drift must be exactly zero")
    }
  }

  test("hand-checked PSI with a vanished and a new category") {
    val oldDf = (Seq.fill(8)("a") ++ Seq.fill(2)("gone")).map(Tuple1(_)).toDF("cat")
    val newDf = (Seq.fill(6)("a") ++ Seq.fill(4)("fresh")).map(Tuple1(_)).toDF("cat")
    val got = DriftOps.categoricalDrift(oldDf, newDf, "cat")
      .select("cat", "n_old", "n_new", "p_old", "p_new", "psi_term")
      .as[(String, Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet == Set("a", "gone", "fresh"))
    // k=3, totals 10/10: p = (n+1)/13
    val (pa_old, pa_new) = (9.0 / 13, 7.0 / 13)
    assert(got("a")._4 == pa_old && got("a")._5 == pa_new)
    assert(math.abs(got("a")._6 -
      (pa_new - pa_old) * math.log(pa_new / pa_old)) < 1e-15)
    assert(got("gone")._2 == 2L && got("gone")._3 == 0L)
    assert(got("fresh")._2 == 0L && got("fresh")._3 == 4L)
    // PSI terms are always >= 0 ((p-q) and ln(p/q) share sign)
    got.values.foreach(r => assert(r._6 >= 0.0))
  }

  test("numericDrift: identical distributions ~ 0; a mean shift is flagged; nulls excluded") {
    val base = (1 to 1000).map(i => Tuple1(Some(i.toDouble))).toDF("v")
    val self = DriftOps.numericDrift(base, base, "v", nBins = 4)
      .select("psi_total").as[Double].collect().head
    assert(self == 0.0, s"self numeric drift must be 0, got $self")

    val shifted = (1 to 1000).map(i => Tuple1(Some(i.toDouble + 400))).toDF("v")
    val drift = DriftOps.numericDrift(base, shifted, "v", nBins = 4)
    val rows = drift.select("bin", "psi_total").as[(Int, Double)].collect()
    assert(rows.map(_._1).toSet == Set(0, 1, 2, 3))
    assert(rows.head._2 > 0.25, s"a 40% mean shift must flag: PSI ${rows.head._2}")

    val withNulls = base.unionByName(
      Seq(Tuple1(Option.empty[Double])).toDF("v"))
    val a = DriftOps.numericDrift(base, base, "v", 4)
      .select("n_old").as[Long].collect().sorted
    val b = DriftOps.numericDrift(withNulls, withNulls, "v", 4)
      .select("n_old").as[Long].collect().sorted
    assert(a.toSeq == b.toSeq, "null values must not land in any bin")
  }

  test("drift is repartition-invariant") {
    val oldDf = (0 until 500).map(i => Tuple1(s"c${i % 7}")).toDF("cat")
    val newDf = (0 until 400).map(i => Tuple1(s"c${i % 5}")).toDF("cat")
    val a = DriftOps.categoricalDrift(oldDf, newDf, "cat")
      .select("cat", "psi_term").as[(String, Double)].collect().toSet
    val b = DriftOps.categoricalDrift(oldDf.repartition(11), newDf.repartition(3), "cat")
      .select("cat", "psi_term").as[(String, Double)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  // --------------------------------------------- KS / running totals

  test("runningTotals computes exact prefix sums over the global order") {
    val df = (1 to 100).map(i => (i.toDouble, i.toLong, (i % 3).toLong))
      .toDF("v", "x", "y").repartition(7)
    val got = StatsOps.runningTotals(df, "v", Seq("x", "y"))
      .orderBy("v").select("v", "x_cum", "y_cum")
      .as[(Double, Long, Long)].collect()
    var sx = 0L; var sy = 0L
    (1 to 100).zip(got).foreach { case (i, (v, xc, yc)) =>
      sx += i; sy += i % 3
      assert(v == i.toDouble && xc == sx && yc == sy,
        s"at v=$i expected ($sx,$sy) got ($xc,$yc)")
    }
  }

  test("ksStatistic matches the hand-computed sup CDF gap") {
    val a = Seq(1.0, 2.0, 3.0).map(Tuple1(_)).toDF("v")
    val b = Seq(2.0, 3.0, 3.0, 4.0).map(Tuple1(_)).toDF("v")
    // CDF gaps at 1,2,3,4: 1/3, |2/3-1/4|=5/12, 1/4, 0 -> D = 5/12
    val row = DriftOps.ksStatistic(a, b, "v").collect().head
    assert(math.abs(row.getDouble(0) - 5.0 / 12.0) < 1e-15)
    assert(row.getLong(1) == 3L && row.getLong(2) == 4L)
  }

  test("ksStatistic: self = 0, disjoint supports = 1, empty side = null") {
    val a = (1 to 50).map(i => Tuple1(i.toDouble)).toDF("v")
    assert(DriftOps.ksStatistic(a, a, "v").collect().head.getDouble(0) == 0.0)
    val b = (100 to 120).map(i => Tuple1(i.toDouble)).toDF("v")
    assert(DriftOps.ksStatistic(a, b, "v").collect().head.getDouble(0) == 1.0)
    val empty = Seq.empty[Tuple1[Double]].toDF("v")
    val row = DriftOps.ksStatistic(a, empty, "v").collect().head
    assert(row.isNullAt(0) && row.getLong(1) == 50L && row.getLong(2) == 0L)
  }

  test("ksStatistic is repartition-invariant (exact, not approximate)") {
    val a = (0 until 400).map(i => Tuple1((i % 37).toDouble)).toDF("v")
    val b = (0 until 300).map(i => Tuple1((i % 23).toDouble + 5)).toDF("v")
    val x = DriftOps.ksStatistic(a, b, "v").collect().head
    val y = DriftOps.ksStatistic(a.repartition(13), b.repartition(5), "v")
      .collect().head
    assert(x.getDouble(0) == y.getDouble(0) && x.getDouble(0) > 0)
  }

  private def vecs(center: Double, n: Int, dim: Int, tag: Int) =
    (0 until n).map { r =>
      (r.toLong, (0 until dim).map(d =>
        (center + 0.01 * ((r * 31 + d * 7 + tag) % 11 - 5)).toFloat).toArray)
    }.toDF("id", "v")

  test("mmdDrift: same population ~ 0, shifted population clearly above") {
    val a = vecs(0.0, 120, 8, tag = 0)
    val a2 = vecs(0.0, 120, 8, tag = 3) // same distribution, different draws
    val b = vecs(1.5, 120, 8, tag = 1) // mean-shifted cluster
    val near = DriftOps.mmdDrift(a, a2, "v", dim = 8, features = 32,
      sigma = 2.0).as[(Double, Long, Long)].collect().head
    val far = DriftOps.mmdDrift(a, b, "v", dim = 8, features = 32,
      sigma = 2.0).as[(Double, Long, Long)].collect().head
    assert(near._2 == 120L && near._3 == 120L)
    assert(near._1 >= 0.0 && near._1 < 0.02, s"null-drift mmd2 ${near._1}")
    assert(far._1 > 10 * math.max(near._1, 1e-6),
      s"shifted mmd2 ${far._1} not separated from null ${near._1}")
  }

  test("mmdDrift is partition-invariant and drops contract-violating rows") {
    val a = vecs(0.0, 60, 8, tag = 0)
    val b = vecs(0.5, 60, 8, tag = 1)
    val x = DriftOps.mmdDrift(a, b, "v", 8, 16, 2.0)
      .as[(Double, Long, Long)].collect().head
    val y = DriftOps.mmdDrift(a.repartition(7), b.repartition(3),
        "v", 8, 16, 2.0)
      .as[(Double, Long, Long)].collect().head
    assert(x == y, "decimal term sums are order-free")
    val withBad = a.unionByName(
      Seq((999L, Array(1.0f, 2.0f))).toDF("id", "v")) // wrong dim
    val z = DriftOps.mmdDrift(withBad, b, "v", 8, 16, 2.0)
      .as[(Double, Long, Long)].collect().head
    assert(z._2 == 60L, "short vector must be excluded, not crash")
  }
}
