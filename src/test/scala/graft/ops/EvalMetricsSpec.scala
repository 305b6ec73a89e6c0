package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class EvalMetricsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("f1Block matches sklearn-precomputed constants") {
    // y_true = [0,1,2,2], y_pred = [0,1,1,2]
    // sklearn: accuracy 0.75; micro-F1 0.75;
    // macro-F1 = (1 + 2/3 + 2/3) / 3 = 7/9
    val df = Seq((0, 0), (1, 1), (1, 2), (2, 2)).toDF("pred", "label")
    val r = EvalMetrics.f1Block(df, "pred", "label")
      .as[(Double, Double, Double)].head()
    assert(math.abs(r._1 - 0.75) < 1e-12, s"micro ${r._1}")
    assert(math.abs(r._2 - 7.0 / 9.0) < 1e-12, s"macro ${r._2}")
    assert(math.abs(r._3 - 0.75) < 1e-12, s"acc ${r._3}")
  }

  test("micro-F1 equals accuracy in single-label multiclass") {
    val df = Seq((0, 1), (1, 0), (2, 2), (3, 3), (1, 1), (0, 2)).toDF("pred", "label")
    val r = EvalMetrics.f1Block(df, "pred", "label").as[(Double, Double, Double)].head()
    assert(math.abs(r._1 - r._3) < 1e-12)
  }

  test("class present only in predictions contributes a zero-F1 term (sklearn rule)") {
    // labels {0}, preds {0,1}: class 1 has tp=0,fp=1,fn=0 -> f1=0
    // class 0: tp=1, fp=0, fn=1 -> f1 = 2/3; macro = 1/3
    val df = Seq((0, 0), (1, 0)).toDF("pred", "label")
    val r = EvalMetrics.f1Block(df, "pred", "label").as[(Double, Double, Double)].head()
    assert(math.abs(r._2 - 1.0 / 3.0) < 1e-12, s"macro ${r._2}")
  }

  test("perfect predictions give all ones") {
    val df = Seq((0, 0), (1, 1), (2, 2)).toDF("pred", "label")
    val r = EvalMetrics.f1Block(df, "pred", "label").as[(Double, Double, Double)].head()
    assert(r == ((1.0, 1.0, 1.0)))
  }

  test("hierarchicalF1 fails loudly when a lv2 id is absent from the dim") {
    val dim = Seq((10, 1), (20, 2)).toDF("lv2id", "lv1id")
    val ok = Seq((10, 20), (20, 20)).toDF("pred", "label")
    assert(EvalMetrics.hierarchicalF1(ok, dim).collect().length == 1)
    def failure(pairs: org.apache.spark.sql.DataFrame): String = {
      val e = intercept[Exception] { EvalMetrics.hierarchicalF1(pairs, dim).collect() }
      Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    }
    val cases = Seq(
      Seq((Some(10), 20), (Some(99), 20)) -> "pred id absent from category dim: 99",
      Seq((Some(10), 20), (Some(20), 99)) -> "label id absent from category dim: 99",
      Seq((Some(10), 20), (None, 20)) -> "pred id absent from category dim: NULL")
    cases.foreach { case (rows, want) =>
      val messages = failure(rows.toDF("pred", "label"))
      assert(messages.contains(want), s"expected the raise_error contract '$want', got:\n$messages")
    }
  }

  test("hierarchicalF1 equals the per-level f1Block values on a 3-group fixture") {
    // lv2 0..6 over lv1 groups 1 (0,1,2), 2 (3,4), 3 (5,6); label→pred
    // misses within a group (1→0, 4→3, 1→2) and across (2→5, 6→1, 3→0)
    val dim = Seq((0, 1), (1, 1), (2, 1), (3, 2), (4, 2), (5, 3), (6, 3)).toDF("lv2id", "lv1id")
    val lv1Of = Map(0 -> 1, 1 -> 1, 2 -> 1, 3 -> 2, 4 -> 2, 5 -> 3, 6 -> 3)
    val pairs = Seq((0, 0), (0, 1), (1, 1), (5, 2), (2, 2), (3, 3), (3, 4), (4, 4),
      (5, 5), (1, 6), (6, 6), (0, 3), (0, 0), (4, 4), (2, 1))
    val got = EvalMetrics.hierarchicalF1(pairs.toDF("pred", "label"), dim).head()
    def block(ps: Seq[(Int, Int)]): (Double, Double, Double) =
      EvalMetrics.f1Block(ps.toDF("pred", "label"), "pred", "label")
        .as[(Double, Double, Double)].head()
    val lv2 = block(pairs)
    val lv1 = block(pairs.map { case (p, l) => (lv1Of(p), lv1Of(l)) })
    assert(lv1 != lv2 && lv2._1 < 1.0 && lv1._1 < 1.0, "fixture must miss at both levels")
    val want = Map(
      "lv2_f1_micro" -> lv2._1, "lv2_f1_macro" -> lv2._2, "lv2_acc" -> lv2._3,
      "lv1_f1_micro" -> lv1._1, "lv1_f1_macro" -> lv1._2, "lv1_acc" -> lv1._3,
      "mean_f1" -> (lv2._1 + lv2._2 + lv1._1 + lv1._2) / 4.0)
    assert(got.schema.fieldNames.toSeq == Seq("lv2_f1_micro", "lv2_f1_macro", "lv2_acc",
      "lv1_f1_micro", "lv1_f1_macro", "lv1_acc", "mean_f1"))
    want.foreach { case (f, v) =>
      assert(math.abs(got.getAs[Double](f) - v) < 1e-12, s"$f: got ${got.getAs[Double](f)}, f1Block $v")
    }
  }

  test("hierarchicalF1 over no pairs is one row of nulls, as f1Block gives") {
    val dim = Seq((10, 1), (20, 2)).toDF("lv2id", "lv1id")
    val empty = Seq.empty[(Int, Int)].toDF("pred", "label")
    val rows = EvalMetrics.hierarchicalF1(empty, dim).collect()
    assert(rows.length == 1 && rows.head.toSeq.forall(_ == null), rows.toSeq)
    assert(EvalMetrics.f1Block(empty, "pred", "label").head().toSeq.forall(_ == null))
  }

  test("aucRoc: perfect separation, ties averaged, degenerate class -> null") {
    // perfect: every positive outscores every negative -> AUC 1
    val perfect = Seq((0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)).toDF("score", "label")
    val p = EvalMetrics.aucRoc(perfect, "score", "label")
      .as[(Option[Double], Long, Long)].head()
    assert(p == ((Some(1.0), 2L, 2L)))
    // hand case with a tie straddling the classes:
    // scores asc: 0.1(y0) rank1, 0.5(y0) & 0.5(y1) avgrank 2.5, 0.9(y1) rank4
    // U = (2.5 + 4) - 2*3/2 = 3.5 -> AUC = 3.5 / (2*2) = 0.875
    val tied = Seq((0.1, 0), (0.5, 0), (0.5, 1), (0.9, 1)).toDF("score", "label")
    val t = EvalMetrics.aucRoc(tied, "score", "label")
      .as[(Option[Double], Long, Long)].head()
    assert(t._1.contains(0.875), s"tie-averaged AUC must be 0.875, got $t")
    // all one class: AUC undefined
    val one = Seq((0.3, 1), (0.7, 1)).toDF("score", "label")
    assert(EvalMetrics.aucRoc(one, "score", "label")
      .as[(Option[Double], Long, Long)].head()._1.isEmpty)
  }

  test("calibrationBins: hand-checked reliability bins and weighted ECE") {
    // bin 0 ([0,0.1)): scores 0.05,0.05 labels 0,1 -> conf .05, acc .5, gap .45
    // bin 9 (score 1.0 clamps): score 1.0 label 1 -> gap 0
    // bin 5: scores 0.55 label 1 -> conf .55 acc 1 gap .45
    val df = Seq((0.05, 0), (0.05, 1), (1.0, 1), (0.55, 1)).toDF("score", "label")
    val rows = EvalMetrics.calibrationBins(df, "score", "label")
      .orderBy("bin")
      .as[(Int, Long, Double, Double, Double, Double)].collect().toSeq
    assert(rows.map(r => (r._1, r._2)) == Seq((0, 2L), (5, 1L), (9, 1L)))
    assert(rows(0)._3 == 0.05 && rows(0)._4 == 0.5 && rows(0)._5 == 0.45)
    assert(rows(1)._5 == 0.45 && rows(2)._5 == 0.0)
    // ECE = (2*0.45 + 1*0.45 + 1*0) / 4 = 0.3375, same on every row
    assert(rows.forall(r => math.abs(r._6 - 0.3375) < 1e-12))
  }

  test("pairwiseWins: head-to-head counts, ties excluded from the rate") {
    // u1: A=5 B=3 C=5 ; u2: A=1 B=2 (C absent)
    val df = Seq((1L, "A", 5.0), (1L, "B", 3.0), (1L, "C", 5.0),
      (2L, "A", 1.0), (2L, "B", 2.0)).toDF("u", "sys", "score")
    val r = EvalMetrics.pairwiseWins(df, "u", "sys", "score")
      .as[(String, String, Long, Long, Long, Long, Option[Double])]
      .collect().map(x => (x._1, x._2) -> x).toMap
    val ab = r(("A", "B"))
    assert(ab._3 == 2L && ab._4 == 1L && ab._5 == 1L && ab._6 == 0L)
    assert(ab._7.contains(0.5))
    val ac = r(("A", "C"))
    assert(ac._3 == 1L && ac._6 == 1L && ac._7.isEmpty,
      s"all-tie matchup has no defined rate: $ac")
    val bc = r(("B", "C"))
    assert(bc._3 == 1L && bc._5 == 1L && bc._7.contains(0.0))
  }

  test("bradleyTerry: dominant system takes all mass; transitive order holds") {
    // A beats B on every unit -> MLE pushes A -> 1, B -> 0
    val dom = (1 to 6).flatMap(u => Seq((u.toLong, "A", 2.0),
      (u.toLong, "B", 1.0))).toDF("u", "sys", "score")
    val rd = EvalMetrics.bradleyTerry(dom, "u", "sys", "score", iters = 8)
      .as[(String, Long, Double, Double)].collect().map(x => x._1 -> x).toMap
    assert(rd("A")._3 == 6.0 && rd("B")._3 == 0.0, "win scores exact")
    assert(rd("A")._4 > 0.99 && rd("B")._4 < 0.01, s"dominance: $rd")

    // transitive A > B > C with some noise units -> strengths ordered
    val tri = (1 to 8).flatMap { u =>
      Seq((u.toLong, "A", 3.0), (u.toLong, "B", 2.0), (u.toLong, "C", 1.0))
    } ++ Seq((9L, "A", 1.0), (9L, "B", 2.0), (9L, "C", 3.0))
    val rt = EvalMetrics.bradleyTerry(tri.toDF("u", "sys", "score"),
        "u", "sys", "score", iters = 5)
      .as[(String, Long, Double, Double)].collect().map(x => x._1 -> x._4)
      .toMap
    assert(rt("A") > rt("B") && rt("B") > rt("C"), s"ordering: $rt")
    assert(math.abs(rt.values.sum - 1.0) < 1e-9, "sum-normalized")
  }

  test("labelDisagreement: hand fractions, NULL-label contracts, " +
      "suspect threshold inclusive") {
    val neighbors = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L),   // q1: labels B, B, NULL
      (2L, 1L), (2L, 3L),             // q2: labels A, B
      (5L, 1L), (5L, 2L)              // q5: NULL-label query -> absent
    ).toDF("query_id", "neighbor_id")
    val labels = Seq((1L, Some("A")), (2L, Some("B")), (3L, Some("B")),
      (4L, None), (5L, None)).toDF("id", "label")
    val got = EvalMetrics.labelDisagreement(
        neighbors, labels, "id", "label", suspectAt = 1.0)
      .as[(Long, String, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet == Set(1L, 2L), "NULL-label query excluded")
    // q1: neighbor 4 has NULL label -> denominator 2, both disagree
    assert(got(1L) == ((1L, "A", 2L, 2L, 1.0, true)),
      "threshold is inclusive and NULL neighbors leave the denominator")
    assert(got(2L) == ((2L, "B", 2L, 1L, 0.5, false)))
  }

  test("fairnessAudit: hand rates and gaps, degenerate groups NULL out") {
    import org.apache.spark.sql.functions.col
    // group g1: 4 rows, preds 1,1,0,0, labels 1,0,1,0 ->
    //   pos_rate .5, tp=1/pos=2 -> tpr .5, fp=1/neg=2 -> fpr .5
    // group g2: 2 rows, preds 1,1, labels 1,1 ->
    //   pos_rate 1, tpr 1, fpr NULL (no negatives)
    // overall: sel 4/6, tpr 3/4
    val df = Seq(
      ("g1", 1, 1), ("g1", 1, 0), ("g1", 0, 1), ("g1", 0, 0),
      ("g2", 1, 1), ("g2", 1, 1)).toDF("g", "p", "y")
    val r = EvalMetrics.fairnessAudit(df, "g", col("p"), col("y"))
      .as[(String, Long, Option[Double], Option[Double], Option[Double],
        Option[Double], Option[Double])]
      .collect().map(x => x._1 -> x).toMap
    val g1 = r("g1")
    assert(g1._2 == 4L && g1._3.contains(0.5) && g1._4.contains(0.5) &&
      g1._5.contains(0.5))
    assert(math.abs(g1._6.get - (0.5 - 4.0 / 6.0)) < 1e-12, s"dp ${g1._6}")
    assert(math.abs(g1._7.get - (0.5 - 0.75)) < 1e-12, s"eo ${g1._7}")
    val g2 = r("g2")
    assert(g2._3.contains(1.0) && g2._4.contains(1.0) && g2._5.isEmpty,
      "no negatives in g2: FPR undefined")
    assert(math.abs(g2._6.get - (1.0 - 4.0 / 6.0)) < 1e-12)
  }

  test("cohensKappa: textbook 2x2 value, NULL exclusion, degenerate pe=1") {
    import org.apache.spark.sql.functions.col
    // 20 yes/yes, 15 no/no, 5 yes/no, 10 no/yes:
    // po = 35/50 = 0.7; margins A(yes)=25 B(yes)=30 ->
    // pe = (25*30 + 25*20)/2500 = 0.5; kappa = 0.4
    val rows = Seq.fill(20)(("yes", "yes")) ++ Seq.fill(15)(("no", "no")) ++
      Seq.fill(5)(("yes", "no")) ++ Seq.fill(10)(("no", "yes")) ++
      Seq((null, "yes"), ("yes", null)) // un-rated rows drop
    val got = EvalMetrics.cohensKappa(
        rows.toDF("a", "b"), col("a"), col("b"))
      .as[(Long, Double, Double, Option[Double])].head()
    assert(got._1 == 50L)
    assert(math.abs(got._2 - 0.7) < 1e-12 && math.abs(got._3 - 0.5) < 1e-12)
    assert(math.abs(got._4.get - 0.4) < 1e-12, s"kappa ${got._4}")
    // both raters constant and equal: po = pe = 1 -> kappa undefined
    val const = EvalMetrics.cohensKappa(
        Seq.fill(5)(("x", "x")).toDF("a", "b"), col("a"), col("b"))
      .as[(Long, Double, Double, Option[Double])].head()
    assert(const._2 == 1.0 && const._3 == 1.0 && const._4.isEmpty)
    // disjoint alphabets: agreement 0, kappa < 0 allowed
    val dis = EvalMetrics.cohensKappa(
        Seq(("x", "y"), ("y", "x")).toDF("a", "b"), col("a"), col("b"))
      .as[(Long, Double, Double, Option[Double])].head()
    assert(dis._2 == 0.0 && math.abs(dis._3 - 0.5) < 1e-12 &&
      math.abs(dis._4.get + 1.0) < 1e-12)
  }
}
