package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class ProfileOpsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("profile counts nulls, distincts, and min/max per column in one frame") {
    val df = Seq(
      (1L, Some("a"), Some(10)),
      (2L, None, Some(30)),
      (3L, Some("c"), None),
      (4L, Some("a"), Some(10))
    ).toDF("id", "s", "v")
    val got = ProfileOps.profile(df, Seq("id", "s", "v"))
      .as[(String, Long, Long, Long, Option[String], Option[String])]
      .collect().map(r => r._1 -> r).toMap
    assert(got("id") == (("id", 4L, 0L, 4L, Some("1"), Some("4"))))
    assert(got("s") == (("s", 4L, 1L, 2L, Some("a"), Some("c"))))
    assert(got("v") == (("v", 4L, 1L, 2L, Some("10"), Some("30"))))
  }

  test("all-null column: zero distincts, null min/max") {
    val df = Seq((1L, Option.empty[String]), (2L, None)).toDF("id", "s")
    val got = ProfileOps.profile(df, Seq("s"))
      .as[(String, Long, Long, Long, Option[String], Option[String])]
      .collect().head
    assert(got == (("s", 2L, 2L, 0L, None, None)))
  }

  test("kAnonymityViolations surfaces only sub-k classes; nulls are a class") {
    val df = Seq(
      ("us", Some(30)), ("us", Some(30)), ("us", Some(30)),
      ("us", Some(40)), // lone row: violating
      ("de", None), ("de", None) // null class of 2: violating at k=3
    ).toDF("country", "age")
    val got = ProfileOps.kAnonymityViolations(df, Seq("country", "age"), 3)
      .as[(String, Option[Int], Long)].collect().sortBy(_._3)
    assert(got.toSeq == Seq(("us", Some(40), 1L), ("de", None, 2L)))
  }

  test("rfmScores: metrics exact, quantile edges deterministic, higher=better") {
    import java.sql.Timestamp
    def ts(day: Int) = new Timestamp(86400000L * day)
    // 5 customers: cust i orders i+1 times, last order on day 10*i,
    // each order worth 100*(i+1) -> frequency and monetary both rank
    // ascending with i, recency descending with i (cust 4 most recent)
    val orders = (0 until 5).flatMap { i =>
      (0 to i).map(j => (i.toLong, ts(10 * i - j), 100.0 * (i + 1)))
    }.toDF("cust", "ts", "amount")
    val got = ProfileOps.rfmScores(orders, "cust", "ts", "amount")
      .as[(Long, Int, Long, Double, Int, Int, Int, Int)]
      .collect().sortBy(_._1)
    assert(got.map(_._2).toSeq == Seq(40, 30, 20, 10, 0), "recency days")
    assert(got.map(_._3).toSeq == Seq(1L, 2L, 3L, 4L, 5L), "frequency")
    assert(got.map(_._4).toSeq ==
      Seq(100.0, 400.0, 900.0, 1600.0, 2500.0), "monetary")
    // all three metrics rank cust 0 lowest .. cust 4 highest
    Seq(got.map(_._5), got.map(_._6), got.map(_._7)).foreach { s =>
      assert(s.toSeq == Seq(1, 2, 3, 4, 5), s"scores $s")
    }
    assert(got.map(_._8).toSeq == Seq(111, 222, 333, 444, 555), "segment")
    val re = ProfileOps.rfmScores(
        orders.repartition(7), "cust", "ts", "amount")
      .as[(Long, Int, Long, Double, Int, Int, Int, Int)]
      .collect().sortBy(_._1)
    assert(re.toSeq == got.toSeq, "deterministic under partitioning")
  }

  test("kAnonymitySummary: classes, risk rows, and effective k") {
    val df = Seq(
      ("us", 30), ("us", 30), ("us", 30),
      ("us", 40), ("de", 50), ("de", 50)
    ).toDF("country", "age")
    val got = ProfileOps.kAnonymitySummary(df, Seq("country", "age"), 3)
      .as[(Long, Long, Long, Long)].collect().head
    // classes: (us,30)=3, (us,40)=1, (de,50)=2 -> 2 violating, 3 rows, min 1
    assert(got == ((3L, 2L, 3L, 1L)))
  }

  test("abcClassify: integer-exact 80/95 cuts, deterministic through ties") {
    // revenues 80/15/5 of 100: cum 80 -> A (8000 <= 8000),
    // cum 95 -> B (9500 <= 9500), cum 100 -> C
    val df = Seq((1L, 80L), (2L, 15L), (3L, 5L)).toDF("item", "mm")
    val r = ProfileOps.abcClassify(df, "item", "mm")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(r == Seq((1L, 80L, 80L, "A"), (2L, 15L, 95L, "B"),
      (3L, 5L, 100L, "C")), s"got $r")
    // equal metrics: item-id tiebreak fixes the cumulative walk
    val tied = Seq((9L, 50L), (1L, 50L)).toDF("item", "mm")
    val rt = ProfileOps.abcClassify(tied, "item", "mm")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(rt == Seq((1L, 50L, 50L, "A"), (9L, 50L, 100L, "C")),
      s"smaller id walks first: $rt")
  }

  test("gainsTable: perfect-ranking deciles, capture and lift exact") {
    // scores 10..1, responders = top 3 scores, 5 buckets of 2
    val df = (1L to 10L).map(i => (i, (11 - i).toDouble, i <= 3))
      .toDF("id", "score", "resp")
    val r = ProfileOps.gainsTable(df, "id", "score", "resp", buckets = 5)
      .as[(Int, Long, Long, Double, Double, Double)].collect()
      .sortBy(_._1).toSeq
    assert(r.map(_._3) == Seq(2L, 1L, 0L, 0L, 0L))
    assert(math.abs(r.head._4 - 1.0) < 1e-12)
    assert(math.abs(r.head._5 - 2.0 / 3.0) < 1e-12, "capture 2 of 3")
    assert(math.abs(r.head._6 - 1.0 / 0.3) < 1e-12, "lift vs 30% base")
    assert(math.abs(r(1)._5 - 1.0) < 1e-12, "all responders by decile 2")
  }

  test("lDiversityViolations: homogeneous classes flag; NULL counts as a value") {
    val df = Seq(
      ("a", Some("x")), ("a", Some("x")), ("a", Some("x")), // 1 distinct
      ("b", Some("x")), ("b", Some("y")),                   // 2 distinct
      ("c", None), ("c", Some("x")),                        // null + x = 2
      ("d", None), ("d", None)                              // null only = 1
    ).toDF("q", "s")
    val l2 = ProfileOps.lDiversityViolations(df, Seq("q"), "s", 2)
      .as[(String, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(l2 == Seq(("a", 3L, 1L), ("d", 2L, 1L)),
      s"a (homogeneous) and d (NULL-only) flag at l=2: $l2")
    val l3 = ProfileOps.lDiversityViolations(df, Seq("q"), "s", 3)
      .as[(String, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(l3.map(_._1) == Seq("a", "b", "c", "d"),
      "every class has < 3 distinct sensitive values")
    assert(l3.find(_._1 == "c").get._3 == 2L,
      "NULL must count as a distinct sensitive value")
  }

  test("dpMean: clipping bounds sensitivity, draws replay independently, " +
      "mean is the post-processed ratio") {
    val df = Seq(("g", 5.0), ("g", 250.0), ("g", -10.0), ("h", 50.0))
      .toDF("grp", "v")
    val got = ProfileOps.dpMean(df, "grp", "v", epsilon = 0.5,
        clipLo = 0.0, clipHi = 100.0, salt = "dm")
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    def u01(s: String): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map(b => f"$b%02x").mkString.take(15), 16).toDouble /
        1152921504606846976.0
    }
    def lap(s: String, b: Double): Double = {
      val u = u01(s)
      -b * math.signum(u - 0.5) * math.log(1.0 - 2.0 * math.abs(u - 0.5))
    }
    // g: clipped sum = 5 + 100 + 0 = 105, n = 3
    val gs = 105.0 + lap("g#dm#sum", 100.0 / 0.25)
    val gc = 3.0 + lap("g#dm#cnt", 1.0 / 0.25)
    assert(math.abs(got("g")._2 - gs) < 1e-9, s"${got("g")._2} vs $gs")
    assert(math.abs(got("g")._3 - gc) < 1e-9)
    assert(math.abs(got("g")._4 - gs / math.max(1.0, gc)) < 1e-9)
    val hs = 50.0 + lap("h#dm#sum", 400.0)
    assert(math.abs(got("h")._2 - hs) < 1e-9)
  }

  test("dpCounts: noise replays the independent inverse-CDF recompute; " +
      "deterministic under repartition; epsilon scales the noise") {
    val df = (Seq.fill(30)("a") ++ Seq.fill(12)("b") ++ Seq.fill(7)("c"))
      .toDF("g")
    val got = ProfileOps.dpCounts(df, "g", epsilon = 0.5, salt = "dp")
      .as[(String, Double)].collect().toMap
    // independent replay: md5 top-15-hex uniform, Laplace inverse CDF
    def u01(s: String): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      val hex = d.map(b => f"$b%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16).toDouble / 1152921504606846976.0
    }
    def lap(s: String, b: Double): Double = {
      val u = u01(s + "#dp")
      -b * math.signum(u - 0.5) * math.log(1.0 - 2.0 * math.abs(u - 0.5))
    }
    val truth = Map("a" -> 30.0, "b" -> 12.0, "c" -> 7.0)
    truth.foreach { case (g, n) =>
      assert(math.abs(got(g) - (n + lap(g, 2.0))) < 1e-9,
        s"group $g: ${got(g)} vs ${n + lap(g, 2.0)}")
    }
    // idempotent release: same draw under any partitioning
    val re = ProfileOps.dpCounts(df.repartition(5), "g", 0.5, "dp")
      .as[(String, Double)].collect().toMap
    assert(re == got)
    // tighter epsilon = proportionally larger noise, same sign
    val loose = ProfileOps.dpCounts(df, "g", epsilon = 2.0, salt = "dp")
      .as[(String, Double)].collect().toMap
    truth.foreach { case (g, n) =>
      assert(math.abs((got(g) - n) - 4.0 * (loose(g) - n)) < 1e-9,
        "noise scales as 1/epsilon with the same draw")
    }
  }
}
