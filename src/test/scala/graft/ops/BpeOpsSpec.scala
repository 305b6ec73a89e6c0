package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class BpeOpsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  /** Independent plain-Scala reference BPE (greedy non-overlapping
    * left-to-right merge application, (cnt desc, a, b) tiebreak) for
    * the differential tests.
    */
  private def refTrain(
      words: Map[String, Long], numMerges: Int): Seq[(String, String)] = {
    var vocab = words.map { case (w, n) => (w.map(_.toString).toVector, n) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var continue = true
    while (out.length < numMerges && continue) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, n) =>
        syms.sliding(2).foreach {
          case Vector(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + n
          case _ =>
        }
      }
      val eligible = counts.filter(_._2 >= 2)
      if (eligible.isEmpty) continue = false
      else {
        val (pair, _) = eligible.minBy { case ((a, b), c) => (-c, a, b) }
        out += pair
        vocab = vocab.map { case (syms, n) => (refApply(syms, pair), n) }
      }
    }
    out.toSeq
  }

  private def refApply(
      syms: Vector[String], m: (String, String)): Vector[String] =
    syms.foldLeft(Vector.empty[String]) { (acc, s) =>
      if (acc.nonEmpty && acc.last == m._1 && s == m._2)
        acc.init :+ (m._1 + m._2)
      else acc :+ s
    }

  test("applyMerge: greedy non-overlapping collapse, including runs") {
    val df = Seq("aaaa", "abab", "xy").toDF("w")
      .select(BpeOps.applyMerge(BpeOps.charSymbols(col("w")), "a", "a").as("s"))
    val got = df.as[Seq[String]].collect()
    assert(got(0) == Seq("aa", "aa"))
    assert(got(1) == Seq("a", "b", "a", "b"))
    assert(got(2) == Seq("x", "y"))
  }

  test("bpeTrain reproduces the classic hug/pug corpus merges") {
    // Frequencies via repetition; reference merge order computed by
    // the independent Scala implementation.
    val corpus = (Seq.fill(10)("hug") ++ Seq.fill(5)("pug") ++
      Seq.fill(12)("pun") ++ Seq.fill(4)("bun") ++ Seq.fill(5)("hugs"))
    val df = corpus.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val expected = refTrain(
      Map("hug" -> 15L, "pug" -> 5L, "pun" -> 12L, "bun" -> 4L, "hugs" -> 5L)
        .map { case (w, _) => w -> corpus.count(_ == w).toLong }, 4)
    val (merges, _) = BpeOps.bpeTrain(df, "text", 4)
    assert(merges == expected)
    // first merge must be the most frequent pair: "ug" appears 25x
    assert(merges.head == ("u", "g"))
  }

  test("bpeTrain matches the independent reference on the sf0.001 corpus") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val words = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").count()
      .as[(String, Long)].collect().toMap
    val expected = refTrain(words, 10)
    val (merges, vocab) = BpeOps.bpeTrain(docs, "text", 10)
    assert(merges == expected)
    // final vocab state: applying the merge list from scratch with the
    // reference agrees word-for-word
    val state = vocab.select("word", "syms")
      .as[(String, Seq[String])].collect().toMap
    words.keys.foreach { w =>
      val ref = merges.foldLeft(w.map(_.toString).toVector)(refApply)
      assert(state(w) == ref, s"word $w")
    }
  }

  test("bpeTrain stops early when no pair repeats") {
    val df = Seq((1L, "ab cd")).toDF("doc_id", "text")
    val (merges, _) = BpeOps.bpeTrain(df, "text", 5)
    assert(merges.isEmpty)
  }

  test("bpeMergeTable: steps/pairs agree with bpeTrain and counts with " +
      "the independent reference recount") {
    val corpus = (Seq.fill(10)("hug") ++ Seq.fill(5)("pug") ++
      Seq.fill(12)("pun") ++ Seq.fill(4)("bun") ++ Seq.fill(5)("hugs"))
    val df = corpus.grouped(7).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val table = BpeOps.bpeMergeTable(df, "text", 4)
      .as[(Int, String, String, Long)].collect().sortBy(_._1)
    val (merges, _) = BpeOps.bpeTrain(df, "text", 4)
    assert(table.map(r => (r._2, r._3)).toSeq == merges)
    assert(table.map(_._1).toSeq == (1 to table.length))
    // recount each winning pair's weighted count with the reference
    val words = corpus.groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
    var vocab = words.map { case (w, n) => (w.map(_.toString).toVector, n) }
    table.foreach { case (_, a, b, cnt) =>
      val ref = vocab.toSeq.map { case (syms, n) =>
        syms.sliding(2).count { s => s.length == 2 && s(0) == a && s(1) == b } * n
      }.sum
      assert(ref == cnt, s"count for ($a,$b): ref $ref vs $cnt")
      vocab = vocab.map { case (syms, n) => (refApply(syms, (a, b)), n) }
    }
  }

  test("bpeFertility: per-lang integer sums match the plain-Scala replay") {
    val docs = Seq(
      (1L, "x", "hug hug pun"), (2L, "x", "pug hugs hug"),
      (3L, "y", "pun pun bun"), (4L, "y", "hug"))
    val df = docs.toDF("doc_id", "lang", "text")
    val got = BpeOps.bpeFertility(df, "text", "lang", numMerges = 3)
      .as[(String, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val (merges, _) = BpeOps.bpeTrain(df, "text", 3)
    val words = docs.flatMap { case (_, lang, t) =>
      t.split(" ").filter(_.nonEmpty).map(lang -> _) }
    def tokCount(w: String): Int =
      merges.foldLeft(w.map(_.toString).toVector)(refApply).length
    Seq("x", "y").foreach { lang =>
      val ws = words.filter(_._1 == lang).map(_._2)
      val nt = ws.map(w => tokCount(w).toLong).sum
      val nc = ws.map(_.length.toLong).sum
      val r = got(lang)
      assert(r._2 == ws.length.toLong && r._3 == nt && r._4 == nc,
        s"$lang sums: $r vs (${ws.length}, $nt, $nc)")
      assert(math.abs(r._5 - nt.toDouble / ws.length) < 1e-12)
      assert(math.abs(r._6 - nc.toDouble / nt) < 1e-12)
    }
  }
}
