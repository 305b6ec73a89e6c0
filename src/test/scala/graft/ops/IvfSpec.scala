package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.core.Tables

class IvfSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("ivfCosineTopK finds the planted duplicate (same centroid by construction)") {
    val vecs = ((0 until 60).map { i =>
      val r = new scala.util.Random(i)
      (i.toLong, Seq.fill(8)(r.nextFloat() * 2 - 1))
    } :+ (100L, Seq(0.9f, 0.1f, 0.2f, 0.3f, 0.4f, 0.5f, 0.6f, 0.7f))
      :+ (101L, Seq(0.9f, 0.1f, 0.2f, 0.3f, 0.4f, 0.5f, 0.6f, 0.7f)))
      .toDF("vec_id", "embedding")
    val got = SimilarityOps.ivfCosineTopK(vecs, k = 1, nlist = 8, nprobe = 3)
      .filter(col("query_id") === 100L)
      .select("neighbor_id", "cosine").as[(Long, Double)].collect()
    assert(got.nonEmpty)
    assert(got.head._1 == 101L && math.abs(got.head._2 - 1.0) < 1e-9)
  }

  test("TopCentroids matches a scala brute-force top-nprobe (sim desc, id asc ties)") {
    val r = new scala.util.Random(7)
    val mat = Array.fill(6 * 4)(r.nextFloat() * 2 - 1)
    // plant an exact tie: centroid 5 duplicates centroid 2
    for (j <- 0 until 4) mat(5 * 4 + j) = mat(2 * 4 + j)
    val vecs = (0 until 40).map(i => (i.toLong, Seq.fill(4)(r.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val got = vecs.select(col("vec_id"),
        graft.functions.TopCentroids.topCentroids(col("embedding"), mat, 4, 3).as("c"))
      .as[(Long, Seq[Int])].collect().toMap
    def cos(v: Seq[Float], c: Int): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (j <- 0 until 4) {
        val x = v(j).toDouble; val y = mat(c * 4 + j).toDouble
        dot += x * y; na += x * x; nb += y * y
      }
      val d = math.sqrt(na) * math.sqrt(nb)
      if (d == 0.0) 0.0 else dot / d
    }
    vecs.as[(Long, Seq[Float])].collect().foreach { case (id, v) =>
      val want = (0 until 6).map(c => (cos(v, c), c))
        .sortBy { case (s, c) => (-s, c) }.take(3).map(_._2)
      assert(got(id) == want, s"vec $id: got ${got(id)}, want $want")
    }
  }

  test("TopCentroids cosine is bit-identical to CosineSimilarity on fixed-dim inputs (VERDICT r6 #8)") {
    // the scaladoc's bit-identity contract: per-centroid cosine ==
    // the fused CosineSimilarity of (vector, centroid-as-array) for
    // vectors satisfying the fixed-dim contract; off-dim and
    // null-element vectors get NULL (no assignment), never a truncated
    // or zero-padded comparison
    val r = new scala.util.Random(11)
    val dim = 4
    val mat = Array.fill(3 * dim)(r.nextFloat() * 2 - 1)
    val vecs = ((0 until 20).map(i =>
        (i.toLong, Seq.fill(dim)(r.nextFloat() * 2 - 1))) :+
        (90L, Seq(1.0f, 2.0f)))                   // wrong dim -> null
      .toDF("vec_id", "embedding")
      .unionByName(spark.sql(                     // null element -> null
        "SELECT CAST(91 AS BIGINT) AS vec_id, " +
          "array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT), " +
          "CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)) AS embedding"))
    val cents = (0 until 3)
      .map(c => (c, (0 until dim).map(j => mat(c * dim + j)).toArray))
      .toDF("cid", "centroid")
    // rank 1 by the FUSED cosine, lowest cid on exact ties
    val viaCosine = vecs.filter(col("vec_id") < 90)
      .crossJoin(cents)
      .select(col("vec_id"), col("cid"),
        graft.functions.CosineSimilarity.cosineFused(
          col("embedding"), col("centroid")).as("cos"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
          .orderBy(col("cos").desc, col("cid"))))
      .filter(col("rk") === 1)
      .select("vec_id", "cid").as[(Long, Int)].collect().toMap
    val viaTop = vecs.select(col("vec_id"),
        graft.functions.TopCentroids.topCentroids(col("embedding"), mat, dim, 1).as("c"))
      .as[(Long, Option[Seq[Int]])].collect().toMap
    viaCosine.foreach { case (id, cid) =>
      assert(viaTop(id).get.head == cid,
        s"vec $id: TopCentroids ${viaTop(id)} != cosine-ranked $cid")
    }
    assert(viaTop(90L).isEmpty, "off-dim vector must yield NULL, not a comparison")
    assert(viaTop(91L).isEmpty, "null-element vector must yield NULL")
  }

  test("ivf plan is narrow up to the search join: one window, no cross product") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qe = SimilarityOps.ivfCosineTopK(e, k = 1, nlist = 16, nprobe = 4).queryExecution
    // unwrap the AQE leaf so node-level collect sees the real operators
    val p = qe.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    val windows = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.length == 1, s"expected only the final top-k window:\n$p")
    val s = p.toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"cross-product join in IVF plan:\n$s")
  }

  test("ivf recall vs brute force on the fixture embeddings") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = e.filter(col("vec_id") < 30)
    val brute = SimilarityOps.bruteCosineTopK(queries, e, 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val ivf = SimilarityOps.ivfCosineTopK(e, k = 1, nlist = 16, nprobe = 6)
      .filter(col("query_id") < 30)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val hits = brute.count { case (q, n) => ivf.get(q).contains(n) }
    assert(hits >= 15, s"IVF top-1 recall too low: $hits/30")
  }
}
