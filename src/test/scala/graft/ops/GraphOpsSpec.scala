package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class GraphOpsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  // ------------------------------------------------------------ pageRank

  test("pageRank: directed cycle is the fixed point 1/N at every pass") {
    val cycle = (0L until 5L).map(i => (i, (i + 1) % 5)).toDF("src", "dst")
    val ranks = GraphOps.pageRank(cycle, iters = 7)
      .as[(Long, Double)].collect().toMap
    assert(ranks.size == 5)
    ranks.values.foreach(r => assert(math.abs(r - 0.2) < 1e-9))
  }

  test("pageRank: star center accumulates rank; leaves keep teleport share") {
    // a,b,c -> d; d -> a (no dangling node)
    val star = Seq((0L, 3L), (1L, 3L), (2L, 3L), (3L, 0L)).toDF("src", "dst")
    val ranks = GraphOps.pageRank(star, iters = 20)
      .as[(Long, Double)].collect().toMap
    assert(ranks(3L) > ranks(0L) && ranks(0L) > ranks(1L))
    assert(math.abs(ranks(1L) - ranks(2L)) < 1e-12,
      "symmetric leaves must tie exactly")
    // closed graph (every node has out-edges): total mass is conserved
    assert(math.abs(ranks.values.sum - 1.0) < 1e-6)
  }

  test("pageRank: hand-computed two passes on a 3-node graph") {
    // 0 -> 1, 0 -> 2, 1 -> 2, 2 -> 0
    val g = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    def step(r: Map[Long, Double]): Map[Long, Double] = {
      def rnd(x: Double) = BigDecimal(x)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      val t = 0.15 / 3
      Map(
        0L -> (t + 0.85 * rnd(r(2L) / 1)),
        1L -> (t + 0.85 * rnd(r(0L) / 2)),
        2L -> (t + 0.85 * (rnd(r(0L) / 2) + rnd(r(1L) / 1))))
    }
    val expected = step(step(Map(0L -> 1.0 / 3, 1L -> 1.0 / 3, 2L -> 1.0 / 3)))
    val got = GraphOps.pageRank(g, iters = 2).as[(Long, Double)].collect().toMap
    expected.foreach { case (id, r) =>
      assert(math.abs(got(id) - r) < 1e-12, s"node $id: ${got(id)} vs $r")
    }
  }

  test("pageRank redistributeDangling: mass conserved on a graph with sinks") {
    // 0 -> 1 -> 2 (sink), 0 -> 2; plus isolated-ish 3 -> 0
    val g = Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 0L)).toDF("src", "dst")
    val plain = GraphOps.pageRank(g, iters = 15)
      .as[(Long, Double)].collect().toMap
    val dangling = GraphOps.pageRank(g, iters = 15,
      redistributeDangling = true).as[(Long, Double)].collect().toMap
    assert(plain.values.sum < 0.999,
      "simplified form must leak sink mass on this graph")
    assert(math.abs(dangling.values.sum - 1.0) < 1e-6,
      s"dangling redistribution must conserve mass, got ${dangling.values.sum}")
    assert(dangling(2L) > dangling(0L), "the sink still accumulates most rank")
  }

  // ------------------------------------------------------- triangleCount

  test("triangleCount: K4 has 4 triangles, every node in 3") {
    val k4 = (for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b))
      .toDF("src", "dst")
    val rows = GraphOps.triangleCount(k4)
      .as[(Long, Long, Long)].collect()
    assert(rows.forall(_._3 == 4L))
    assert(rows.forall(_._2 == 3L))
  }

  test("triangleCount: path graph has none; per-node rows still emitted") {
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val rows = GraphOps.triangleCount(path).as[(Long, Long, Long)].collect()
    assert(rows.length == 4)
    assert(rows.forall(r => r._2 == 0L && r._3 == 0L))
  }

  test("triangleCount canonicalizes reversed duplicates and self-loops") {
    val messy = Seq((0L, 1L), (1L, 0L), (1L, 2L), (0L, 2L), (2L, 2L))
      .toDF("src", "dst")
    val rows = GraphOps.triangleCount(messy).as[(Long, Long, Long)].collect()
    assert(rows.forall(_._3 == 1L))
    assert(rows.filter(_._1 <= 2L).forall(_._2 == 1L))
  }

  test("triangleCount matches the naive a<b<c enumeration on an " +
      "arithmetic graph (orientation exactness differential)") {
    val n = 60L
    val edges = (0L until n).flatMap(i =>
      Seq((i, (i + 1) % n), (i, (i + 2) % n), (i, (i * 7 + 11) % n)))
      .toDF("src", "dst").filter(col("src") =!= col("dst"))
    val canon = edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val e1 = canon.select(col("a").as("x"), col("b").as("y"))
    val e2 = canon.select(col("a").as("y"), col("b").as("z"))
    val e3 = canon.select(col("a").as("x"), col("b").as("z"))
    val naive = e1.join(e2, "y").join(e3, Seq("x", "z"))
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").count()
      .as[(Long, Long)].collect().toMap
    val got = GraphOps.triangleCount(edges)
      .as[(Long, Long, Long)].collect()
    val gotMap = got.filter(_._2 > 0).map(r => r._1 -> r._2).toMap
    assert(gotMap == naive)
    assert(got.head._3 == naive.values.sum / 3)
    assert(got.head._3 >= n, "i+1/i+2 edges plant at least N triangles")
  }

  // ----------------------------------- alternating-star components

  test("alternating CC matches a union-find on a mixed graph") {
    // three planted components (clique, star, pair) + self-loop noise
    val pairs =
      (for (a <- 0 to 4; b <- (a + 1) to 4) yield (a.toLong, b.toLong)) ++
        Seq((10L, 11L), (10L, 12L), (10L, 13L), (20L, 21L), (5L, 5L))
    val alt = GraphOps.connectedComponentsAlternating(pairs.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long)].collect().toMap
    // union-find over the non-loop edges, each root the component's min id
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs if a != b) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val uf = parent.keys.toSeq.map(x => x -> find(x)).toMap
    assert(alt == uf)
    assert(alt.filter(_._1 <= 4).values.toSet == Set(0L))
    assert(alt(13L) == 10L && alt(21L) == 20L)
  }

  test("starContractionRound preserves connectivity (one round)") {
    val e0 = Seq((2L, 1L), (3L, 2L), (4L, 3L), (11L, 10L), (21L, 20L))
      .toDF("u", "v")
    val round = GraphOps.starContractionRound(e0)
    val before = GraphOps.connectedComponentsAlternating(e0, "u", "v")
      .as[(Long, Long)].collect().toMap
    val after = GraphOps.connectedComponentsAlternating(round, "u", "v")
      .as[(Long, Long)].collect().toMap
    // every node still reaches the same component minimum
    after.foreach { case (id, c) => assert(before(id) == c) }
    assert(after.keySet == before.keySet)
  }

  test("alternating CC converges on a deep path where propagation can't") {
    // a 300-node path has diameter 299: min-label propagation needs
    // ~150 passes to drag 0 to the far end; star contraction halves
    // heights every round and lands inside the default 25
    val n = 300
    val edges = (0 until n - 1).map(i => (i.toLong, i.toLong + 1))
      .toDF("src", "dst").repartition(7)
    val alt = GraphOps.connectedComponentsAlternating(edges, "src", "dst")
      .as[(Long, Long)].collect()
    assert(alt.length == n)
    assert(alt.forall(_._2 == 0L),
      s"every path node must label 0, got ${alt.filter(_._2 != 0L).take(5).toSeq}")
  }

  test("adamicAdar: square graph hand scores; existing edges excluded") {
    // 4-cycle 1-2-3-4-1: non-adjacent (1,3) and (2,4) each share two
    // deg-2 neighbors -> score 2/ln 2; adjacent pairs share none
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val r = GraphOps.adamicAdar(square)
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(p => (p._1, p._2))
    assert(r.map(p => (p._1, p._2)) == Seq((1L, 3L), (2L, 4L)))
    r.foreach { p =>
      assert(p._3 == 2L)
      assert(math.abs(p._4 - 2.0 / math.log(2.0)) < 1e-8)
    }

    // triangle 1-2-3 plus pendant 3-4: wedge (1,2) through 3 is an
    // existing edge -> anti-joined away; (1,4)/(2,4) survive at 1/ln 3
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val rt = GraphOps.adamicAdar(tri)
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(p => (p._1, p._2))
    assert(rt.map(p => (p._1, p._2)) == Seq((1L, 4L), (2L, 4L)),
      s"edge (1,2) must not be suggested: $rt")
    rt.foreach(p => assert(math.abs(p._4 - 1.0 / math.log(3.0)) < 1e-8))
  }

  test("adamicAdar: hub cap excludes the center; topK cuts deterministically") {
    // star 0-{1,2,3}: all pairs score through the deg-3 hub; capping
    // centers at deg 2 removes every wedge
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    assert(GraphOps.adamicAdar(star).count() == 3L)
    assert(GraphOps.adamicAdar(star, maxCenterDeg = 2).count() == 0L)
    // topK = 1 keeps the (a, b)-smallest of the tied pairs
    val one = GraphOps.adamicAdar(star, topK = 1)
      .as[(Long, Long, Long, Double)].collect().head
    assert((one._1, one._2) == ((1L, 2L)), s"tie must cut on (a,b): $one")
  }

  test("clusteringCoefficient: triangle+pendant hand values; deg<2 NULL") {
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val r = GraphOps.clusteringCoefficient(g)
      .as[(Long, Long, Long, Option[Double])].collect().toSeq.sortBy(_._1)
    assert(r.map(x => (x._1, x._2, x._3)) ==
      Seq((1L, 2L, 1L), (2L, 2L, 1L), (3L, 3L, 1L), (4L, 1L, 0L)))
    assert(r(0)._4.contains(1.0) && r(1)._4.contains(1.0))
    assert(math.abs(r(2)._4.get - 1.0 / 3.0) < 1e-12)
    assert(r(3)._4.isEmpty, "pendant node: lcc undefined")
  }
}
