package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Duplicate-cluster component contracts (alternating star
  * contraction): transitive closure across chains, isolation between
  * components, singleton handling in dupComponents, and determinism
  * under repartitioning.
  */
class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("chain + triangle + isolated pair resolve to min-id components") {
    // chain 1-2-3-4-5, triangle 10-11-12 (with redundant edge), pair 20-21
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("a", "b")
    val comp = GraphOps.connectedComponentsAlternating(edges, "a", "b")
    val got = comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(got(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(got(_) == 10L))
    assert(Seq(20L, 21L).forall(got(_) == 20L))
    assert(got.size == 10)
  }

  test("result is deterministic under repartitioning") {
    val edges = Seq((5L, 9L), (9L, 2L), (7L, 5L), (3L, 8L)).toDF("a", "b")
    val a = GraphOps.connectedComponentsAlternating(edges, "a", "b")
    val b = GraphOps.connectedComponentsAlternating(edges.repartition(7), "a", "b")
    val ra = a.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val rb = b.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(ra == rb)
    assert(ra.toMap.apply(7L) == 2L) // 7-5-9-2 chain bottoms at 2
  }

  test("dupComponents labels singletons with their own id") {
    val docs = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val pairs = Seq((2L, 4L)).toDF("id_a", "id_b")
    val got = DedupOps.dupComponents(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 2L))
  }

  test("dupComponentsFromReps matches the pair-graph components on planted tight clusters") {
    // three planted near-dup clusters (shared long template, one token
    // of drift per member — every within-cluster pair verifies) plus
    // two singletons; star-edge components must equal pair-graph
    // components exactly here
    def doc(cluster: String, i: Int): String =
      s"$cluster common words shared across the whole cluster body " +
        s"alpha beta gamma delta epsilon zeta eta theta variant$i"
    val rows =
      (0 until 6).map(i => (10L + i, doc("apple", i))) ++
        (0 until 4).map(i => (30L + i, doc("banana", i))) ++
        (0 until 5).map(i => (50L + i, doc("cherry", i))) ++
        Seq((70L, "totally different text about one thing"),
          (71L, "another unrelated document entirely on purpose"))
    val df = rows.toDF("doc_id", "text")
    val fromReps = DedupOps.dupComponentsFromReps(
        df, "text", "doc_id", threshold = 0.6, bands = 8, rowsPerBand = 2)
      .select("doc_id", "component")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fromPairs = DedupOps.dupComponents(
        df.select("doc_id"), "doc_id",
        DedupOps.minHashDedup(df, "text", "doc_id", threshold = 0.6,
          bands = 8, rowsPerBand = 2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fromReps == fromPairs,
      s"star-edge components diverged: reps=$fromReps pairs=$fromPairs")
    // sanity: the clusters actually merged and the singletons did not
    assert(fromReps(70L) == 70L && fromReps(71L) == 71L)
    assert((0 until 6).map(i => fromReps(10L + i)).toSet.size == 1)
    assert((0 until 4).map(i => fromReps(30L + i)).toSet.size == 1)
  }
}
