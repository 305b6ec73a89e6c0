package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The dedup DECISION path ([[DedupOps.dedupKeepers]]): keep/drop
  * invariants plus measured recall against the exact pairwise ground
  * truth — this is the contract a 100 TB user calls, so it gets the
  * strongest spec in the dedup suite.
  */
class DedupKeepersSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def keeperIds(df: org.apache.spark.sql.DataFrame, thr: Double = 0.6): Set[Long] =
    DedupOps.dedupKeepers(df, "text", "doc_id", thr)
      .select("doc_id").as[Long].collect().toSet

  test("identical docs collapse to the min id; disjoint docs are all kept") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (7L, "alpha beta gamma delta"),
      (3L, "epsilon zeta eta theta"),
      (4L, "iota kappa lambda mu")
    ).toDF("doc_id", "text")
    assert(keeperIds(docs) == Set(1L, 3L, 4L))
  }

  test("near-dup cluster keeps exactly the min-id representative") {
    // J(1,2) = J(1,3) = 7/9 ≈ 0.78, J(2,3) = 6/10 = 0.6 — all >= 0.6
    val docs = Seq(
      (10L, "a b c d e f g h"),
      (11L, "a b c d e f g x"),
      (12L, "a b c d e f g y"),
      (20L, "p q r s t u v w")
    ).toDF("doc_id", "text")
    assert(keeperIds(docs) == Set(10L, 20L))
  }

  test("schema is unchanged and kept rows are original rows") {
    val docs = Seq((1L, "a b c", "m1"), (2L, "a b c", "m2")).toDF("doc_id", "text", "extra")
    val out = DedupOps.dedupKeepers(docs, "text", "doc_id", 0.6)
    assert(out.schema == docs.schema)
    assert(out.collect().map(r => (r.getLong(0), r.getString(2))).toSet == Set((1L, "m1")))
  }

  test("empty/whitespace-only docs collapse to one keeper (J(∅,∅)=1 rule)") {
    val docs = Seq(
      (5L, ""), (6L, "   "), (2L, ""), (9L, "real content here")
    ).toDF("doc_id", "text")
    assert(keeperIds(docs) == Set(2L, 9L))
  }

  test("re-running on the keepers only shrinks or fixes the set") {
    val docs = syntheticCorpus()
    val once = DedupOps.dedupKeepers(docs, "text", "doc_id", 0.6)
    val onceIds = once.select("doc_id").as[Long].collect().toSet
    val twiceIds = DedupOps.dedupKeepers(once, "text", "doc_id", 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(twiceIds.subsetOf(onceIds))
  }

  test("dedupKeepersConverged reaches an idempotent fixpoint within the single-pass set") {
    val docs = syntheticCorpus()
    val onceIds = keeperIds(docs)
    val conv = DedupOps.dedupKeepersConverged(docs, "text", "doc_id", 0.6)
    val convIds = conv.select("doc_id").as[Long].collect().toSet
    assert(convIds.subsetOf(onceIds), "converged set is within the single pass")
    // fixpoint: one more pass drops nothing
    val again = DedupOps.dedupKeepers(conv, "text", "doc_id", 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(again == convIds)
    assert(conv.schema == docs.schema)
    conv.unpersist() // documented contract: the caller owns the returned persist
  }

  test("converged fixpoint releases every interim staging block (r15 " +
      "per-pass localCheckpoint: only the documented result persist remains)") {
    val docs = syntheticCorpus()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val conv = DedupOps.dedupKeepersConverged(docs, "text", "doc_id", 0.6)
    conv.count()
    // contract: exactly ONE retained block family — the returned
    // result's persist; the pass-0 persist and each pass's
    // localCheckpoint blocks were superseded and released inside
    val during = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(during.size == 1,
      s"expected only the result persist to remain, got ${during.size} leftover RDDs")
    conv.unpersist()
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(after.isEmpty, s"result unpersist left ${after.size} RDDs")
  }

  test("converged fixpoint equals manually iterating dedupKeepers (compact-prep rewrite)") {
    // the operator tokenizes/bands once and loops on the compact frame;
    // per-doc decisions must be IDENTICAL to re-running dedupKeepers on
    // the survivors until nothing drops
    val docs = syntheticCorpus()
    var cur = docs
    var prev = -1L
    while (prev != cur.count()) {
      prev = cur.count()
      cur = DedupOps.dedupKeepers(cur, "text", "doc_id", 0.6)
    }
    val manual = cur.select("doc_id").as[Long].collect().toSet
    val conv = DedupOps.dedupKeepersConverged(docs, "text", "doc_id", 0.6)
    val convIds = conv.select("doc_id").as[Long].collect().toSet
    conv.unpersist()
    assert(convIds == manual)
  }

  test("dedupKeepersByComponents: one pass equals the converged fixpoint " +
      "on planted clusters; ordering within the semantics triangle holds") {
    val docs = syntheticCorpus()
    val comp = DedupOps.dedupKeepersByComponents(docs, "text", "doc_id", 0.6)
    val compIds = comp.select("doc_id").as[Long].collect().toSet
    val conv = DedupOps.dedupKeepersConverged(docs, "text", "doc_id", 0.6)
    val convIds = conv.select("doc_id").as[Long].collect().toSet
    conv.unpersist()
    // the differential claim: on tight planted clusters the single-pass
    // component form reproduces the fixpoint's keeper set exactly
    assert(compIds == convIds,
      s"component keepers diverge from the fixpoint: only-comp=" +
        s"${compIds -- convIds}, only-conv=${convIds -- compIds}")
    // documented triangle: components ⊆ converged ⊆ single-pass
    val onceIds = keeperIds(docs)
    assert(convIds.subsetOf(onceIds) && compIds.subsetOf(convIds))
    assert(comp.schema == docs.schema)
    // idempotent: re-running on the keepers drops nothing
    val again = DedupOps.dedupKeepersByComponents(comp, "text", "doc_id", 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(again == compIds)
    // transitive-closure semantics on an explicit loose chain: B~M, M~A
    // (shared halves) but A!~B — components keep ONE of the chain
    val chain = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j k l m n o"), // J=2/3 to both neighbors
      (3L, "f g h i j k l m n o")            // J=1/3 to doc 1
    ).toDF("doc_id", "text")
    val chainKept = DedupOps.dedupKeepersByComponents(chain, "text", "doc_id", 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(chainKept == Set(1L),
      s"chain must collapse to its min id under cluster semantics, got $chainKept")
  }

  /** ~130 docs over a 40-word vocab with planted near-dup clusters:
    * 30 bases × (1 + up to 3 mutated copies). Deterministic.
    */
  private def syntheticCorpus() = {
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 40).map(i => s"w$i")
    val rows = Seq.newBuilder[(Long, String)]
    var id = 0L
    for (_ <- 0 until 30) {
      val base = Seq.fill(20)(vocab(rnd.nextInt(vocab.size)))
      rows += ((id, base.mkString(" "))); id += 1
      for (_ <- 0 until rnd.nextInt(4)) {
        // mutate 1-2 positions: token-set Jaccard stays well above 0.6
        val mut = base.updated(rnd.nextInt(base.size), vocab(rnd.nextInt(vocab.size)))
        rows += ((id, mut.mkString(" "))); id += 1
      }
    }
    rows.result().toDF("doc_id", "text")
  }

  test("decision recall vs exact greedy ground truth; drops are never unfounded") {
    val docs = syntheticCorpus()
    val truePairs = DedupOps.jaccardPairs(docs, "text", "doc_id", 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val allIds = docs.select("doc_id").as[Long].collect().sorted

    // greedy in-id-order dedup on the exact pair graph: the reference
    // decision an all-pairs engine would make
    val kept = scala.collection.mutable.Set[Long]()
    val greedyDropped = scala.collection.mutable.Set[Long]()
    allIds.foreach { i =>
      if (kept.exists(j => truePairs.contains((j, i)))) greedyDropped += i
      else kept += i
    }

    val keepers = keeperIds(docs)
    val dropped = allIds.toSet -- keepers

    // soundness: every dropped doc really has an exact >=0.6 near-dup
    // with a smaller id (its bucket rep — verify stage is exact)
    assert(dropped.forall(i => truePairs.exists { case (a, b) => b == i && a < i }),
      "dedupKeepers must never drop a doc without an exact-verified smaller-id near-dup")

    // recall of the rep-based decision vs greedy (trades a little recall
    // for a linear plan; re-running closes the gap)
    val recall =
      if (greedyDropped.isEmpty) 1.0
      else (dropped & greedyDropped).size.toDouble / greedyDropped.size
    info(f"decision recall vs greedy: $recall%.3f " +
      f"(${(dropped & greedyDropped).size}/${greedyDropped.size} dropped, ${allIds.length} docs)")
    assert(greedyDropped.nonEmpty, "fixture must contain true near-dups")
    assert(recall >= 0.7, f"decision recall $recall%.3f below 0.7")
  }
}
