package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over edge lists — the corpus-graph surface of a
  * training-data pipeline (similarity graphs from the dedup pair ops,
  * citation/link graphs, user-interaction graphs from events).
  *
  * Scale notes (100 TB): both operators shuffle only (id, id) /
  * (id, double) pairs — never payloads. PageRank is the canonical
  * iterative join+agg; each pass is one shuffle on dst plus a
  * broadcast-able degree dim, with `localCheckpoint` truncating the
  * lineage every pass (persist-only iteration OOMs the driver on plan
  * growth long before data is the problem). Triangle counting uses
  * the degree-orientation trick (orient every edge from lower to
  * higher degree), which bounds per-node out-degree by O(sqrt(m)) —
  * the hub that makes the naive wedge join quadratic can never be a
  * wedge CENTER.
  */
object GraphOps {

  /** PageRank over a DIRECTED edge list, `iters` synchronous passes:
    * `rank = (1-d)/N + d * (sum(rank_in / outdeg_in) [+ dangle/N])`,
    * damping d = 0.85.
    *
    * Nodes = union of both endpoint sets; a node with no in-edges keeps
    * the teleport term. With `redistributeDangling` the mass held by
    * sink nodes (no out-edges) is spread uniformly each pass — total
    * rank is then conserved at 1 (spec-asserted); the dangling sum is
    * a 1-row broadcast per pass (anti-join of ranks against the degree
    * dim, order-free DECIMAL fold). The default `false` is the
    * simplified formulation the q118 oracle replays. Per-pass
    * contribution sums round each term to 9 decimals and accumulate as
    * DECIMAL(38,9) — order-free, so the shuffled double sum is
    * deterministic and cross-engine replayable (the
    * [[DriftOps.categoricalDrift]] parity pattern), at ~1e-9
    * resolution per pass, far inside the oracle's 6-decimal compare.
    */
  def pageRank(
      edges: DataFrame, iters: Int,
      srcCol: String = "src", dstCol: String = "dst",
      redistributeDangling: Boolean = false): DataFrame = {
    require(iters >= 0)
    val damping = 0.85
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct().localCheckpoint()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct().localCheckpoint()
    val n = nodes.count()
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val teleport = lit((1.0 - damping) / n)
    // NO partsForRows/withShufflePartitions wrap on the pass loop
    // (r15 A/B): unlike [[connectedComponentsAlternating]]'s shrinking
    // rounds, the edge set here is constant and every pass does real
    // join+agg work — sizing the fixture's ~15k edges down to 1-2
    // partitions only serialized the passes (q118 2.22 → 2.34,
    // b_pagerank 1.42 → 1.77 back-to-back). The per-pass cost at high
    // core counts is job/checkpoint overhead, not shuffle-task count.
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    for (_ <- 1 to iters) {
      val contribs = e
        .join(ranks.select(col("id").as("src"), col("rank")), Seq("src"))
        .join(outDeg, Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(round(col("rank") / col("outdeg"), 9)
          .cast("decimal(38,9)")).cast("double").as("m"))
      val joined = nodes.join(contribs, Seq("id"), "left")
      val next =
        if (!redistributeDangling)
          joined.select(col("id"),
            (teleport + lit(damping) * coalesce(col("m"), lit(0.0)))
              .as("rank"))
        else {
          val dangle = ranks
            .join(outDeg.select(col("src").as("id")), Seq("id"), "left_anti")
            .agg(coalesce(sum(round(col("rank"), 9).cast("decimal(38,9)"))
              .cast("double"), lit(0.0)).as("__dangle"))
          joined.crossJoin(broadcast(dangle))
            .select(col("id"),
              (teleport + lit(damping) * (coalesce(col("m"), lit(0.0)) +
                col("__dangle") / n)).as("rank"))
        }
      ranks = next.localCheckpoint()
    }
    ranks
  }

  /** Exact triangle count per node + the global total on every row.
    *
    * Input edges are treated as UNDIRECTED (canonicalized a < b,
    * self-loops dropped, deduped). Orientation: each edge points from
    * its lower-(degree, id) endpoint to the higher one — a DAG in
    * which every triangle appears exactly once as a wedge
    * (u→v, u→w, v<w by the same order) closed by edge (v, w). Max
    * out-degree after orientation is O(sqrt(m)), so the wedge join is
    * near-linear even on power-law graphs where a naive formulation
    * explodes on hubs.
    */
  def triangleCount(
      edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val (allNodes, closed) = triangleCore(edges, srcCol, dstCol)
    val total = closed.agg(count(lit(1)).as("total_triangles"))
    allNodes.crossJoin(broadcast(total))
  }

  /** [[triangleCount]]'s guts without the scalar total attached:
    * `(per-node (id, triangles) frame, closed-wedge frame)` — so
    * consumers that only need per-node counts
    * ([[clusteringCoefficient]]) carry no 1-row cross join in their
    * plan.
    */
  private def triangleCore(
      edges: DataFrame, srcCol: String,
      dstCol: String): (DataFrame, DataFrame) = {
    val canon = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct().localCheckpoint()
    val deg = canon.select(col("a").as("id"))
      .union(canon.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // orient by (deg, id): u -> v iff (deg_u, u) < (deg_v, v)
    val withDeg = canon
      .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
    val lower = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
        when(lower, col("a")).otherwise(col("b")).as("u"),
        when(lower, col("b")).otherwise(col("a")).as("v"))
      .localCheckpoint()
    // wedges centered at u, ordered to count each once
    val w1 = oriented.select(col("u"), col("v").as("x"))
    val w2 = oriented.select(col("u"), col("v").as("y"))
    val wedges = w1.join(w2, Seq("u")).filter(col("x") < col("y"))
    val closed = wedges.join(
      canon.select(least(col("a"), col("b")).as("x"),
        greatest(col("a"), col("b")).as("y")),
      Seq("x", "y"))
    // per-node count: each triangle (u, x, y) increments all 3 corners
    val perNode = closed
      .select(explode(array(col("u"), col("x"), col("y"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    val allNodes = deg.select("id")
      .join(perNode, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
    (allNodes, closed)
  }

  /** ADAMIC–ADAR link prediction over an undirected edge list: score
    * non-adjacent pairs by `Σ_z 1/ln(deg z)` over common neighbors
    * `z` — the classic "who should link next" ranker (friend/related-
    * item suggestion over the dedup similarity graph or a user
    * interaction graph). Wedges enumerate per CENTER (one self-join of
    * the symmetric neighbor list), terms round to 9 decimals and
    * accumulate as DECIMAL — exact, order-free — and existing edges
    * leave via an anti-join; the top-`k` pairs are picked on the exact
    * DECIMAL score with a `(a, b)` tiebreak (distributed take-ordered,
    * no global sort materialized).
    *
    * Scale: a degree-`d` center emits `d(d−1)/2` wedges — the hub
    * hazard. `maxCenterDeg` EXCLUDES centers above the cap; that is a
    * principled truncation for this score (a huge-degree hub
    * contributes only `1/ln d → 0` per pair) — the same documented
    * occupancy-cap trade as the LSH bucket cap.
    */
  def adamicAdar(
      edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      topK: Int = 20, maxCenterDeg: Int = Int.MaxValue): DataFrame = {
    require(topK > 0 && maxCenterDeg >= 2)
    val canon = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct().localCheckpoint()
    val sym = canon.select(col("a").as("z"), col("b").as("x"))
      .union(canon.select(col("b").as("z"), col("a").as("x")))
    val deg = sym.groupBy("z").agg(count(lit(1)).as("deg"))
    val centers = sym.join(deg, Seq("z"))
      .filter(col("deg") >= 2 && col("deg") <= maxCenterDeg)
      .withColumn("__w", lit(1.0) / log(col("deg").cast("double")))
    val wedges = centers.select(col("z"), col("x"), col("__w"))
      .join(centers.select(col("z"), col("x").as("y")), Seq("z"))
      .filter(col("x") < col("y"))
    val scored = wedges.groupBy("x", "y")
      .agg(count(lit(1)).as("common_neighbors"),
        sum(round(col("__w"), 9).cast("decimal(38,9)")).as("__s"))
      .join(canon.select(col("a").as("x"), col("b").as("y")),
        Seq("x", "y"), "left_anti")
    scored.orderBy(col("__s").desc, col("x"), col("y")).limit(topK)
      .select(col("x").as("a"), col("y").as("b"), col("common_neighbors"),
        col("__s").cast("double").as("aa_score"))
  }

  /** LOCAL CLUSTERING COEFFICIENT per node:
    * `2·triangles / (deg·(deg−1))` — how close each node's
    * neighborhood is to a clique (community-ness; near-dup clusters in
    * a similarity graph score ~1, bridge/boilerplate nodes ~0). Rides
    * [[triangleCount]]'s degree-oriented wedge join (hub-proof) plus
    * the same undirected degree dim; nodes of degree < 2 emit NULL
    * (the ratio is undefined there, and NULL beats a fake 0 that
    * would drag neighborhood averages).
    */
  def clusteringCoefficient(
      edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val canon = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = canon.select(col("a").as("id"))
      .union(canon.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val tri = triangleCore(edges, srcCol, dstCol)._1
    deg.join(tri, Seq("id"))
      .select(col("id"), col("deg"), col("triangles"),
        when(col("deg") >= 2,
          (lit(2.0) * col("triangles").cast("double")) /
            (col("deg") * (col("deg") - 1)).cast("double")).as("lcc"))
  }

  /** Connected components by ALTERNATING STAR CONTRACTION (Kiveris,
    * Lattanzi, Mirrokni, Rastogi & Vassilvitskii, SoCC 2014
    * "Connected Components in MapReduce and Beyond", two-phase
    * algorithm) — the O(log² n)-round alternative to min-label
    * propagation, which needs diameter passes (a 10⁶-node path graph
    * = 10⁶ shuffles); star contraction halves tree heights every
    * round regardless of shape. The one connected-components algorithm
    * of the engine: [[DedupOps]] labels duplicate clusters with it.
    *
    * Per round, two edge rewrites, each one keyed agg + one equi-join
    * of (long, long) rows:
    *  - large-star: every node links its LARGER neighbors to the
    *    minimum of its closed neighborhood `m = min(Γ(u) ∪ u)` —
    *    emit `(x, m)` for `x ∈ Γ(u), x > u`;
    *  - small-star: on the min-oriented edges (all neighbors < u),
    *    link u and its smaller neighbors to the minimum — emit
    *    `(x, m)` for `x ∈ Γ(u) ∪ u, x ≠ m`.
    * Both preserve connectivity and monotonically pull every tree
    * toward a star rooted at its component minimum; convergence =
    * the edge set reaches a fixpoint (star centers ARE the min ids,
    * the min-reachable-id label a union-find spec pins). Every
    * round-trip frame is `localCheckpoint`ed — the same
    * lineage-truncation contract as [[pageRank]].
    *
    * Returns `(id, component)` for every node in `edges`,
    * checkpointed and materialized.
    */
  def connectedComponentsAlternating(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 25): DataFrame = {
    val e0 = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct().localCheckpoint()
    val nodes = e0.select(col("u").as("id"))
      .union(e0.select(col("v").as("id"))).distinct().localCheckpoint()
    val spark = edges.sparkSession
    var cur = e0
    // round-adaptive shuffle sizing (r15, guide §2.2 in reverse): the
    // live edge set SHRINKS every contraction round (near-cliques
    // collapse onto their minimum in round 1), but each round's 4-6
    // shuffles kept re-planning at the session's full partition count —
    // at 32 cores the per-task overhead of the tiny late rounds
    // exceeded the work (the r14 bench read b_dup_components/
    // b_cc_alternating FASTER at 8 cores than 32). Each round now
    // plans at a count derived from the measured live edge count
    // (counts the loop already pays for convergence), capped at the
    // session's own setting — a shrink-only lever, identical labels
    // (min/set algebra is partitioning-free).
    var curCnt = cur.count()
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val p = graft.core.PlanOps.partsForRows(spark, curCnt, 65536L)
      graft.core.PlanOps.withShufflePartitions(spark, p) {
        val small = starContractionRound(cur).localCheckpoint()
        val smallCnt = small.count()
        converged = smallCnt == curCnt && small.except(cur).isEmpty
        cur = small
        curCnt = smallCnt
      }
      round += 1
    }
    val ptr = cur.select(col("u").as("id"), col("v").as("component"))
      .groupBy("id").agg(min("component").as("component"))
    graft.core.PlanOps.withShufflePartitions(spark,
      graft.core.PlanOps.partsForRows(spark, curCnt, 65536L)) {
      nodes.join(ptr, Seq("id"), "left")
        .select(col("id"), coalesce(col("component"), col("id")).as("component"))
        .localCheckpoint()
    }
  }

  /** ONE large-star + small-star contraction round over a canonical
    * `(u, v)` edge set with `u > v`, distinct — the per-round surface
    * of [[connectedComponentsAlternating]], public so the q134 oracle
    * can replay a round stage-for-stage (pure min/set algebra, fully
    * deterministic):
    *  - large-star: `(x, min(Γ(u) ∪ u))` for every `x ∈ Γ(u), x > u`;
    *  - small-star on the min-oriented result: `(x, m)` for
    *    `x ∈ Γ(u) ∪ u, x ≠ m = min Γ(u)`.
    * Output is again canonical (every emitted edge points high → low).
    */
  def starContractionRound(edges: DataFrame): DataFrame = {
    val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    val lmins = sym.groupBy("u").agg(min("v").as("mn"))
    // large-star: (x, m) for x > u; m = min(mn, u) < x by x > u
    val large = sym.join(lmins, Seq("u"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), least(col("mn"), col("u")).as("v"))
      .distinct()
    // large's output is min-oriented (u > v) by construction, which
    // is exactly small-star's input orientation
    val smins = large.groupBy("u").agg(min("v").as("mn"))
    val joined = large.join(smins, Seq("u"))
    joined.select(col("v").as("u"), col("mn").as("v"))
      .union(joined.select(col("u"), col("mn").as("v")).distinct())
      .filter(col("u") =!= col("v"))
      .distinct()
  }
}
