package graft.ops

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, Row}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two paths:
  *  - brute-force cosine top-k — exact; the O(|Q|·|C|) baseline. Fine
  *    when |Q| is small or as the verify stage after blocking.
  *  - random-hyperplane LSH bucketing — the scale path: sign-bit
  *    signatures from deterministic pseudo-random hyperplanes, equi-join
  *    on bucket, exact cosine re-rank inside buckets. At 100 TB the
  *    bucket join replaces the cross product with a shuffle on
  *    (band, bucket) keys.
  */
object SimilarityOps {

  /** The hyperplane-LSH banding every production search, index and
    * mining member uses: 8 bands of 8 planes. One pair for all of them
    * keeps a [[writeLshIndex]] table and its [[lshSearchIndexed]]
    * queries banded alike; a mismatch would find no candidates. */
  private val Bands = 8
  private val PlanesPerBand = 8

  /** The per-query order of every cosine top-k: cosine descending,
    * ascending neighbor_id on ties. */
  private val ByCosine =
    Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))

  /** The columns every cosine top-k returns. */
  private val CosineRanked = Seq("query_id", "neighbor_id", "cosine", "rank").map(col)

  /** The per-query top-k tail: number each `w` partition's rows in
    * order as `rank`, keep the first `k`, project `out`. */
  private[ops] def rankTopK(
      scored: DataFrame, w: WindowSpec, k: Int, out: Seq[Column]): DataFrame =
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(out: _*)

  /** Exact cosine top-k: for every row of `queries`, the `k` nearest
    * `corpus` rows by cosine (self-pairs excluded when ids collide).
    * Broadcast the queries side when it is small — Catalyst then plans a
    * broadcast nested-loop join and the corpus streams through one pass.
    */
  def bruteCosineTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    rankTopK(broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        graft.functions.CosineSimilarity.cosineFused(col("q_vec"), col("c_vec"))),
      ByCosine, k, CosineRanked)
  }

  /** ANN RECALL HARNESS — recall@k of any approximate top-k result
    * against an exact one: per query, the fraction of the exact
    * neighbor set the approximate search kept. THE acceptance metric
    * for every ANN deployment decision (LSH bands, IVF nprobe, PQ m,
    * dimension truncation): a speedup quote without this number is
    * meaningless. Both inputs are `(query_id, neighbor_id)` rankings
    * (extra columns ignored); queries the approximate search returned
    * nothing for score 0, not absent.
    *
    * Integer overlap counts over a left-semi join on the (query,
    * neighbor) pair — exact-ratio recall, engine-portable; the frames
    * are query-set-sized, so every join here is small-side work.
    *
    * Convention: `recall_at_k = hits / k`, NOT `hits / |relevant|` —
    * the exact set is assumed to be itself a top-k (|relevant| = k for
    * every query), the shape every ANN acceptance row here feeds it.
    * For general relevance sets where a query may have fewer than k
    * relevant items, use [[retrievalMetrics]] with
    * `capRecallDenom = true`.
    */
  def annRecall(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"annRecall: k must be >= 1, got $k")
    val ex = exact.select("query_id", "neighbor_id")
    val overlap = ex
      .join(approx.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_kept"))
    ex.select("query_id").distinct()
      .join(overlap, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (coalesce(col("n_kept"), lit(0L)).cast("double") / lit(k.toDouble))
          .as("recall_at_k"))
  }

  /** RETRIEVAL RANKING METRICS — per query the ORDER-AWARE quality of
    * an approximate ranking against an exact relevance set: recall@k
    * ([[annRecall]]'s number), MRR (1/rank of the first relevant
    * hit — the "how fast does the user see something right" metric)
    * and binary-relevance nDCG@k (log2-discounted gain, normalized by
    * the ideal ordering) — recall alone can't tell "right items, top
    * of the list" from "right items, bottom of the list", and every
    * ANN/reranker decision (LSH bands, IVF nprobe, PQ m, MMR λ)
    * changes ORDER as well as membership. `approxNN` must carry the
    * ranking's `rank` column (any top-k operator here emits it);
    * relevance is membership of the exact set (the q229 convention).
    *
    * Engine parity: hit ranks are integers, MRR is one exact integer
    * ratio, DCG/IDCG terms `1/log2(rank+1)` are doubles from integer
    * casts summed round-then-DECIMAL(38,9) — order-free. IDCG uses
    * `min(k, |exact set|)` ideal positions. Queries the approx search
    * returned nothing for score 0 across the board, not absent. Both
    * frames are query-set-sized — all small-side work.
    *
    * Recall denominator: the default (`capRecallDenom = false`) is
    * [[annRecall]]'s `hits / k` — correct when the relevance set is
    * itself a top-k (|relevant| = k). When the relevance set is
    * GENERAL (e.g. [[contrastivePairs]] output, where a rare class may
    * yield fewer than k relevant items), `hits / k` caps recall below
    * 1.0 for such queries while nDCG's ideal already uses
    * `min(k, |relevant|)`; `capRecallDenom = true` makes recall use
    * the same `min(k, |relevant|)` denominator, so a query that keeps
    * everything relevant scores exactly 1.0.
    */
  def retrievalMetrics(
      exactNN: DataFrame, approxNN: DataFrame, k: Int,
      capRecallDenom: Boolean = false): DataFrame = {
    require(k >= 1, s"retrievalMetrics: k must be >= 1, got $k")
    def d9(c: Column) = sum(round(c, 9).cast("decimal(38,9)")).cast("double")
    def gain(pos: Column) =
      lit(1.0) / (log(pos.cast("double") + lit(1.0)) / log(lit(2.0)))
    val ex = exactNN.select("query_id", "neighbor_id")
    val nRel = ex.groupBy("query_id")
      .agg(count(lit(1)).as("__n_rel"))
    // truncate the ranking AT k — an approx frame deeper than k (an
    // LSH top-m pool, say) must not credit hits beyond position k or
    // recall@k exceeds 1 and nDCG@k gains positions it shouldn't
    val hits = approxNN.select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("__r"))
      .filter(col("__r") <= k)
      .join(ex, Seq("query_id", "neighbor_id"), "left_semi")
    val perQ = hits.groupBy("query_id").agg(
      count(lit(1)).as("__n_kept"),
      min(col("__r")).as("__first"),
      d9(gain(col("__r"))).as("__dcg"))
    val ideal = nRel
      .select(col("query_id"),
        explode(sequence(lit(1L), least(col("__n_rel"), lit(k.toLong))))
          .as("__i"))
      .groupBy("query_id").agg(d9(gain(col("__i"))).as("__idcg"))
    val recallDenom =
      if (capRecallDenom) least(col("__n_rel"), lit(k.toLong)).cast("double")
      else lit(k.toDouble)
    nRel.join(ideal, Seq("query_id"))
      .join(perQ, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("__n_kept"), lit(0L)).as("n_kept"),
        (coalesce(col("__n_kept"), lit(0L)).cast("double") / recallDenom)
          .as("recall_at_k"),
        coalesce(lit(1.0) / col("__first").cast("double"), lit(0.0))
          .as("mrr"),
        (coalesce(col("__dcg"), lit(0.0)) / col("__idcg")).as("ndcg"))
  }

  /** ANN RECALL WITH A CONFIDENCE INTERVAL — [[annRecall]]'s
    * per-query recalls fed through the Poisson bootstrap
    * ([[graft.ops.StatsOps.poissonBootstrapCI]], keyed by query_id):
    * one row `(n, mean, boot_lo, boot_hi, boot_se)` that makes two
    * ANN configurations COMPARABLE — "recall@k 0.91 vs 0.94" means
    * nothing when the CIs overlap, and the eval query set is always
    * small enough that they might. This is the acceptance row every
    * LSH-bands / IVF-nprobe / PQ-m / dim-truncation decision should
    * quote. Scale shape: the recall frame is query-set-sized (the
    * expensive part was the searches that produced the rankings), so
    * the bootstrap runs on a small frame; all heavy lifting stays in
    * the upstream top-k operators.
    */
  def annRecallCI(
      exactNN: DataFrame, approxNN: DataFrame, k: Int): DataFrame =
    graft.ops.StatsOps.poissonBootstrapCI(
      annRecall(exactNN, approxNN, k), "recall_at_k", "query_id",
      seed = "annci")

  /** CONTRASTIVE PAIR MINING — per anchor the top-k most-similar
    * corpus rows with a DIFFERENT label (`negatives = true`: hard
    * negatives — the pairs a contrastive/metric-learning fine-tune
    * learns most from, since they sit close in embedding space but
    * must be pushed apart) or with the SAME label (`negatives =
    * false`: hard-ish positives for the anchor's class, self
    * excluded). The mining step behind every embedding fine-tune /
    * reranker-distillation dataset build.
    *
    * Shape is [[bruteCosineTopK]]'s exact-eval contract: anchors are
    * a bounded query set broadcast against the corpus, cosine via the
    * fused generated expression, per-anchor rank window with the
    * (cosine DESC, id) tiebreak — the label predicate rides the SAME
    * join, so no second pass. NULL-label rows can't be judged
    * same/different and are excluded from both sides. For the
    * 100 TB-corpus production path, run any ANN search first and
    * label-filter/re-rank its candidate pool instead — for negatives
    * that path already exists as [[hardNegativesLsh]] (label rejected
    * AT the bucket join; q79/b_hard_negatives), of which this is the
    * generalization: one join definition serving both polarities,
    * with [[hardNegativesBrute]] as the negatives special case. The
    * positives mode is the new surface — same-class nearest pairs
    * are the anchor/positive sets contrastive objectives (SimCSE-
    * style, triplet loss) mine alongside the negatives.
    */
  def contrastivePairs(
      queries: DataFrame, corpus: DataFrame, k: Int,
      negatives: Boolean = true, idCol: String = "vec_id",
      vecCol: String = "embedding", labelCol: String = "label"): DataFrame = {
    require(k >= 1, s"contrastivePairs: k must be >= 1, got $k")
    val q = queries.filter(col(labelCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        col(labelCol).as("q_label"))
    val c = corpus.filter(col(labelCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        col(labelCol).as("n_label"))
    val labelPred =
      if (negatives) col("n_label") =!= col("q_label")
      else col("n_label") === col("q_label")
    rankTopK(broadcast(q)
      .join(c, col("query_id") =!= col("neighbor_id") && labelPred)
      .withColumn("cosine",
        graft.functions.CosineSimilarity.cosineFused(col("q_vec"), col("c_vec"))),
      ByCosine, k,
      Seq(col("query_id"), col("q_label"), col("neighbor_id"),
        col("n_label"), col("cosine"), col("rank")))
  }

  /** MMR DIVERSIFIED RERANKING (Carbonell & Goldstein 1998's maximal
    * marginal relevance) — select k of each query's candidates
    * balancing relevance against redundancy:
    * `argmax_d λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s)`, greedily.
    * THE post-retrieval step of a RAG/curation pipeline: a plain
    * top-k returns five near-copies of the best hit; MMR returns the
    * best hit plus four that ADD something. λ=1 degenerates to the
    * input ranking, λ=0 to pure diversity.
    *
    * Contract: `candidates` is a bounded per-query pool
    * `(query_id, neighbor_id, cosine)` from any top-m operator
    * (brute/LSH/IVF/PQ) — the greedy is O(m²) per query and runs in
    * one `flatMapGroups` over the pool, so the bound is the
    * [[annRecall]] family's eval-set contract, not a scale hole; the
    * corpus-sized work stays in the upstream search. Candidate↔
    * candidate similarity is the [[graft.functions.CosineSimilarity]]
    * algebra exactly (per-element float→double, ascending-index
    * accumulation, `dot/(√na·√nb)`), and ties in the MMR score break
    * on ascending neighbor_id — both pinned so the whole greedy
    * replays value-level in SQL (q242 unrolls the k steps with
    * materialized selected-set CTEs). First pick scores
    * `λ·rel − (1−λ)·0` (empty selected set ⇒ zero redundancy).
    * Returns `(query_id, neighbor_id, mmr_rank ∈ 1..k, relevance,
    * mmr_score)`; queries with fewer than k candidates emit what
    * they have. `vectors` must cover every candidate neighbor_id
    * (the operator joins the pool to its vectors INNER — a candidate
    * from a corpus `vectors` doesn't cover cannot be
    * redundancy-scored and is dropped from the pool; pass the same
    * corpus the search ran over).
    */
  def mmrRerank(
      candidates: DataFrame, vectors: DataFrame, k: Int, lambdaRel: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"mmrRerank: k must be >= 1, got $k")
    require(lambdaRel >= 0.0 && lambdaRel <= 1.0,
      s"mmrRerank: need 0 <= lambda <= 1, got $lambdaRel")
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val lam = lambdaRel
    val oneMinus = 1.0 - lambdaRel
    // ids stay OPAQUE (no numeric cast): every other operator in this
    // file keeps string/long/int ids alike, and a cast would silently
    // drop non-numeric candidates at the inner join (ANSI: throw)
    val pool = candidates
      .select(col("query_id"), col("neighbor_id"),
        col("cosine").cast("double").as("cosine"))
      .join(vectors.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<float>").as("__v")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("__v"))
    val qType = pool.schema("query_id").dataType
    val nType = pool.schema("neighbor_id").dataType
    // the ascending-neighbor_id tie base order must follow SQL ORDER BY
    // semantics for the id's actual type (numeric ids numerically — a
    // string sort would put "10" before "9" and break oracle parity;
    // strings compare as UTF-8 BYTES, Spark's binary collation — Java's
    // UTF-16 compareTo diverges on supplementary characters). A null
    // neighbor_id cannot reach here: the pool is an INNER join on
    // neighbor_id, so the orderings never see null.
    def idOrdering(dt: DataType): Ordering[Any] = dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Ordering.by((v: Any) => v.asInstanceOf[Number].longValue)
      case FloatType | DoubleType =>
        Ordering.by((v: Any) => v.asInstanceOf[Number].doubleValue)
      case _: DecimalType =>
        Ordering.by((v: Any) => v.asInstanceOf[java.math.BigDecimal])
      case _ =>
        Ordering.by((v: Any) =>
          org.apache.spark.unsafe.types.UTF8String.fromString(String.valueOf(v)))
    }
    val nOrd = idOrdering(nType)
    val outSchema = StructType(Seq(
      StructField("query_id", qType),
      StructField("neighbor_id", nType),
      StructField("mmr_rank", IntegerType, nullable = false),
      StructField("relevance", DoubleType),
      StructField("mmr_score", DoubleType)))
    // null-TAGGED group key: String.valueOf(null) is the 4-char string
    // "null", which would merge a NULL query_id's pool with a string-id
    // pool whose id is literally "null" — two queries MMR'd as one
    pool.groupByKey(r =>
      if (r.isNullAt(0)) "\u0000" else "v" + String.valueOf(r.get(0)))(
      Encoders.STRING)
      .flatMapGroups { (_, it) =>
        // ascending neighbor_id: a deterministic base order for ties
        val cand = it.toArray.sortBy(_.get(1))(nOrd)
        val n = cand.length
        val q = if (n > 0) cand(0).get(0) else null
        val vecs = cand.map(r =>
          if (r.isNullAt(3)) Array.empty[Float]
          else r.getSeq[Float](3).toArray)
        val rel = cand.map(r =>
          if (r.isNullAt(2)) Double.NaN else r.getDouble(2))
        def sim(i: Int, j: Int): Double = {
          val a = vecs(i); val b = vecs(j)
          val m = math.min(a.length, b.length)
          var dot = 0.0; var na = 0.0; var nb = 0.0
          var t = 0
          while (t < m) {
            val x = a(t).toDouble; val y = b(t).toDouble
            dot += x * y; na += x * x; nb += y * y
            t += 1
          }
          val d = math.sqrt(na) * math.sqrt(nb)
          if (d == 0.0) 0.0 else dot / d
        }
        val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        var r = 0
        while (r < k && selected.length < n) {
          var best = -1
          var bestScore = Double.NegativeInfinity
          // NaN scores (a NaN embedding element propagates through the
          // cosine) compare false against everything: if nothing ranks,
          // stop emitting for this query instead of dereferencing -1
          var i = 0
          while (i < n) {
            if (!selected.contains(i)) {
              // true max over selected (can be negative — SQL max())
              var msim = Double.NegativeInfinity
              var s = 0
              while (s < selected.length) {
                val sv = sim(i, selected(s))
                if (sv > msim) msim = sv
                s += 1
              }
              val score =
                if (selected.isEmpty) lam * rel(i)
                else lam * rel(i) - oneMinus * msim
              // strict >: ascending-id scan makes ties keep the lowest id
              if (score > bestScore) { bestScore = score; best = i }
            }
            i += 1
          }
          if (best < 0) {
            r = k // nothing rankable remains (all-NaN scores) — stop
          } else {
            selected += best
            out += Row(q, cand(best).get(1), r + 1, rel(best), bestScore)
            r += 1
          }
        }
        out.iterator
      }(Encoders.row(outSchema))
      .toDF()
  }

  /** Symmetric int8 quantization of an embedding column — the ANN
    * corpus-storage story at 100 TB: a 4× smaller vector column (int8
    * vs float32) with cosine UNCHANGED up to rounding, because the
    * per-vector scale cancels in the cosine ratio — search the
    * quantized corpus directly (`array<int>` cast to float feeds
    * [[graft.functions.CosineSimilarity]]), no dequantize pass.
    * Returns struct(scale double, q array<int> in [-127, 127]);
    * scale = max|x|/127, with the all-zero vector mapping to scale 0
    * and q = zeros (CASE'd to divide by 1). round() is half-away-from-
    * zero in both Spark and DuckDB, and the float→double widening of
    * each component is exact, so the oracle replays quantization
    * bit-for-bit. (Values are stored as int32 here — parquet has no
    * 8-bit physical type; the 4× claim is about the encoded column,
    * dictionary/bit-packed to ≤1 B per component.)
    */
  def quantizeInt8(vec: Column): Column = {
    val maxAbs = array_max(transform(vec, x => abs(x))).cast("double")
    val scale = maxAbs / lit(127.0)
    val safe = when(scale === 0.0, 1.0).otherwise(scale)
    struct(
      scale.as("scale"),
      transform(vec, x => round(x.cast("double") / safe).cast("int")).as("q"))
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * uniform in [-1, 1) from a splitmix64 draw. Computed ONCE on the
    * driver and shipped as literals — plane components are row-
    * independent constants, so per-row hashing would be pure waste.
    */
  private def planeComponent(plane: Int, dim: Int): Double = {
    var z = plane.toLong * 0x9E3779B97F4A7C15L + dim.toLong * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
  }

  /** Literal plane vector for zip_with against an embedding column. */
  private def planeLit(plane: Int, dim: Int): Column =
    array((0 until dim).map(d => lit(planeComponent(plane, d))): _*)

  /** IVF (inverted-file) approximate top-k — the other standard ANN
    * scale path: a deterministic coarse quantizer of `nlist` centroids
    * (chosen as the embeddings with the smallest key-hash — no k-means
    * dependency, fully reproducible), every vector assigned to its
    * nearest centroid, queries probed against the `nprobe` nearest
    * centroid lists only.
    *
    * Scale shape: the centroid matrix is a CONSTANT-size dimension
    * (nlist × dim floats, a few KB) — collected once on the driver and
    * shipped inside the serialized plan like any broadcast dim; both the
    * corpus assignment and the query probe list come from ONE narrow
    * generated pass per row ([[graft.functions.TopCentroids]]). The
    * only shuffle is the search join on the centroid id — cost scales
    * with corpus/nlist × nprobe per query instead of |corpus|.
    * Null/absent embeddings yield no assignment.
    */
  def ivfCosineTopK(
      df: DataFrame, k: Int, nlist: Int = 16, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfCosineSearch(df, df, k, nlist, nprobe, idCol, vecCol)

  /** The composable band-signature construction — kept as the
    * reference formulation for the differential spec; production uses
    * the fused codegen [[graft.functions.HyperplaneBandSigs]] (the
    * HOF form pays bands × planesPerBand interpreted traversals and
    * zipped-array allocations per row).
    */
  def composableBandSigs(
      vec: Column, bands: Int, planesPerBand: Int, dim: Int): Column =
    array((0 until bands).map { b =>
      // distinct plane sets per band: offset the plane index
      (0 until planesPerBand).map { p =>
        val plane = b * planesPerBand + p
        val dotP = aggregate(
          zip_with(vec, planeLit(plane, dim), (x, c) => x.cast("double") * c),
          lit(0.0), (acc, x) => acc + x)
        when(dotP > 0, shiftleft(lit(1L), p)).otherwise(0L)
      }.reduce(_.bitwiseOR(_))
    }: _*)

  /** LSH-bucketed approximate top-k: `Bands` (8) independent
    * signatures of `PlanesPerBand` (8) bits; candidates share a (band,
    * signature) bucket; exact cosine re-rank keeps the best k per query.
    * Recall rises with the band count; cost scales with bucket
    * occupancy, not |corpus|².
    *
    * Shuffle discipline: vectors ride only the LINEAR banded stream
    * (docs × bands rows). Cross-band duplicate candidates are dropped
    * with first-colliding-band-wins ([[graft.functions.FirstEqualIndex]]
    * over the per-doc bucket arrays — a codegen'd primitive loop, no
    * `distinct()`), and the exact cosine is computed once per unique
    * pair RIGHT AT the bucket join where both vectors are already
    * co-located — so the only pair-level shuffle (the per-query top-k
    * window) carries (ids, cosine) and nothing else.
    */
  def lshCosineTopK(
      df: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, maxBucket: Int = defaultMaxBucket): DataFrame =
    lshCosineSearch(df, df, k, idCol, vecCol, dim, maxBucket)

  /** Default corpus-side (band, bucket) occupancy cap for the LSH
    * search family. Uncapped, a hot bucket costs |bucket|² cosines in
    * ONE task — the measured 47× blowup on collapsed-signature inputs
    * (hashed-TFIDF over a tiny vocab) and the classic 100 TB straggler
    * (boilerplate/near-dup clusters concentrate in a handful of
    * buckets). 256 keeps fixture-scale buckets untouched (results
    * bit-identical to uncapped) while bounding every bucket's join
    * output at |queries_in_bucket| × 256.
    */
  val defaultMaxBucket: Int = 256

  /** Deterministic per-bucket occupancy cap: per `keys` group (an LSH
    * (band, bucket) or an IVF centroid) keep the `m` members with the
    * smallest (xxhash64(keys.head, id), id) — a reproducible sample,
    * salted by band so hot-bucket survivors DIFFER across bands. The
    * rank window partitions on exactly the join keys, so capping adds
    * NO shuffle. `m` <= 0 = uncapped.
    *
    * Recall trade: a pair co-occurring only in buckets where the corpus
    * member was capped out is lost; the chance a true neighbor is
    * capped out of ALL bands decays geometrically in bands, and a
    * bucket 100× over the cap is a near-dup cluster any m members
    * represent.
    */
  private def capBucketSide(
      banded: DataFrame, keys: Seq[String], idName: String, m: Int): DataFrame =
    if (m <= 0) banded
    else {
      val wb = Window.partitionBy(keys.map(col): _*)
        .orderBy(xxhash64(col(keys.head), col(idName)), col(idName))
      banded.withColumn("__occ", row_number().over(wb))
        .filter(col("__occ") <= m).drop("__occ")
    }

  private val BandKeys = Seq("band", "bucket")

  /** The banded vector stream: one row per (doc, band) carrying
    * `(id, vec, carried…, buckets, band, bucket)` — the doc's
    * [[graft.functions.HyperplaneBandSigs]] bucket array and its
    * (band, bucket) join key. `carried` renames extra columns
    * (source -> name) riding next to the vector. */
  private def bandedStream(
      df: DataFrame, bands: Int, planesPerBand: Int,
      idCol: String, vecCol: String, dim: Int,
      carried: (String, String)*): DataFrame = {
    val sigs = graft.functions.HyperplaneBandSigs
      .hyperplaneBandSigs(col(vecCol), bands, planesPerBand, dim)
    val withSigs = df.select(Seq(col(idCol).as("id"), col(vecCol).as("vec")) ++
      carried.map { case (c, a) => col(c).as(a) } :+ sigs.as("buckets"): _*)
    withSigs.select(withSigs.columns.toIndexedSeq.map(col) :+ posexplode(col("buckets")): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** One side of the bucket join: a banded stream's join key, its id
    * and vector as `id`/`vec`, and each `more` column renamed. */
  private def joinSide(
      banded: DataFrame, id: String, vec: String, more: (String, String)*): DataFrame =
    banded.select(Seq(col("band"), col("bucket"), col("id").as(id), col("vec").as(vec)) ++
      more.map { case (c, a) => col(c).as(a) }: _*)

  /** The scored pairs of an LSH search: each (query_id, neighbor_id)
    * sharing a (band, bucket) of the [[joinSide]]s `q` and `c`, minus
    * self-pairs and `extra` rejects, with the exact cosine computed
    * once per unique pair. `firstCollision` (bucket arrays `bk_q`/`bk_c`
    * on both sides): only the first band where the two arrays agree
    * scores the pair — zero extra shuffle. Otherwise (a capped corpus,
    * where that band's member may be capped out) duplicates are dropped
    * as ADJACENT rows under the top-k window's own order: one `lag`
    * pass over the exchange+sort the top-k pays anyway, at most `bands`
    * redundant cosines per pair.
    */
  private def bucketPairs(
      q: DataFrame, c: DataFrame, firstCollision: Boolean,
      extra: Option[Column]): DataFrame = {
    val pairs = q.join(c, BandKeys)
      .filter(extra.foldLeft(col("query_id") =!= col("neighbor_id"))(_ && _))
    def scored(p: DataFrame): DataFrame = p.select(col("query_id"), col("neighbor_id"),
      graft.functions.CosineSimilarity.cosineFused(col("q_vec"), col("c_vec")).as("cosine"))
    if (firstCollision)
      scored(pairs.filter(graft.functions.FirstEqualIndex
        .firstEqualIndex(col("bk_q"), col("bk_c")) === col("band")))
    else
      scored(pairs)
        .withColumn("__dup",
          lag("neighbor_id", 1).over(ByCosine) === col("neighbor_id") &&
            lag("cosine", 1).over(ByCosine) === col("cosine"))
        .filter(col("__dup").isNull || !col("__dup")).drop("__dup")
  }

  /** [[bucketPairs]] of two embedding frames banded alike, the corpus
    * side capped at `maxBucket` ([[capBucketSide]]; first-collision
    * dedup when uncapped). `labelCol` rides both banded streams and
    * rejects same-label pairs at the join. */
  private def lshPairs(
      queries: DataFrame, corpus: DataFrame, bands: Int, planesPerBand: Int,
      idCol: String, vecCol: String, dim: Int, maxBucket: Int,
      labelCol: Option[String]): DataFrame = {
    def side(df: DataFrame, id: String, vec: String, lbl: String, bk: String) =
      joinSide(bandedStream(df, bands, planesPerBand, idCol, vecCol, dim,
          labelCol.map(_ -> "lbl").toSeq: _*),
        id, vec, labelCol.map(_ => "lbl" -> lbl).toSeq :+ ("buckets" -> bk): _*)
    bucketPairs(
      side(queries, "query_id", "q_vec", "q_lbl", "bk_q"),
      capBucketSide(side(corpus, "neighbor_id", "c_vec", "c_lbl", "bk_c"),
        BandKeys, "neighbor_id", maxBucket),
      maxBucket <= 0, labelCol.map(_ => col("q_lbl") =!= col("c_lbl")))
  }

  /** Two-frame hyperplane-LSH search: for every `queries` row, the
    * approximate top-k `corpus` neighbors — the standing ANN deployment
    * (today's query batch against an indexed corpus), of which
    * [[lshCosineTopK]] is the self-join special case. Both sides get
    * the same deterministic band signatures (the plane matrix is a pure
    * function of (plane, dim), so signatures computed in different jobs
    * — or persisted alongside the corpus — always agree), candidates
    * meet AT the bucket equi-join, each unique pair is scored once
    * (first-colliding-band-wins over the two bucket arrays), and only
    * (ids, cosine) ride the per-query top-k shuffle. Cost scales with
    * bucket co-occupancy, never |queries| × |corpus|. Self-pairs are
    * excluded when ids collide ([[bruteCosineTopK]]'s convention).
    *
    * `maxBucket` > 0 caps the CORPUS side of every (band, bucket) at
    * that many members ([[capBucketSide]]), bounding the join output at
    * |banded queries| × maxBucket regardless of signature skew, and
    * switches pair dedup to [[bucketPairs]]' adjacent-duplicate drop.
    * `maxBucket` <= 0 = uncapped.
    */
  def lshCosineSearch(
      queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, maxBucket: Int = defaultMaxBucket): DataFrame =
    rankTopK(
      lshScoredPairs(queries, corpus, Bands, PlanesPerBand, idCol, vecCol, dim, maxBucket),
      ByCosine, k, CosineRanked)

  /** The unique scored candidate pairs behind [[lshCosineSearch]]
    * (everything before the per-query top-k): one row per distinct
    * (query_id, neighbor_id) sharing a surviving (band, bucket), with
    * the exact cosine. Public as the occupancy-bound diagnostic — the
    * planted-hot-bucket spec asserts `count() <=
    * |banded queries| × maxBucket` — and as a building block for
    * pair-graph consumers that want candidates, not ranks.
    */
  def lshScoredPairs(
      queries: DataFrame, corpus: DataFrame,
      bands: Int = Bands, planesPerBand: Int = PlanesPerBand,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, maxBucket: Int = defaultMaxBucket): DataFrame =
    lshPairs(queries, corpus, bands, planesPerBand, idCol, vecCol, dim, maxBucket, None)

  /** Persist the LSH index: the banded corpus stream — one row per
    * (band, bucket) occurrence carrying the vector and the full bucket
    * array — written as a BUCKETED table on the join keys
    * ([[graft.io.Sources.writeBucketed]]), occupancy-capped AT WRITE
    * (`maxBucket`, [[capBucketSide]]) so the stored index is bounded
    * at docs × bands rows with every (band, bucket) ≤ maxBucket.
    * Signatures are a pure function of (plane, dim), so any later
    * query batch computes MATCHING signatures — the index survives
    * engine restarts and corpus re-reads by construction.
    *
    * This is the standing 100 TB ANN deployment: build once per corpus
    * version, then every query batch joins a SMALL banded query stream
    * against the bucketed table — the corpus side of the search join
    * needs NO exchange at all (the bucketed scan already satisfies the
    * join's distribution; [[lshSearchIndexed]]'s spec asserts zero
    * shuffles under the scan), so per-batch cost is one query-sized
    * shuffle plus bucket-matched reads.
    */
  def writeLshIndex(
      corpus: DataFrame, table: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, maxBucket: Int = defaultMaxBucket): Unit =
    graft.io.Sources.writeBucketed(
      capBucketSide(bandedStream(corpus, Bands, PlanesPerBand, idCol, vecCol, dim),
        BandKeys, "id", maxBucket),
      table, 32, BandKeys)

  /** DELETE ids from a standing [[writeLshIndex]] table —
    * [[graft.ops.PqOps.ivfPqDelete]]'s removal verb for the LSH leg
    * (opt-out/contamination/licensing without a rebuild): the ids land
    * as a sibling TOMBSTONE table `<table>__tombstones` (append mode,
    * in-batch deduplicated, O(ids)); [[lshSearchIndexed]] anti-joins it
    * when present (broadcast — bounded by the opt-out stream, same
    * contract as the IVF-PQ leg). Deleting an absent id is a no-op;
    * repeat deletes accumulate; a deleted id takes effect at the NEXT
    * query.
    *
    * Tombstoning removes a row from the SERVED candidate set — it does
    * not re-run the `maxBucket` occupancy cap, so rows the deleted ones
    * capped out at write time stay out until a full [[writeLshIndex]]
    * rebuild (the cap is a write-time property, never a serve-time one).
    */
  def deleteFromLshIndex(
      ids: DataFrame, table: String, idCol: String = "vec_id"): Unit =
    ids.select(col(idCol).as("id")).distinct()
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .format("parquet").saveAsTable(s"${table}__tombstones")

  /** Search a [[writeLshIndex]] table: `dim` must match the write
    * (signatures are deterministic, so the shared banding and a
    * matching dim mean matching buckets). Same candidate semantics as a capped
    * [[lshCosineSearch]] over the same corpus — the spec pins the
    * results equal — but the corpus side comes off the bucketed scan
    * with zero exchanges. Pending [[deleteFromLshIndex]] tombstones are
    * anti-joined out BEFORE the ranking window (broadcast probe above
    * the bucketed scan — output partitioning is preserved, so the
    * corpus side keeps its zero-exchange property, spec-asserted), and
    * a deleted id never displaces a survivor's rank.
    */
  def lshSearchIndexed(
      queries: DataFrame, table: String, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64): DataFrame = {
    val spark = queries.sparkSession
    val tombstones = s"${table}__tombstones"
    val stored =
      if (spark.catalog.tableExists(tombstones))
        spark.table(table)
          .join(broadcast(spark.table(tombstones).select(col("id"))), Seq("id"), "left_anti")
      else spark.table(table)
    rankTopK(
      bucketPairs(
        joinSide(bandedStream(queries, Bands, PlanesPerBand, idCol, vecCol, dim),
          "query_id", "q_vec"),
        joinSide(stored, "neighbor_id", "c_vec"),
        firstCollision = false, None),
      ByCosine, k, CosineRanked)
  }

  /** Hard-negative mining for contrastive training (the DPR/SimCSE
    * data-prep stage): for every vector, the top-`k` most-similar
    * vectors with a DIFFERENT label — near the anchor in embedding
    * space but known non-matches, the negatives that actually move a
    * contrastive loss. Same hyperplane-LSH candidate plan as
    * [[lshCosineSearch]] with the label riding the banded stream
    * (one small column next to the vector); same-label candidates are
    * rejected AT the bucket join, before the cosine and the per-query
    * top-k, so a cluster of same-label twins costs nothing downstream.
    * Banding recall contract is lshCosineSearch's, including the
    * `maxBucket` occupancy cap (corpus side capped label-blind — a
    * bucket drowned in same-label twins can cap out the cross-label
    * candidates; raise `maxBucket` or pre-partition by label if labels
    * are that skewed).
    */
  def hardNegativesLsh(
      df: DataFrame, k: Int, labelCol: String = "label",
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, maxBucket: Int = defaultMaxBucket): DataFrame =
    rankTopK(
      lshPairs(df, df, Bands, PlanesPerBand, idCol, vecCol, dim, maxBucket, Some(labelCol)),
      ByCosine, k, CosineRanked)

  /** Brute-force twin of [[hardNegativesLsh]] for a bounded query set —
    * the oracle/recall baseline ([[bruteCosineTopK]]'s contract: all
    * (query, corpus) pairs, label-filtered; quadratic by design, so
    * fixture-scale validation only). The negatives special case of
    * [[contrastivePairs]] (one join definition — this just drops the
    * label columns q79's oracle shape predates).
    */
  def hardNegativesBrute(
      queries: DataFrame, corpus: DataFrame, k: Int,
      labelCol: String = "label",
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    contrastivePairs(queries, corpus, k, negatives = true,
      idCol = idCol, vecCol = vecCol, labelCol = labelCol)
      .select("query_id", "neighbor_id", "cosine", "rank")

  /** Two-frame IVF search: centroids are picked from (and the inverted
    * lists built over) `corpus`; `queries` probe their `nprobe` nearest
    * lists — the standing deployment of which [[ivfCosineTopK]] is the
    * self-join special case. The centroid pick is deterministic in the
    * corpus (key-hash order), so repeated query batches against the
    * same corpus always search the same index. Same narrow
    * [[graft.functions.TopCentroids]] assignment on both sides; the
    * only shuffle is the search join on the centroid id.
    *
    * `maxList` > 0 caps each centroid's inverted list at that many
    * members (deterministic top-m by key hash via a rank window that
    * shares the search join's exchange — [[capBucketSide]] on the
    * centroid key), bounding the join output at
    * |probes| × maxList under any cell skew. Unlike the LSH cap this
    * DEFAULTS OFF: an IVF cell is a Voronoi region, not a near-dup
    * bucket — its members are genuinely distinct neighbors, and the
    * principled answer to oversized cells is more centroids (`nlist`
    * up); the cap is the emergency bound for corpora whose density
    * no centroid budget can equalize.
    */
  def ivfCosineSearch(
      queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxList: Int = 0): DataFrame = {
    val cands = ivfCentroids(corpus, nlist, idCol, vecCol, None)
      .top(col("vec"), math.max(nprobe, 1))
    val assigned = capBucketSide(
      corpus
        .select(col(idCol).as("id"), col(vecCol).as("vec"))
        .select(col("id").as("neighbor_id"), col("vec").as("c_vec2"),
          element_at(cands, 1).as("centroid")),
      Seq("centroid"), "neighbor_id", maxList)
    val probes = queries
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .select(col("id").as("query_id"), col("vec").as("q_vec"),
        explode(slice(cands, 1, nprobe)).as("centroid"))
    rankTopK(probes.join(assigned, Seq("centroid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        graft.functions.CosineSimilarity.cosineFused(col("q_vec"), col("c_vec2"))),
      ByCosine, k, CosineRanked)
  }

  /** An IVF coarse quantizer: the centroid vectors in index order (the
    * index is the `centroid` id everywhere downstream) and the same
    * vectors as one row-major (n × dim) matrix, the constant-size
    * dimension [[graft.functions.TopCentroids]] ships inside the plan.
    */
  private[ops] final case class Centroids(vecs: Array[Seq[Float]], dim: Int) {
    val mat: Array[Float] = {
      val m = new Array[Float](vecs.length * dim)
      vecs.zipWithIndex.foreach { case (v, c) =>
        var j = 0
        while (j < dim) { m(c * dim + j) = v(j); j += 1 }
      }
      m
    }

    /** Each row's `n` nearest centroid ids, nearest first. */
    def top(vec: Column, n: Int): Column =
      graft.functions.TopCentroids.topCentroids(vec, mat, dim, n)

    def nearest(vec: Column): Column = nearestCentroid(vec, mat, dim)
  }

  /** The max-cosine row of a row-major (k × dim) centroid matrix
    * (ties → lowest, the [[graft.functions.TopCentroids]] contract). */
  private def nearestCentroid(vec: Column, mat: Array[Float], dim: Int): Column =
    element_at(graft.functions.TopCentroids.topCentroids(vec, mat, dim, 1), 1)

  /** The deterministic IVF centroid pick: the `nlist` non-null corpus
    * vectors with the smallest `md5Long(id, 'ivf')` (then id), in
    * ascending-id index order, collected once on the driver. `dim`
    * defaults to the first centroid's length; every centroid must
    * have it.
    */
  private[ops] def ivfCentroids(
      corpus: DataFrame, nlist: Int, idCol: String, vecCol: String,
      dim: Option[Int]): Centroids = {
    val picked = corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
      .orderBy(graft.core.PortableHash.md5Long(col("c_id"), lit("ivf")), col("c_id"))
      .limit(nlist)
      .orderBy("c_id")
      .collect()
    require(picked.nonEmpty, "IVF centroid pick: empty corpus")
    val d = dim.getOrElse(picked.head.getSeq[Float](1).length)
    Centroids(picked.map { r =>
      val v = r.getSeq[Float](1)
      require(v.length == d,
        s"IVF centroid ${r.get(0)} has dim ${v.length}, expected $d " +
          "(mixed-dimension corpus — TopCentroids requires a fixed dim)")
      v
    }, d)
  }

  /** Rows whose vector can participate in fixed-dim cosine work:
    * non-null, exactly `dim` elements, no null element — the
    * [[graft.functions.TopCentroids]] null contract as a filter.
    */
  private[ops] def validVecs(
      df: DataFrame, vecCol: String, idCol: String, dim: Int): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .filter(col("vec").isNotNull && size(col("vec")) === dim &&
        !exists(col("vec"), _.isNull))

  /** The `n` valid vectors with the smallest ids, ascending: the
    * deterministic seeds of every Lloyd training here. */
  private[ops] def seedVecs(valid: DataFrame, n: Int): Array[Seq[Float]] =
    valid.orderBy("id").limit(n).orderBy("id").select("vec").collect()
      .map(_.getSeq[Float](0))

  /** One Lloyd recenter: a copy of row-major `mat` (rows of `width`)
    * where each group of `g` holds the per-dimension mean of its `vec`
    * arrays, ROUNDED to 6 decimals and cast to float (reproducible
    * across engines and accumulation orders); `row` maps a result row
    * (keys, then means) to its matrix row. Rows no group reaches keep
    * their entry.
    */
  private[ops] def recenter(
      mat: Array[Float], g: RelationalGroupedDataset, vec: String, width: Int)(
      row: Row => Int): Array[Float] = {
    val aggs = (0 until width).map(j =>
      round(avg(element_at(col(vec), j + 1).cast("double")), 6)
        .cast("float").as(s"c$j"))
    val next = mat.clone()
    g.agg(aggs.head, aggs.tail: _*).collect().foreach { r =>
      val base = row(r) * width
      val at = r.length - width
      var j = 0
      while (j < width) { next(base + j) = r.getFloat(at + j); j += 1 }
    }
    next
  }

  /** Spherical k-means (Lloyd) centroids over an embedding column —
    * the clustering stage SemDeDup (Abbas et al. 2023) and
    * cluster-balanced sampling pipelines need. Deterministic: seeds are
    * the `k` valid vectors with the smallest ids (cluster j = j-th
    * smallest); each of the `iters` rounds assigns every vector to its
    * max-cosine centroid (ties → lowest cluster, the
    * [[graft.functions.TopCentroids]] contract) and [[recenter]]s each
    * cluster (assignment is scale-invariant under cosine, so skipping
    * the usual sphere re-normalization changes nothing); a cluster that
    * loses all members keeps its previous centroid. Vectors failing the
    * fixed-dim/null contract are excluded.
    *
    * Scale shape (100 TB): per round = ONE narrow corpus pass (the
    * fused TopCentroids assignment — no exchange, no row blowup) + a
    * map-side-combined partial agg to k rows × dim columns + a k-row
    * driver collect — the same constant-size broadcast-dim contract as
    * [[ivfCosineSearch]]'s centroid pick. `iters+1` corpus reads total
    * (persist the input upstream if reads dominate). The returned
    * row-major (k × dim) matrix ships inside the serialized plan of
    * whatever uses it.
    */
  def kmeansCentroids(
      df: DataFrame, vecCol: String, idCol: String,
      k: Int, iters: Int, dim: Int): Array[Float] = {
    require(k >= 1 && iters >= 0 && dim >= 1)
    val valid = validVecs(df, vecCol, idCol, dim)
    val seeds = seedVecs(valid, k)
    require(seeds.nonEmpty, "kmeansCentroids: no valid vectors")
    var mat = Centroids(seeds, dim).mat
    for (_ <- 1 to iters)
      mat = recenter(mat,
        valid.select(nearestCentroid(col("vec"), mat, dim).as("cl"), col("vec"))
          .groupBy("cl"), "vec", dim)(_.getInt(0))
    mat
  }

  /** (idCol, cluster) assignment of every valid vector to its
    * max-cosine centroid in a row-major (k × dim) matrix — one narrow
    * fused pass, no exchange. Rows failing the fixed-dim/null contract
    * are absent (they cannot be clustered).
    */
  def assignClusters(
      df: DataFrame, vecCol: String, idCol: String,
      mat: Array[Float], dim: Int): DataFrame =
    validVecs(df, vecCol, idCol, dim)
      .select(col("id").as(idCol), nearestCentroid(col("vec"), mat, dim).as("cluster"))

  /** [[kmeansCentroids]] + final [[assignClusters]] in one call. */
  def kmeansAssign(
      df: DataFrame, vecCol: String, idCol: String,
      k: Int, iters: Int, dim: Int): DataFrame =
    assignClusters(df, vecCol, idCol,
      kmeansCentroids(df, vecCol, idCol, k, iters, dim), dim)

  /** Cluster-balanced diversity sampling — the prototype-based corpus
    * pruning shape (SemDeDup's companion: after clustering, KEEP the
    * members farthest from their centroid — the most diverse
    * examples — up to `cap` per cluster). Trains [[kmeansCentroids]],
    * assigns every valid vector, scores each against its own centroid
    * with the fused cosine, and keeps per cluster the `cap` LOWEST
    * cosines (ascending `idCol` as the deterministic tiebreak) via
    * [[graft.ops.CurationOps.capBuckets]]' losers-anti-join. Returns
    * `(idCol, cluster, centroid_cos)`. Rows failing the fixed-dim/null
    * vector contract cannot be scored and are absent.
    *
    * Scale shape: the k×dim centroid matrix becomes a k-ROW broadcast
    * frame (BroadcastHashJoin on the cluster int — no replication of
    * the corpus side), the ranking window partitions by cluster hash,
    * and only (bucket_h, cosine, id) triples feed it; the corpus-sized
    * exchange carries (cluster int, id, vec) exactly as
    * [[graft.ops.DedupOps.semDedupKeepers]]' verify join does.
    */
  def clusterDiversitySample(
      df: DataFrame, vecCol: String, idCol: String,
      k: Int, iters: Int, dim: Int, cap: Int): DataFrame = {
    require(cap >= 1)
    val mat = kmeansCentroids(df, vecCol, idCol, k, iters, dim)
    val spark = df.sparkSession
    import spark.implicits._
    val cents = (0 until mat.length / dim)
      .map(c => (c, (0 until dim).map(j => mat(c * dim + j)).toArray))
      .toDF("cluster", "centroid")
    val scored = validVecs(df, vecCol, idCol, dim)
      .select(col("id"), col("vec"), nearestCentroid(col("vec"), mat, dim).as("cluster"))
      .join(broadcast(cents), Seq("cluster"))
      .select(col("id").as(idCol), col("cluster"),
        graft.functions.CosineSimilarity.cosineFused(
          col("vec"), col("centroid")).as("centroid_cos"))
    graft.ops.CurationOps.capBuckets(
      scored, Seq("cluster"), -col("centroid_cos"), idCol, cap)
  }
}
