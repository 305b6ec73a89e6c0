package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Keyword-search scoring over the document corpus — the lexical
  * counterpart of the embedding ANN paths in [[SimilarityOps]].
  *
  * Scale shape (100 TB): a keyword query is a handful of terms, so
  * every corpus-level statistic BM25 needs (N, avg doc length, per-term
  * document frequency) fits in ONE aggregate row computed in a single
  * corpus pass and broadcast back; per-doc term frequencies are pure
  * column algebra inside the scan, and the final top-k is Spark's
  * TakeOrderedAndProject (per-partition partial top-k, no global sort).
  * Document text never crosses an exchange.
  */
object SearchOps {

  /** Corpus vocabulary: the `maxSize` most frequent whitespace tokens
    * as (token, occurrence count, dense id), ids assigned by count
    * descending with token ascending as the deterministic tiebreak —
    * the tokenizer-training input (write `token` in id order and
    * [[graft.io.Sources.readVocab]] reads it back into
    * [[graft.functions.WordPieceTokenize]]).
    *
    * Scale shape: counting is one map-side-combined shuffle of
    * (token, partial count) — distinct-tokens-sized, not corpus-sized;
    * the top-`maxSize` cut is TakeOrdered (per-partition partial
    * top-k); ids come from the zipWithIndex pattern
    * ([[JoinOps.withRowIndex]] over the range-partitioned sort), never
    * an unpartitioned window.
    */
  def buildVocab(df: DataFrame, textCol: String, maxSize: Int): DataFrame = {
    val counted = df
      .select(explode(TextOps.whitespaceTokenize(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(maxSize)
    JoinOps.withRowIndex(
      counted.sort(col("n").desc, col("token")), "id")
  }

  /** Inverted index build: one row per token with its document
    * frequency and the SORTED posting list — the persistable retrieval
    * artifact behind [[bm25TopK]] (compute once per corpus version,
    * write to parquet, serve lookups with a token-keyed read). The
    * postings are emitted as a CSV string so the frame is flat and
    * oracle-hashable; sorted order makes the artifact deterministic
    * under any partitioning.
    *
    * Scale shape: distinct (doc, token) pairs first (map-side
    * distinct), then ONE token-keyed aggregation. A stop-word-grade
    * token concentrates its whole posting list in one task — cap with
    * `maxDf` (drop tokens appearing in more than that many docs:
    * they're stop words to retrieval anyway) to bound the skew.
    */
  def invertedIndex(
      df: DataFrame, textCol: String, idCol: String,
      maxDf: Long = Long.MaxValue): DataFrame =
    df.select(col(idCol), explode(TextOps.whitespaceTokenize(col(textCol))).as("token"))
      .distinct()
      .groupBy("token")
      .agg(count(lit(1)).as("df"),
        concat_ws(",", sort_array(collect_list(col(idCol)))).as("postings"))
      .filter(col("df") <= maxDf)

  /** BM25 (Lucene idf form) top-k: (idCol, score) for the `k`
    * best-scoring docs against `query` terms, score descending with
    * `idCol` ascending as the deterministic tiebreak. Docs matching no
    * term score 0 and still rank (filter upstream if unwanted).
    * `k1` = 1.2 and `b` = 0.75 are the standard saturation and
    * length-normalization constants.
    *
    * The term sum folds LEFT-TO-RIGHT in query order with plain IEEE
    * double arithmetic (+ one `ln` per term), so a SQL oracle can
    * replay scores exactly.
    */
  def bm25TopK(
      df: DataFrame, textCol: String, idCol: String,
      query: Seq[String], k: Int): DataFrame = {
    require(query.nonEmpty, "bm25TopK: empty query")
    val k1 = 1.2
    val b = 0.75
    val toks = TextOps.whitespaceTokenize(col(textCol))
    // one corpus pass: N, average doc length, df per query term
    val statAggs =
      count(lit(1)).cast("double").as("n_docs") +:
      avg(size(toks).cast("double")).as("avgdl") +:
      query.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(toks, lit(t)), 1L).otherwise(0L))
          .cast("double").as(s"df_$i")
      }
    val stats = df.agg(statAggs.head, statAggs.tail: _*)
    val dl = size(toks).cast("double")
    val score = query.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(toks, x => x === lit(t))).cast("double")
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df_$i") + lit(0.5)) / (col(s"df_$i") + lit(0.5)))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dl / col("avgdl")))
    }.reduceLeft(_ + _)
    df.crossJoin(broadcast(stats))
      .select(col(idCol), score.as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Feature-hashed TF-IDF weights — the hashing-trick vectorizer
    * (Weinberger et al. 2009; the HashingVectorizer + TfidfTransformer
    * composition): every whitespace token is hashed into one of `dim`
    * buckets, per-doc bucket counts are weighted by smoothed idf
    * `ln((1 + N) / (1 + df)) + 1` and L2-normalized. Returns the SPARSE
    * form `(idCol, bucket, weight)` — docs with no tokens are absent;
    * [[hashedTfidf]] densifies it into the engine's embedding column
    * shape so text plugs straight into the ANN / k-means / SemDeDup
    * family.
    *
    * Scale shape (100 TB): tokens hash to (id, bucket int) AT the
    * explode — text never crosses an exchange; the df table is at most
    * `dim` rows (a broadcast dim) and N rides a 1-row broadcast (the
    * q08 scalar pattern); the only corpus-sized shuffles carry
    * (id, bucket, count) / (id, weight) numerics. No vocabulary is
    * materialized — `dim` bounds the model size by construction, which
    * is the published point of the hashing trick.
    */
  def hashedTfidfWeights(
      df: DataFrame, textCol: String, idCol: String, dim: Int,
      tokenKey: Column => Column = xxhash64(_)): DataFrame =
    idfWeights(df, textCol, idCol, dim, tokenKey)
      .groupBy(idCol)
      .agg(collect_list(struct(col("bucket"), col("w"))).as("raw"),
        sqrt(sum(col("w") * col("w"))).as("nrm"))
      .select(col(idCol), col("nrm"), explode(col("raw")).as("e"))
      .select(col(idCol), col("e.bucket").as("bucket"),
        (col("e.w") / col("nrm")).as("weight"))

  /** Unnormalized idf-weighted bucket rows `(idCol, bucket, w)` — the
    * shared prefix of the sparse/dense tf-idf surfaces. The L2 norm is
    * folded into the SAME id-keyed aggregation the consumers need
    * anyway (`sum(w²)` rides the partial agg next to the entry list),
    * so normalization costs no second corpus shuffle and no join-back
    * diamond re-running this subtree.
    */
  private def idfWeights(
      df: DataFrame, textCol: String, idCol: String, dim: Int,
      tokenKey: Column => Column): DataFrame = {
    require(dim > 0, "hashedTfidfWeights: dim must be positive")
    val nDocs = df.agg(count(lit(1)).cast("double").as("n_docs"))
    // NO fanOutSmall here (r15 A/B, VERDICT r14 #9): the r14 fan-out
    // repartitioned full TEXT payloads — not a narrow projection — in
    // front of a stage whose groupBy shuffles anyway; removing it read
    // q70 1.18 → 0.95 s and b_tfidf_vectors 2.53 → 2.33 s back-to-back
    // (the driver's r14 run had already measured it flat-to-worse).
    val tf = df.select(col(idCol), col(textCol))
      .select(col(idCol),
        explode(TextOps.whitespaceTokenize(col(textCol))).as("t"))
      .select(col(idCol), pmod(tokenKey(col("t")), lit(dim.toLong)).cast("int").as("bucket"))
      .groupBy(idCol, "bucket").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("bucket").agg(count(lit(1)).as("df_docs"))
    tf.join(broadcast(dfreq), "bucket")
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("bucket"),
        (col("tf").cast("double") *
          (log((lit(1.0) + col("n_docs")) /
            (lit(1.0) + col("df_docs").cast("double"))) + lit(1.0))).as("w"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the standard
    * hybrid-search combiner: each input ranking contributes
    * `1 / (60 + rank)` per doc (1-based ranks), fused score = the
    * sum, output = the global top-`k` by round(score, 6) descending
    * with id ascending as the engine-portable tiebreak (IEEE addition
    * is commutative, so the two-list sum is order-exact; beyond two
    * lists the 6-decimal round absorbs association noise). Docs
    * missing from a list simply contribute nothing — RRF's point is
    * that no score calibration between retrievers (BM25 vs cosine vs
    * anything) is needed, only ranks.
    *
    * Input frames carry `(idCol, rank)`; `n_lists` in the output
    * counts how many retrievers surfaced the doc.
    *
    * Scale shape: each ranking is already top-k-bounded by its
    * retriever, so the union/aggregate runs over (lists × k) rows of
    * (id, rank) longs — driver-negligible at any corpus size; the
    * final cut is TakeOrdered.
    */
  def rrfFuse(
      rankings: Seq[DataFrame], idCol: String, k: Int): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: no rankings")
    val u = rankings.map(_.select(col(idCol), col("rank"))).reduce(_ unionByName _)
    u.groupBy(idCol)
      .agg(sum(lit(1.0) / (lit(60.0) + col("rank").cast("double"))).as("rrf"),
        count(lit(1)).as("n_lists"))
      .orderBy(round(col("rrf"), 6).desc, col(idCol))
      .limit(k)
      .select(col(idCol), round(col("rrf"), 6).as("rrf"), col("n_lists"))
  }

  /** Dense form of [[hashedTfidfWeights]]: `(idCol, vector)` with a
    * fixed-`dim` float array (absent buckets 0.0) — the text → vector
    * bridge into [[SimilarityOps]] (ANN top-k, k-means, SemDeDup,
    * diversity sampling all take this column shape). Densify is one
    * per-doc map build after the sparse aggregation; unit L2 norm is
    * inherited from the sparse weights (float cast last).
    */
  def hashedTfidf(
      df: DataFrame, textCol: String, idCol: String, dim: Int,
      tokenKey: Column => Column = xxhash64(_),
      vecCol: String = "embedding"): DataFrame =
    idfWeights(df, textCol, idCol, dim, tokenKey)
      .groupBy(idCol)
      // norm + bucket map in ONE aggregate: both come out as Aggregate
      // attributes, so the scatter below reads them per element without
      // any projection-collapse re-evaluation of the fold
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("w")))).as("m"),
        sqrt(sum(col("w") * col("w"))).as("nrm"))
      .select(col(idCol),
        transform(sequence(lit(0), lit(dim - 1)),
          b => (coalesce(element_at(col("m"), b), lit(0.0)) / col("nrm"))
            .cast("float")).as(vecCol))

  /** Ranking-quality metrics per query — the evaluation layer the
    * retrieval family (BM25 / ANN / RRF) is tuned against: reciprocal
    * rank, recall@k, and nDCG@k of a run list against graded
    * relevance judgments.
    *
    * Inputs: `runs` (queryCol, docCol, `rank` 1-based — the retrieval
    * output contract every SearchOps/SimilarityOps top-k already
    * emits) and `qrels` (queryCol, docCol, `rel` int ≥ 0; 0 = judged
    * irrelevant). Unjudged retrieved docs score rel 0 (the trec_eval
    * convention). Output: one row per query holding
    * `rr` (1/first-relevant-rank within the top k, 0 if none),
    * `recall_k` (|relevant ∩ top-k| / |relevant|, null for queries
    * with no relevant docs), and `ndcg_k` (DCG@k / IDCG@k with the
    * (2^rel − 1)/log2(rank+1) gain, null when IDCG is 0). Queries in
    * `qrels` with no run rows still appear (zero scores) — a
    * retrieval system that returns nothing must not vanish from its
    * own evaluation. Corpus means are one `avg` away.
    *
    * Scale shape: one equi-join on (query, doc) — rank lists are
    * k-bounded so the join input is |queries| × k — and one keyed
    * aggregation; the IDCG side is a |queries|-row aggregate of
    * sorted judgment lists (judgment lists are human-bounded, never
    * corpus-sized). Per-term `round(·, 9)` before the DECIMAL sums
    * keeps the DCG folds order-free and bit-equal cross-engine (the
    * PSI/chi-square pattern).
    */
  def rankingMetrics(
      runs: DataFrame, qrels: DataFrame, k: Int,
      queryCol: String = "query_id", docCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"rankingMetrics: k must be >= 1, got $k")
    val r = runs.select(col(queryCol).as("q"), col(docCol).as("d"),
      col("rank").cast("int").as("rank")).filter(col("rank") <= k)
    val j = qrels.select(col(queryCol).as("q"), col(docCol).as("d"),
      col("rel").cast("int").as("rel"))
    // retrieved side: rel of each retrieved doc (0 when unjudged)
    val scored = r.join(j, Seq("q", "d"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0)))
    val dcgTerm = round(
      (pow(lit(2.0), col("rel").cast("double")) - 1.0) /
        (log(2.0, col("rank").cast("double") + 1.0)), 9)
      .cast("decimal(28,9)")
    val perQueryRun = scored.groupBy("q").agg(
      min(when(col("rel") > 0, col("rank"))).as("first_rel_rank"),
      count(when(col("rel") > 0, lit(1))).as("n_rel_retrieved"),
      sum(dcgTerm).as("dcg"))
    // judgment side: total relevant + ideal DCG from the top-k rels
    // sequence(1, 0) flips to a DESCENDING [1, 0] (the rougeN guard's
    // lesson) — zero-judgment queries take the literal-0 branch
    val idcgTerm = (relsDesc: Column) =>
      when(size(relsDesc) === 0, lit(0).cast("decimal(28,9)"))
        .otherwise(aggregate(
          zip_with(slice(relsDesc, 1, k),
            sequence(lit(1), least(size(relsDesc), lit(k))),
            (rel, rk) => round(
              (pow(lit(2.0), rel.cast("double")) - 1.0) /
                log(2.0, rk.cast("double") + 1.0), 9).cast("decimal(28,9)")),
          // decimal + decimal widens to (29,9); fold back so the
          // accumulator type stays fixed (exact: k bounded terms)
          lit(0).cast("decimal(28,9)"), (acc, x) => (acc + x).cast("decimal(28,9)")))
    val perQueryJudged = j.groupBy("q").agg(
      count(when(col("rel") > 0, lit(1))).as("n_relevant"),
      sort_array(collect_list(when(col("rel") > 0, col("rel"))), asc = false)
        .as("rels_desc"))
      .select(col("q"), col("n_relevant"), idcgTerm(col("rels_desc")).as("idcg"))
    perQueryJudged.join(perQueryRun, Seq("q"), "left")
      .select(col("q").as(queryCol),
        coalesce(lit(1.0) / col("first_rel_rank").cast("double"), lit(0.0)).as("rr"),
        when(col("n_relevant") > 0,
          coalesce(col("n_rel_retrieved").cast("double"), lit(0.0)) /
            col("n_relevant").cast("double")).as("recall_k"),
        when(col("idcg") > 0,
          coalesce(col("dcg"), lit(0).cast("decimal(28,9)")).cast("double") /
            col("idcg").cast("double")).as("ndcg_k"))
  }

  /** TF-IDF KEYWORD EXTRACTION — top `k` characteristic terms per
    * document: `score = tf · (ln((1+N)/(1+df)) + 1)` (the
    * [[hashedTfidf]] smoothed-idf shape on RAW terms — the
    * human-readable summary surface next to the model-facing hashed
    * vectors). The per-doc cut ranks on (score desc, term asc) in one
    * doc-keyed window; corpus-frequent terms self-suppress through
    * idf, so no stopword list is needed.
    *
    * Scale shape: one tokenize+explode pass, one (doc, term) count
    * (map-side combined), the |vocab|-row df dim broadcast back, one
    * doc-keyed rank window. Output is ≤ k rows per doc.
    */
  def keywordExtract(
      df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val nDocs = df.agg(count(lit(1)).cast("double").as("__n_docs"))
    val tf = df
      .select(col(idCol), explode(TextOps.whitespaceTokenize(col(textCol)))
        .as("term"))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf").cast("double") *
          (log((lit(1.0) + col("__n_docs")) /
            (lit(1.0) + col("df_docs").cast("double"))) + lit(1.0)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df_docs"),
        col("score"), col("rank"))
  }

  /** TOP-K ROWS PER GROUP with a BOUNDED aggregation buffer
    * ([[graft.functions.TopKAggregator]]) instead of the
    * `row_number` window idiom: the window shuffles AND sorts every
    * row of every group; here each map task keeps ≤ k (value, id)
    * pairs per group, so the exchange carries k × tasks rows per
    * group and the reduce is a k-bounded merge — the per-group twin
    * of the global `orderBy(...).limit(k)` TakeOrdered shape. Output
    * `(groupCol, rank 1..k, idCol, valueCol)` ranked value-desc with
    * id-asc tiebreak — exactly the window twin's rule (q136's oracle
    * IS the window formulation; matching rows prove equivalence).
    */
  def topKPerGroup(
      df: DataFrame, groupCol: String, valueCol: String, idCol: String,
      k: Int): DataFrame =
    df.groupBy(col(groupCol))
      .agg(graft.functions.TopKAggregator.topKUdaf(k)(
        col(valueCol).cast("double"), col(idCol).cast("long")).as("tk"))
      .select(col(groupCol), posexplode(col("tk")))
      .select(col(groupCol), (col("pos") + 1).cast("int").as("rank"),
        col("col._2").as(idCol), col("col._1").as(valueCol))
}
