package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{GraftSession, Scratch, Tables}
import graft.ops.{CurationOps, DedupOps, MaskingOps, PqOps, SimilarityOps}
import graft.queries.ExtensionQueries
import graft.streaming.StreamingOps

/** Per-round benchmark runner: prints ONE JSON line with per-query
  * wall-clock over `SPARK_GRAFT_SF_DIR`.
  *
  * The oracle registry's exact-pairwise dedup validators (q18/q21/q22/
  * q23) are deliberately O(n²)-by-contract — they exist to hash-check
  * the scale paths at fixture scale, and benching them at sf0.1 only
  * measures the cross product. The portable-twin DECISION validators
  * (q42/q43/q44/q46) are linear but md5-signature-bound by the oracle
  * portability contract — timing them only measures portable-md5
  * volume (already characterized by q33), not a plan. Bench swaps both
  * groups for the production formulations of the same operators (the
  * `dedupKeepers`/`simHashKeepers`/`dedupKeepersNgram` decision paths,
  * incremental dedup, hyperplane-LSH cosine top-k) so the recorded
  * numbers reflect the engine's actual 100 TB-shaped plans. q41/q45
  * stay timed: they run the PRODUCTION operators.
  */
object Bench {

  /** Oracle-only validators excluded from timing: the quadratic
    * pairwise forms and the md5-family portable decision twins.
    */
  private val excluded = Set(
    "q18_dedup", "q21_dedup_minhash", "q22_dedup_ngram", "q23_dedup_cosine",
    "q42_dedup_keepers", "q43_simhash_keepers", "q44_dedup_incremental",
    "q46_ngram_keepers",
    // q254 replays reps removal in q44's md5-portable hash family; the
    // production removedBucketReps is benched by b_reps_remove
    "q254_reps_removal",
    // q69 embeds q21's md5-portable pair list; its production-hash
    // bench representative is b_dup_components
    "q69_dup_components",
    // q215 labels components over the SAME q21 pair list (19.6 s at
    // sf0.1); its production representative is b_soft_dedup — the
    // star-edge softDedupWeightsFromReps (3.0 s)
    "q215_soft_dedup",
    // q239 aggregates the SAME md5-portable pair list into the
    // threshold curve; the banded-candidate scan it reports on is
    // benched by b_minhash_lsh
    "q239_dedup_curve",
    // q114/q115 are the UNCAPPED exact set-similarity validators —
    // quadratic pair output by contract on the dup-dense fixture
    // (76 s at sf0.1 for uncapped containment); their production
    // representatives are b_prefix_jaccard and b_containment
    "q114_prefix_jaccard", "q115_containment",
    // q132 is the DECIMAL-exact covariance oracle twin — its pair
    // stream amplifies each vector into dim²/2 rows BY CONTRACT (the
    // replayable shape, 8.4 s at sf0.1); the production representative
    // is b_pca's treeAggregate pass (0.2 s)
    "q132_covariance",
    // q142 is the STRING-EXACT BLEU oracle twin (rougeN's interpreted
    // HOF overlap, O(distinct×L) per row per order — 36.7 s at sf0.1);
    // the production representative is b_bleu's fused sorted-hash
    // form (0.9 s), spec-pinned equal
    "q142_bleu")

  /** Evaluation-forcing action: xxhash64 of EVERY output column, folded
    * with bit_xor. Under a bare `count()` Catalyst is free to prune
    * deterministic projections entirely (a per-row-transform query would
    * time as a parquet row count); hashing the full row forces every
    * projection to actually evaluate while still aggregating to one
    * driver-side value. bit_xor, not sum: summing 64-bit hashes
    * overflows Long under ANSI mode.
    */
  private[graft] def forcing(df: DataFrame): DataFrame =
    df.select(xxhash64(struct(df.columns.map(col): _*)).as("__h"))
      .agg(expr("bit_xor(__h)"))

  private def force(df: DataFrame): Unit = forcing(df).collect()

  /** Production-path scale benches. Correctness of each operator is
    * pinned by its oracle variant and/or unit spec; these rows record
    * the xxhash64/codegen formulations on the scale fixture.
    */
  private[graft] def scaleBenches: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the dedup DECISION path: keep/drop per doc, linear in docs × bands
    "b_minhash_lsh" -> ((s, dir) =>
      DedupOps.dedupKeepers(Tables.documents(s, dir), "text", "doc_id", 0.6)),
    // the pair-level form — output is inherently quadratic on the
    // duplicate-dense fixture (kept for comparison with the decision path)
    "b_minhash_pairs" -> ((s, dir) =>
      DedupOps.minHashDedup(Tables.documents(s, dir), "text", "doc_id", 0.6)),
    // ingest-shaped workload: dedup a 20% batch against the 80% corpus
    // (key-derived split), then within itself
    "b_minhash_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val part = pmod(xxhash64(col("doc_id")), lit(5))
      DedupOps.dedupIncremental(
        docs.filter(part =!= 0), docs.filter(part === 0), "text", "doc_id", 0.6)
    }),
    // shingle-level dedup DECISION path (word trigrams — order-aware:
    // reordered docs stay distinct; Broder MinHash over the shingle set,
    // same linear docs × bands plan as b_minhash_lsh)
    "b_ngram_dedup" -> ((s, dir) =>
      DedupOps.dedupKeepersNgram(Tables.documents(s, dir), "text", "doc_id", 0.6, 3)),
    "b_simhash_pairs" -> ((s, dir) =>
      DedupOps.simHashPairs(Tables.documents(s, dir), "text", "doc_id", 3)),
    // the simhash DECISION path (keep/drop per doc, Hamming verify at
    // the bucket join — no pair list, no second shuffle)
    "b_simhash_lsh" -> ((s, dir) =>
      DedupOps.simHashKeepers(Tables.documents(s, dir), "text", "doc_id", 3)),
    "b_lsh_cosine_topk" -> ((s, dir) =>
      SimilarityOps.lshCosineTopK(Tables.embeddings(s, dir), k = 10)),
    "b_ivf_cosine_topk" -> ((s, dir) =>
      SimilarityOps.ivfCosineTopK(Tables.embeddings(s, dir), k = 10, nlist = 32, nprobe = 4)),
    // post-retrieval MMR diversification of the production LSH top-10
    // pools (greedy O(pool²) per query inside one flatMapGroups; the
    // corpus-scale work is the LSH search itself)
    "b_mmr_rerank" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      SimilarityOps.mmrRerank(
        SimilarityOps.lshCosineTopK(e, k = 10), e, k = 5, lambdaRel = 0.5)
    }),
    // the compressed-index ANN leg: PQ train (1 Lloyd round) + fused
    // encode + per-query LUT + O(m) ADC table walk per candidate
    "b_pq_adc" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      PqOps.pqSearchADC(e.filter(col("vec_id") % 50 === 0), e, k = 10,
        m = 8, ksub = 16, dim = 64)
    }),
    // the full IVF-PQ deployment shape: coarse-quantizer pruning to
    // nprobe lists + residual-encoded ADC within them
    "b_ivf_pq_adc" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      PqOps.ivfPqSearchADC(e.filter(col("vec_id") % 50 === 0), e, k = 10,
        nlist = ivfPqNlist, nprobe = 4, m = 8, ksub = 16, dim = 64)
    }),
    // the SERVING shape of the same search: query batch against the
    // PERSISTED index (train/encode paid once in the row's setup, like
    // b_lsh_indexed) — codes scan pruned to the probed lists, zero
    // training work in the timed path
    "b_ivf_pq_indexed" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      PqOps.ivfPqSearchIndexed(e.filter(col("vec_id") % 50 === 0),
        precomputedIvfPqIndex(s, dir), k = 10, nprobe = 4)
    }),
    // the same served search under the DEPLOYMENT nlist contract
    // (nlist ≈ √n, self-configured from the corpus size) instead of the
    // cross-scale comparability pin of 32 — r11 measured the contract
    // only in one-off env-pinned subset runs (nlist=320 at 100×:
    // 5.80 → 1.76 s); this row folds the contract configuration into
    // every sweep, sf0.1 and the scale fixtures alike (VERDICT r11 #6),
    // so per-query wall under √n nlist is a standing record column.
    "b_ivf_pq_indexed_sqrtn" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      PqOps.ivfPqSearchIndexed(e.filter(col("vec_id") % 50 === 0),
        precomputedIvfPqSqrtIndex(s, dir), k = 10, nprobe = 4)
    }),
    // the INGEST half of the standing index (FAISS add()): frozen-
    // quantizer assign + residual encode + codes write of the 20%
    // key-split batch — the daily loop's marginal cost, O(batch) with
    // the existing codes never read (the write executes inside the fn,
    // so the timing covers it; the returned row is just a witness).
    // Re-appending the same batch every timed attempt accumulates
    // duplicate codes rows in the append-base index BY DESIGN (the
    // caller-owns-uniqueness contract): nothing searches that index,
    // and append cost never reads existing codes, so the accumulation
    // cannot distort this row or any other.
    "b_ivf_pq_append" -> ((s, dir) => {
      val batch = Tables.embeddings(s, dir)
        .filter(pmod(xxhash64(col("vec_id")), lit(5)) === 0)
      PqOps.ivfPqAppend(batch, precomputedIvfPqAppendBase(s, dir))
      import s.implicits._
      Seq(1L).toDF("appended")
    }),
    // the MAINTENANCE half of the ingest loop: one O(codes-bytes) pass
    // rewriting the standing index's codes into a single range-laid
    // file set (appends scatter batches across file sets, eroding the
    // probed-list row-group pruning; compaction restores the freshly-
    // built shape — search results byte-identical by spec). Timed on a
    // DEDICATED post-append index: 3 appended batches scatter the codes
    // across 4 file sets, and the benchSetups hook restores that exact
    // scattered layout before EVERY attempt (r11 advice: compacting the
    // never-appended main index measured only the rewrite ceiling — the
    // warm pass performed the first rewrite and every timed attempt
    // re-compacted an already-consolidated layout, so the scattered
    // read side the row's rationale describes went unmeasured).
    "b_ivf_pq_compact" -> ((s, dir) => {
      PqOps.ivfPqCompact(s, precomputedIvfPqCompactBase(s, dir)._1)
      import s.implicits._
      Seq(1L).toDF("compacted")
    }),
    // the REMOVAL verb of the standing index (opt-out/contamination/
    // licensing): tombstone-write of a 10% id set (O(ids), the whole
    // point — no rebuild, no codes read) + one served search on the
    // tombstoned index, so the row times delete-to-effect latency
    // INCLUDING the serving anti-join overhead (comparable to
    // b_ivf_pq_indexed = the same search tombstone-free). The setup
    // hook clears the tombstone table before every attempt so each
    // measures the same one-batch state, on a DEDICATED index so no
    // tombstones ever leak into the rows other searches time.
    "b_ivf_pq_delete" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val idx = precomputedIvfPqDeleteBase(s, dir)
      PqOps.ivfPqDelete(
        e.filter(pmod(xxhash64(col("vec_id")), lit(10)) === 3)
          .select("vec_id"), idx)
      PqOps.ivfPqSearchIndexed(e.filter(col("vec_id") % 50 === 0), idx,
        k = 10, nprobe = 4)
    }),
    // perceptual-hash near-dup over the 8×8 thumbs: aHash vs DCT hash
    // through the same 4-band pigeonhole candidates
    "b_image_neardup_ahash" -> ((s, dir) =>
      graft.ops.MultimodalOps.imageNearDups(
        Tables.embeddings(s, dir), "vec_id", "embedding", maxHamming = 3)),
    "b_image_neardup_phash" -> ((s, dir) =>
      graft.ops.MultimodalOps.imageNearDupsDct(
        Tables.embeddings(s, dir), "vec_id", "embedding", maxHamming = 3)),
    // downweight-instead-of-drop over the linear star-edge components
    "b_soft_dedup" -> ((s, dir) =>
      DedupOps.softDedupWeightsFromReps(
        Tables.documents(s, dir), "text", "doc_id", 0.6)),
    // production CDC census twin of q230 (xxhash64 chunk keys — only
    // 64-bit keys cross the census exchange, vs the oracle's strings)
    "b_cdc_dup" -> ((s, dir) =>
      DedupOps.cdcDupStats(
        Tables.documents(s, dir)
          .filter(col("text").isNotNull && length(col("text")) > 0),
        "text", "doc_id")),
    // production bootstrap twin of q232 (xxhash64 draws — the md5
    // portable draw is the oracle's, ~20x the per-draw cost)
    "b_bootstrap_xxh" -> ((s, dir) =>
      graft.ops.StatsOps.poissonBootstrapCI(
        Tables.events(s, dir), "value", "event_id", reps = 40,
        uniform = graft.ops.StatsOps.xxhUniform, exact = false,
        parallelism = Some(32))),
    "b_exact_dedup" -> ((s, dir) =>
      DedupOps.exactDupGroups(Tables.documents(s, dir), "text", "doc_id")),
    // the exact-dedup DECISION form: kept rows via a broadcastable
    // losers anti-join (full rows never shuffle)
    "b_exact_keepers" -> ((s, dir) =>
      DedupOps.exactKeepers(Tables.documents(s, dir), "text", "doc_id")),
    "b_approx_distinct" -> ((s, dir) =>
      Tables.lineitem(s, dir).groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey")).as("n"))),
    // production-hash masking (q33/q37 pin the portable-hash semantics;
    // these time the xxhash64 family the engine defaults to at scale)
    "b_mlm_mask_xxh" -> ((s, dir) => {
      val tokIds = transform(split(col("text"), " "),
        t => pmod(xxhash64(t), lit(1000)).cast("int"))
      val m = MaskingOps.mlmMaskXxhFused(tokIds, col("doc_id"),
        maskProb = 0.25, maskToken = 999999, vocabSize = 1000)
      Tables.documents(s, dir).select(col("doc_id"),
        m.getField("ids").as("ids"), m.getField("labels").as("labels"))
    }),
    // end-to-end create_dataloaders shape: text branch (tokenize → id-map
    // → truncate/pad/attention-mask → MLM) joined to the frame branch
    // (slice → pad → frame-mask → MFM); the 2k-row frame side broadcasts.
    // Rows/s from this row is the engine's single-node ETL throughput
    // claim vs the reference's single-process pass (BASELINE.md).
    // Tokenization is WORDPIECE over the ~37k-entry synthetic vocab —
    // the reference's actual hot loop (data_helper.py:55-57,94 runs HF
    // BertTokenizer over three text fields per row), not the whitespace
    // floor (b_ws_tokenize times that separately).
    "b_pipeline_etl" -> ((s, dir) =>
      pipelineEtl(s, dir, pmod(col("doc_id"), lit(2000)) === col("vec_id"))),
    // the decade-measurable ETL: identical masking/tokenize work, but
    // the join is a plain doc_id = vec_id equi-join so BOTH sides (and
    // the join output) scale with the corpus — b_pipeline_etl's
    // pmod(doc_id, 2000) bridge caps its embeddings side at 2000 keys,
    // which made its round-9 decade ratio the most optimistic of the
    // five (BASELINE.md caveat); this row closes that caveat
    "b_pipeline_etl_full" -> ((s, dir) =>
      pipelineEtl(s, dir, col("doc_id") === col("vec_id"))),
    "b_mfm_mask_xxh" -> ((s, dir) => {
      val frames = transform(sequence(lit(0), lit(15)),
        f => slice(col("embedding"), f * 4 + 1, lit(4)))
      val m = MaskingOps.mfmMask(frames, col("vec_id"), maskProb = 0.25,
        rng = MaskingOps.Xxh)
      Tables.embeddings(s, dir).select(col("vec_id"),
        m.getField("frames").as("frames"), m.getField("labelIdx").as("label_idx"))
    }),
    // dedup scaling curve: the same decision-path operators over 1/4 and
    // 1/2 key-split slices of the fixture; with the full-table rows
    // (b_minhash_lsh, b_minhash_incremental) these give the empirical
    // wall-clock-per-doubling check that the plans are ~linear in docs
    // (VERDICT r4 #3) — growth ratios recorded in BASELINE.md.
    "b_minhash_lsh_x1" -> ((s, dir) =>
      DedupOps.dedupKeepers(docSlice(s, dir, 1), "text", "doc_id", 0.6)),
    "b_minhash_lsh_x2" -> ((s, dir) =>
      DedupOps.dedupKeepers(docSlice(s, dir, 2), "text", "doc_id", 0.6)),
    "b_minhash_incr_x1" -> ((s, dir) => incrementalOn(docSlice(s, dir, 1))),
    "b_minhash_incr_x2" -> ((s, dir) => incrementalOn(docSlice(s, dir, 2))),
    // the fixpoint operator: same linear plan per pass, pass count
    // data-dependent (duplicate-dense fixture converges in 2-3); each
    // pass reports (survivors, seconds) into the bench JSON's diag
    // field so a total-time swing is attributable to pass count vs
    // per-pass cost from the artifact alone
    "b_minhash_converged" -> ((s, dir) =>
      DedupOps.dedupKeepersConverged(Tables.documents(s, dir), "text", "doc_id", 0.6,
        onPass = (p, n, sec) =>
          convergedPasses.synchronized { convergedPasses += ((p, n, sec)) })),
    // fp16-packed embedding scan vs the fp32 array scan (SURVEY §1.2):
    // identical sum-of-squares reduce over every element, differing
    // only in storage encoding — the delta is the codec's scan win,
    // the setup's stderr line records the byte ratio. At 100 TB the
    // packed form halves the dominant multimodal payload.
    "b_fp16_scan" -> ((s, dir) =>
      s.read.parquet(precomputedFp16Path(s, dir))
        .select(graft.functions.Fp16.unpackFp16(col("emb16")).as("v"))
        .select(aggregate(col("v"), lit(0.0),
          (a, x) => a + x.cast("double") * x.cast("double")).as("ss"))
        .agg(sum(col("ss")).as("total_ss"))),
    "b_fp32_scan" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("embedding").as("v"))
        .select(aggregate(col("v"), lit(0.0),
          (a, x) => a + x.cast("double") * x.cast("double")).as("ss"))
        .agg(sum(col("ss")).as("total_ss"))),
    // the single-pass cluster-semantics twin of b_minhash_converged:
    // ONE tokenize/band/verify sweep + long-only star contraction —
    // the pass-count dependence of the fixpoint form is gone, which is
    // the point of recording both
    "b_minhash_components" -> ((s, dir) =>
      DedupOps.dedupKeepersByComponents(
        Tables.documents(s, dir), "text", "doc_id", 0.6)),
    // the standing-deployment incremental form: corpus bucket reps were
    // PRECOMPUTED to parquet (untimed, in the row's setup — the once-per-
    // corpus-version cost), so this row times what a daily batch
    // actually pays: O(batch) banding + rep verify + within-batch
    // keepers, never touching corpus text. Contrast with
    // b_minhash_incremental, which rebuilds the reps in-row.
    "b_minhash_incr_precomp" -> ((s, dir) => {
      val reps = DedupOps.CorpusReps(s.read.parquet(precomputedRepsPath(s, dir)))
      val docs = Tables.documents(s, dir)
      DedupOps.dedupIncremental(
        reps, docs.filter(pmod(xxhash64(col("doc_id")), lit(5)) === 0),
        "text", "doc_id", 0.6)
    }),
    // the removal verb of the standing reps (opt-out/contamination on
    // the dedup leg, next to b_ivf_pq_delete and b_lsh_delete): a 10%
    // id slice removed from the SAME precomputed reps frame
    // b_minhash_incr_precomp serves from — keep side is a broadcast
    // anti-join over the reps, promoted buckets re-derived by one
    // narrow banded pass over the remaining corpus. The row times
    // removal-to-served-frame latency; the once-per-version reps build
    // stays in the untimed setup, exactly like the serving row.
    "b_reps_remove" -> ((s, dir) => {
      val reps = DedupOps.CorpusReps(s.read.parquet(precomputedRepsPath(s, dir)))
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter(pmod(xxhash64(col("doc_id")), lit(5)) =!= 0)
      DedupOps.removedBucketReps(reps, corpus,
        corpus.filter(pmod(xxhash64(col("doc_id")), lit(10)) === 3)
          .select("doc_id"),
        "text", "doc_id")
    }),
    // the reference's hot ETL operation: WordPiece over every document
    // (data_helper.py tokenizes 3 text fields per row this way) with a
    // realistic-size vocab; b_ws_tokenize is the whitespace floor the
    // CodegenFallback is compared against in BASELINE.md.
    // decontamination at production hash (xxhash64 gram keys; the 5%
    // key-split eval side broadcasts, train text never shuffles)
    "b_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      CurationOps.decontaminate(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0),
        "text", "doc_id", n = 3)
    }),
    // corpus-frequent span scrub at production hash (heavy-hitter set
    // broadcast; doc text filtered map-side, never shuffled)
    "b_span_scrub" -> ((s, dir) =>
      CurationOps.scrubFrequentSpans(
        Tables.documents(s, dir), "text", m = 4, minCount = 2)),
    // paragraph-level first-occurrence dedup (ownership = min packed
    // long per span hash; text moves only in the id-keyed rebuild join)
    "b_span_dedup" -> ((s, dir) =>
      CurationOps.dedupSpans(Tables.documents(s, dir), "text", "doc_id", m = 4)),
    // bigram-LM perplexity, model trained on the same corpus (counts
    // shuffle 64-bit keys; scoring joins longs; text never shuffles)
    "b_perplexity" -> ((s, dir) =>
      CurationOps.perplexitySelf(Tables.documents(s, dir), "text", "doc_id")),
    // order-3 stupid backoff at the production hash: three count
    // trainings + five long-keyed joins per scored position
    "b_stupid_backoff" -> ((s, dir) =>
      CurationOps.stupidBackoffSelf(Tables.documents(s, dir), "text", "doc_id")),
    // corpus BLEU at the production (fused sorted-hash) overlap over
    // ref/perturbed pairs — four clipped orders + one aggregate
    "b_bleu" -> ((s, dir) => {
      val toks = graft.ops.TextOps.whitespaceTokenize(col("text"))
      val cand = concat_ws(" ", transform(toks, (t, i) =>
        when(pmod(xxhash64(col("doc_id"), i), lit(10L)) < 9, t)
          .otherwise(lit("xx"))))
      graft.ops.EvalMetrics.bleuCorpus(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("text").as("ref"), cand.as("cand")),
        "ref", "cand", maxN = 4, fused = true)
    }),
    // bounded-buffer top-k per group vs the full window sort — same
    // result (q136 proves it), k x tasks rows shuffled per group
    "b_topk_group" -> ((s, dir) =>
      graft.ops.SearchOps.topKPerGroup(
        Tables.events(s, dir), "event_type", "value", "event_id", k = 10)),
    // the window twin, timed for the comparison (shuffles + sorts
    // every row of every group)
    "b_topk_group_window" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("value").desc, col("event_id"))
      Tables.events(s, dir)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select("event_type", "rank", "event_id", "value")
    }),
    // unigram-LM induction (SentencePiece shape): seed + 3 hard-EM
    // rounds on the distinct-word dictionary, then encode the corpus
    // via the segmented dictionary broadcast
    "b_unigram_lm" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val model = graft.ops.UnigramLmOps.unigramTrain(
        d, "text", vocabSize = 512, maxPieceLen = 6,
        seedSize = 2000, rounds = 3)
      graft.ops.UnigramLmOps.unigramEncode(d, "text", "doc_id", model, 6)
    }),
    // PCA: one treeAggregate covariance pass (no row amplification) +
    // driver Jacobi + unrolled-chain projection
    "b_pca" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val model = graft.ops.VectorOps.pcaTrain(e, "embedding", 64, k = 8)
      graft.ops.VectorOps.pcaProject(e, "embedding", model)
    }),
    // T5 span corruption in one fused pass over md5-tokenized docs
    "b_span_corrupt" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        graft.functions.SpanCorruptMd5.spanCorruptMd5(
          transform(graft.ops.TextOps.whitespaceTokenize(col("text")),
            t => pmod(xxhash64(t), lit(32000L)).cast("int")),
          col("doc_id").cast("string")).as("sc"))),
    // JL ±1 random projection 64 -> 16: constant sign matrix folded
    // into codegen, pure per-row chains, zero shuffles
    "b_random_project" -> ((s, dir) =>
      graft.ops.VectorOps.randomProject(
        Tables.embeddings(s, dir), "embedding", inDim = 64, outDim = 16)),
    // exact two-sample KS over the full event-value stream: value-dim
    // collapse + range-partitioned prefix scan (no unpartitioned window)
    "b_ks_drift" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      graft.ops.DriftOps.ksStatistic(
        e.filter(col("user_id") % 2 === 0).select(col("value")),
        e.filter(col("user_id") % 2 === 1).select(col("value")), "value")
    }),
    // embedding-level MMD drift: one fused MatVec projection pass per
    // side, F-row mean frames, constant-size combine
    "b_mmd_drift" -> (ExtensionQueries.q148 _),
    // greedy token-budget packing (narrow shuffle + typed per-shard fold)
    "b_pack_sequences" -> ((s, dir) =>
      CurationOps.packSequences(Tables.documents(s, dir), "source", "doc_id",
        size(graft.ops.TextOps.whitespaceTokenize(col("text"))), budget = 256L)),
    "b_wordpiece_tokenize" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        graft.functions.WordPieceTokenize.wordpiece(col("text"), syntheticVocab).as("ids"))),
    "b_ws_tokenize" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        graft.ops.TextOps.whitespaceTokenize(col("text")).as("toks"))),
    // embedding-cosine dedup DECISION path (keep/drop per vector via
    // hyperplane-LSH buckets, cosine verify at the bucket join) — the
    // scale counterpart of the pairwise q23 oracle form
    "b_cosine_dedup" -> ((s, dir) =>
      DedupOps.cosineKeepers(Tables.embeddings(s, dir), "embedding", "vec_id", 0.95)),
    // spherical k-means, 2 Lloyd rounds (per round: one narrow fused
    // assignment pass + a k-row partial agg + a k x dim driver collect)
    "b_kmeans" -> ((s, dir) =>
      SimilarityOps.kmeansAssign(Tables.embeddings(s, dir),
        "embedding", "vec_id", k = 16, iters = 2, dim = 64)),
    // SemDeDup: cluster then verify each doc against its cluster rep
    // only — ONE cosine per doc vs the LSH path's bands
    "b_semdedup" -> ((s, dir) =>
      DedupOps.semDedupKeepers(Tables.embeddings(s, dir),
        "embedding", "vec_id", minCosine = 0.7, k = 16, iters = 2, dim = 64)),
    // prototype-based diversity pruning: k-means + keep the cap
    // farthest-from-centroid members per cluster (k-row broadcast join,
    // cluster-partitioned ranking window)
    "b_cluster_sample" -> ((s, dir) =>
      SimilarityOps.clusterDiversitySample(Tables.embeddings(s, dir),
        "embedding", "vec_id", k = 16, iters = 2, dim = 64, cap = 200)),
    // duplicate-cluster labels at the production hash: MinHash verified
    // pairs -> alternating star contraction (per round: (long, long)
    // shuffles over an edge set that shrinks every round)
    "b_dup_components" -> ((s, dir) =>
      DedupOps.dupComponents(
        Tables.documents(s, dir).select("doc_id"), "doc_id",
        DedupOps.minHashDedup(Tables.documents(s, dir), "text", "doc_id",
          threshold = 0.6, bands = 4, rowsPerBand = 4))),
    // the PRODUCTION component path: verified (member, bucket-rep)
    // star edges — O(docs x bands) edges, no pair list — into the same
    // star contraction (the pair form above keeps the quadratic floor
    // visible for comparison; q69 pins the oracle)
    "b_dup_components_reps" -> ((s, dir) =>
      DedupOps.dupComponentsFromReps(
        Tables.documents(s, dir).select("doc_id", "text"), "text", "doc_id",
        threshold = 0.6, bands = 4, rowsPerBand = 4)),
    // hard-negative mining at the production plan (hyperplane-LSH
    // candidates, same-label candidates rejected AT the bucket join
    // before any cosine; q79 pins the brute-force baseline)
    "b_hard_negatives" -> ((s, dir) =>
      SimilarityOps.hardNegativesLsh(Tables.embeddings(s, dir), k = 5)),
    // incremental-ingest snapshot diff: ONE co-partitioned full-outer
    // join of two corpus-sized versions, output ∝ churn (~20% here)
    "b_snapshot_diff" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      graft.ops.DiffOps.snapshotDiff(
        d.filter(graft.core.PortableHash.uniform01(col("doc_id"), lit("bo")) < 0.95),
        d.filter(graft.core.PortableHash.uniform01(col("doc_id"), lit("bn")) < 0.95)
          .withColumn("lang",
            when(graft.core.PortableHash.uniform01(col("doc_id"), lit("bc")) < 0.1,
              concat(col("lang"), lit("-x"))).otherwise(col("lang"))),
        Seq("doc_id"), Seq("lang", "n_chars"))
    }),
    // temperature-balanced mixture sampling: |strata|-row ordered-fold
    // weight dim broadcast back, per-row hash-vs-rate codegen filter —
    // zero corpus shuffles
    "b_temperature_mix" -> ((s, dir) =>
      graft.ops.MixOps.temperatureSample(Tables.documents(s, dir),
        "lang", "doc_id", budget = 200L, seed = 13L)),
    // ROUGE-2 over lang-adjacent pairs: the fused production form
    // (sorted gram-hash multisets + two-pointer clipped overlap) after
    // one lang-partitioned lead window; the string-exact HOF twin is
    // pinned by q82 and the differential spec
    "b_rouge2" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy("doc_id")
      val pairs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("text").as("ref_text"))
        .withColumn("cand_text", lead(col("ref_text"), 1).over(w))
        .filter(col("cand_text").isNotNull)
      graft.ops.EvalMetrics.rougeNFused(pairs, "ref_text", "cand_text", n = 2)
        .select("doc_id", "overlap", "rouge_f1")
    }),
    // sliding-window aggregation (1h window, 30min hop — the tumbling
    // plan times the hop factor, one (key, window) keyed shuffle)
    "b_sliding_window" -> (ExtensionQueries.q74 _),
    // grid-bucketed range join (purchases × 30-min view windows): the
    // range predicate runs inside a (user, cell) equi-join — work is
    // O(points + intervals×2 + matches), never the per-key cross
    // product
    "b_range_join" -> (ExtensionQueries.purchaseViewPairs _),
    // Count-Min sketch build + probe: one corpus pass, map-side
    // partial sketches merged through a ≤ depth×width-row exchange,
    // probes against the broadcast cell frame
    "b_cms_probe" -> (ExtensionQueries.q84 _),
    // HyperLogLog register build: per-partition registers merged by
    // max through a ≤ 2^b-row exchange — the constant-state distinct
    // count at any corpus size
    "b_hll_registers" -> (ExtensionQueries.q85 _),
    // two-pass heavy hitters: MG k-bounded buffers (k x tasks rows
    // cross the exchange), exact recount of <= k candidates
    "b_heavy_hitters" -> (ExtensionQueries.q156 _),
    // KMV cross-source overlap: two k-bounded Aggregator passes (the
    // exchange carries k longs per map task, never the distinct key
    // stream), then constant-size set algebra over <= 2k rows
    "b_kmv_overlap" -> (ExtensionQueries.q143 _),
    // sketch-based join-size estimation: two one-pass CMS key grids
    // (<= depth*width rows each), inner product + min fold — the
    // "how big is this join?" answer without running the join
    "b_join_size_est" -> (ExtensionQueries.q144 _),
    // multi-touch attribution: per-user range join + one conv-keyed
    // window, channel rollup dim
    "b_attribution" -> (ExtensionQueries.q150 _),
    // blocked record linkage: block-keyed self-join, fused JW compare
    // inside the generated stage; per-block quadratic by contract
    "b_jaro_linkage" -> (ExtensionQueries.q155 _),
    // Markov removal-effect: two keyed windows -> |states|^2 dim ->
    // constant driver fold (8 truncated matrix-vector steps)
    "b_markov_attr" -> (ExtensionQueries.q152 _),
    // gap-fill resample: grid explode + ONE keyed sorted window pass
    // (as-of union trick, no per-point probe join)
    "b_resample" -> ((s, dir) =>
      graft.ops.TrendOps.resampleInterpolate(
        Tables.events(s, dir), "user_id", "ts", "value", stepSec = 21600L)),
    // exact weighted median: RANGE-frame cumulative DECIMAL sums
    "b_weighted_median" -> (ExtensionQueries.q158 _),
    // CDC merge-apply: one keyed log window + one full-outer key join
    "b_cdc_apply" -> ((s, dir) => {
      val changes = Tables.orders(s, dir)
        .filter(col("o_custkey") % 5 === 0)
        .select(col("o_custkey").as("c_custkey"),
          col("o_orderdate").as("ts"),
          when(col("o_orderkey") % 10 < 2, "D").otherwise("U").as("op"),
          concat(lit("upd#"), col("o_orderkey")).as("c_name"),
          col("o_totalprice").as("c_acctbal"))
      graft.ops.DiffOps.applyChanges(
        Tables.customer(s, dir).select("c_custkey", "c_name", "c_acctbal"),
        changes, "c_custkey", "ts", "op", Seq("c_name", "c_acctbal"))
    }),
    // item-to-item top-k: q98 pair machinery + one item-keyed window
    "b_item_neighbors" -> (ExtensionQueries.q160 _),
    // ordered conversion funnel: k tiny user-keyed passes over events
    // pruned to each step's type; intermediates are (user, ts) pairs
    "b_funnel" -> ((s, dir) =>
      graft.ops.FunnelOps.funnelCounts(Tables.events(s, dir),
        "user_id", "ts", "event_type",
        Seq("signup", "view", "click", "purchase"))),
    // gap-constrained window funnel: per level one grid-bucketed range
    // join of step events vs live anchor windows + (user, anchor) min
    "b_window_funnel" -> (ExtensionQueries.q94 _),
    // cohort retention grid: two user-keyed shuffles + one grid-keyed
    // distinct; output |cohorts| x |periods|, independent of volume
    "b_cohort_retention" -> (ExtensionQueries.q87 _),
    // Bloom membership build + probe: one corpus pass to the ≤ m-row
    // bit frame, probes against the broadcast bits
    "b_bloom_probe" -> (ExtensionQueries.q88 _),
    // native streaming corr — the scale path a production user runs
    // when cross-engine bit-parity isn't required (q91's decimal
    // sufficient-statistic form is the portable twin)
    "b_corr_native" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(corr(col("l_quantity"), col("l_extendedprice"))
          .as("corr_qty_price"))),
    // gaps-and-islands: one (user, ts) sort + per-island agg
    "b_islands" -> (ExtensionQueries.q96 _),
    // cohort LTV: (cohort, age) revenue grid + one cohort-keyed
    // running-sum window, sizes on a broadcast
    "b_cohort_ltv" -> (ExtensionQueries.q167 _),
    // Kaplan-Meier: per-user lifetime agg + two cohort-keyed windows
    "b_kaplan_meier" -> (ExtensionQueries.q166 _),
    // SCD2 dimension build: change-collapse lag + interval lead share
    // one keyed sort (single exchange for both windows)
    "b_scd2" -> (ExtensionQueries.q145 _),
    // market-basket pair rules: distinct (basket, item) first, pairs
    // via the basket-keyed self-join, supports broadcast back
    "b_market_basket" -> (ExtensionQueries.q98 _),
    // one-pass dataset profile: 4x|cols| partial cells, EXPAND distincts
    "b_profile" -> (ExtensionQueries.q95 _),
    // PSI drift gate between two derived corpus versions: two
    // |categories|-row count dims + 1-row broadcast totals
    "b_drift_psi" -> ((s, dir) => {
      val (oldDf, newDf) = ExtensionQueries.langVersions(s, dir, "bd", 0.95, 0.1)
      graft.ops.DriftOps.categoricalDrift(oldDf, newDf, "lang")
    }),
    // C4-style blocklist filter at production hash (sorted hashed list
    // on a 1-row broadcast, binary-search probe per token — pure
    // codegen'd filter in the scan stage)
    "b_blocklist" -> ((s, dir) =>
      graft.ops.CurationOps.blocklistFilter(
        Tables.documents(s, dir), "text", Seq("dup", "forbidden"))),
    // edit-distance fuzzy dedup at production hash (SimHash-banded
    // candidates, exact Levenshtein verify on the distinct pairs —
    // text crosses exactly the two verify joins)
    "b_edit_dedup" -> ((s, dir) =>
      DedupOps.editKeepers(Tables.documents(s, dir), "text", "doc_id",
        maxDist = 40)),
    // feature-hashed TF-IDF dense vectors at production hash (hashing
    // trick: dim bounds model size; text hashes at the explode)
    "b_tfidf_vectors" -> ((s, dir) =>
      graft.ops.SearchOps.hashedTfidf(
        Tables.documents(s, dir), "text", "doc_id", dim = 256)),
    // the text -> vector -> ANN composition: hashed tf-idf vectors fed
    // into hyperplane-LSH cosine top-k (lexical similarity search with
    // no pretrained embedding dependency). The vector frame is
    // persisted INSIDE the timed row: the self-join probes it from two
    // plan branches, and recomputing the multi-shuffle tf-idf per
    // branch times tokenization twice, not the ANN (19.6 s of the r6
    // row was exactly that plus the uncapped hot-bucket join) — at
    // scale the vectors are a materialized corpus artifact. maxBucket
    // 64 (not the 256 default): this fixture's 31-word vocab collapses
    // signatures into a handful of buckets BY CONSTRUCTION, the
    // degenerate case where a few dozen reps per (band, bucket) carry
    // all the recall that banding can deliver.
    "b_tfidf_ann" -> ((s, dir) =>
      graft.ops.SimilarityOps.lshCosineTopK(
        graft.ops.SearchOps.hashedTfidf(
          Tables.documents(s, dir), "text", "doc_id", dim = 256).persist(),
        k = 10, idCol = "doc_id", vecCol = "embedding", dim = 256,
        maxBucket = 64)),
    // exact-recall prefix-filtered Jaccard join (All-Pairs/PPJoin):
    // the deterministic sibling of b_minhash_pairs — pair OUTPUT is
    // quadratic on the dup-dense fixture by contract, but candidate
    // GENERATION touches only per-doc rarity prefixes. 0.7 keeps the
    // verified output to true near-dups on the 31-word-vocab fixture.
    "b_prefix_jaccard" -> ((s, dir) =>
      DedupOps.prefixJaccardPairs(
        Tables.documents(s, dir), "text", "doc_id", 0.7)),
    // directed containment at 0.9 with the posting cap engaged
    // (maxPosting 256): this fixture's 31-word vocabulary makes EVERY
    // token corpus-frequent — the degenerate case where the uncapped
    // container index is per-token quadratic (measured 53.9 s vs
    // ~4 s capped at sf0.1); the cap bounds candidates at probes × m,
    // the same occupancy contract as the LSH maxBucket
    "b_containment" -> ((s, dir) =>
      DedupOps.containmentPairs(
        Tables.documents(s, dir), "text", "doc_id", 0.9,
        maxPosting = 256)),
    // windowed co-occurrence PMI: pair stream is docLen x window per
    // doc (linear), then one (x, y) groupBy + vocab-sized broadcasts
    "b_pmi" -> (ExtensionQueries.q117 _),
    // graph family over the arithmetic corpus graph (3 edges/doc):
    // pagerank = 5 join+agg passes with localCheckpoint lineage cuts;
    // triangles = degree-oriented wedge join (hub-proof)
    "b_pagerank" -> (ExtensionQueries.q118 _),
    // alternating large/small-star CC (Kiveris et al.) on the same
    // arithmetic corpus graph: O(log^2 n) rounds, diameter-proof
    "b_cc_alternating" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val n = d.count()
      val e = d.select(col("doc_id").as("src"),
          ((col("doc_id") + 1) % n).as("dst"))
        .union(d.select(col("doc_id"), (col("doc_id") * 7 + 11) % n))
        .filter(col("src") =!= col("dst"))
      graft.ops.GraphOps.connectedComponentsAlternating(e, "src", "dst")
    }),
    "b_triangles" -> (ExtensionQueries.q119 _),
    // BPE tokenizer induction: 20 merge rounds — every round is
    // vocab-sized (distinct words), the corpus is scanned once
    "b_bpe_train" -> ((s, dir) => {
      val (_, vocab) = graft.ops.BpeOps.bpeTrain(
        Tables.documents(s, dir), "text", 20)
      vocab
    }),
    // classifier-evaluation gauges: AUC rides the range-partitioned
    // sort + zipWithIndex rank pattern (no unpartitioned window); ECE
    // is one keyed agg to <= 10 bins
    "b_auc" -> (ExtensionQueries.q112 _),
    "b_calibration" -> (ExtensionQueries.q113 _),
    // the standing ANN deployment: today's query batch (key-split 20%)
    // against the PERSISTED bucketed LSH index — corpus side comes off
    // the bucketed scan with no exchange; build cost paid once per
    // corpus version in the row's setup (precomputedLshIndex)
    "b_lsh_indexed" -> ((s, dir) => {
      val t = precomputedLshIndex(s, dir)
      SimilarityOps.lshSearchIndexed(
        Tables.embeddings(s, dir)
          .filter(pmod(xxhash64(col("vec_id")), lit(5)) === 0), t, k = 10)
    }),
    // the removal verb of the standing LSH index: tombstone-write of a
    // 10% id set (O(ids), no index read) + the b_lsh_indexed search on
    // the tombstoned table, so the row times delete-to-effect latency
    // including the serving anti-join — directly comparable to
    // b_lsh_indexed (the same search tombstone-free). Dedicated index
    // + setup-hook tombstone clear, like b_ivf_pq_delete.
    "b_lsh_delete" -> ((s, dir) => {
      val t = precomputedLshDeleteIndex(s, dir)
      SimilarityOps.deleteFromLshIndex(
        Tables.embeddings(s, dir)
          .filter(pmod(xxhash64(col("vec_id")), lit(10)) === 3)
          .select("vec_id"), t)
      SimilarityOps.lshSearchIndexed(
        Tables.embeddings(s, dir)
          .filter(pmod(xxhash64(col("vec_id")), lit(5)) === 0), t, k = 10)
    }),
    // retrieval evaluation at production scale: the LSH run list
    // scored against an arithmetic judgment dim (bounded 200-doc
    // qrels per query by construction — the evaluation-dim contract)
    "b_ranking_metrics" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val runs = SimilarityOps.lshCosineTopK(e, k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      val qrels = e.select(col("vec_id").as("query_id"))
        .crossJoin(e.filter(col("vec_id") < 200).select(col("vec_id").as("doc_id")))
        .withColumn("rel", {
          val r = pmod(col("query_id") * 7 + col("doc_id") * 13, lit(11))
          when(r >= 9, 2).when(r >= 6, 1).otherwise(0)
        })
      graft.ops.SearchOps.rankingMetrics(runs, qrels, k = 10)
    }),
    // C4 line-level cleaning + Gopher rule flags: per-row column
    // algebra, zero shuffles — the pre-dedup curation gate pair
    "b_c4_line_filter" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        graft.ops.TextAnalysis.c4LineFilter(col("text")).as("c"))),
    "b_gopher_quality" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        graft.ops.TextAnalysis.gopherQualityFlags(col("text")).as("g"))),
    // per-doc character entropy (the gibberish gate): per-char explode
    // with a map-side-combined (doc, char) count — text never shuffles
    "b_char_entropy" -> (ExtensionQueries.q244 _),
    // classifier-based quality filtering: multinomial NB train+predict
    // (model broadcasts; text hashes map-side; id-keyed numeric shuffles)
    "b_nb_classifier" -> ((s, dir) =>
      graft.ops.CurationOps.nbClassify(
        Tables.documents(s, dir), "text", "doc_id", "lang")),
    // DSIR importance weights at production hash (bucket distributions
    // are broadcast dims; target = the key-split 1/5 slice)
    "b_dsir" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ops.CurationOps.dsirLogWeights(docs, "text", "doc_id",
        target = docs.filter(pmod(xxhash64(col("doc_id")), lit(5)) === 0),
        buckets = 4096)
    }),
    // CCNet head/middle/tail split at the production hash: bigram-LM
    // ppl + tercile cutoffs on a 1-row broadcast
    "b_ppl_buckets" -> ((s, dir) =>
      graft.ops.CurationOps.quantileBuckets(
        graft.ops.CurationOps.perplexitySelf(
          Tables.documents(s, dir), "text", "doc_id"),
        "ppl", "doc_id", Seq(1.0 / 3, 2.0 / 3),
        Seq("head", "middle", "tail"))),
    // end-to-end corpus-curation shape — the composed 100 TB workload:
    // language-ID + quality score as NARROW column work pruned before
    // the (shuffling) dedup decision, so the expensive stage only sees
    // the survivors. Thresholds chosen to keep most of the fixture.
    "b_corpus_curation" -> ((s, dir) => {
      import graft.ops.{TextAnalysis, TextOps}
      val kept = Tables.documents(s, dir)
        .withColumn("lang", TextAnalysis.langId(TextOps.whitespaceTokenize(col("text"))))
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .filter(col("quality") >= 0.2)
      DedupOps.dedupKeepers(kept, "text", "doc_id", 0.6)
    }),
    // the FULL production curation chain — every stage a real corpus
    // pass at its production hash: quality+repetition gate → PII scrub
    // → frequent-span scrub → exact dedup → MinHash near-dedup →
    // benchmark decontamination → per-bucket cap → weighted sample →
    // sequence packing. This is the 100 TB deployment story in one row.
    // Stage-boundary persistence: each decision stage consumes its
    // input 2-3× (losers join + anti-join diamonds), so an unmaterialized
    // chain re-runs ALL upstream stages multiplicatively (~50× the
    // corpus scan by the last stage; measured 14 s → 1.4 s at sf0.01).
    // At 100 TB these boundaries are the parquet checkpoints a real
    // pipeline writes between stages. The bench harness sweeps the
    // caches after the row.
    //
    // Each stage boundary is forced EAGERLY via localCheckpoint and its
    // (survivors, wall) reported into the JSON diag field (VERDICT r12
    // #5: the 139–272 s clean-run range at 100× needs a
    // stage-attributable breakdown). localCheckpoint, not persist: the
    // chain's logical plans NEST — by the tail each action re-pays
    // Catalyst analysis of the whole upstream tree, ~2-3 s of pure
    // DRIVER time per boundary at any data scale (measured; caches were
    // hit, planning dominated) — while checkpointing truncates lineage
    // to a LogicalRDD, so every stage plans only itself. This is also
    // the production shape the original comment described: a real
    // pipeline writes parquet checkpoints between stages and each stage
    // plans against the checkpoint, never the cumulative query tree.
    // diag passes 1–5 = gate+PII / span-scrub / exact-dedup /
    // near-dedup / decontaminate, result_sec = cap+sample+pack.
    "b_curation_full" -> ((s, dir) => {
      import graft.ops.{SplitOps, TextAnalysis, TextOps}
      def staged(i: Int)(df: DataFrame): DataFrame = {
        val t0 = System.nanoTime()
        val p = df.localCheckpoint(true)
        val n = p.count()
        convergedPasses.synchronized {
          convergedPasses += ((i, n, (System.nanoTime() - t0) / 1e9))
        }
        p
      }
      val docs = Tables.documents(s, dir)
      val rep = TextAnalysis.repetitionSignals(col("text"))
      val gated = staged(1)(docs
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .filter(col("quality") >= 0.2 &&
          rep.getField("top_bigram_frac") <= 0.9)
        .withColumn("text", CurationOps.scrubPii(col("text"))))
      val scrubbed = staged(2)(CurationOps.scrubFrequentSpans(gated, "text", 4, 2))
      val exact = staged(3)(DedupOps.exactKeepers(scrubbed, "text", "doc_id"))
      val near = staged(4)(DedupOps.dedupKeepers(exact, "text", "doc_id", 0.6))
      val decon = staged(5)(CurationOps.decontaminate(
        near.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0), "text", "doc_id", 3))
      val balanced = CurationOps.capBuckets(
        decon, Seq("lang", "source"), col("n_chars"), "doc_id", 8)
      val sampled = SplitOps.weightedSample(
        balanced, "doc_id", col("n_chars") / lit(400.0), 42L)
      CurationOps.packSequences(sampled, "source", "doc_id",
        size(TextOps.whitespaceTokenize(col("text"))), 256L)
    }))

  /** The two `b_pipeline_etl` rows: text side (WordPiece → truncate/pad
    * → attention mask → MLM) joined to the frame side (slice → pad →
    * frame mask → MFM) on `joinOn`.
    */
  private def pipelineEtl(s: SparkSession, dir: String, joinOn: Column): DataFrame = {
    import graft.ops.{TextOps, VectorOps}
    val ids = graft.functions.WordPieceTokenize.wordpiece(col("text"), syntheticVocab)
    val textSide = Tables.documents(s, dir)
      .select(col("doc_id"), ids.as("ids0"))
      .withColumn("ids_t", TextOps.padTo(slice(col("ids0"), 1, 256), 256))
      .withColumn("att", TextOps.attentionMask(col("ids0"), 256))
    val mlm = MaskingOps.mlmMaskXxhFused(col("ids_t"), col("doc_id"),
      maskProb = 0.25, maskToken = 999999, vocabSize = syntheticVocab.size)
    val frames = transform(sequence(lit(0), lit(15)),
      f => slice(col("embedding"), f * 4 + 1, lit(4)))
    val frameSide = Tables.embeddings(s, dir).select(col("vec_id"),
      VectorOps.padFrames(frames, 16, 4).as("frames"),
      VectorOps.frameMask(frames, 16).as("fmask"))
    val mfm = MaskingOps.mfmMask(col("frames"), col("vec_id"),
      maskProb = 0.25, rng = MaskingOps.Xxh)
    textSide.join(frameSide, joinOn)
      .select(col("doc_id"),
        mlm.getField("ids").as("mlm_ids"), mlm.getField("labels").as("mlm_labels"),
        col("att"),
        mfm.getField("frames").as("mfm_frames"),
        mfm.getField("labelIdx").as("mfm_label_idx"),
        col("fmask"))
  }

  /** 1/4 or 1/2 key-split slice of the documents fixture (parts of 4). */
  private def docSlice(s: SparkSession, dir: String, parts: Int): DataFrame =
    Tables.documents(s, dir).filter(pmod(xxhash64(col("doc_id")), lit(4)) < parts)

  /** Per-pass (pass, survivors, seconds) reported by the converged
    * fixpoint row — cleared before the run, emitted as the JSON `diag`
    * field.
    */
  private val convergedPasses =
    scala.collection.mutable.ArrayBuffer[(Int, Long, Double)]()

  /** Parquet path of the precomputed corpus bucket reps for
    * `b_minhash_incr_precomp`, written once per sf dir into the
    * [[Scratch]] store: exactly the "compute once per corpus version,
    * persist alongside the corpus" deployment the operator documents.
    * The 80% key-split corpus matches b_minhash_incremental's.
    */
  private[graft] def precomputedRepsPath(s: SparkSession, dir: String): String =
    Scratch.dir(s"reps:$dir") { out =>
      val docs = Tables.documents(s, dir)
      DedupOps.corpusBucketReps(
          docs.filter(pmod(xxhash64(col("doc_id")), lit(5)) =!= 0), "text", "doc_id")
        .write.mode("overwrite").parquet(out)
    }

  /** Once-per-corpus-version fp16 re-encode of the embeddings table
    * (the SURVEY §1.2 storage lever): written in the row's setup so
    * `b_fp16_scan` times the SCAN+decode+reduce path a packed store
    * actually pays, not the one-time conversion. The fp32 twin row
    * `b_fp32_scan` reads the original `array<float>` parquet — the
    * recorded delta IS the codec's scan-side win, and the on-disk
    * byte ratio is printed once to stderr for BASELINE.md.
    */
  private[graft] def precomputedFp16Path(s: SparkSession, dir: String): String =
    Scratch.dir(s"fp16:$dir") { out =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          graft.functions.Fp16.packFp16(col("embedding")).as("emb16"))
        .write.mode("overwrite").parquet(out)
      def bytes(p: String): Long = {
        val f = new java.io.File(p)
        if (f.isFile) f.length
        else f.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
      }
      val raw = bytes(s"$dir/embeddings.parquet")
      val packed = bytes(out)
      System.err.println(
        f"[bench] fp16 embeddings: $packed%d B packed vs $raw%d B fp32 " +
          f"(${raw.toDouble / packed}%.2fx smaller)")
    }

  /** Once-per-corpus-version LSH index build (the [[precomputedRepsPath]]
    * deployment pattern for ANN): bucketed table per sf dir, built in
    * the row's setup so `b_lsh_indexed` times the per-batch SEARCH only.
    */
  private[graft] def precomputedLshIndex(s: SparkSession, dir: String): String =
    lshTable(s, "graft_bench_lsh_idx_", dir)

  /** A DEDICATED index table for `b_lsh_delete` (the
    * [[precomputedIvfPqDeleteBase]] discipline): its tombstones must
    * never suppress rows in the searches `b_lsh_indexed` times, and
    * the benchSetups hook drops the tombstone table before every
    * attempt so each measures the same one-batch delete.
    */
  private[graft] def precomputedLshDeleteIndex(s: SparkSession, dir: String): String =
    lshTable(s, "graft_bench_lsh_del_", dir)

  /** The LSH index is a managed catalog table, so its [[Scratch]]
    * entry only memoises the build; the entry's directory stays empty.
    */
  private def lshTable(s: SparkSession, prefix: String, dir: String): String = {
    val t = prefix + java.lang.Long.toHexString(dir.hashCode.toLong & 0xffffffffL)
    Scratch.dir(s"lsh:$t:$dir")(_ => SimilarityOps.writeLshIndex(Tables.embeddings(s, dir), t))
    t
  }

  /** Once-per-corpus-version IVF-PQ index build (the
    * [[precomputedLshIndex]] pattern for the compressed-index leg):
    * built in the row's setup so `b_ivf_pq_indexed` times the per-batch SEARCH
    * only — the deployment shape where training is the ingest
    * pipeline's cost, not the query path's.
    */
  private[graft] def precomputedIvfPqIndex(s: SparkSession, dir: String): String =
    Scratch.dir(s"ivfpq_idx:$dir")(pinnedIvfPqIndex(Tables.embeddings(s, dir), _))

  /** nlist for every pinned IVF-PQ bench row: 32 at every scale, the
    * pin that keeps decade readings comparable. The deployment
    * configuration (nlist grown with the corpus, BASELINE.md's nlist
    * contract) is its own row, `b_ivf_pq_indexed_sqrtn`.
    */
  private val ivfPqNlist = 32

  private def pinnedIvfPqIndex(corpus: DataFrame, out: String): Unit =
    PqOps.ivfPqIndex(corpus, out, nlist = ivfPqNlist, m = 8, ksub = 16, dim = 64)

  /** A SEPARATE standing index (over the 80% key split) that
    * `b_ivf_pq_append` appends into — separate so the append's side
    * effect can never grow the corpus `b_ivf_pq_indexed` searches.
    * Append cost is O(batch) by contract (existing codes never read),
    * so re-appending across timed attempts does not distort the row.
    */
  private[graft] def precomputedIvfPqAppendBase(s: SparkSession, dir: String): String =
    Scratch.dir(s"ivfpq_ab:$dir")(pinnedIvfPqIndex(
      Tables.embeddings(s, dir).filter(pmod(xxhash64(col("vec_id")), lit(5)) =!= 0), _))

  /** The DEPLOYMENT-contract index (VERDICT r11 #6): nlist ≈ √n
    * self-configured from the corpus size — 45 at sf0.1's 2k vectors,
    * 141 at 10×, 447 at 100× — so `b_ivf_pq_indexed_sqrtn` carries the
    * nlist contract in every sweep instead of one-off env-pinned runs.
    * nprobe stays 4: the contract holds per-probe list size ≈ √n, so
    * per-query candidates stay ~4√n while the pinned-32 row's grow ∝ n.
    */
  private[graft] def precomputedIvfPqSqrtIndex(s: SparkSession, dir: String): String =
    Scratch.dir(s"ivfpq_sq:$dir") { out =>
      val e = Tables.embeddings(s, dir)
      val nlist = math.max(16, math.round(math.sqrt(e.count().toDouble)).toInt)
      PqOps.ivfPqIndex(e, out, nlist = nlist, m = 8, ksub = 16, dim = 64)
    }

  /** A dedicated full-corpus index for `b_ivf_pq_delete` — separate so
    * its tombstones can never suppress rows in the searches other
    * bench rows time ([[precomputedIvfPqIndex]] stays tombstone-free).
    */
  private[graft] def precomputedIvfPqDeleteBase(s: SparkSession, dir: String): String =
    Scratch.dir(s"ivfpq_db:$dir")(pinnedIvfPqIndex(Tables.embeddings(s, dir), _))

  /** A dedicated compaction target in its genuinely-scattered shape
    * (VERDICT r11 advice): index over the 80% split + 3 appended
    * batches (the 20% split in thirds) = 4 codes file sets, then the
    * scattered codes dir SNAPSHOTTED so [[benchSetups]] can restore the
    * identical pre-compaction layout before every timed attempt.
    * Returns (indexDir, snapshotDir). Local file copies: the bench
    * harness stages local fixtures by contract (the operator itself
    * goes through the Hadoop FileSystem API).
    */
  private[graft] def precomputedIvfPqCompactBase(
      s: SparkSession, dir: String): (String, String) = {
    val idx = Scratch.dir(s"ivfpq_cb:$dir") { out =>
      val e = Tables.embeddings(s, dir)
      val h = pmod(xxhash64(col("vec_id")), lit(15))
      pinnedIvfPqIndex(e.filter(h % 5 =!= 0), out)
      for (b <- Seq(0, 5, 10))
        PqOps.ivfPqAppend(e.filter(h === b), out)
    }
    val snap = Scratch.dir(s"ivfpq_cs:$dir") { out =>
      FileUtils.copyDirectory(new java.io.File(idx, "codes"), new java.io.File(out, "codes"))
    }
    (idx, snap)
  }

  /** UNTIMED per-attempt setup, run immediately before every warm and
    * timed invocation of its row: builds the once-per-corpus-version
    * precompute the row reads ([[Scratch]]-memoised, so only the first
    * call builds) and restores the precondition the row's rationale
    * claims to measure. b_ivf_pq_compact restores the scattered
    * 4-file-set codes layout — without this, the first invocation's
    * rewrite leaves every later attempt re-compacting an
    * already-consolidated index (the r11 advice finding). A subset run
    * builds only what its rows read.
    */
  private[graft] val benchSetups: Map[String, (SparkSession, String) => Unit] = Map(
    "b_minhash_incr_precomp" -> ((s, dir) => { precomputedRepsPath(s, dir); () }),
    "b_reps_remove" -> ((s, dir) => { precomputedRepsPath(s, dir); () }),
    "b_fp16_scan" -> ((s, dir) => { precomputedFp16Path(s, dir); () }),
    "b_lsh_indexed" -> ((s, dir) => { precomputedLshIndex(s, dir); () }),
    "b_ivf_pq_indexed" -> ((s, dir) => { precomputedIvfPqIndex(s, dir); () }),
    "b_ivf_pq_indexed_sqrtn" -> ((s, dir) => { precomputedIvfPqSqrtIndex(s, dir); () }),
    "b_ivf_pq_append" -> ((s, dir) => { precomputedIvfPqAppendBase(s, dir); () }),
    "b_ivf_pq_compact" -> ((s, dir) => {
      val (idx, snap) = precomputedIvfPqCompactBase(s, dir)
      val codes = new java.io.File(idx, "codes")
      FileUtils.deleteDirectory(codes)
      FileUtils.copyDirectory(new java.io.File(snap, "codes"), codes)
    }),
    // b_ivf_pq_delete restores the tombstone-free state so every
    // attempt times the same one-batch delete, not an accumulation
    "b_ivf_pq_delete" -> ((s, dir) => {
      FileUtils.deleteDirectory(
        new java.io.File(precomputedIvfPqDeleteBase(s, dir), "tombstones"))
    }),
    // same contract for the LSH leg: drop the catalog tombstone table
    // (managed, so the drop removes its directory too)
    "b_lsh_delete" -> ((s, dir) => {
      val tomb = s"${precomputedLshDeleteIndex(s, dir)}__tombstones"
      if (s.catalog.tableExists(tomb)) s.sql(s"DROP TABLE $tomb")
    }))

  /** Per-row readings of the committed clean record, for the sweep-end
    * burst re-check: a reading >1.5× its committed predecessor with no
    * code change is far more likely a contention burst than a real
    * regression — re-measure before recording it. Absent/unparseable
    * file → empty map (first run, or a fresh checkout).
    */
  private def priorRecord(): Map[String, Double] = {
    val f = new java.io.File("bench_out", "latest.json")
    if (!f.isFile) Map.empty
    else try {
      val root = new ObjectMapper().readTree(f)
      val q = root.get("queries")
      if (q == null) Map.empty
      else {
        val b = Map.newBuilder[String, Double]
        val it = q.fields()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue.isNumber && e.getValue.asDouble() > 0)
            b += e.getKey -> e.getValue.asDouble()
        }
        b.result()
      }
    } catch { case _: Throwable => Map.empty }
  }

  /** The b_minhash_incremental shape over an arbitrary doc set. */
  private def incrementalOn(docs: DataFrame): DataFrame = {
    val part = pmod(xxhash64(col("doc_id")), lit(5))
    DedupOps.dedupIncremental(
      docs.filter(part =!= 0), docs.filter(part === 0), "text", "doc_id", 0.6)
  }

  /** Deterministic ~37k-entry WordPiece vocabulary: specials, digits,
    * all 1-3 letter pieces in word-initial and `##` continuation form —
    * same order of size as the reference's 21,128-entry BERT vocab, and
    * every word tokenizes through the greedy longest-match loop (no
    * single-token fast path), so the recorded number is a conservative
    * throughput claim. Driver-built once; rides the serialized plan
    * exactly like the real vocab file would.
    */
  private[graft] lazy val syntheticVocab: Seq[String] = {
    val l1 = ('a' to 'z').map(_.toString)
    val l2 = for (a <- l1; b <- l1) yield a + b
    val l3 = for (a <- l2; b <- l1) yield a + b
    val words = l1 ++ l2 ++ l3
    Seq("[PAD]", "[UNK]", "[CLS]", "[SEP]") ++
      ('0' to '9').map(_.toString) ++ words ++ words.map("##" + _)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build(appName = "graft-bench")
    // warmup: pay the one-time session/codegen/scan setup outside the
    // per-query timings (otherwise the first query absorbs ~5s of it);
    // the once-per-corpus-version precomputes are built by the
    // [[benchSetups]] entries of the rows that read them
    Tables.lineitem(spark, sfDir).count()
    Tables.events(spark, sfDir).count()
    Tables.documents(spark, sfDir).count()
    Tables.embeddings(spark, sfDir).count()
    // per-row plan-family warmup dir: each timed row first runs once at
    // the 10× smaller fixture (see the loop below) so Janino compilation
    // of its generated classes and C2 JIT of its hot decode/agg loops
    // are paid OUTSIDE the timing. At cluster scale both amortize to
    // zero; at local bench scale they are 0.5-4 s per plan family and
    // land on whichever row of the family runs FIRST — which is exactly
    // how round 5's ordering artifacts arose. The warm run must happen
    // IMMEDIATELY before its timed row, not in one big pre-pass: the
    // whole-stage-codegen class cache holds ~100 entries, so a 60-plan
    // warmup sweep evicts the early rows' classes again before they're
    // timed (measured: +4.5 s back on q01 with a pre-pass warmup, at
    // baseline with the per-row form). sf0.001 is also too small to
    // warm with: ~600 rows never crosses the JIT compile threshold.
    val warmDirFile = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01")
    val warmDir = if (warmDirFile.isDirectory) Some(warmDirFile.toString) else None
    // the gate-checked oracle q-family runs FIRST, then the heavy b_*
    // scale rows — alphabetical order inside each family. Round 5
    // recorded ~110s of b_* rows ahead of q01 and a leaked cache riding
    // through them; family order plus the per-row cache sweep below
    // makes the record insensitive to what the heavy rows do.
    // optional row filter (args(0) = comma-separated name list): run a
    // subset while iterating on one operator without paying the full
    // sweep. The driver passes no args — full run.
    val only: Option[Set[String]] = args.headOption.map(_.split(",").toSet)
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    val ordered =
      (SparkEntry.queries.view.filterKeys(!excluded.contains(_)).toSeq.sortBy(_._1) ++
        scaleBenches.toSeq.sortBy(_._1)).filter(t => wanted(t._1))
    // CONTENTION-PROOF TIMING (VERDICT r7 #1): the r7 artifact recorded
    // 2-9x phantom regressions on ~14 rows because a single timed run
    // on a busy box records whatever the box was doing, not what the
    // operator costs. Each row is now timed TWICE (the first timed run
    // doubles as steady-state warmup for the second); if the two
    // disagree by >30% a third attempt adjudicates. The recorded value
    // is the MIN (the least-contended observation — the only one that
    // is a property of the code), and the max/min spread across
    // attempts is emitted per row so a reader can see from the JSON
    // alone which rows were measured under noise. The documented
    // quadratic oracle validators (gate-excluded by contract) run once:
    // re-measuring a 20 s validator buys nothing the gate reads.
    val singleRun = Set(
      "b_minhash_pairs", "b_dup_components", "b_prefix_jaccard",
      "b_containment")
    def timeOnce(name: String, fn: (SparkSession, String) => DataFrame)
        : (Double, Option[String], List[(Int, Long, Double)]) = {
      // untimed precondition restore (e.g. re-scatter the compaction
      // target) — setup cost is the fixture's, never the operator's.
      // Guarded like the fn call (r12 advice): a setup failure (disk
      // full mid-copy, a vanished fixture) is THAT ROW's error,
      // recorded and reported — not an exception that aborts the sweep
      // and loses every other row's reading.
      try benchSetups.get(name).foreach(su => su(spark, sfDir)) catch {
        case e: Throwable =>
          System.err.println(
            s"[bench] $name SETUP FAILED: ${e.getClass.getName}: ${e.getMessage}")
          return (0.0, Some("setup:" + e.getClass.getSimpleName), Nil)
      }
      convergedPasses.clear()
      val t0 = System.nanoTime()
      val err = try { force(fn(spark, sfDir)); None } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
          Some(e.getClass.getSimpleName)
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // leak-free harness: drop anything the row persisted (e.g.
      // dedupKeepersConverged's materialized result, whose release is
      // the caller's job by contract) so no cache or storage-memory
      // pressure rides into later rows. Outside the timing: releasing
      // a row's caches is harness hygiene, not operator cost.
      // localCheckpoint blocks live as plain persistent RDDs that
      // clearCache never touches — release those too (cross-row
      // precomputes are parquet by design, never RDD storage).
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      val passes = convergedPasses.synchronized(convergedPasses.toList.sortBy(_._1))
      (sec, err, passes)
    }
    // canary gauge: q01 re-timed every `canaryEvery` rows; if the box
    // degrades mid-run the canary series shows WHEN, and a drift beyond
    // 1.5x marks the whole artifact contended (the r7 failure mode,
    // detectable from the JSON alone).
    val canaryFn = SparkEntry.queries.get("q01_pricing_summary")
    val canaryEvery = 20
    val canarySecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    // the canary is min-of-2 like every gated row: a single-sample
    // gauge can itself catch a one-off spike (or the run-start JIT
    // warmup) and mark a quiet run contended — the gauge must be less
    // noisy than what it gauges. The FIRST canary additionally gets an
    // untimed warm pass: a run-start sample pays q01's cold scan/codegen
    // at a fresh fixture dir and reads ~2× on a quiet box (round 11).
    def runCanary(): Unit = canaryFn.foreach { fn =>
      if (canarySecs.isEmpty) {
        try force(fn(spark, sfDir)) catch { case _: Throwable => () }
        spark.sharedState.cacheManager.clearCache()
      }
      val ok = Seq(timeOnce("canary_q01", fn), timeOnce("canary_q01", fn))
        .filter(_._2.isEmpty)
      if (ok.nonEmpty) canarySecs += ok.map(_._1).min
    }
    // warm a row's plan family at warmDir, then drop whatever it cached;
    // warm failures are ignored (the timed run reports them)
    def warm(name: String, fn: (SparkSession, String) => DataFrame): Unit =
      warmDir.foreach { wd =>
        benchSetups.get(name).foreach(su =>
          try su(spark, wd) catch { case _: Throwable => () })
        try force(fn(spark, wd)) catch { case _: Throwable => () }
        spark.sharedState.cacheManager.clearCache()
      }
    // (name, min seconds, spread max/min, error, diag passes of the min
    // attempt): failures are REPORTED, never silently recorded as a
    // plausible timing.
    val firstPass = ordered.zipWithIndex.map { case ((name, fn), i) =>
      if (i % canaryEvery == 0 && only.isEmpty) runCanary()
      warm(name, fn)
      val attempts = scala.collection.mutable.ArrayBuffer(timeOnce(name, fn))
      if (attempts.head._2.isEmpty && !singleRun.contains(name)) {
        attempts += timeOnce(name, fn)
        val secs = attempts.map(_._1)
        if (secs.max / secs.min > 1.3) attempts += timeOnce(name, fn)
      }
      val ok = attempts.filter(_._2.isEmpty)
      if (ok.isEmpty) {
        val (sec, err, passes) = attempts.head
        (name, fn, sec, 1.0, err, passes)
      } else {
        val best = ok.minBy(_._1)
        val spread = ok.map(_._1).max / best._1
        (name, fn, best._1, spread, None, best._3)
      }
    }
    // BURST RE-CHECK (VERDICT r9 #1): a noise burst long enough to span
    // a row's back-to-back attempts defeats min-of-N taken at one point
    // in time — the r9 record carried b_minhash_converged at 2.7× and
    // q157_rfm at 2.6× their real cost with zero code change. At sweep
    // end (minutes later, outside any burst window that polluted the
    // row) re-run any row whose attempts disagreed by >2× OR whose
    // reading exceeds the prior committed record by >1.5×, and keep the
    // min of ALL attempts. Subset runs skip this (they never write the
    // record).
    val prior = priorRecord()
    val results = firstPass.map { case (name, fn, sec, spread, err, passes) =>
      val suspect = err.isEmpty && !singleRun.contains(name) && only.isEmpty &&
        (spread > 2.0 || prior.get(name).exists(p => p > 0.05 && sec > p * 1.5))
      if (!suspect) (name, sec, spread, err, passes)
      else {
        System.err.println(
          f"[bench] burst re-check: $name%s read $sec%.2f s " +
            f"(spread $spread%.2f, prior ${prior.getOrElse(name, -1.0)}%.2f) - re-running")
        warm(name, fn)
        val extra = Seq(timeOnce(name, fn), timeOnce(name, fn))
          .filter(_._2.isEmpty)
        if (extra.isEmpty) (name, sec, spread, err, passes)
        else {
          val all = (sec, passes) +: extra.map(t => (t._1, t._3))
          val best = all.minBy(_._1)
          val hi = math.max(sec * spread, extra.map(_._1).max)
          (name, best._1, hi / best._1, err, best._2)
        }
      }
    }
    if (only.isEmpty) runCanary()
    val streaming =
      if (only.exists(names => !names.exists(_.startsWith("s_")))) Nil
      else streamingBenches(spark, sfDir).filter(t => wanted(t._1))
    val allTimings = results.map { case (k, v, _, e, _) => (k, v, e) } ++
      streaming.map { case (k, v, _, e, _) => (k, v, e) }
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("metric", "total")
    root.put("value", allTimings.collect { case (_, v, None) => v }.sum)
    root.put("unit", "sec")
    val qs = root.putObject("queries")
    allTimings.foreach { case (k, v, err) =>
      if (err.isDefined) qs.put(k, -1) else qs.put(k, v)
    }
    val errs = root.putObject("errors")
    for ((k, _, Some(m)) <- allTimings) errs.put(k, m)
    val stateRows = root.putObject("streaming_state_rows")
    streaming.foreach { case (k, _, st, _, _) => stateRows.put(k, st) }
    // per-row max/min across timed attempts (1.0 = attempts agreed or
    // single-run row; -1.0 = a streaming row whose SECOND try errored —
    // the sentinel keeps a half-failed row distinguishable from
    // "attempts agreed") — the from-the-JSON contention witness;
    // streaming rows carry one too (min-of-2 replays since round 10)
    val spreads = root.putObject("spread")
    (results.map { case (k, _, sp, _, _) => (k, sp) } ++
      streaming.map { case (k, _, _, _, sp) => (k, sp) })
      .foreach { case (k, sp) => spreads.put(k, math.round(sp * 100.0) / 100.0) }
    val canaryDrift =
      if (canarySecs.size >= 2) canarySecs.max / canarySecs.min else 1.0
    // the verdict flags SUSTAINED degradation, not a single burst: one
    // 2x canary sample in a 30-minute run pollutes at most the rows in
    // its window — and those are already exposed by their own spread
    // column — while a polluted RUN shows a drifted median or repeated
    // spikes. The full series and the max/min drift stay in the JSON,
    // so a reader can always re-judge from the artifact alone.
    val contended = canarySecs.size >= 2 && {
      val sorted = canarySecs.sorted
      val median = sorted(sorted.size / 2)
      val spikes = canarySecs.count(_ > sorted.head * 1.5)
      median / sorted.head > 1.5 || spikes >= 3
    }
    val canary = root.putObject("canary")
    val canaryArr = canary.putArray("secs")
    canarySecs.foreach(s => canaryArr.add(math.round(s * 1000.0) / 1000.0))
    canary.put("drift", math.round(canaryDrift * 100.0) / 100.0)
    canary.put("contended", contended)
    val diag = root.putObject("diag")
    for ((name, rowSec, _, _, ps) <- results if ps.nonEmpty) {
      // pass 0 is the prep stage (tokenize + band-hash + persist);
      // result_sec is the remainder of the row — the final keeper
      // materialize (VERDICT r7 #7: diag parts must sum to ~ the row
      // total so an artifact swing is attributable from the JSON alone)
      val (prep, passes) = ps.partition(_._1 == 0)
      val prepSec = prep.headOption.map(_._3).getOrElse(0.0)
      val accounted = prepSec + passes.map(_._3).sum
      val d = diag.putObject(name)
      d.put("prep_sec", prepSec)
      d.put("passes", passes.length)
      val secs = d.putArray("pass_secs")
      passes.foreach(p => secs.add(p._3))
      val survivors = d.putArray("pass_survivors")
      passes.foreach(p => survivors.add(p._2))
      d.put("result_sec", math.max(0.0, rowSec - accounted))
    }
    // the gate-exclusion list rides in the artifact so tools/doccheck.py
    // can verify "every registry key has a bench row" without a
    // hand-mirrored copy of this set (r12 advice)
    val excl = root.putArray("excluded")
    excluded.toSeq.sorted.foreach(n => excl.add(n))
    root.put("sf", sfDir)
    val json = mapper.writeValueAsString(root)
    println(json)
    // VERDICT r6 #5: the driver's stdout capture truncates long runs
    // (BENCH_r06.json lost the whole q-family to a 2 KB tail), so the
    // gate must be verifiable from a committed artifact. Full runs
    // (no row filter) also write the complete JSON line into the repo.
    if (only.isEmpty) {
      val out = new java.io.File("bench_out")
      out.mkdirs()
      // VERDICT r8 #3: latest.json is the repo's verifiable clean
      // record — a contended run must never overwrite it. Contended
      // full runs land in latest_contended.json (kept for forensic
      // comparison, never committed as the record).
      val target = if (contended) "latest_contended.json" else "latest.json"
      java.nio.file.Files.write(
        new java.io.File(out, target).toPath,
        (json + "\n").getBytes("UTF-8"))
      if (contended)
        System.err.println(
          "bench: canary verdict CONTENDED - wrote bench_out/" + target +
            "; latest.json left untouched. Re-run on a quiet box.")
    }
    spark.stop()
  }

  /** Structured-Streaming rows at bench scale: the sf events table is
    * re-laid as an 8-file directory in the [[Scratch]] store and driven through the
    * streaming operators as a REAL file stream — 4 micro-batches
    * (maxFilesPerTrigger=2, AvailableNow), memory sink. Each row
    * records (name, min-of-2 wall-clock s, max state rows across the
    * min try's progress reports, error, spread) — state staying
    * bounded (≈ distinct keys / open windows, NOT input rows) is the
    * scale claim, recorded in BASELINE.md alongside the timings.
    */
  private def streamingBenches(
      spark: SparkSession, sfDir: String): Seq[(String, Double, Long, Option[String], Double)] = {
    // Each replay is a directory of part files in the [[Scratch]]
    // store (per run, so two concurrent bench invocations on one box
    // never overwrite each other's stream input mid-run). The file
    // source replays in mtime order and breaks ties by path, but
    // parallel write tasks finish in any order, so the part files get
    // strictly increasing mtimes in file-name order: which rows share
    // a micro-batch is then the same on every run.
    def relay(key: String, df: DataFrame): String = Scratch.dir(s"$key:$sfDir") { out =>
      df.write.mode("overwrite").parquet(out)
      new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .zipWithIndex.foreach { case (f, i) => f.setLastModified(1000000L * (i + 1)) }
    }
    val streamDir = relay("stream", graft.core.Tables.events(spark, sfDir).repartition(8))
    // time-ORDERED re-lay for the watermarked row: with the hash-random
    // layout above every file spans the whole time range, so the
    // watermark can evict nothing until the end (measured: state 3,598
    // of 3,600 — the recorded number said "no eviction" about the
    // REPLAY, not the operator). Real ingest arrives roughly in event
    // time: range-partition by ts.
    val streamDirOrdered = relay("stream_ord", graft.core.Tables.events(spark, sfDir)
      .repartitionByRange(8, col("ts")).sortWithinPartitions("ts"))

    // the documents table re-laid the same way for the dedup-state
    // rows, plus an opt-out stream: the 10% key slice re-arrives as
    // removals with ords ABOVE every ingest ord, so a removal shares a
    // micro-batch with its content's ingest only in remove-after-ingest
    // order — the realistic opt-out arrival
    val docsStreamDir = relay("docstream", graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("doc_id").cast("long").as("ord"))
      .repartition(8))
    val remStreamDir = relay("remstream", graft.core.Tables.documents(spark, sfDir)
      .filter(pmod(xxhash64(col("doc_id")), lit(10)) === 3)
      .select(col("doc_id"), col("text"),
        (col("doc_id") + lit(1000000000L)).cast("long").as("ord"))
      .repartition(8))

    // the re-laid temp dirs were written from the normalized batch frame,
    // so `ts` is already a proper TimestampType — no conversion needed
    def srcFrom(dir: String): DataFrame = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(dir)
    def src: DataFrame = srcFrom(streamDir)

    // state partitions sized to per-trigger THROUGHPUT, not core count
    // (VERDICT r14 #2; StreamingOps.sizeStatePartitions documents the
    // rule): 8 files, maxFilesPerTrigger=2 → 4 triggers per replay.
    // The counts are metadata-cheap (the tables were counted in the
    // warmup) and the value is derived from the DATA, so the 8- and
    // 32-core driver runs size identically — the scaling measurement
    // compares compute, not state-store overhead.
    val eventStateParts = StreamingOps.sizeStatePartitions(
      graft.core.Tables.events(spark, sfDir).count() / 4)
    val docStateParts = StreamingOps.sizeStatePartitions(
      graft.core.Tables.documents(spark, sfDir).count() / 4)

    def runOnce(name: String, tryIdx: Int, df: DataFrame, mode: String,
        stateParts: Int): (Double, Long, Option[String]) = {
      // a fresh memory-sink queryName per try: a second start() with
      // the same name is not re-entrant (and the first try's sink
      // table would otherwise ride as memory pressure into the second)
      val sink = s"${name}__t$tryIdx"
      val t0 = System.nanoTime()
      try {
        val (table, maxState, _) =
          graft.core.PlanOps.withShufflePartitions(spark, stateParts) {
            StreamingOps.runToMemoryStats(df, sink, mode)
          }
        // force the sink so the timing covers materialization
        table.count()
        val sec = (System.nanoTime() - t0) / 1e9
        spark.catalog.dropTempView(sink)
        (sec, maxState, None)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
          (-1.0, -1L, Some(e.getClass.getSimpleName))
      }
    }
    // min-of-2 with a recorded spread, like the batch rows (VERDICT r9
    // #3: the only unexplained r9 deltas were streaming rows with no
    // spread column to adjudicate them). Each try replays the stream
    // from scratch (AvailableNow + a throwaway checkpoint), so the
    // second try is a true independent observation; `df` is by-name so
    // each try builds a fresh plan.
    def run(name: String, df: => DataFrame, mode: String,
        stateParts: Int = eventStateParts)
        : (String, Double, Long, Option[String], Double) = {
      val a = runOnce(name, 1, df, mode, stateParts)
      if (a._3.isDefined) (name, a._1, a._2, a._3, 1.0)
      else {
        val b = runOnce(name, 2, df, mode, stateParts)
        if (b._3.isDefined)
          // try 1 succeeded, try 2 errored: spread -1 is the SENTINEL
          // for "second attempt failed", never to be confused with 1.0
          // = "attempts agreed" (the spread column is the record's
          // honesty witness; a swallowed half-failure would defeat it)
          (name, a._1, a._2, None, -1.0)
        else (name, math.min(a._1, b._1),
          (if (a._1 <= b._1) a else b)._2, None,
          math.max(a._1, b._1) / math.min(a._1, b._1))
      }
    }

    Seq(
      // complete mode: no watermark on the batch-parity tumbling agg;
      // state = one row per (hour, event_type) window ever seen
      run("s_tumbling_1h", StreamingOps.tumblingCounts(src), "complete"),
      // the run-forever form: watermarked append over the time-ordered
      // replay — closed windows are emitted once and EVICTED, so state
      // tracks the open-window horizon (contrast with s_tumbling_1h's
      // every-window-ever state row)
      run("s_tumbling_1h_wm",
        StreamingOps.tumblingCountsAppend(srcFrom(streamDirOrdered), "2 hours"),
        "append"),
      // watermark-bounded session windows, append on close
      run("s_session_30m", StreamingOps.sessionCounts(src, "30 minutes", "1 hour"), "append"),
      // O(1)-per-key EMA state via flatMapGroupsWithState
      run("s_ema_by_key",
        StreamingOps.streamingEma(src, "user_id", "event_id", "value", 0.9), "append"),
      // the run-forever form: event-time idle TTL over the time-ordered
      // replay — keys silent while the watermark advances 2h past their
      // last batch are EVICTED (state tracks recently-active keys, not
      // keys-ever-seen; on this fixture every user stays active, so the
      // recorded state equals live keys and the row times the timeout
      // bookkeeping overhead vs s_ema_by_key)
      run("s_ema_ttl",
        StreamingOps.streamingEma(srcFrom(streamDirOrdered), "user_id", "event_id",
          "value", 0.9, tsCol = "ts", watermarkDelay = "30 minutes",
          idleTtlMs = 2L * 3600 * 1000), "append"),
      // O(1)-per-key running TWAP (last observation + two accumulators;
      // state rows = live keys, never input size)
      run("s_twap",
        StreamingOps.streamingTwap(src, "user_id", "ts", "value"), "append"),
      // running mean + bootstrap CI per event_type: O(B)-per-group
      // state (2B+2 sums), the per-row replicate draws staged upstream
      // in codegen (xxh production hashes; one gauge per group per
      // micro-batch)
      run("s_bootstrap_gauge",
        StreamingOps.streamingBootstrapGauge(src, "event_type", "ts",
          "value", "event_id", reps = 40, seed = "boot",
          uniform = graft.ops.StatsOps.xxhUniform), "append"),
      // live per-slice Misra-Gries top-k gauge: <= k (value, count)
      // pairs per group, re-emitted per micro-batch
      run("s_heavy_hitters",
        StreamingOps.streamingHeavyHitters(src, "event_type", "user_id",
          k = 16), "append"),
      // live funnel tracker: depth + chain ts per key (two fields),
      // hits emitted the moment a level completes
      run("s_funnel",
        StreamingOps.streamingFunnel(src, "user_id", "ts", "event_type",
          Seq("signup", "view", "click", "purchase")), "append"),
      // per-window drift monitor: TWO chained event-time aggs (append
      // mode, the Spark >= 3.4 multiple-stateful-operator feature);
      // state = open windows x categories, watermark-evicted on the
      // time-ordered replay
      run("s_drift",
        StreamingOps.streamingDrift(srcFrom(streamDirOrdered), "event_type",
          graft.core.Tables.events(spark, sfDir)
            .groupBy(col("event_type").as("cat"))
            .agg(count(lit(1)).as("n"))), "append"),
      // stream-stream interval self-join over the time-ordered replay:
      // watermark + horizon bound both sides' join state (state rows
      // track the retention window, never stream age)
      run("s_attribution",
        StreamingOps.streamingAttribution(srcFrom(streamDirOrdered),
          "view", "purchase", horizonSec = 1800L, watermark = "1 hour"),
        "append"),
      // the removal verb on the FOURTH standing state — the run-forever
      // dedup state: a live opt-out stream (10% key slice) purges
      // winner slots mid-stream without a query restart; state rows =
      // live contents (shrinks on winner removal, exact by spec)
      run("s_dedup_optout",
        StreamingOps.streamingExactDedupOptOut(
          srcFrom(docsStreamDir), srcFrom(remStreamDir),
          "text", "doc_id", "ord"),
        "append", docStateParts))
  }
}
