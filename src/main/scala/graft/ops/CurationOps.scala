package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators beyond dedup: benchmark decontamination,
  * corpus-frequent span removal, PII redaction, per-bucket balancing.
  * These are the standard large-LM data-pipeline stages (GPT-3
  * appendix C's 13-gram eval-overlap filter; CCNet/C4's repeated-span
  * removal; RefinedWeb's pipeline ordering: quality filter → span
  * scrub → dedup) re-expressed as Spark plans.
  *
  * Scale notes (100 TB): every operator here is designed so the CORPUS
  * TEXT never crosses an exchange — the small side (eval-set grams,
  * the frequent-span set, per-bucket caps) broadcasts, and only ids or
  * 64-bit hashes shuffle.
  */
object CurationOps {

  /** Order-aware word n-gram occurrence list (every occurrence, not the
    * distinct set — span counting needs multiplicity). Empty for texts
    * shorter than n tokens.
    */
  def ngramList(text: Column, n: Int): Column = {
    val toks = TextOps.whitespaceTokenize(text)
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** Distinct gram-key ARRAY of a text column — the decontamination
    * unit, as one fused generated pass
    * ([[graft.functions.ShingleHashes64]]: xxhash64 of each n-token
    * window, sorted distinct). The composable
    * `array_distinct(ngramList(...))` tower is interpreted HOFs — one
    * slice + concat allocation per window position per evaluation —
    * and oracles swap it back in with string/md5 keys via the
    * `gramKeys` parameter.
    */
  def defaultGramKeys(text: Column, n: Int): Column =
    graft.functions.ShingleHashes64.shingleHashes64(
      TextOps.whitespaceTokenize(text), n)

  /** Ids of training docs sharing at least one word n-gram with the
    * eval corpus's precomputed [[evalGramSet]] — GPT-3-style benchmark
    * decontamination (Brown et al. 2020, appendix C uses 13-grams; `n`
    * is the caller's contract).
    *
    * Plan shape at 100 TB: the eval side is benchmark-sized (at most
    * millions of grams), so its distinct gram-key set BROADCASTS; the
    * train side computes gram keys map-side and left-semi-joins against
    * the broadcast without any exchange of text or grams. `gramKeys`
    * defaults to the fused xxhash64 form; oracles pass a composable
    * string/md5 form.
    */
  def contaminatedIdsWithGramSet(
      train: DataFrame, gramSet: DataFrame,
      textCol: String, idCol: String, n: Int,
      gramKeys: (Column, Int) => Column = defaultGramKeys): DataFrame =
    // fanOutSmall: the gram hashing + broadcast probe is the heavy
    // stage and runs at the SCAN's parallelism — one task on a
    // single-split source (no-op at scale, guide §2.2)
    graft.core.PlanOps.fanOutSmall(train.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(gramKeys(col(textCol), n)).as("gk"))
      .join(broadcast(gramSet), Seq("gk"), "left_semi")
      .select(idCol).distinct()

  /** PII redaction patterns — deliberately restricted to regex syntax
    * with identical semantics in Java regex and RE2 (no backrefs, no
    * lookaround), so the DuckDB oracle replays them verbatim.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "(\\+?\\d{1,2}[-. ])?\\(?\\d{3}\\)?[-. ]\\d{3}[-. ]\\d{4}"

  /** PII scrub: emails → `<EMAIL>`, then IPv4 → `<IP>`, then phone
    * numbers → `<PHONE>` (email first — addresses embed digits; IP
    * before phone — a dotted phone can't be an IP because its trailing
    * 4-digit run defeats the word boundary, but the order makes intent
    * explicit). Pure codegen'd column algebra: zero shuffles, runs in
    * the scan's whole-stage-codegen span at any corpus size.
    */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Non-overlapping m-token spans of a doc, in order (the last span
    * may be shorter) — the flat-text analogue of CCNet's paragraph
    * unit for corpus-frequent span removal. Empty for empty texts.
    */
  def spanList(text: Column, m: Int): Column = {
    require(m >= 1, s"span length must be >= 1, got $m")
    val toks = TextOps.whitespaceTokenize(text)
    val nChunks = floor((size(toks) + lit(m - 1)) / lit(m)).cast("int")
    when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(toks, i * m + 1, lit(m)))))
  }

  /** Corpus-frequent spans: every m-token span occurring at least
    * `minCount` times across the corpus, as (span_key, n). Shuffles
    * only (64-bit key, partial count) pairs — map-side combine makes
    * the exchange proportional to distinct spans per partition, and
    * the text itself never moves.
    */
  def frequentSpans(
      df: DataFrame, textCol: String, m: Int, minCount: Long,
      spanKey: Column => Column = xxhash64(_)): DataFrame =
    graft.core.PlanOps.fanOutSmall(df.select(col(textCol)))
      .select(explode(spanList(col(textCol), m)).as("s"))
      .select(spanKey(col("s")).as("span_key"))
      .groupBy("span_key").agg(count("*").as("n"))
      .filter(col("n") >= minCount)

  /** CCNet/C4-style repeated-span scrub: rewrite `textCol` with every
    * corpus-frequent span removed (remaining spans re-joined in order,
    * other columns untouched). Docs made empty by the scrub are KEPT
    * with empty text — composing with a length filter is the caller's
    * policy decision. `spanKey` must produce a LONG key (default
    * xxhash64; [[graft.core.PortableHash.md5Long]] for oracles).
    *
    * Plan shape at 100 TB: the frequent-span set is the heavy-hitter
    * tail (≤ total spans / minCount, in practice tiny), aggregated to
    * ONE row SORTED, and broadcast; each doc then probes it for its own
    * spans map-side via binary search
    * ([[graft.functions.SortedLongContains]] — a linear array_contains
    * made this O(spans × |set|), measured 14× slower at sf0.1). Doc
    * text never crosses an exchange — the alternative (explode → join →
    * re-groupBy docs) would shuffle the whole corpus twice. If the
    * frequent set ever outgrows a broadcast, raise `minCount` or swap
    * the membership array for a Bloom filter; the rest of the plan is
    * unchanged.
    */
  def scrubFrequentSpans(
      df: DataFrame, textCol: String, m: Int, minCount: Long,
      spanKey: Column => Column = xxhash64(_)): DataFrame =
    scrubWithFrequentSpans(df,
      frequentSpans(df, textCol, m, minCount, spanKey), textCol, m, spanKey)

  /** [[scrubFrequentSpans]] against a PRECOMPUTED [[frequentSpans]]
    * frame (column `span_key`; read back from parquet in a real
    * deployment — compute once per corpus version, scrub every ingest
    * batch at O(batch)). Same broadcast + binary-search plan.
    */
  def scrubWithFrequentSpans(
      df: DataFrame, freq: DataFrame, textCol: String, m: Int,
      spanKey: Column => Column = xxhash64(_)): DataFrame = {
    import graft.functions.SortedLongContains.sortedLongContains
    // global agg: exactly one row even when nothing is frequent
    val bad = freq.agg(sort_array(collect_set(col("span_key"))).as("bad_spans"))
    // fanOutSmall on the FULL frame: the probe stage (span re-tokenize +
    // binary search per span + rebuild) is per-row heavy and otherwise
    // runs inside the single-task scan span
    graft.core.PlanOps.fanOutSmall(df).crossJoin(broadcast(bad))
      .withColumn(textCol, concat_ws(" ",
        filter(spanList(col(textCol), m),
          s => !sortedLongContains(col("bad_spans"), spanKey(s)))))
      .drop("bad_spans")
  }

  /** Positions (0-based) per span fit in 20 bits, so a span occurrence
    * packs into one long `id << 20 | pos` and "first occurrence" is a
    * plain `min` — see [[dedupSpans]].
    */
  private val SpanPosBits = 20

  /** CCNet-style paragraph-level dedup: rewrite `textCol` keeping, for
    * every distinct m-token span in the corpus, only its FIRST
    * occurrence — first = smallest (`idCol`, span position) — and
    * dropping every later copy (CCNet dedups at the paragraph hash
    * level before its LM filter; C4 drops repeated three-sentence
    * windows). Differs from [[scrubFrequentSpans]], which removes ALL
    * copies of frequent spans: here exactly one copy survives. Docs
    * whose every span lost are KEPT with empty text (composing with a
    * length filter is the caller's policy), and non-text columns pass
    * through untouched.
    *
    * Plan shape at 100 TB: the OWNERSHIP decision shuffles only
    * (span_key, packed-long occurrence) pairs — each occurrence packs
    * into `id << 20 | pos` (docs must have < 2^20 spans and nonnegative
    * ids `< 2^43`; a 100 TB corpus of billion-token docs would shard
    * first), so the winner per span is a map-side-combined `min`, never
    * an arg-min carrying text. Winners unpack back to (id, pos) ints
    * that regroup per doc, and the single exchange that moves document
    * text is the final id-keyed rebuild join — with id-bucketed docs
    * even that is exchange-free. `spanKey` must produce a LONG key
    * (default xxhash64; [[graft.core.PortableHash.md5Long]] for
    * oracles); a 64-bit collision merges two spans' ownership — the
    * same accepted contract as exact dedup's hash key.
    */
  def dedupSpans(
      df: DataFrame, textCol: String, idCol: String, m: Int,
      spanKey: Column => Column = xxhash64(_)): DataFrame = {
    val occ = df
      .select(col(idCol), posexplode(spanList(col(textCol), m)).as(Seq("pos", "s")))
      .select(spanKey(col("s")).as("k"),
        (col(idCol).cast("long") * lit(1L << SpanPosBits) + col("pos")).as("ord"))
    val kept = occ.groupBy("k").agg(min("ord").as("w"))
      .select(shiftright(col("w"), SpanPosBits).as("kid"),
        col("w").bitwiseAND(lit((1L << SpanPosBits) - 1)).cast("int").as("pos"))
    val keptPerDoc = kept.groupBy("kid")
      .agg(sort_array(collect_list(col("pos"))).as("kept_pos"))
    df.join(keptPerDoc, col(idCol).cast("long") === col("kid"), "left")
      .withColumn(textCol, concat_ws(" ",
        filter(spanList(col(textCol), m), (s, i) =>
          array_contains(coalesce(col("kept_pos"), array().cast("array<int>")), i))))
      .drop("kid", "kept_pos")
  }

  /** Per-position bigram occurrences of a text column as
    * `struct(w1, bg)` — `w1` the left token (the conditioning context),
    * `bg` the space-joined pair. Empty for texts shorter than two
    * tokens. Narrow (one pass over the token array, no shuffle).
    */
  def bigramOccurrences(text: Column): Column = {
    val toks = TextOps.whitespaceTokenize(text)
    val n = size(toks)
    when(n < 2, array().cast("array<struct<w1:string,bg:string>>"))
      .otherwise(zip_with(
        slice(toks, lit(1), n - 1), slice(toks, lit(2), n - 1),
        (a, b) => struct(a.as("w1"), concat(a, lit(" "), b).as("bg"))))
  }

  /** Corpus unigram counts as (tok_key, n) — the LM training pass of
    * [[perplexity]]. One map-side-combined shuffle of (64-bit key,
    * partial count); token strings hash BEFORE the exchange.
    */
  def lmUnigramCounts(
      df: DataFrame, textCol: String,
      tokenKey: Column => Column = xxhash64(_)): DataFrame =
    graft.core.PlanOps.fanOutSmall(df.select(col(textCol)))
      .select(explode(TextOps.whitespaceTokenize(col(textCol))).as("t"))
      .select(tokenKey(col("t")).as("tok_key"))
      .groupBy("tok_key").agg(count(lit(1)).as("n"))

  /** Corpus bigram counts as (bigram_key, n) — key = `tokenKey` of the
    * space-joined pair (unambiguous: whitespace tokens cannot contain
    * spaces). Same narrow-shuffle shape as [[lmUnigramCounts]].
    */
  def lmBigramCounts(
      df: DataFrame, textCol: String,
      tokenKey: Column => Column = xxhash64(_)): DataFrame =
    graft.core.PlanOps.fanOutSmall(df.select(col(textCol)))
      .select(explode(bigramOccurrences(col(textCol))).as("o"))
      .select(tokenKey(col("o.bg")).as("bigram_key"))
      .groupBy("bigram_key").agg(count(lit(1)).as("n"))

  /** Bigram-LM fluency scoring — the public re-derivation of CCNet's
    * KenLM perplexity filter (Wenzek et al. 2020 score docs with a
    * 5-gram KenLM and keep the low-perplexity tail; the model ORDER is
    * a quality knob, the pipeline shape is not). Scores each doc with
    * `(n_bigrams, nll, ppl)` under an add-one-smoothed bigram model:
    * `P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V)`, `nll` the mean negative
    * natural log-prob over the doc's bigram positions, `ppl = exp(nll)`
    * (lower = more fluent). Docs with fewer than two tokens have no
    * bigram positions and are absent from the output. V is the number
    * of distinct token KEYS in `uni` — under the 64-bit default a hash
    * collision undercounts V by its collision count, the same accepted
    * contract as exact dedup's hash key.
    *
    * Plan shape at 100 TB: count frames come from [[lmUnigramCounts]] /
    * [[lmBigramCounts]] — train ONCE per corpus version, persist to
    * parquet, score every ingest batch against them (the same standing
    * deployment as [[decontaminateWithGramSet]]). The scoring side
    * explodes to (id, tok_key, bigram_key) — three longs, strings hash
    * map-side — then joins the count frames on their 64-bit keys
    * (broadcast when the vocabulary fits, shuffle-of-longs otherwise;
    * V rides a one-row broadcast) and re-aggregates per doc. Document
    * text never crosses an exchange.
    */
  def perplexity(
      df: DataFrame, textCol: String, idCol: String,
      uni: DataFrame, bi: DataFrame,
      tokenKey: Column => Column = xxhash64(_)): DataFrame = {
    val v = uni.agg(count(lit(1)).as("v"))
    val occ = graft.core.PlanOps.fanOutSmall(
        df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(bigramOccurrences(col(textCol))).as("o"))
      .select(col(idCol), tokenKey(col("o.w1")).as("tok_key"),
        tokenKey(col("o.bg")).as("bigram_key"))
    occ
      .join(uni.withColumnRenamed("n", "c1"), Seq("tok_key"), "left")
      .join(bi.withColumnRenamed("n", "c2"), Seq("bigram_key"), "left")
      .crossJoin(broadcast(v))
      .select(col(idCol), log(
        (coalesce(col("c2"), lit(0L)) + lit(1L)).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("v")).cast("double")).as("lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        (-sum(col("lp")) / count(lit(1))).as("nll"))
      .withColumn("ppl", exp(col("nll")))
  }

  /** [[perplexity]] with the model trained on the scored corpus itself —
    * the CCNet bootstrap shape (score a crawl against its own
    * statistics when no curated LM corpus exists yet).
    */
  def perplexitySelf(
      df: DataFrame, textCol: String, idCol: String,
      tokenKey: Column => Column = xxhash64(_)): DataFrame =
    perplexity(df, textCol, idCol,
      lmUnigramCounts(df, textCol, tokenKey),
      lmBigramCounts(df, textCol, tokenKey), tokenKey)

  /** Per-position trigram contexts: for every position `i >= 2` a
    * struct carrying the five strings the stupid-backoff ladder needs —
    * `tri` = `w1 w2 w3`, its context `ctx2` = `w1 w2`, the backoff
    * bigram `b23` = `w2 w3` with its context `w2`, and the unigram
    * floor's `w3` (space-joined keys are unambiguous: whitespace tokens
    * cannot contain spaces). Pure column algebra over the token array —
    * nothing shuffles here.
    */
  def trigramOccurrences(text: Column): Column = {
    val toks = TextOps.whitespaceTokenize(text)
    val n = size(toks)
    val empty = "array<struct<ctx2:string,tri:string,w2:string,b23:string,w3:string>>"
    when(n < 3, array().cast(empty))
      .otherwise(zip_with(
        zip_with(slice(toks, lit(1), n - 2), slice(toks, lit(2), n - 2),
          (a, b) => struct(a.as("a"), b.as("b"))),
        slice(toks, lit(3), n - 2),
        (p, c) => struct(
          concat(p.getField("a"), lit(" "), p.getField("b")).as("ctx2"),
          concat(p.getField("a"), lit(" "), p.getField("b"), lit(" "), c).as("tri"),
          p.getField("b").as("w2"),
          concat(p.getField("b"), lit(" "), c).as("b23"),
          c.as("w3"))))
  }

  /** Corpus trigram counts as (trigram_key, n) — the order-3 training
    * pass of [[stupidBackoff]]. Same narrow-shuffle shape as
    * [[lmUnigramCounts]]: strings hash to 64-bit keys map-side, one
    * combined (key, partial count) exchange.
    */
  def lmTrigramCounts(
      df: DataFrame, textCol: String,
      tokenKey: Column => Column = xxhash64(_)): DataFrame =
    graft.core.PlanOps.fanOutSmall(df.select(col(textCol)))
      .select(explode(trigramOccurrences(col(textCol))).as("o"))
      .select(tokenKey(col("o.tri")).as("trigram_key"))
      .groupBy("trigram_key").agg(count(lit(1)).as("n"))

  /** Trigram fluency scoring under STUPID BACKOFF (Brants et al.,
    * EMNLP 2007 "Large Language Models in Machine Translation") — the
    * smoothing designed precisely for distributed count-table LMs:
    * no discount bookkeeping, just relative frequencies with a fixed
    * backoff multiplier λ = 0.4 (the published value),
    * `S(w3|w1 w2) = c(w1w2w3)/c(w1w2)` when the trigram was seen, else
    * `λ·c(w2w3)/c(w2)`, else the add-one unigram floor
    * `λ²·(c(w3)+1)/(N+V)` (the published form ends at `c(w3)/N`,
    * which is zero — hence log-undefined — for OOV tokens; the
    * add-one floor keeps every position finite and is the only
    * deviation, documented here). Output per doc:
    * `(n_trigrams, sb_nll, sb_ppl)` — mean negative log-score and its
    * exp, a perplexity-LIKE gauge (backoff scores are not normalized
    * probabilities; ranking docs by fluency is the contract, matching
    * how CCNet consumes its LM scores). Docs with < 3 tokens have no
    * positions and are absent.
    *
    * Plan shape at 100 TB: count frames train once per corpus version
    * ([[lmUnigramCounts]] / [[lmBigramCounts]] / [[lmTrigramCounts]],
    * persisted to parquet) and every scored position carries five
    * 64-bit keys — strings hash map-side, the five count joins are
    * long-keyed (broadcast when the tables fit, shuffle-of-longs
    * otherwise), totals ride a 1-row broadcast. The chain `c(tri) > 0
    * ⇒ c(ctx2) ≥ c(tri) > 0` (and likewise for the bigram rung) means
    * the ladder never divides by a missing context count.
    */
  def stupidBackoff(
      df: DataFrame, textCol: String, idCol: String,
      uni: DataFrame, bi: DataFrame, tri: DataFrame,
      tokenKey: Column => Column = xxhash64(_)): DataFrame = {
    val lambda = 0.4
    val totals = broadcast(
      uni.agg(sum(col("n")).as("n_tokens"), count(lit(1)).as("v")))
    val occ = graft.core.PlanOps.fanOutSmall(
        df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(trigramOccurrences(col(textCol))).as("o"))
      .select(col(idCol),
        tokenKey(col("o.tri")).as("tri_key"),
        tokenKey(col("o.ctx2")).as("ctx2_key"),
        tokenKey(col("o.b23")).as("b23_key"),
        tokenKey(col("o.w2")).as("w2_key"),
        tokenKey(col("o.w3")).as("w3_key"))
    val score =
      when(coalesce(col("c_tri"), lit(0L)) > 0,
        col("c_tri").cast("double") / col("c_ctx2").cast("double"))
        .when(coalesce(col("c_b23"), lit(0L)) > 0,
          lit(lambda) * col("c_b23").cast("double") / col("c_w2").cast("double"))
        .otherwise(lit(lambda * lambda) *
          (coalesce(col("c_w3"), lit(0L)) + lit(1L)).cast("double") /
          (col("n_tokens") + col("v")).cast("double"))
    occ
      .join(tri.select(col("trigram_key").as("tri_key"), col("n").as("c_tri")),
        Seq("tri_key"), "left")
      .join(bi.select(col("bigram_key").as("ctx2_key"), col("n").as("c_ctx2")),
        Seq("ctx2_key"), "left")
      .join(bi.select(col("bigram_key").as("b23_key"), col("n").as("c_b23")),
        Seq("b23_key"), "left")
      .join(uni.select(col("tok_key").as("w2_key"), col("n").as("c_w2")),
        Seq("w2_key"), "left")
      .join(uni.select(col("tok_key").as("w3_key"), col("n").as("c_w3")),
        Seq("w3_key"), "left")
      .crossJoin(totals)
      .select(col(idCol), log(score).as("lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_trigrams"),
        (-sum(col("lp")) / count(lit(1))).as("sb_nll"))
      .withColumn("sb_ppl", exp(col("sb_nll")))
  }

  /** [[stupidBackoff]] with the model trained on the scored corpus
    * itself — [[perplexitySelf]]'s bootstrap shape at order 3.
    */
  def stupidBackoffSelf(
      df: DataFrame, textCol: String, idCol: String,
      tokenKey: Column => Column = xxhash64(_)): DataFrame =
    stupidBackoff(df, textCol, idCol,
      lmUnigramCounts(df, textCol, tokenKey),
      lmBigramCounts(df, textCol, tokenKey),
      lmTrigramCounts(df, textCol, tokenKey), tokenKey)

  /** Quantile-band tagging — CCNet's head/middle/tail split
    * generalized: tag every row with the label of the quantile band its
    * `valueCol` falls into (`labels(i)` ⇔ value ≤ the `probs(i)`
    * cutoff, first match wins; `labels.last` above every cutoff; NULL
    * values get a NULL tag). Cutoffs are exact interpolated
    * percentiles over `round(value, 6)` — rounding first gives both
    * engines identical percentile INPUTS, so the interpolated cutoff
    * (same index arithmetic in Spark and DuckDB `quantile_cont`)
    * agrees to the last bit wherever it matters: band membership flips
    * only for a value within double-ulp of a cutoff, and 6-decimal
    * values sit ≥ 1e-6 apart from each other.
    *
    * Plan shape at 100 TB: ONE exact-percentile aggregate to a single
    * row — `percentile` keeps per-partition value buffers, so for
    * corpus-scale inputs the cutoffs should be computed once per
    * corpus version (or swapped for `approx_percentile`, same shape) —
    * then the cutoff array rides a 1-row broadcast past every row (the
    * q08 scalar pattern; the tag itself is a codegen'd when-chain).
    */
  def quantileBuckets(
      df: DataFrame, valueCol: String, idCol: String,
      probs: Seq[Double], labels: Seq[String]): DataFrame = {
    require(probs.nonEmpty && labels.size == probs.size + 1)
    require(probs == probs.sorted && probs.forall(p => p > 0 && p < 1))
    val v = round(col(valueCol), 6)
    val cuts = df.agg(
      percentile(v, array(probs.map(lit): _*)).as("q_cuts"))
    val tag = probs.indices.foldRight(lit(labels.last): Column)((i, acc) =>
      when(v <= element_at(col("q_cuts"), i + 1), lit(labels(i))).otherwise(acc))
    df.crossJoin(broadcast(cuts))
      .withColumn("bucket", when(v.isNull, lit(null: String)).otherwise(tag))
      .drop("q_cuts")
  }

  /** Corpus balancing: keep at most `cap` rows per bucket, best-ranked
    * first (`rank` descending, `idCol` ascending as the deterministic
    * tiebreak) — the data-mixing stage that stops one domain/language
    * from dominating a training corpus.
    *
    * Plan shape at 100 TB: ranking happens on a NARROW projection
    * (xxhash64 bucket key, rank value, id) — the only exchange carries
    * three numeric columns, never the document text; the decision then
    * returns as a LOSERS anti-join, proportional to what the cap drops.
    * A 64-bit bucket collision merges two buckets (over-dropping at
    * worst cap rows) — the same accepted contract as exact dedup's
    * hash key. Per-bucket skew is inherent to row_number (one bucket =
    * one task's sort); buckets here are (lang, source)-sized, and a
    * pathological mega-bucket would call for a pre-prune or sketch, not
    * a different decision algebra.
    */
  def capBuckets(
      df: DataFrame, bucketCols: Seq[String], rank: Column,
      idCol: String, cap: Int): DataFrame = {
    require(bucketCols.nonEmpty && cap >= 1)
    import org.apache.spark.sql.expressions.Window
    val narrow = df.select(
      xxhash64(bucketCols.map(col): _*).as("bucket_h"),
      rank.as("r"), col(idCol).as("id"))
    val losers = narrow
      .withColumn("rn", row_number().over(
        Window.partitionBy("bucket_h").orderBy(col("r").desc, col("id"))))
      .filter(col("rn") > cap)
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Greedy sequence packing: assign docs to token-budget packs within
    * each shard — the pre-training batcher's "concat docs up to the
    * context window" stage. Docs are taken in ascending `idCol` order;
    * a doc opens a new pack exactly when adding it would overflow
    * `budget` (so an over-budget doc sits alone in its pack). Returns
    * the MAPPING frame (idCol, shard_h, pack_id, n_tokens); pack_id
    * restarts at 0 per shard.
    *
    * Plan + scale: only the narrow (xxhash64(shard), id, n) triple
    * shuffles — one exchange, grouped by shard. The per-shard fold is
    * genuinely sequential state, so it runs as a typed flatMapGroups
    * (the documented Spark route for custom per-group state); each
    * group materializes its (id, n) pairs — 16 bytes/doc — so even a
    * 100M-doc shard is ~1.6 GB and shards ARE the parallelism unit a
    * deployment sizes. Physically materializing packs downstream means
    * repartitioning by pack_id — that shuffle is the point of the
    * operator, not overhead.
    */
  def packSequences(
      df: DataFrame, shardCol: String, idCol: String,
      tokens: Column, budget: Long): DataFrame = {
    require(budget >= 1)
    val session = df.sparkSession
    import session.implicits._
    // null token counts pack as zero-length docs (a null would kill the
    // primitive-tuple encoder, not produce a row)
    df.select(xxhash64(col(shardCol)).as("shard_h"),
        col(idCol).cast("long").as("id"),
        coalesce(tokens.cast("long"), lit(0L)).as("n"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (shard: Long, it: Iterator[(Long, Long, Long)]) =>
        val docs = it.map { case (_, id, n) => (id, n) }.toArray
        java.util.Arrays.sort(docs, Ordering.by((d: (Long, Long)) => d._1))
        var acc = 0L
        var pack = -1L
        docs.iterator.map { case (id, n) =>
          if (pack < 0 || acc + n > budget) { pack += 1; acc = n }
          else acc += n
          (id, shard, pack, n)
        }
      }
      .toDF(idCol, "shard_h", "pack_id", "n_tokens")
  }

  /** The eval corpus's distinct gram-key set as a persistable one-column
    * frame (`gk`) — compute ONCE per benchmark-suite version, write to
    * parquet, and feed [[decontaminateWithGramSet]] on every ingest
    * batch: per-batch cost is then O(batch), the eval docs never re-read
    * (the same deployment contract as
    * [[graft.ops.DedupOps.corpusBucketReps]]).
    */
  def evalGramSet(
      evalDocs: DataFrame, textCol: String, n: Int,
      gramKeys: (Column, Int) => Column = defaultGramKeys): DataFrame =
    evalDocs
      .select(explode(gramKeys(col(textCol), n)).as("gk")).distinct()

  /** N-GRAM NOVELTY RATE — the memorization gauge (Carlini et al.
    * 2022's verbatim-overlap family, measured in the eval→train
    * direction): per EVAL doc, what share of its distinct n-gram keys
    * appears anywhere in the training corpus. Decontamination
    * ([[decontaminate]]) asks "which TRAIN docs leak eval text";
    * novelty asks the converse release question "how much of this
    * eval/generation set is already verbatim in training" — the
    * number quoted when deciding whether a benchmark (or a model's
    * sampled output) is measuring recall instead of generalization.
    *
    * Scale shape — the train side is the 100 TB side, so the probe is
    * INVERTED relative to a naive lookup: the eval doc set's distinct
    * gram keys BROADCAST (an eval benchmark is thousands of docs), the
    * train corpus streams map-side against that broadcast emitting
    * only MATCHED keys (bounded by the eval gram set, deduplicated by
    * a keyed distinct on 64-bit keys), and the matched-key set joins
    * back to the per-eval-doc gram lists. Train text never crosses an
    * exchange; nothing proportional to the corpus is ever collected.
    * Eval docs with fewer than `n` tokens have no grams and emit
    * `n_grams = 0` with NULL rate.
    */
  def noveltyRate(
      train: DataFrame, evalDocs: DataFrame,
      textCol: String, idCol: String, n: Int,
      gramKeys: (Column, Int) => Column = defaultGramKeys): DataFrame = {
    // fanOutSmall on both gram-hashing stages (single-split sources
    // otherwise hash every gram on one task; no-op at scale)
    val evalGrams = graft.core.PlanOps.fanOutSmall(
        evalDocs.select(col(idCol), col(textCol)))
      .select(col(idCol), explode_outer(gramKeys(col(textCol), n)).as("gk"))
    val evalSet = evalGrams.filter(col("gk").isNotNull)
      .select("gk").distinct()
    val hit = graft.core.PlanOps.fanOutSmall(train.select(col(textCol)))
      .select(explode(gramKeys(col(textCol), n)).as("gk"))
      .join(broadcast(evalSet), Seq("gk"), "left_semi")
      .distinct()
      .withColumnRenamed("gk", "__hit")
    evalGrams
      .join(broadcast(hit), col("gk") === col("__hit"), "left")
      .groupBy(idCol)
      .agg(
        sum(when(col("gk").isNotNull, 1L).otherwise(0L)).as("n_grams"),
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_seen"))
      .withColumn("novelty",
        when(col("n_grams") > 0,
          lit(1.0) -
            col("n_seen").cast("double") / col("n_grams").cast("double")))
  }

  /** Decontamination DECISION path: `train` minus every doc flagged by
    * [[contaminatedIdsWithGramSet]], unchanged schema. The anti-join
    * side is the contaminated-id set — proportional to eval overlap,
    * not the corpus — so it broadcasts and the full train rows never
    * shuffle.
    */
  def decontaminate(
      train: DataFrame, evalDocs: DataFrame,
      textCol: String, idCol: String, n: Int,
      gramKeys: (Column, Int) => Column = defaultGramKeys): DataFrame =
    decontaminateWithGramSet(train,
      evalGramSet(evalDocs, textCol, n, gramKeys), textCol, idCol, n, gramKeys)

  /** [[decontaminate]] against a PRECOMPUTED [[evalGramSet]] frame (read
    * back from parquet in a real deployment): the per-batch plan —
    * broadcast the gram set, map-side semi-join, anti-join the flagged
    * ids — with zero eval-side work.
    */
  def decontaminateWithGramSet(
      train: DataFrame, gramSet: DataFrame,
      textCol: String, idCol: String, n: Int,
      gramKeys: (Column, Int) => Column = defaultGramKeys): DataFrame =
    train.join(
      contaminatedIdsWithGramSet(train, gramSet, textCol, idCol, n, gramKeys),
      Seq(idCol), "left_anti")

  /** SEMANTIC decontamination — the embedding-side twin of the n-gram
    * [[decontaminate]] pass: flag every corpus row whose embedding
    * cosine to ANY heldout/eval row reaches `minCosine`, catching the
    * paraphrased leakage n-gram overlap misses (the reason modern
    * eval-hygiene pipelines run both). Candidates come from the shared
    * hyperplane band signatures
    * ([[graft.functions.HyperplaneBandSigs]] — the
    * [[graft.ops.DedupOps.cosineKeepers]] family, same recall
    * contract: a pair sharing no band bucket is not compared), the
    * exact fused cosine verifies AT the bucket join, and distinct
    * flagged pairs `(idCol, heldout_id, cosine)` come out — anti-join
    * them on `idCol` for the cleaned corpus.
    *
    * Scale shape: the heldout side is an eval benchmark — thousands of
    * rows, not a corpus — so its banded frame BROADCASTS and the
    * corpus-side cost is one narrow fused signature pass + a
    * broadcast-hash probe per band: no corpus exchange at all. The
    * pair list is bounded by actual contamination, not |corpus|.
    */
  def semanticDecontaminate(
      corpus: DataFrame, heldout: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, bands: Int = 8, planesPerBand: Int = 8,
      dim: Int = 64): DataFrame = {
    def banded(df: DataFrame, idOut: String, vecOut: String): DataFrame = df
      .select(col(idCol).as(idOut), col(vecCol).as(vecOut))
      .select(col(idOut), col(vecOut), posexplode(
        graft.functions.HyperplaneBandSigs.hyperplaneBandSigs(
          col(vecOut), bands, planesPerBand, dim)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
    banded(corpus, "__cid", "__cvec")
      .join(broadcast(banded(heldout, "__hid", "__hvec")), Seq("band", "bucket"))
      .withColumn("cosine", graft.functions.CosineSimilarity.cosineFused(
        col("__cvec"), col("__hvec")))
      .filter(col("cosine") >= minCosine)
      .select(col("__cid").as(idCol), col("__hid").as("heldout_id"),
        col("cosine"))
      .distinct()
  }

  /** C4-style blocklist filter: keep only docs whose token set is
    * disjoint from `words` (Raffel et al. 2020 drop any page containing
    * a word from a public blocklist — the stage between the length
    * gates and the dedup passes). The word list is hashed, sorted into
    * ONE row, broadcast, and probed per token by binary search
    * ([[graft.functions.SortedLongContains]] — the [[frequentSpans]]
    * probe): a pure codegen'd filter in the scan stage, zero corpus
    * shuffles, list size bounded by the blocklist (thousands), not the
    * corpus.
    */
  def blocklistFilter(
      df: DataFrame, textCol: String, words: Seq[String]): DataFrame = {
    require(words.nonEmpty, "blocklistFilter: empty blocklist")
    import df.sparkSession.implicits._
    val wset = words.toDF("w")
      .agg(sort_array(collect_list(xxhash64(col("w")))).as("bl_keys"))
    df.crossJoin(broadcast(wset))
      .filter(!exists(TextOps.whitespaceTokenize(col(textCol)),
        t => graft.functions.SortedLongContains.sortedLongContains(
          col("bl_keys"), xxhash64(t))))
      .drop("bl_keys")
  }

  /** Hash-free twin of [[blocklistFilter]] (the oracle form): the SAME
    * keep/drop decision via a literal string-array intersection —
    * replayable verbatim by DuckDB `list_intersect`. Differential-spec
    * pinned equal to the hashed production path.
    */
  def blocklistFilterPortable(
      df: DataFrame, textCol: String, words: Seq[String]): DataFrame = {
    require(words.nonEmpty, "blocklistFilterPortable: empty blocklist")
    df.filter(size(array_intersect(
      TextOps.whitespaceTokenize(col(textCol)),
      array(words.map(lit): _*))) === 0)
  }

  // ------------------------------------------------------------------
  // Classifier-based quality filtering (GPT-3 / PaLM style): train a
  // multinomial Naive Bayes from a labeled seed, score every doc.
  // ------------------------------------------------------------------

  /** Per-(label, token-key) occurrence counts — the trainable state of
    * [[nbClassify]]. One map-side-combined shuffle of (label, 64-bit
    * key, partial count); token strings hash BEFORE the exchange. Train
    * once per model version, persist to parquet, feed
    * [[nbClassifyWith]] on every scoring batch (the standing-deployment
    * contract of [[evalGramSet]] / [[graft.ops.DedupOps.corpusBucketReps]]).
    */
  def nbTokenCounts(
      train: DataFrame, textCol: String, labelCol: String,
      tokenKey: Column => Column = xxhash64(_)): DataFrame =
    train
      .select(col(labelCol).as("label"),
        explode(TextOps.whitespaceTokenize(col(textCol))).as("t"))
      .select(col("label"), tokenKey(col("t")).as("tok_key"))
      .groupBy("label", "tok_key").agg(count(lit(1)).as("c"))

  /** Per-label document counts — [[nbClassify]]'s prior state. */
  def nbDocCounts(train: DataFrame, labelCol: String): DataFrame =
    train.groupBy(col(labelCol).as("label")).agg(count(lit(1)).as("n_docs"))

  /** Multinomial Naive Bayes scoring against a PRECOMPUTED model
    * ([[nbTokenCounts]] + [[nbDocCounts]], read back from parquet in a
    * real deployment): for each doc, `score(l) = ln P(l) + Σ_tok tf ·
    * ln((c(l,tok) + 1) / (N_l + V))` (add-one smoothing; V = distinct
    * token keys in the model; a token absent from label `l` contributes
    * the smoothed floor `ln(1 / (N_l + V))`), and the prediction is the
    * argmax label — round(score, 6) descending, label ascending, so the
    * decision is engine-portable (a sub-1e-6 score tie breaks by label
    * in both engines rather than by float ulp). Returns
    * `(idCol, pred, score)` with the winning score rounded to 6
    * decimals; docs with no tokens are absent (no evidence — filter or
    * default upstream).
    *
    * This is the classifier-quality-filter stage of the published LLM
    * pipelines (GPT-3's LR classifier over hashed features, LLaMA's
    * fastText "reference-like" filter): train on a curated seed
    * (label = curated/not), score the crawl, keep by score — all three
    * published variants are this plan with different seeds.
    *
    * Scale shape (100 TB): docs explode to (id, tok_key, tf) — three
    * numerics, text hashes map-side; the model (≤ V × L rows of longs)
    * broadcasts; label-level scalars (N_l, prior, V) ride an L-row
    * broadcast; the per-(id, label) re-aggregation and the L-row argmax
    * window both shuffle numerics keyed by id. Document text never
    * crosses an exchange.
    */
  def nbClassifyWith(
      df: DataFrame, textCol: String, idCol: String,
      tokenCounts: DataFrame, docCounts: DataFrame,
      tokenKey: Column => Column = xxhash64(_)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labelStats = tokenCounts.groupBy("label")
      .agg(sum(col("c")).as("n_toks"))
      .join(docCounts, Seq("label"))
    val totalDocs = docCounts.agg(sum(col("n_docs")).cast("double").as("total_docs"))
    val v = tokenCounts.select(col("tok_key")).distinct()
      .agg(count(lit(1)).cast("double").as("v"))
    val labels = labelStats.crossJoin(totalDocs).crossJoin(v)
      .select(col("label"), col("n_toks"), col("v"),
        log(col("n_docs").cast("double") / col("total_docs")).as("prior_lp"))
    val tf = df
      .select(col(idCol), explode(TextOps.whitespaceTokenize(col(textCol))).as("t"))
      .select(col(idCol), tokenKey(col("t")).as("tok_key"))
      .groupBy(idCol, "tok_key").agg(count(lit(1)).as("tf"))
    val scored = tf
      .crossJoin(broadcast(labels))
      .join(broadcast(tokenCounts), Seq("label", "tok_key"), "left")
      .groupBy(col(idCol), col("label"), col("prior_lp"))
      .agg(sum(col("tf").cast("double") *
        log((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double") /
          (col("n_toks").cast("double") + col("v")))).as("ll"))
      .select(col(idCol), col("label"), (col("prior_lp") + col("ll")).as("score"))
    val wnd = Window.partitionBy(idCol)
      .orderBy(round(col("score"), 6).desc, col("label"))
    scored
      .withColumn("rn", row_number().over(wnd))
      .filter(col("rn") === 1)
      .select(col(idCol), col("label").as("pred"),
        round(col("score"), 6).as("score"))
  }

  /** [[nbClassifyWith]] with the model trained on the scored corpus's
    * own labels — the self-contained train+predict loop (e.g. learn
    * `lang` from the labeled corpus, predict it from text alone).
    */
  def nbClassify(
      df: DataFrame, textCol: String, idCol: String, labelCol: String,
      tokenKey: Column => Column = xxhash64(_)): DataFrame =
    nbClassifyWith(df, textCol, idCol,
      nbTokenCounts(df, textCol, labelCol, tokenKey),
      nbDocCounts(df, labelCol), tokenKey)

  // ------------------------------------------------------------------
  // Linear quality classifier (logistic regression) — the
  // gradient-trained complement to the NB filter: the fastText-style
  // linear scorer most published curation pipelines gate on.
  // ------------------------------------------------------------------

  /** One full-batch logistic-regression gradient over a fixed-`dim`
    * feature column for weights `w`:
    * `g = (1/n) Σ (σ(w·x) − y)·x` (no bias term; append a constant
    * feature for one). The weight vector is a CONSTANT folded into
    * codegen — the dot product is an unrolled multiply-add chain
    * ([[graft.ops.VectorOps.randomProject]]'s shape) — and the
    * per-dim sums come off ONE posexplode + map-side-combined keyed
    * agg to a dim-row frame. Sums are round(·, 9)-then-DECIMAL:
    * order-free, so the gradient is deterministic and (at `w = 0`,
    * where `σ` degenerates to exactly 0.5 — no transcendentals)
    * bit-level oracle-replayable. Returns `(i, g)` dim rows.
    */
  def logisticGradient(
      df: DataFrame, featCol: String, labelCol: String, dim: Int,
      w: Array[Double]): DataFrame = {
    require(w.length == dim, s"weights must have length $dim")
    val v = df.select(col(featCol).as("x"),
        col(labelCol).cast("double").as("y"))
      .filter(col("x").isNotNull && size(col("x")) === dim)
    val n1 = broadcast(v.agg(count(lit(1)).as("n")))
    val dot =
      if (w.forall(_ == 0.0)) lit(0.0)
      else (0 until dim).map(i =>
        element_at(col("x"), i + 1).cast("double") * lit(w(i)))
        .reduceLeft(_ + _)
    val sigma =
      if (w.forall(_ == 0.0)) lit(0.5)
      else lit(1.0) / (lit(1.0) + exp(-dot))
    v.select((sigma - col("y")).as("r"), posexplode(col("x")))
      .select(col("pos").as("i"),
        (col("r") * col("col").cast("double")).as("g"))
      .groupBy("i")
      .agg(sum(round(col("g"), 9).cast("decimal(38,9)")).as("gsum"))
      .crossJoin(n1)
      .select(col("i"),
        (col("gsum").cast("double") / col("n").cast("double")).as("g"))
  }

  // ------------------------------------------------------------------
  // DSIR importance weighting (Xie et al. 2023, "Data Selection for
  // Language Models via Importance Resampling").
  // ------------------------------------------------------------------

  /** Hashed-ngram bucket counts over a corpus — DSIR's distribution
    * estimate. The feature stream per doc is its unigrams followed by
    * its space-joined bigrams (the paper's feature map), each hashed
    * into one of `buckets` ids. Output `(bucket, c)` has at most
    * `buckets` rows — a broadcast dim by construction. Strings hash at
    * the explode; one map-side-combined shuffle of (int, partial count).
    */
  def gramBucketCounts(
      df: DataFrame, textCol: String, buckets: Int,
      tokenKey: Column => Column = xxhash64(_)): DataFrame =
    df.select(explode(gramStream(col(textCol))).as("g"))
      .select(pmod(tokenKey(col("g")), lit(buckets.toLong)).cast("int").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("c"))

  /** Unigrams ++ bigrams of a text column, in doc order. */
  private def gramStream(text: Column): Column = {
    val toks = TextOps.whitespaceTokenize(text)
    concat(toks, transform(bigramOccurrences(text), o => o.getField("bg")))
  }

  /** DSIR importance log-weights against PRECOMPUTED bucket
    * distributions: for each doc,
    * `logw = Σ_gram [ln p̂_target(b(gram)) − ln p̂_raw(b(gram))]` with
    * add-one-smoothed estimates `p̂(b) = (c(b) + 1) / (N + buckets)` —
    * the importance weight of the doc under the target-vs-raw hashed
    * n-gram bag model. Returns `(idCol, n_grams, logw)`; docs with no
    * tokens are absent. Resampling is the composition the paper
    * prescribes: feed `exp(logw − max)`-proportional probabilities to
    * [[graft.ops.SplitOps.weightedSample]], or take the top-k by logw.
    *
    * Scale shape (100 TB): both distributions are ≤ `buckets`-row
    * frames (train the target side ONCE per target corpus version,
    * persist, reuse every batch — [[dsirLogWeights]] wires the
    * self-serve form); the scoring side explodes to (id, bucket int) —
    * text hashes map-side — joins the broadcast distributions, and
    * re-aggregates per doc. Nothing corpus-sized ever shuffles but
    * (id, bucket, count) numerics.
    */
  def dsirLogWeightsWith(
      df: DataFrame, textCol: String, idCol: String,
      targetCounts: DataFrame, rawCounts: DataFrame, buckets: Int,
      tokenKey: Column => Column = xxhash64(_)): DataFrame = {
    val nt = targetCounts.agg(sum(col("c")).cast("double").as("n_t"))
    val nr = rawCounts.agg(sum(col("c")).cast("double").as("n_r"))
    val tf = df
      .select(col(idCol), explode(gramStream(col(textCol))).as("g"))
      .select(col(idCol), pmod(tokenKey(col("g")), lit(buckets.toLong)).cast("int").as("bucket"))
      .groupBy(idCol, "bucket").agg(count(lit(1)).as("tf"))
    tf
      .join(broadcast(targetCounts.withColumnRenamed("c", "ct")), Seq("bucket"), "left")
      .join(broadcast(rawCounts.withColumnRenamed("c", "cr")), Seq("bucket"), "left")
      .crossJoin(broadcast(nt)).crossJoin(broadcast(nr))
      .groupBy(idCol)
      .agg(sum(col("tf")).as("n_grams"),
        sum(col("tf").cast("double") * (
          log((coalesce(col("ct"), lit(0L)) + lit(1L)).cast("double") /
            (col("n_t") + lit(buckets.toDouble))) -
          log((coalesce(col("cr"), lit(0L)) + lit(1L)).cast("double") /
            (col("n_r") + lit(buckets.toDouble))))).as("logw"))
  }

  /** [[dsirLogWeightsWith]] with both distributions estimated in-query:
    * the target from `target` (the curated seed corpus), the raw from
    * the scored corpus itself — the paper's setup.
    */
  def dsirLogWeights(
      df: DataFrame, textCol: String, idCol: String, target: DataFrame,
      buckets: Int, tokenKey: Column => Column = xxhash64(_)): DataFrame =
    dsirLogWeightsWith(df, textCol, idCol,
      gramBucketCounts(target, textCol, buckets, tokenKey),
      gramBucketCounts(df, textCol, buckets, tokenKey), buckets, tokenKey)
}
