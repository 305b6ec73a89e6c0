package graft.ops

import org.apache.spark.sql.{DataFrame, Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.PortableHash

/** Deduplication operators for the training-data pipeline surface:
  * exact (normalized-hash groupBy), pairwise token-set Jaccard (the
  * oracle-checkable fixture-scale formulation), and the scale paths —
  * MinHash+LSH banding and SimHash — which avoid the O(n²) pair space.
  *
  * Scale notes (100 TB): exact dedup is one hash-partitioned groupBy on a
  * 64-bit key (no full-text shuffle — only (key, id) pairs move). The
  * MinHash path shuffles `bands` rows per doc, each a few bytes, and
  * joins only within LSH buckets; the pairwise path exists for oracle
  * validation and small inputs only.
  */
object DedupOps {

  /** Normalization used for exact dedup: lower(trim(text)). */
  def normText(text: Column): Column = lower(trim(text))

  /** Exact duplicate groups: one row per normalized text with count > 1.
    * Shuffles (hash64(norm), id) only — the document text itself never
    * enters the exchange (at 100 TB the groupBy key would BE the corpus);
    * same key as [[graft.streaming.StreamingOps.streamingExactDedup]].
    * 64-bit collisions are negligible (see [[hashedTokenSet]]) and can
    * only merge two distinct texts into one group, never split a group.
    * The winner per group is the smallest id (deterministic).
    */
  def exactDupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(xxhash64(normText(col(textCol))).as("norm_h"), col(idCol).as("id"))
      .groupBy("norm_h")
      .agg(count("*").as("n"), min("id").as("keep_id"))
      .filter(col("n") > 1)

  /** Exact dedup DECISION path — the [[dedupKeepers]] shape for exact
    * duplicates: the KEPT rows of `df` (min id per normalized text
    * wins, deterministic under any partitioning), unchanged schema.
    *
    * Shuffle discipline at 100 TB: the decision side moves only
    * (hash64, id) pairs ([[exactDupGroups]]'s contract), and the
    * anti-join side is the LOSERS — proportional to the duplicate
    * count, not the corpus — so it broadcasts in the common case and
    * the full rows never shuffle. (A min-per-group window or a
    * winners semi-join would instead move every row through an
    * exchange.)
    */
  def exactKeepers(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keyed = df.select(
      xxhash64(normText(col(textCol))).as("norm_h"), col(idCol).as("id"))
    val losers = keyed
      .join(exactDupGroups(df, textCol, idCol), Seq("norm_h"))
      .filter(col("id") =!= col("keep_id"))
      .select("id")
    df.join(losers.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** Distinct token set of a whitespace-tokenized text. */
  def tokenSet(text: Column): Column =
    array_distinct(TextOps.whitespaceTokenize(text))

  /** Token set as a SORTED array of 64-bit hashes — the verify-stage
    * representation at scale: pair intersections become an O(n+m)
    * two-pointer merge over primitive longs
    * ([[graft.functions.SortedIntersectCount]]) instead of per-pair
    * string hash sets. 64-bit collisions are negligible (< 1e-15 per
    * doc) and deterministic.
    */
  def hashedTokenSet(text: Column): Column =
    array_sort(array_distinct(transform(TextOps.whitespaceTokenize(text), t => xxhash64(t))))

  /** CROSS-SOURCE DUPLICATION MATRIX — "who copies whom": for every
    * source pair (including a source against itself), the number of
    * exact-duplicate document pairs whose members come from those two
    * sources. The provenance view of [[exactDupGroups]]: a corpus
    * where two crawls re-serve the same boilerplate shows up as one
    * hot off-diagonal cell, which is exactly what a mix designer
    * needs before weighting sources independently.
    *
    * Only `(hash, id, source)` rows shuffle (text never crosses an
    * exchange); the pair join is per-group quadratic in DUPLICATE
    * group sizes only. `keyFn` defaults to xxhash64; pass
    * [[graft.core.PortableHash.md5Long]] for the oracle-replayable
    * twin. NULL-text rows are dropped before hashing: xxhash64 maps
    * NULL to its seed (one giant phantom dup group) while md5Long
    * yields NULL (drops out of the equi-join) — excluding them keeps
    * both keyFn options on one contract.
    */
  def crossSourceDupMatrix(
      df: DataFrame, textCol: String, idCol: String, srcCol: String,
      keyFn: Column => Column = xxhash64(_)): DataFrame = {
    val t = df.filter(col(textCol).isNotNull)
      .select(keyFn(normText(col(textCol))).as("__h"),
        col(idCol).as("__id"), col(srcCol).as("__src"))
    val a = t.select(col("__h"), col("__id").as("__ida"),
      col("__src").as("__sa"))
    val b = t.select(col("__h"), col("__id").as("__idb"),
      col("__src").as("__sb"))
    a.join(b, Seq("__h"))
      .filter(col("__ida") < col("__idb"))
      .groupBy(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .agg(count(lit(1)).as("n_dup_pairs"))
  }

  /** All near-duplicate pairs (id_a < id_b) with token-set Jaccard >=
    * `threshold`. Pairwise with a size-band prefilter — safe because
    * J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so pairs outside the band
    * cannot reach the threshold. Fixture-scale / oracle formulation;
    * use [[minHashCandidates]] + verify at scale. Two empty sets give
    * 0/0 = NULL, as in the DuckDB oracle, and no pair.
    */
  def jaccardPairs(df: DataFrame, textCol: String, idCol: String, threshold: Double): DataFrame = {
    val t = df.select(col(idCol).as("id"), tokenSet(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")))
    val a = t.select(col("id").as("id_a"), col("toks").as("toks_a"), col("n").as("n_a"))
    val b = t.select(col("id").as("id_b"), col("toks").as("toks_b"), col("n").as("n_b"))
    val inter = size(array_intersect(col("toks_a"), col("toks_b")))
    a.join(b,
        col("id_a") < col("id_b") &&
        least(col("n_a"), col("n_b")).cast("double") >=
          greatest(col("n_a"), col("n_b")) * threshold)
      .withColumn("inter", inter)
      .withColumn("jaccard",
        try_divide(col("inter").cast("double"), col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Exact-recall set-similarity self-join via PREFIX FILTERING (the
    * All-Pairs / PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    * WWW'08): every pair with token-set Jaccard >= `threshold`,
    * deterministically — recall is exactly 1.0, the complement to the
    * probabilistic MinHash-LSH path ([[dedupKeepers]]) when a
    * contractual "no missed duplicates above t" guarantee is required.
    *
    * Why it scales: order the corpus vocabulary by ascending document
    * frequency (rarest first; ties by hash). For J(A,B) >= t the
    * intersection size I satisfies I >= ceil(t*|A|) and I >= ceil(t*|B|),
    * so the canonically SMALLEST common token must sit inside BOTH
    * prefixes of length p_x = |x| - ceil(t*|x|) + 1 (if it sat past the
    * prefix, the whole intersection would fit in the ceil(t*|x|)-1
    * suffix — too small). Candidate generation therefore joins only the
    * exploded PREFIXES: the candidate stream is governed by
    * rare-token document frequency, not the all-token inverted index
    * whose hot (stop-word) postings make a plain token join quadratic.
    * Shuffles carry (token hash, id, n) prefix rows, distinct (id, id)
    * candidates, and per-doc sorted hash arrays for the verify joins —
    * text never crosses an exchange; verification is the O(n+m)
    * [[graft.functions.SortedIntersectCount]] primitive-long merge.
    * A hot prefix token (df_tok close to corpus size) cannot exist:
    * tokens are ranked by df, so corpus-frequent tokens land in
    * suffixes and never generate candidates.
    */
  def prefixJaccardPairs(
      df: DataFrame, textCol: String, idCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val t = df.select(col(idCol).as("id"),
        hashedTokenSet(col(textCol)).as("hset"))
      .withColumn("n", size(col("hset")))
    val e = t.select(col("id"), col("n"), explode(col("hset")).as("h"))
    // Global rarity order: (document frequency, hash) ascending. The
    // vocabulary frame is token-keyed and tiny relative to the corpus.
    val freq = e.groupBy("h").agg(count(lit(1)).as("df_tok"))
    val ordered = e.join(freq, "h")
      .groupBy("id").agg(max(col("n")).as("n"),
        sort_array(collect_list(struct(col("df_tok"), col("h")))).as("ord"))
    // Each occurrence also carries the H-SORTED set of the tokens
    // EARLIER in its own prefix (positions 0..p-1) — the first-shared-
    // token dedup below reads it.
    val prefixes = ordered
      .withColumn("plen",
        (col("n") - ceil(col("n") * threshold) + 1).cast("int"))
      .select(col("id"), col("n"),
        slice(transform(col("ord"), x => x.getField("h")),
          lit(1), col("plen")).as("ph"))
      .select(col("id"), col("n"), col("ph"),
        posexplode(col("ph")).as(Seq("p", "h")))
      .select(col("id"), col("n"), col("p"), col("h"),
        sort_array(slice(col("ph"), lit(1), col("p"))).as("pre"))
    val a = prefixes.select(col("id").as("id_a"), col("n").as("n_a"),
      col("p").as("p_a"), col("pre").as("pre_a"), col("h"))
    val b = prefixes.select(col("id").as("id_b"), col("n").as("n_b"),
      col("p").as("p_b"), col("pre").as("pre_b"), col("h"))
    // Two EXACT prunes inside the candidate join: the length filter
    // (J <= min/max sizes) and PPJoin's positional filter — a match at
    // rarity positions (p_a, p_b) bounds the overlap by
    // 1 + min(n_a - p_a - 1, n_b - p_b - 1) remaining tokens (p is
    // 0-based), which must reach the equivalent-overlap threshold
    // α = ceil(t/(1+t) · (n_a+n_b)); the minimal common token's
    // occurrence always passes, so recall stays exactly 1.0 (the 1e-6
    // slack only ever keeps extra candidates, guarding the double
    // rounding of α against over-pruning).
    //
    // FIRST-SHARED-TOKEN dedup instead of `.distinct()` (guide §2.4 —
    // remove the shuffle outright): a pair occurs once per shared
    // prefix token, and on a duplicate-dense corpus the distinct()
    // repartitioned that ~|shared prefix|× duplicated stream by pair id
    // (measured: the distinct was over half this validator's wall). An
    // occurrence survives iff NO rarer shared token exists, i.e. the
    // h-sorted earlier-prefix cuts intersect empty (codegen'd
    // two-pointer merge — the minHashCandidates first-collision-wins
    // pattern on the token axis). Exactness: the global rarity order
    // makes shared-prefix-token sets downward-closed — any shared token
    // rarer than h sits before h in BOTH prefixes — so exactly one
    // occurrence per pair survives; and the positional filter is
    // monotone (larger p ⇒ smaller remaining-overlap bound), so if the
    // rarest occurrence is pruned every later one is too: the emitted
    // pair set is bit-identical to the filtered distinct.
    val alpha = ceil(
      (col("n_a") + col("n_b")) * lit(threshold / (1.0 + threshold)) -
        lit(1e-6))
    val cand = a.join(b, Seq("h"))
      .filter(col("id_a") < col("id_b") &&
        least(col("n_a"), col("n_b")).cast("double") >=
          greatest(col("n_a"), col("n_b")) * threshold &&
        (lit(1) + least(col("n_a") - col("p_a") - 1,
          col("n_b") - col("p_b") - 1)) >= alpha &&
        graft.functions.SortedIntersectCount
          .sortedIntersectCount(col("pre_a"), col("pre_b")) === lit(0))
      .select("id_a", "id_b")
    verifyJaccard(cand, t, threshold)
  }

  private def verifyJaccard(
      cand: DataFrame, t: DataFrame, threshold: Double): DataFrame = {
    val lt = t.select(col("id").as("id_a"), col("hset").as("set_a"),
      col("n").as("n_a"))
    val rt = t.select(col("id").as("id_b"), col("hset").as("set_b"),
      col("n").as("n_b"))
    cand.join(lt, "id_a").join(rt, "id_b")
      .withColumn("inter",
        graft.functions.SortedIntersectCount
          .sortedIntersectCount(col("set_a"), col("set_b")))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Directed containment join: every ordered pair (a, b), a != b, with
    * C(A -> B) = |A ∩ B| / |A| >= `threshold` — "a's tokens are mostly
    * inside b": quote / excerpt / subset detection, the asymmetric
    * sibling of [[prefixJaccardPairs]] (a 30-token quote inside a
    * 3,000-token page has tiny Jaccard but containment ~1).
    *
    * Prefix filtering applies on the CONTAINED side only: I >=
    * ceil(t*|A|) forces a common token inside A's
    * |A| - ceil(t*|A|) + 1 prefix, but containment puts no lower bound
    * on |B| relative to I, so the right side must index ALL its tokens
    * — the same inverted-index shape as [[graft.ops.SearchOps]]; at
    * scale the hot-posting skew of the full index side is bounded by
    * the rare-prefix probe side (a candidate still needs a RARE token
    * of A). Verification reuses the sorted-hash merge.
    */
  def containmentPairs(
      df: DataFrame, textCol: String, idCol: String,
      threshold: Double, maxPosting: Int = 0): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val t = df.select(col(idCol).as("id"),
        hashedTokenSet(col(textCol)).as("hset"))
      .withColumn("n", size(col("hset")))
    val e = t.select(col("id"), col("n"), explode(col("hset")).as("h"))
    val freq = e.groupBy("h").agg(count(lit(1)).as("df_tok"))
    val ordered = e.join(freq, "h")
      .groupBy("id").agg(max(col("n")).as("n"),
        sort_array(collect_list(struct(col("df_tok"), col("h")))).as("ord"))
    val prefixes = ordered
      .withColumn("plen",
        (col("n") - ceil(col("n") * threshold) + 1).cast("int"))
      .select(col("id").as("id_a"), col("n").as("n_a"),
        explode(slice(transform(col("ord"), x => x.getField("h")),
          lit(1), col("plen"))).as("h"))
    // maxPosting > 0 caps the container-side posting list per token at
    // the m deterministically-smallest (xxhash64(id), id) members —
    // the LSH occupancy-cap contract ([[graft.ops.SimilarityOps]]
    // maxBucket): on a degenerate vocabulary (every token corpus-
    // frequent) the uncapped index join is per-token quadratic; the
    // cap bounds candidates at probes × m, trading recall ONLY for
    // containers beyond the m-th of a hot posting (exact whenever all
    // token dfs <= m). The default 0 keeps the exact oracle contract.
    val index0 = e.select(col("id").as("id_b"), col("n").as("n_b"), col("h"))
    val index = if (maxPosting <= 0) index0 else {
      val w = Window.partitionBy("h")
        .orderBy(xxhash64(col("id_b")), col("id_b"))
      index0.withColumn("__r", row_number().over(w))
        .filter(col("__r") <= maxPosting).drop("__r")
    }
    // containment >= t forces |B| >= |A∩B| >= ceil(t*|A|): free pruning
    val cand = prefixes.join(index, Seq("h"))
      .filter(col("id_a") =!= col("id_b") &&
        col("n_b") >= ceil(col("n_a") * threshold))
      .select("id_a", "id_b").distinct()
    val lt = t.select(col("id").as("id_a"), col("hset").as("set_a"),
      col("n").as("n_a"))
    val rt = t.select(col("id").as("id_b"), col("hset").as("set_b"))
    cand.join(lt, "id_a").join(rt, "id_b")
      .withColumn("inter",
        graft.functions.SortedIntersectCount
          .sortedIntersectCount(col("set_a"), col("set_b")))
      .withColumn("containment",
        col("inter").cast("double") / col("n_a"))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  /** The hash family of a MinHash or SimHash dedup plan — the ONLY
    * thing a production decision and its oracle-portable twin differ
    * in. Each decision below (candidate pairs, verified pairs, token-set
    * and n-gram keepers, incremental keepers, the reps pair, SimHash and
    * edit keepers) is ONE private plan over a family, bound twice:
    * [[Production]] and [[Portable]].
    */
  private sealed trait HashFamily {
    /** Distinct token set — the banding AND verify representation. */
    def tokens(text: Column): Column
    /** (id, band_arr) rows: the `bands` band hashes of each doc's `sets`. */
    def bandArrays(
        df: DataFrame, sets: Column, idCol: String,
        bands: Int, rowsPerBand: Int): DataFrame
    /** No position of two equal-length band-hash prefixes is equal. */
    def noEarlierCollision(preA: Column, preB: Column): Column
    /** |A ∩ B| of two verify sets. */
    def intersect(a: Column, b: Column): Column
    /** Jaccard over the verify stage's `inter`, `n_a`, `n_b` columns. */
    def jaccard(emptyMatchesEmpty: Boolean): Column
    /** SimHash signature of a text column. */
    def simHash(text: Column): Column
    /** Width of each of the 4 signature chunks SimHash bands on. */
    def chunkBits: Int
  }

  /** The production family: fused single-pass xxhash64 banding
    * ([[graft.functions.MinHashBandHashes]], never 64 string re-hash
    * traversals) over sorted token hashes ([[hashedTokenSet]]), the
    * codegen'd two-pointer [[graft.functions.SortedIntersectCount]]
    * verify, and fused [[graft.functions.SimHash64]] signatures
    * (value-identical to `simHash(toks, 64, xxhash64)`) in 16-bit chunks.
    */
  private object Production extends HashFamily {
    def tokens(text: Column): Column = hashedTokenSet(text)
    def bandArrays(
        df: DataFrame, sets: Column, idCol: String,
        bands: Int, rowsPerBand: Int): DataFrame =
      df.select(col(idCol).as("id"),
        graft.functions.MinHashBandHashes.minHashBandHashes(
          sets, bands, rowsPerBand).as("band_arr"))
    def noEarlierCollision(preA: Column, preB: Column): Column =
      graft.functions.FirstEqualIndex.firstEqualIndex(preA, preB) === lit(-1)
    def intersect(a: Column, b: Column): Column =
      graft.functions.SortedIntersectCount.sortedIntersectCount(a, b)
    /** With `emptyMatchesEmpty` (the token-set paths), two empty token
      * sets are identical documents for dedup purposes: J(∅,∅) = 1
      * (instead of 0/0, which raises under ANSI) so byte-empty /
      * whitespace-only duplicates collapse like any other exact-duplicate
      * cluster (all-empty docs share every band hash, so they always
      * reach the verify stage together). The shingle path passes false:
      * an empty SHINGLE set just means the doc is shorter than n — no
      * evidence, never a match.
      */
    def jaccard(emptyMatchesEmpty: Boolean): Column =
      when(col("n_a") === 0 && col("n_b") === 0,
        lit(if (emptyMatchesEmpty) 1.0 else 0.0))
        .otherwise(col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
    def simHash(text: Column): Column =
      graft.functions.SimHash64.simHash64(TextOps.whitespaceTokenize(text))
    val chunkBits = 16
  }

  /** The ORACLE-portable family — what "portable" means for every
    * `*Portable` twin, replayed verbatim by the DuckDB oracle
    * (q21/q42/q43/q44/q46/q76/q239/q254): a salted-md5 min-hash
    * signature ([[graft.core.PortableHash.md5Long]] of (token, i)), an
    * md5-STRING band hash of each row-group joined with ',', raw
    * distinct token STRINGS verified by `array_intersect` (DuckDB's
    * `list_intersect` over `list_distinct(string_split(text, ' '))`),
    * and the 48-bit [[graft.functions.SimHashMd5]] signature over a
    * plain single-space split (q29's construction) in 12-bit chunks
    * (maxHamming < 4 is still guaranteed by banding). The Jaccard is the
    * raw ratio: the oracle SQL defines these semantics, so the
    * production empty-set rule does not apply. Two empty sets give
    * 0/0 = NULL (`try_divide`, DuckDB's `0::double/0`), so they never
    * pair.
    */
  private object Portable extends HashFamily {
    def tokens(text: Column): Column = tokenSet(text)
    def bandArrays(
        df: DataFrame, sets: Column, idCol: String,
        bands: Int, rowsPerBand: Int): DataFrame = df
      .select(col(idCol).as("id"),
        array((0 until bands * rowsPerBand).map { i =>
          array_min(transform(sets, t => PortableHash.md5Long(t, lit(i))))
        }: _*).as("sig"))
      .select(col("id"),
        array((0 until bands).map(b =>
          md5(array_join(transform(
            slice(col("sig"), b * rowsPerBand + 1, rowsPerBand),
            _.cast("string")), ","))): _*).as("band_arr"))
    def noEarlierCollision(preA: Column, preB: Column): Column =
      forall(zip_with(preA, preB, (x, y) => x =!= y), b => b)
    def intersect(a: Column, b: Column): Column = size(array_intersect(a, b))
    def jaccard(emptyMatchesEmpty: Boolean): Column =
      try_divide(col("inter").cast("double"), col("n_a") + col("n_b") - col("inter"))
    def simHash(text: Column): Column =
      graft.functions.SimHashMd5.simHashMd5(split(text, " "), 48)
    val chunkBits = 12
  }

  /** LSH candidate pairs (id_a < id_b): split each doc's MinHash
    * signature into `bands` bands of `rowsPerBand`, hash each band, and
    * emit pairs that collide in at least one band. Only (band_idx,
    * band_hash) tuples shuffle — the candidate space never materializes
    * O(n²).
    *
    * Band hashes come from the fused [[graft.functions.MinHashBandHashes]],
    * and pairs dedup WITHOUT a distinct(): a pair is emitted only from
    * its FIRST colliding band (each occurrence can check earlier bands
    * locally because rows carry their band-hash prefix), so the
    * ~`bands`× duplicated pair stream never hits a shuffle.
    */
  def minHashCandidates(
      df: DataFrame, textCol: String, idCol: String,
      bands: Int, rowsPerBand: Int): DataFrame =
    candidatePairs(Production, df, textCol, idCol, bands, rowsPerBand)

  /** MinHash+LSH near-dup pairs (id_a, id_b, jaccard) with exact Jaccard
    * verification of the [[minHashCandidates]] (the standard two-phase
    * plan: LSH recall, exact precision) over sorted token-hash arrays.
    * Two empty token sets verify at J(∅,∅) = 1, the [[dedupKeepers]]
    * rule.
    */
  def minHashDedup(
      df: DataFrame, textCol: String, idCol: String, threshold: Double,
      bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    verifiedPairs(Production, df, textCol, idCol, threshold, bands, rowsPerBand)

  /** ORACLE-portable twin of [[minHashDedup]]: the same candidate and
    * verify plan over the md5 family ([[Portable]]) — the construction
    * q21 replays in DuckDB.
    */
  def minHashDedupPortable(
      df: DataFrame, textCol: String, idCol: String, threshold: Double,
      bands: Int, rowsPerBand: Int): DataFrame =
    verifiedPairs(Portable, df, textCol, idCol, threshold, bands, rowsPerBand)

  private def candidatePairs(
      f: HashFamily, df: DataFrame, textCol: String, idCol: String,
      bands: Int, rowsPerBand: Int): DataFrame = {
    // an occurrence survives only if no band BEFORE this one collides —
    // pairs come out unique with no distinct() shuffle. The check only
    // ever reads positions BEFORE the colliding band (both sides share
    // `band`, so position `band` is equal by the join key), so each
    // occurrence carries just its `band`-length PREFIX of the band
    // array, not all `bands` hashes: on a duplicate-dense corpus the
    // (band, band_hash) self-join streams O(Σ bucket²) rows, and
    // halving the per-row payload (avg prefix = bands/2) halves the
    // bytes the hot join stage materializes (guide §2.3 — project
    // before the exchange, here: before the join's row explosion).
    val banded = explodeBands(
        f.bandArrays(df, f.tokens(col(textCol)), idCol, bands, rowsPerBand),
        "id", "band_arr")
      .select(col("id"), col("band"), col("band_hash"),
        slice(col("band_arr"), lit(1), col("band")).as("pre"))
    val l = banded.select(col("band"), col("band_hash"),
      col("id").as("id_a"), col("pre").as("pre_a"))
    val r = banded.select(col("band"), col("band_hash"),
      col("id").as("id_b"), col("pre").as("pre_b"))
    l.join(r, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .filter(f.noEarlierCollision(col("pre_a"), col("pre_b")))
      .select("id_a", "id_b")
  }

  private def verifiedPairs(
      f: HashFamily, df: DataFrame, textCol: String, idCol: String,
      threshold: Double, bands: Int, rowsPerBand: Int): DataFrame = {
    val edges = candidatePairs(f, df, textCol, idCol, bands, rowsPerBand)
      .select(col("id_a").as("id"), col("id_b").as("rep"))
    val toks = tokArrays(f, df, textCol, idCol)
    verifiedEdges(f, edges, toks, toks, threshold)
      .select(col("id").as("id_a"), col("rep").as("id_b"), col("jaccard"))
  }

  /** Scale-path near-dedup DECISION: keep/drop per document, never a
    * pair list. On duplicate-dense data the set of passing pairs is
    * inherently quadratic (a cluster of m near-dups has m·(m-1)/2
    * pairs), but the dedup decision is linear — this is the production
    * contract; [[minHashDedup]] remains the pair-level oracle form.
    *
    * Plan (everything linear in docs × bands):
    *  1. band hashes per doc (narrow map, docs×bands rows of ids+longs);
    *  2. one REPRESENTATIVE per LSH bucket = min doc id (partial-agg
    *     groupBy — no pair join);
    *  3. candidate edges doc→rep for rep < doc, deduped on ids only
    *     (≤ bands edges per doc);
    *  4. exact-Jaccard verify of each edge over sorted token-hash arrays
    *     (codegen'd two-pointer intersect), token arrays joined by id —
    *     each doc's array shuffles once per distinct edge, ≤ bands times.
    *
    * Semantics: a doc is DROPPED iff it verifies ≥ `threshold` against
    * the min-id doc of at least one of its buckets. Deterministic under
    * any partitioning. Compared to greedy in-id-order dedup this trades
    * a little recall (two non-rep cluster members are never compared
    * directly) for a plan with no quadratic stage; recall can be raised
    * by re-running on the keepers (each pass only shrinks the set).
    *
    * Returns the KEPT rows of `df`, unchanged schema.
    */
  def dedupKeepers(
      df: DataFrame, textCol: String, idCol: String, threshold: Double,
      bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    keepersBySets(Production, df, Production.tokens(col(textCol)), idCol,
      threshold, bands, rowsPerBand, emptyMatchesEmpty = true)

  /** [[dedupKeepers]] over word n-gram (shingle) sets — the scale
    * DECISION path for the n-gram Jaccard family (the pairwise q22 form
    * stays the oracle). Broder-style: MinHash+LSH over the hashed
    * shingle set, per-bucket min-id rep, exact shingle-Jaccard verify
    * at the edge — same linear docs × bands plan and same recall
    * contract as the token-set keepers. Shingles see word ORDER, so
    * reordered docs that collapse under token-set dedup stay distinct
    * here.
    *
    * Docs with fewer than `n` tokens have NO shingles and are always
    * KEPT (no evidence is not evidence of duplication — unlike the
    * token-set path's J(∅,∅)=1 rule, two short docs with different
    * words must not merge just because both have empty shingle sets);
    * run [[dedupKeepers]] or [[exactDupGroups]] over the short tail if
    * it needs deduping.
    *
    * Returns the KEPT rows of `df`, unchanged schema.
    */
  def dedupKeepersNgram(
      df: DataFrame, textCol: String, idCol: String, threshold: Double,
      n: Int, bands: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    // fused one-pass shingle hashing ([[graft.functions.ShingleHashes64]],
    // value-identical to hashedNgramSet) — the composable form's
    // per-window slice/concat HOF tower dominated the bench ~16×
    keepersBySets(Production, df,
      graft.functions.ShingleHashes64.shingleHashes64(
        TextOps.whitespaceTokenize(col(textCol)), n),
      idCol, threshold, bands, rowsPerBand, emptyMatchesEmpty = false)
  }

  /** ORACLE-portable twin of [[dedupKeepers]]: the same decision plan
    * over the md5 family ([[Portable]]), so the keep/drop DECISION
    * itself — not just its candidate pairs (q21) — has a row-level
    * DuckDB oracle (q42).
    */
  def dedupKeepersPortable(
      df: DataFrame, textCol: String, idCol: String, threshold: Double,
      bands: Int, rowsPerBand: Int): DataFrame =
    keepersBySets(Portable, df, Portable.tokens(col(textCol)), idCol,
      threshold, bands, rowsPerBand, emptyMatchesEmpty = true)

  /** ORACLE-portable twin of [[dedupKeepersNgram]]: the same plan over
    * the md5 family, sets built from [[ngramSet]] (q46).
    */
  def dedupKeepersNgramPortable(
      df: DataFrame, textCol: String, idCol: String, threshold: Double,
      n: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    keepersBySets(Portable, df, ngramSet(col(textCol), n), idCol,
      threshold, bands, rowsPerBand, emptyMatchesEmpty = false)
  }

  /** Shared keepers plan over an arbitrary set column: band → min-id
    * rep per bucket → verified edges → left-anti. See [[dedupKeepers]]
    * for the semantics and scale notes.
    */
  private def keepersBySets(
      f: HashFamily, df: DataFrame, sets: Column, idCol: String, threshold: Double,
      bands: Int, rowsPerBand: Int, emptyMatchesEmpty: Boolean): DataFrame = {
    val dropped = verifiedRepEdges(f, df, sets, idCol, threshold, bands,
        rowsPerBand, emptyMatchesEmpty)
      .select("id").distinct()
    df.join(dropped.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** Verified (id, rep, jaccard) star edges of `df`: each doc against
    * the min-id doc of its LSH buckets, through the shared verify stage
    * — the keepers' drop set and the components' graph.
    */
  private def verifiedRepEdges(
      f: HashFamily, df: DataFrame, sets: Column, idCol: String, threshold: Double,
      bands: Int, rowsPerBand: Int, emptyMatchesEmpty: Boolean): DataFrame = {
    val withSets = df.select(col(idCol).as("id"), sets.as("toks"))
    val edges = repEdges(banded(f, withSets, col("toks"), "id", bands, rowsPerBand))
    val toks = withSets.withColumn("n", size(col("toks")))
    verifiedEdges(f, edges, toks, toks, threshold, emptyMatchesEmpty)
  }

  /** Sorted 64-bit hashes of the word n-gram (shingle) set — the
    * banding/verify representation for shingle-level dedup, the
    * [[hashedTokenSet]] analog over [[ngramSet]].
    */
  def hashedNgramSet(text: Column, n: Int): Column =
    array_sort(array_distinct(transform(ngramSet(text, n), s => xxhash64(s))))

  /** [[dedupKeepers]] iterated to a fixpoint — the documented remedy for
    * the decision path's chain-recall gap (two non-rep cluster members
    * are never compared directly in one pass) shipped as an operator.
    * The loop stops when a pass drops nothing or after `maxPasses`.
    * Driver-side control flow touches only COUNTS (one aggregate per
    * pass) — no rows ever collect. The fixpoint is IDEMPOTENT (one more
    * pass drops nothing): every survivor either is the min id of all its
    * buckets or verifies below threshold against each of its bucket
    * reps — i.e. no detectable near-dup pair remains among the keepers.
    *
    * Tokenization and band hashing run ONCE, before the loop: the
    * passes iterate over a persisted compact (id, toks, n, band_arr)
    * frame — per-doc decisions are a pure function of those columns, so
    * re-deriving them from text each pass (what iterating
    * [[dedupKeepers]] directly would do) only re-reads and re-tokenizes
    * the surviving corpus `passes` times for identical results. Each
    * pass shuffles ids+longs only; the original rows join back once, by
    * id, at the end.
    *
    * Each pass's survivor frame is `localCheckpoint`ed, NOT persisted
    * (r15; the [[graft.ops.GraphOps.pageRank]] lesson): a persisted
    * frame caches its DATA but keeps its full LOGICAL lineage, and the
    * verify stage references the prior frame twice, so pass k's plan
    * held ~4^k copies of the pass-1 subtree — analysis/codegen cost
    * grew with the pass count even though survivors (and execution
    * cost) did not. Measured on the duplicate-dense bench fixture:
    * pass times 0.44 → 0.70 → 1.44 s over an unchanging 540→517→517
    * survivor set, and 1.65 s for the final ~500-id semi join, all
    * plan-compile. The checkpoint truncates lineage each pass (values
    * unchanged); superseded pass blocks are released eagerly.
    *
    * Returns the kept rows of `df`, unchanged schema. The returned
    * DataFrame is PERSISTED AND MATERIALIZED (the pass-level caches are
    * released before returning, so an unpersisted result would replay
    * every pass on first use) — the CALLER owns releasing it with
    * `.unpersist()` once consumed.
    *
    * `onPass(pass, survivors, seconds)` fires once for the prep stage
    * (pass 0: tokenize + band-hash + persist + initial count) and after
    * each completed pass — the fixpoint's cost is `prep + passes ×
    * (shuffle + 2 counts)` with a data-dependent pass count, so a
    * caller recording wall-clock (e.g. the bench harness) can attribute
    * a swing to prep vs pass count vs per-pass cost from the artifact
    * alone instead of one opaque total.
    */
  def dedupKeepersConverged(
      df: DataFrame, textCol: String, idCol: String, threshold: Double,
      bands: Int = 16, rowsPerBand: Int = 4, maxPasses: Int = 5,
      onPass: (Int, Long, Double) => Unit = (_, _, _) => ()): DataFrame = {
    val prepT0 = System.nanoTime()
    var prep = df
      .select(col(idCol).as("id"), hashedTokenSet(col(textCol)).as("toks"))
      .select(col("id"), col("toks"), size(col("toks")).as("n"),
        graft.functions.MinHashBandHashes.minHashBandHashes(
          col("toks"), bands, rowsPerBand).as("band_arr"))
      .persist()
    var curCount = prep.count()
    onPass(0, curCount, (System.nanoTime() - prepT0) / 1e9)
    var pass = 0
    var converged = false
    while (pass < maxPasses && !converged) {
      val passT0 = System.nanoTime()
      val edges = repEdges(explodeBands(prep, "id"))
      val dropped = verifiedDropIds(Production,
        edges, prep.select("id", "toks", "n"), prep.select("id", "toks", "n"), threshold)
      // eager localCheckpoint: materializes (so the count below reads
      // blocks) AND truncates the plan to a LogicalRDD leaf — see the
      // scaladoc's plan-growth note
      val next = prep.join(dropped, Seq("id"), "left_anti").localCheckpoint()
      val nextCount = next.count()
      releaseStaged(prep)
      converged = nextCount == curCount
      prep = next
      curCount = nextCount
      pass += 1
      onPass(pass, nextCount, (System.nanoTime() - passT0) / 1e9)
    }
    val result = df.join(
      prep.select(col("id").as(idCol)), Seq(idCol), "left_semi").persist()
    result.count() // materialize before releasing the pass-level cache
    releaseStaged(prep)
    result
  }

  /** Free a pass-level staging frame: a plain `.persist()`ed frame
    * unpersists directly; a `localCheckpoint`ed one is backed by a
    * [[org.apache.spark.sql.execution.LogicalRDD]] leaf whose RDD
    * blocks the cache manager never tracks — release those explicitly
    * (the bench harness sweeps leftovers per row, but an operator that
    * supersedes its own staging frames should not lean on the caller
    * for interim blocks).
    */
  private def releaseStaged(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }

  /** Incremental near-dedup: the daily-ingest contract of a training-data
    * pipeline — drop `batch` docs that near-dup an ALREADY-KEPT corpus
    * doc, then dedup the survivors among themselves ([[dedupKeepers]]).
    * The corpus is immutable and always wins; corpus and batch id spaces
    * are never compared numerically, so they may overlap.
    *
    * This raw-corpus form recomputes the corpus bucket reps every call —
    * it is [[corpusBucketReps]] + the [[CorpusReps]] overload fused, for
    * one-shot use. A standing deployment precomputes the reps ONCE per
    * corpus version (they are a pure function of the kept docs), persists
    * the frame alongside the corpus, and calls the overload — then each
    * batch costs O(batch) and the corpus is not read at all.
    *
    * Returns the kept rows of `batch`, unchanged schema.
    */
  def dedupIncremental(
      corpus: DataFrame, batch: DataFrame, textCol: String, idCol: String,
      threshold: Double, bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    dedupIncremental(
      CorpusReps(corpusBucketReps(corpus, textCol, idCol, bands, rowsPerBand),
        bands, rowsPerBand),
      batch, textCol, idCol, threshold)

  /** The precomputable corpus side of [[dedupIncremental]] as a public,
    * PERSISTABLE frame: one row per occupied LSH bucket —
    * `(band int, band_hash long, rep <id type>, rep_toks array<long>,
    * rep_n int)` where `rep` is the bucket's min corpus id and
    * `rep_toks`/`rep_n` its sorted token-hash verify array. Plain
    * columns only, so it round-trips through parquet unchanged; wrap the
    * read-back frame in [[CorpusReps]] (with the SAME bands/rowsPerBand
    * it was built with) to feed the overload.
    *
    * Plan: fused band hashes ([[graft.functions.MinHashBandHashes]]) →
    * partial-agg min-id groupBy per bucket → one join to attach the rep
    * token arrays. Linear in corpus × bands; computed once per corpus
    * version, amortized over every subsequent batch.
    */
  def corpusBucketReps(
      corpus: DataFrame, textCol: String, idCol: String,
      bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    bucketRepsBy(Production, corpus, textCol, idCol, bands, rowsPerBand)

  /** ORACLE-portable twin of [[corpusBucketReps]] (the
    * [[dedupKeepersPortable]] hash family: md5-salted min-hashes,
    * md5-string band hashes, raw-string-token verify sets) — the reps
    * half of the q254 cross-engine row. Same plan as production; only
    * the hash family and the verify representation differ.
    */
  def corpusBucketRepsPortable(
      corpus: DataFrame, textCol: String, idCol: String,
      bands: Int, rowsPerBand: Int): DataFrame =
    bucketRepsBy(Portable, corpus, textCol, idCol, bands, rowsPerBand)

  /** Shared reps construction: min-id rep per (band, band_hash) bucket
    * plus the rep's verify set, in the family's banding and verify
    * representation.
    */
  private def bucketRepsBy(
      f: HashFamily, corpus: DataFrame, textCol: String, idCol: String,
      bands: Int, rowsPerBand: Int): DataFrame =
    banded(f, corpus, f.tokens(col(textCol)), idCol, bands, rowsPerBand)
      .groupBy("band", "band_hash").agg(min("id").as("rep"))
      .join(
        tokArrays(f, corpus, textCol, idCol)
          .select(col("id").as("rep"), col("toks").as("rep_toks"), col("n").as("rep_n")),
        Seq("rep"))
      .select("band", "band_hash", "rep", "rep_toks", "rep_n")

  /** A [[corpusBucketReps]] frame plus the banding parameters it was
    * built with. The marker type keeps the precomputed overload of
    * [[dedupIncremental]] distinguishable from the raw-corpus form, and
    * carrying bands/rowsPerBand here guarantees the BATCH side is banded
    * identically to the reps — a silent mismatch would not error, it
    * would just miss duplicates.
    */
  final case class CorpusReps(df: DataFrame, bands: Int = 16, rowsPerBand: Int = 4)

  /** Fold a batch's ACCEPTED survivors into an existing
    * [[corpusBucketReps]] frame — the third leg of the standing
    * deployment's daily loop (reps → [[dedupIncremental]] → survivors →
    * mergedBucketReps → persist for tomorrow), so the reps are NEVER
    * recomputed from the full corpus after day one. Cost is O(accepted ×
    * bands) banding plus a groupBy over (old reps ∪ accepted reps) —
    * the reps frame is bounded by occupied buckets, not corpus text.
    *
    * Exactly equal to recomputing [[corpusBucketReps]] over
    * (corpus ∪ accepted) — spec-pinned: the rep per bucket is the min
    * id over both sides and its token array is a pure function of the
    * doc, so a bucket-wise min-by merge is lossless. Requires ids
    * unique ACROSS corpus and accepted (a standing corpus has one id
    * space; [[dedupIncremental]]'s overlap tolerance is only about
    * judging candidate batches by content).
    */
  def mergedBucketReps(
      reps: CorpusReps, accepted: DataFrame, textCol: String, idCol: String): DataFrame =
    reps.df
      .unionByName(
        corpusBucketReps(accepted, textCol, idCol, reps.bands, reps.rowsPerBand))
      .groupBy("band", "band_hash")
      .agg(min_by(
        struct(col("rep"), col("rep_toks"), col("rep_n")), col("rep")).as("r"))
      .select(col("band"), col("band_hash"),
        col("r.rep").as("rep"), col("r.rep_toks").as("rep_toks"),
        col("r.rep_n").as("rep_n"))

  /** REMOVE ids from a standing [[corpusBucketReps]] frame — the
    * removal verb for the dedup leg (completing the engine-wide
    * opt-out/contamination story next to [[graft.ops.PqOps.ivfPqDelete]]
    * and [[SimilarityOps.deleteFromLshIndex]]), with the semantics
    * removal actually needs here: a near-dup of REMOVED content must
    * stop being suppressed (the content is gone, so tomorrow's batch
    * may legitimately re-introduce it), while dups of surviving docs
    * keep being dropped.
    *
    * Unlike the index tombstones, the reps frame is LOSSY — it stores
    * only each bucket's min-id member — so a tombstone can't express
    * "promote the bucket's next member": buckets whose rep is removed
    * must be RE-DERIVED from the remaining corpus.
    *  - rep NOT removed: the row is untouched (the rep is the min id
    *    over members; removing a non-rep member cannot change it).
    *  - rep removed: the bucket is recomputed over the remaining
    *    corpus — the smallest surviving member takes over, or the
    *    bucket disappears if the rep was its only member.
    * Exactly equal to `corpusBucketReps(corpus minus ids)` —
    * spec-pinned — at a fraction of the cost: the untouched side is a
    * broadcast anti-join over the reps frame (bounded by occupied
    * buckets), and the recompute side is ONE NARROW banded pass over
    * the remaining corpus (fused band hashes; only (id, band, hash)
    * longs shuffle) semi-joined down to the affected buckets before
    * any token arrays are built — verify-array work is proportional
    * to PROMOTED reps, not the corpus, and when no removed id was a
    * rep (scattered opt-outs, the common case) the recompute side is
    * empty. The banded pass itself is the price of the minimal reps
    * layout: bucket membership is not stored, so it must be re-derived
    * (storing full membership would cost bands × corpus rows forever
    * to make removal cheaper once — the wrong trade).
    *
    * `corpus` is the standing corpus (pre- or post-removal both work:
    * removed ids are anti-joined out here). Removing an absent id is
    * a no-op; the result is a plain persistable frame — wrap in
    * [[CorpusReps]] with the same banding to keep serving.
    */
  def removedBucketReps(
      reps: CorpusReps, corpus: DataFrame, removedIds: DataFrame,
      textCol: String, idCol: String): DataFrame =
    removedRepsBy(Production, reps.df, corpus, removedIds, textCol, idCol,
      reps.bands, reps.rowsPerBand)

  /** ORACLE-portable twin of [[removedBucketReps]] over a
    * [[corpusBucketRepsPortable]] frame — the removal half of the q254
    * cross-engine row: Spark runs THIS removal plan (keep anti-join +
    * affected-bucket recompute + union) while the DuckDB oracle runs
    * the full recompute over the shrunk corpus, so a hash match proves
    * the removal ≡ recompute spec equality across engines at the value
    * level, not just within one engine (the production spec's form).
    */
  def removedBucketRepsPortable(
      reps: DataFrame, corpus: DataFrame, removedIds: DataFrame,
      textCol: String, idCol: String, bands: Int, rowsPerBand: Int): DataFrame =
    removedRepsBy(Portable, reps, corpus, removedIds, textCol, idCol,
      bands, rowsPerBand)

  /** Shared removal construction: keep-side broadcast anti-join,
    * affected-bucket semi-join, one narrow banded pass over the
    * remaining corpus, verify arrays only for promoted reps.
    */
  private def removedRepsBy(
      f: HashFamily, reps: DataFrame, corpus: DataFrame, removedIds: DataFrame,
      textCol: String, idCol: String, bands: Int, rowsPerBand: Int): DataFrame = {
    val rem = removedIds.select(col(idCol).as("__rid")).distinct()
    val keep = reps.join(broadcast(rem),
      col("rep") === col("__rid"), "left_anti")
    val affected = reps.join(broadcast(rem),
      col("rep") === col("__rid"), "left_semi")
      .select("band", "band_hash")
    val remaining = corpus.join(broadcast(rem),
      col(idCol) === col("__rid"), "left_anti")
    val newReps = banded(f, remaining, f.tokens(col(textCol)), idCol, bands, rowsPerBand)
      .join(broadcast(affected), Seq("band", "band_hash"), "left_semi")
      .groupBy("band", "band_hash").agg(min("id").as("rep"))
    val repDocs = remaining.join(
      newReps.select(col("rep").as(idCol)).distinct(), Seq(idCol), "left_semi")
    val rebuilt = newReps.join(
      tokArrays(f, repDocs, textCol, idCol)
        .select(col("id").as("rep"), col("toks").as("rep_toks"),
          col("n").as("rep_n")),
      Seq("rep"))
      .select("band", "band_hash", "rep", "rep_toks", "rep_n")
    keep.select("band", "band_hash", "rep", "rep_toks", "rep_n")
      .unionByName(rebuilt)
  }

  /** [[dedupIncremental]] against a PRECOMPUTED [[corpusBucketReps]]
    * frame — the standing-deployment form: per-batch cost is O(batch ×
    * bands) banding + ≤ `bands` rep verifications per batch doc + the
    * within-batch [[dedupKeepers]]. The corpus itself is never touched
    * (no re-tokenization, no corpus scan); only matched reps' token
    * arrays join the (small) batch edge set.
    *
    * Returns the kept rows of `batch`, unchanged schema.
    */
  def dedupIncremental(
      reps: CorpusReps, batch: DataFrame, textCol: String, idCol: String,
      threshold: Double): DataFrame =
    incrementalKeepers(Production, reps, batch, textCol, idCol, threshold)

  /** ORACLE-portable twin of [[dedupIncremental]]: the SAME two-stage
    * decision — batch docs verified against per-bucket corpus reps
    * (corpus always wins, no id comparison across sides), then the
    * survivors deduped within themselves — built from the md5-family
    * reps ([[corpusBucketRepsPortable]]) the DuckDB oracle replays
    * (q44). Production calls [[dedupIncremental]]; this form gives the
    * daily-ingest DECISION a row-level cross-engine oracle.
    */
  def dedupIncrementalPortable(
      corpus: DataFrame, batch: DataFrame, textCol: String, idCol: String,
      threshold: Double, bands: Int, rowsPerBand: Int): DataFrame =
    incrementalKeepers(Portable,
      CorpusReps(corpusBucketRepsPortable(corpus, textCol, idCol, bands, rowsPerBand),
        bands, rowsPerBand),
      batch, textCol, idCol, threshold)

  private def incrementalKeepers(
      f: HashFamily, reps: CorpusReps, batch: DataFrame, textCol: String,
      idCol: String, threshold: Double): DataFrame = {
    val edges = banded(f, batch, f.tokens(col(textCol)), idCol, reps.bands, reps.rowsPerBand)
      .join(reps.df.select("band", "band_hash", "rep"), Seq("band", "band_hash"))
      .select("id", "rep").distinct()
    // a rep can own many buckets — one verify row per rep, not per bucket
    val repToks = reps.df
      .select(col("rep").as("id"), col("rep_toks").as("toks"), col("rep_n").as("n"))
      .dropDuplicates("id")
    val dropped = verifiedDropIds(
      f, edges, tokArrays(f, batch, textCol, idCol), repToks, threshold)
    val survivors = batch.join(
      dropped.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
    keepersBySets(f, survivors, f.tokens(col(textCol)), idCol, threshold,
      reps.bands, reps.rowsPerBand, emptyMatchesEmpty = true)
  }

  /** (id, band, band_hash) rows — `bands` per doc over `sets`. */
  private def banded(
      f: HashFamily, df: DataFrame, sets: Column, idCol: String,
      bands: Int, rowsPerBand: Int): DataFrame =
    explodeBands(f.bandArrays(df, sets, idCol, bands, rowsPerBand), "id")

  /** The `cols` of `df` plus (band, band_hash): one row per element of
    * its `band_arr` column.
    */
  private def explodeBands(df: DataFrame, cols: String*): DataFrame =
    df.select(cols.map(col) :+ posexplode(col("band_arr")): _*)
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")

  /** Candidate (id, rep) edges of banded rows: each doc against the
    * min-id doc of every bucket it shares with a smaller id, deduped on
    * ids only (≤ bands edges per doc).
    */
  private def repEdges(banded: DataFrame): DataFrame = {
    val reps = banded.groupBy("band", "band_hash").agg(min("id").as("rep"))
    banded.join(reps, Seq("band", "band_hash"))
      .filter(col("id") > col("rep"))
      .select("id", "rep").distinct()
  }

  /** (id, toks, n) verify side in the family's token representation. */
  private def tokArrays(
      f: HashFamily, df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"), f.tokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")))

  /** Candidate (id, rep) edges that pass the exact-Jaccard verify, with
    * their `jaccard` — the shared verify stage of the pair
    * ([[minHashDedup]]), decision ([[verifiedDropIds]]) and component
    * ([[dupComponentsFromReps]]) paths. `aToks`/`bToks` are (id, toks,
    * n) frames for the `id` and `rep` sides; `emptyMatchesEmpty` is the
    * family's empty-set rule ([[Production]]).
    */
  private def verifiedEdges(
      f: HashFamily, edges: DataFrame, aToks: DataFrame, bToks: DataFrame,
      threshold: Double, emptyMatchesEmpty: Boolean = true): DataFrame =
    edges
      .join(aToks.select(col("id"), col("toks").as("toks_a"), col("n").as("n_a")), "id")
      .join(bToks.select(col("id").as("rep"), col("toks").as("toks_b"), col("n").as("n_b")), "rep")
      .withColumn("inter", f.intersect(col("toks_a"), col("toks_b")))
      .withColumn("jaccard", f.jaccard(emptyMatchesEmpty))
      .filter(col("jaccard") >= threshold)
      .select("id", "rep", "jaccard")

  private def verifiedDropIds(
      f: HashFamily, edges: DataFrame, aToks: DataFrame, bToks: DataFrame,
      threshold: Double, emptyMatchesEmpty: Boolean = true): DataFrame =
    verifiedEdges(f, edges, aToks, bToks, threshold, emptyMatchesEmpty)
      .select("id")
      .distinct()

  /** Shift with a COLUMN bit count — the `functions.shiftright/left`
    * overloads only take a literal Int; the underlying Catalyst
    * expressions accept any expression.
    */
  private def shiftRightC(v: Column, n: Column): Column =
    graftbridge.column(org.apache.spark.sql.catalyst.expressions.ShiftRight(
      graftbridge.expression(v), graftbridge.expression(n)))
  private def shiftLeftC(v: Column, n: Column): Column =
    graftbridge.column(org.apache.spark.sql.catalyst.expressions.ShiftLeft(
      graftbridge.expression(v), graftbridge.expression(n)))
  private def graftbridge = org.apache.spark.sql.graftbridge.ColumnBridge

  /** 64-bit SimHash over the token multiset: sign-sum of per-token hash
    * bits. Near-dups = pairs within `maxHamming` bits; the banding trick
    * (split 64 bits into k chunks, equi-join on chunk) finds all pairs
    * with Hamming distance < k chunks apart without O(n²).
    *
    * ONE hash per token: the token hashes are the aggregate's input
    * collection (evaluated once per row) and a single fold updates all
    * `nBits` counters per token. The naive per-bit formulation (`nBits`
    * separate folds over `toks`) re-evaluates `tokenHash` per token PER BIT
    * — 48-64× redundant hashing, which dominated the simhash benches.
    * Values are identical either way.
    */
  def simHash(
      toks: Column, nBits: Int = 64,
      tokenHash: Column => Column = xxhash64(_)): Column = {
    val bitIdx = sequence(lit(0), lit(nBits - 1))
    val sums = aggregate(
      transform(toks, t => tokenHash(t)),
      array_repeat(lit(0), nBits),
      (acc, h) => zip_with(acc, bitIdx, (a, b) =>
        a + when(shiftRightC(h, b).bitwiseAND(1) === 1, 1).otherwise(-1)))
    aggregate(
      zip_with(sums, bitIdx, (s, b) => when(s > 0, shiftLeftC(lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: 4-chunk banding (any pair with Hamming
    * distance <= 3 shares at least one exact 16-bit chunk), then exact
    * Hamming verify.
    */
  def simHashPairs(df: DataFrame, textCol: String, idCol: String, maxHamming: Int): DataFrame = {
    require(maxHamming < 4, "banding guarantee needs maxHamming < chunks")
    val banded = simHashBanded(Production, df, textCol, idCol)
    val l = banded.select(col("chunk"), col("chunk_val"), col("id").as("id_a"), col("sig").as("sig_a"))
    val r = banded.select(col("chunk"), col("chunk_val"), col("id").as("id_b"), col("sig").as("sig_b"))
    l.join(r, Seq("chunk", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming64(col("sig_a"), col("sig_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash dedup DECISION path — the [[dedupKeepers]] shape for the
    * signature family: keep/drop per doc, never a pair list. Even
    * lighter than the MinHash keepers because the verify artifact IS the
    * 64-bit signature already riding the bucket rows: one groupBy picks
    * a min-id representative (id + sig) per 16-bit chunk bucket, and
    * each doc Hamming-verifies against ≤ 4 reps AT the bucket join — no
    * second shuffle, no token arrays, everything linear in docs × 4.
    *
    * Semantics: a doc is DROPPED iff its signature is within
    * `maxHamming` bits of the min-id doc of at least one of its chunk
    * buckets. Equal sigs share every bucket, so exact duplicates
    * collapse unless an unrelated smaller-id doc coincidentally owns
    * all four chunk buckets (a ~2⁻¹⁶-per-chunk accident that only ever
    * UNDER-drops). Same recall contract as [[dedupKeepers]]: two
    * non-rep cluster members are never compared directly; re-running on
    * the keepers only shrinks the set. [[simHashPairs]] remains the
    * pair-level oracle form.
    *
    * Returns the KEPT rows of `df`, unchanged schema.
    */
  def simHashKeepers(
      df: DataFrame, textCol: String, idCol: String, maxHamming: Int): DataFrame =
    simHashKeepersBy(Production, df, textCol, idCol, maxHamming)

  /** ORACLE-portable twin of [[simHashKeepers]]: the SAME decision plan
    * over the 48-bit md5-family signature the q29 oracle already
    * replays, in 4 chunks of 12 bits (maxHamming < 4 still guaranteed
    * by banding) — gives the SimHash keep/drop DECISION a row-level
    * DuckDB oracle (q43).
    */
  def simHashKeepersPortable(
      df: DataFrame, textCol: String, idCol: String, maxHamming: Int): DataFrame =
    simHashKeepersBy(Portable, df, textCol, idCol, maxHamming)

  private def simHashKeepersBy(
      f: HashFamily, df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int): DataFrame = {
    val dropped = simHashCandidates(f, df, textCol, idCol, maxHamming)
      .select("id").distinct()
    df.join(dropped.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** Edit-distance fuzzy dedup DECISION path — the record-linkage
    * verify (classic Levenshtein matching) grafted onto the SimHash
    * candidate plan: per chunk bucket the min-id doc is the rep, a
    * candidate is any (doc, rep) pair whose signatures are within
    * `maxHamming` (the [[simHashKeepers]] gate — cheap, text-free), and
    * a candidate is DROPPED only if the exact character-level
    * `levenshtein(doc, rep) <= maxDist`. Keep/drop per doc, no pair
    * list.
    *
    * Scale shape: the banded/rep stage shuffles (id, sig, chunk) longs
    * only; candidates collapse to DISTINCT (id, rep) pairs BEFORE any
    * text is fetched, so document text crosses an exchange exactly
    * twice (once per side of the verify join, keyed by id) and the
    * O(len²) Levenshtein DP runs once per surviving candidate pair —
    * bounded by bucket occupancy, never |corpus|². Banding recall
    * contract is [[simHashKeepers]]'s: a true near-dup pair farther
    * than `maxHamming` in signature space is not seen (raise chunks /
    * lower `maxHamming` trades recall for candidates).
    */
  def editKeepers(
      df: DataFrame, textCol: String, idCol: String,
      maxDist: Int, maxHamming: Int = 3): DataFrame =
    editKeepersBy(Production, df, textCol, idCol, maxDist, maxHamming)

  /** ORACLE-portable twin of [[editKeepers]]: identical decision plan
    * over the 48-bit md5-family signature (q29/q43's chain) so DuckDB
    * replays every candidate AND the Levenshtein verify row-level
    * (both engines implement the classic unit-cost DP).
    */
  def editKeepersPortable(
      df: DataFrame, textCol: String, idCol: String,
      maxDist: Int, maxHamming: Int = 3): DataFrame =
    editKeepersBy(Portable, df, textCol, idCol, maxDist, maxHamming)

  private def editKeepersBy(
      f: HashFamily, df: DataFrame, textCol: String, idCol: String,
      maxDist: Int, maxHamming: Int): DataFrame = {
    val cand = simHashCandidates(f, df, textCol, idCol, maxHamming)
      .select("id", "rep").distinct()
    val texts = df.select(col(idCol).as("tid"), col(textCol).as("ttxt"))
    val dropped = cand
      .join(texts, col("id") === col("tid"))
      .select(col("id"), col("rep"), col("ttxt").as("txt_a"))
      .join(texts, col("rep") === col("tid"))
      .filter(levenshtein(col("txt_a"), col("ttxt")) <= maxDist)
      .select("id").distinct()
    df.join(dropped.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** The SimHash candidate stage shared by the keepers and edit
    * decisions: per chunk bucket the min-id doc (with its signature) is
    * the rep, and every (id, rep) row of a doc within `maxHamming` bits
    * of a rep with a smaller id survives.
    */
  private def simHashCandidates(
      f: HashFamily, df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming < 4, "banding guarantee needs maxHamming < chunks")
    val banded = simHashBanded(f, df, textCol, idCol)
    val reps = banded.groupBy("chunk", "chunk_val")
      .agg(min("id").as("rep"), min_by(col("sig"), col("id")).as("rep_sig"))
    banded.join(reps, Seq("chunk", "chunk_val"))
      .filter(col("id") > col("rep") &&
        hamming64(col("sig"), col("rep_sig")) <= maxHamming)
  }

  /** (id, sig, chunk, chunk_val) rows — 4 per doc, `f.chunkBits`-bit
    * chunks of the family's signature.
    */
  private def simHashBanded(
      f: HashFamily, df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"), f.simHash(col(textCol)).as("sig"))
      .select(col("id"), col("sig"), posexplode(
        array((0 until 4).map(c =>
          shiftright(col("sig"), c * f.chunkBits)
            .bitwiseAND((1L << f.chunkBits) - 1)): _*)))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "chunk_val")

  /** Word n-gram (shingle) set. */
  def ngramSet(text: Column, n: Int): Column = {
    val toks = TextOps.whitespaceTokenize(text)
    array_distinct(
      when(size(toks) < n, array())
        .otherwise(transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
  }

  /** Embedding-cosine near-dup pairs (brute force; see SimilarityOps for
    * the bucketed scale path). Vectors are L2-normalized ONCE per row
    * (O(n) side work) so the O(n²) pair loop is a single fused dot pass
    * — 3× fewer array traversals than cosine-per-pair.
    */
  def cosinePairs(df: DataFrame, vecCol: String, idCol: String, minCosine: Double): DataFrame = {
    val nrm = VectorOps.l2Norm(col(vecCol))
    val unit = transform(col(vecCol), x => x.cast("double") / nrm)
    val t = df.select(col(idCol).as("id"), unit.as("u"))
    val a = t.select(col("id").as("id_a"), col("u").as("u_a"))
    val b = t.select(col("id").as("id_b"), col("u").as("u_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine",
        aggregate(zip_with(col("u_a"), col("u_b"), (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x))
      .filter(col("cosine") >= minCosine)
      .select("id_a", "id_b", "cosine")
  }

  /** Embedding-cosine dedup DECISION path — the [[dedupKeepers]] /
    * [[simHashKeepers]] shape for the vector family: keep/drop per doc,
    * never a pair list ([[cosinePairs]] stays the pairwise oracle-scale
    * form). Buckets come from the fused hyperplane-LSH band signatures
    * ([[graft.functions.HyperplaneBandSigs]], the same family as
    * `SimilarityOps.lshCosineTopK`); one groupBy picks a min-id
    * representative (id + vector) per (band, bucket), and each doc
    * cosine-verifies against its ≤ `bands` reps AT the bucket join
    * (fused codegen [[graft.functions.CosineSimilarity]]) — no second
    * shuffle. Everything is linear in docs × bands; vectors ride only
    * the banded stream and the broadcast-or-copartitioned rep side.
    *
    * Semantics: a doc is DROPPED iff cosine(vec, rep_vec) >= `minCosine`
    * against the min-id doc of at least one of its buckets. Same recall
    * contract as the other keepers: two non-rep near-dups that never
    * share a bucket rep are not compared directly; re-running on the
    * keepers only shrinks the set. Identical vectors share every band
    * signature, so exact duplicates always collapse to the min id.
    *
    * Returns the KEPT rows of `df`, unchanged schema.
    */
  def cosineKeepers(
      df: DataFrame, vecCol: String, idCol: String, minCosine: Double,
      bands: Int = 8, planesPerBand: Int = 8, dim: Int = 64): DataFrame = {
    val banded = df
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .select(col("id"), col("vec"), posexplode(
        graft.functions.HyperplaneBandSigs.hyperplaneBandSigs(
          col("vec"), bands, planesPerBand, dim)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
    val reps = banded.groupBy("band", "bucket")
      .agg(min("id").as("rep"), min_by(col("vec"), col("id")).as("rep_vec"))
    val dropped = banded.join(reps, Seq("band", "bucket"))
      .filter(col("id") > col("rep") &&
        graft.functions.CosineSimilarity.cosineFused(col("vec"), col("rep_vec")) >= minCosine)
      .select("id").distinct()
    df.join(dropped.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** Connected components over an undirected edge list by iterative
    * min-label propagation: every node's label converges to the
    * smallest node id transitively reachable from it. Pass `t`:
    * `label(v) ← min(label(v), min over neighbors' labels)` — one
    * shuffle of (id, long-label) pairs per pass, text/payload never
    * involved — until a pass changes nothing or `maxPasses` hits.
    * Deterministic regardless of partitioning (min is
    * order-insensitive).
    *
    * Scale notes (100 TB): plain propagation converges in
    * graph-diameter passes. Near-dup graphs are the intended input and
    * have tiny diameters (LSH banding yields star/clique-shaped
    * components around min-id reps), so 2-4 passes is typical; a
    * pathological chain-shaped graph is what the large-star/small-star
    * contraction of Kiveris et al. (2014, "Connected Components in
    * MapReduce") bounds — swap the pass body for star contraction if
    * diameters grow.
    *
    * Every round-trip frame is `localCheckpoint`ed, NOT merely
    * persisted: `labels` appears twice in each pass's plan (union
    * branch + propagation join), so without LINEAGE truncation the
    * logical plan doubles per pass and AQE's per-action plan
    * re-stringification turns O(2^passes) plan text into a driver OOM
    * long before the data is a problem — persist caches rows but keeps
    * the full plan. (On a real cluster swap `localCheckpoint` for
    * reliable `checkpoint` — executor loss invalidates local
    * checkpoints.)
    *
    * Returns `(id, component)`, one row per node appearing in `edges`,
    * checkpointed and materialized — do NOT `.unpersist()` it (that
    * would drop the checkpoint blocks mid-use); the blocks are freed
    * when the frame is garbage-collected.
    */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxPasses: Int = 20): DataFrame = {
    // checkpoint the edge projection BEFORE symmetrizing: the union's
    // two branches would otherwise each re-evaluate the (possibly very
    // expensive — e.g. a MinHash verify) upstream pair plan
    val e = edges.select(col(srcCol).cast("long").as("id"),
      col(dstCol).cast("long").as("nb")).localCheckpoint()
    val sym = e.union(e.select(col("nb").as("id"), col("id").as("nb")))
      .distinct().localCheckpoint()
    // NOT sized like the alternating loop (r15 A/B): wrapping these
    // passes in withShufflePartitions(partsForRows(sym.count)) read
    // FLAT on b_minhash_components and +15% on b_dup_components_reps
    // (back-to-back min-of-2) — the min-label loop's edge set never
    // shrinks, so the sizing only serialized the per-pass joins
    // without removing any work. Kept at the session's partitioning.
    var labels = sym.select("id").distinct()
      .withColumn("component", col("id")).localCheckpoint()
    var pass = 0
    var converged = false
    while (pass < maxPasses && !converged) {
      val nbLab = sym
        .join(labels.select(col("id").as("nb"), col("component")), Seq("nb"))
        .select("id", "component")
      val next = labels.union(nbLab)
        .groupBy("id").agg(min("component").as("component"))
        .localCheckpoint()
      val changed = next
        .join(labels.withColumnRenamed("component", "old"), Seq("id"))
        .filter(col("component") < col("old")).count()
      labels = next
      converged = changed == 0
      pass += 1
    }
    labels
  }

  /** Duplicate-cluster labels: every row of `df` tagged with the
    * min-id of its transitive near-dup component under the verified
    * pair list `pairs` (e.g. [[minHashDedup]]'s output) — the "group
    * the dups before picking reps" deliverable every large dedup
    * pipeline ships alongside keep/drop. Rows in no pair are their own
    * component. Returns `df` + a `component` long column; the embedded
    * components frame is checkpointed, its blocks freed on garbage
    * collection.
    *
    * The component labels come from
    * [[graft.ops.GraphOps.connectedComponentsAlternating]] (star
    * contraction): on the dup-DENSE pair graphs this op is built for,
    * min-label propagation re-joins the full quadratic edge list every
    * pass, while large-star's first round already collapses each
    * near-clique onto its minimum — the edge set SHRINKS every round
    * (measured 30.3 s → 14.4 s on the sf0.1 pair list — the
    * pair-GENERATION floor, so labeling is now ~free) and deep-chain
    * graphs stay O(log² n) instead of O(diameter). Labels are
    * identical by both algorithms (min reachable id; parity
    * spec-pinned in `GraphOpsSpec`), so the q69 oracle is unchanged.
    */
  def dupComponents(
      df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b",
      maxPasses: Int = 20): DataFrame = {
    val comp = graft.ops.GraphOps
      .connectedComponentsAlternating(pairs, aCol, bCol, maxPasses)
    df.join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("component",
        coalesce(col("component"), col(idCol).cast("long")))
  }

  /** PRODUCTION duplicate-cluster labels with a BOUNDED edge list
    * (VERDICT r6 #3): instead of consuming an all-pairs verified list
    * (quadratic by contract on dup-dense data — a cluster of m
    * near-dups has m·(m-1)/2 pairs, and [[dupComponents]] fed from
    * [[minHashDedup]] inherits that floor), build the component graph
    * from the VERIFIED (member, bucket-rep) STAR edges of the keepers
    * plan — ≤ bands edges per doc, O(docs × bands) total, the same
    * linear banding/verify stages as [[dedupKeepers]]. Two members of
    * one bucket connect THROUGH their verified rep, so tight clusters
    * collapse to one component without ever materializing their pair
    * list.
    *
    * Recall caveat (the decision path's chain contract): two bucket
    * co-members that BOTH fail the verify against the bucket's min-id
    * rep but would verify against each other are not linked — the star
    * graph only probes member↔rep. Loose chains a pair graph would
    * join can therefore split; on planted tight clusters (the dedup
    * deliverable) the components are identical, which the differential
    * spec pins. Rows in no verified edge are their own component.
    *
    * Returns `df` + a `component` long column (min reachable id, the
    * [[dupComponents]] convention); the embedded components frame is
    * checkpointed ([[connectedComponents]]' contract).
    */
  def dupComponentsFromReps(
      df: DataFrame, textCol: String, idCol: String, threshold: Double,
      bands: Int = 16, rowsPerBand: Int = 4, maxPasses: Int = 20): DataFrame = {
    val comp = starComponentLabels(df, textCol, idCol, threshold, bands,
      rowsPerBand, maxPasses)
    df.join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("component",
        coalesce(col("component"), col(idCol).cast("long")))
  }

  /** Shared core of [[dupComponentsFromReps]] /
    * [[dedupKeepersByComponents]]: (id, component) labels over the
    * verified star-edge graph — only ids that appear in some verified
    * edge get a row (callers default the rest to their own id). The
    * returned frame is checkpointed (the [[connectedComponents]]
    * contract) and long-typed only.
    */
  private def starComponentLabels(
      df: DataFrame, textCol: String, idCol: String, threshold: Double,
      bands: Int, rowsPerBand: Int, maxPasses: Int): DataFrame =
    connectedComponents(
      verifiedRepEdges(Production, df, Production.tokens(col(textCol)), idCol,
        threshold, bands, rowsPerBand, emptyMatchesEmpty = true),
      "id", "rep", maxPasses)

  /** ONE-PASS cluster dedup (VERDICT r7 #5): keep exactly one doc —
    * the min id — per CONNECTED COMPONENT of the verified star-edge
    * graph ([[dupComponentsFromReps]]' machinery), the transitive-
    * closure semantics the web-dedup literature uses (a dup CLUSTER
    * yields one survivor, even when two members connect only through
    * a third). Text is tokenized, banded and verified exactly ONCE;
    * the only iteration left is the alternating star contraction over
    * (long, long) label pairs, whose pass count is O(log cluster
    * diameter) — not the data-dependent re-band/re-verify passes of
    * [[dedupKeepersConverged]].
    *
    * Semantics triangle, from least to most aggressive dropping:
    * [[dedupKeepers]] (drop iff verified against a bucket rep) ⊆
    * [[dedupKeepersConverged]] (fixpoint: additionally catches pairs
    * surfaced when drops promote new reps) and ⊆ THIS (additionally
    * collapses docs connected only transitively — A~M and M~B drops
    * both M and B even if A!~B). On tight planted clusters — the
    * dedup deliverable — all three keep the same min-id reps
    * (differential-spec pinned); they diverge only on loose chains,
    * where the choice is a policy: fixpoint = "no detectable pair
    * remains", components = "one per cluster".
    *
    * Returns kept rows of `df`, unchanged schema, via the
    * [[exactKeepers]] LOSERS anti-join shape: the dropped set (ids
    * whose component label is a smaller id — bounded by the duplicate
    * count, long-typed) joins back against `df`, so full rows — and
    * the text column in particular — never cross an exchange; with a
    * small loser set the anti-join broadcasts outright.
    */
  def dedupKeepersByComponents(
      df: DataFrame, textCol: String, idCol: String, threshold: Double,
      bands: Int = 16, rowsPerBand: Int = 4, maxPasses: Int = 20): DataFrame = {
    val losers = starComponentLabels(df, textCol, idCol, threshold, bands,
        rowsPerBand, maxPasses)
      .filter(col("component") =!= col("id"))
      .select("id")
    df.join(losers.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** SOFT dedup: instead of dropping duplicates, DOWNWEIGHT them so
    * each duplicate cluster contributes one unit of training mass in
    * total — `weight = 1 / |component|` over a component-labeled
    * frame ([[dupComponents]] or [[dupComponentsFromReps]] output;
    * singletons keep weight 1.0). The "count duplicates, don't drop
    * them" sampling discipline: repeated text still appears (it IS
    * higher-quality on average) but no longer dominates the token
    * budget in proportion to its copy count.
    *
    * Scale shape: the window partitions by the `component` LONG — the
    * only exchange carries the labeled id frame (two longs + the
    * weight), never text; at 100 TB this is the same (long, long)
    * shuffle [[dupComponents]] already paid to label.
    */
  def softDedupWeights(
      labeled: DataFrame, compCol: String = "component"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(compCol)
    labeled.withColumn("weight", lit(1.0) / count(lit(1)).over(w))
  }

  /** [[softDedupWeights]] over the PRODUCTION star-edge component
    * labels ([[dupComponentsFromReps]]): tokenize/band/verify once,
    * label, weight — O(docs × bands) end to end.
    */
  def softDedupWeightsFromReps(
      df: DataFrame, textCol: String, idCol: String, threshold: Double,
      bands: Int = 16, rowsPerBand: Int = 4, maxPasses: Int = 20): DataFrame =
    softDedupWeights(
      dupComponentsFromReps(df, textCol, idCol, threshold,
        bands, rowsPerBand, maxPasses)
        .select(col(idCol), col("component")))

  /** SemDeDup (Abbas et al. 2023): k-means-cluster the embeddings,
    * then near-dedup WITHIN each cluster — keep the min-id rep, drop
    * every other member whose cosine to the rep reaches `minCosine`.
    * The clustering makes the verify list per doc exactly ONE pair
    * (doc, its cluster rep) — versus [[cosineKeepers]]' `bands` LSH
    * buckets — at the price of `iters+1` extra corpus passes to train
    * the centroids; SemDeDup's published setting trades exactly this
    * way at web scale (clusters bound the candidate set). Rows whose
    * vector fails the fixed-dim/null contract cannot be near-dups and
    * are kept, mirroring [[cosineKeepers]].
    *
    * Scale shape: centroid training is
    * [[graft.ops.SimilarityOps.kmeansCentroids]] (constant-size
    * driver matrix, narrow assignment passes); the decision shuffles
    * (cluster, id) for the rep pick — `min_by` carries the rep VECTOR
    * through the k-row aggregate only — and the verify cosine runs at
    * the cluster join where both vectors are co-located, so the only
    * corpus-sized exchange carries (cluster int, id, vec), the same
    * row the LSH path ships per band.
    */
  def semDedupKeepers(
      df: DataFrame, vecCol: String, idCol: String, minCosine: Double,
      k: Int = 8, iters: Int = 2, dim: Int = 64): DataFrame = {
    val mat = SimilarityOps.kmeansCentroids(df, vecCol, idCol, k, iters, dim)
    val clustered = df
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .filter(col("vec").isNotNull && size(col("vec")) === dim &&
        !exists(col("vec"), _.isNull))
      .select(col("id"), col("vec"),
        element_at(graft.functions.TopCentroids.topCentroids(
          col("vec"), mat, dim, 1), 1).as("cluster"))
    val reps = clustered.groupBy("cluster")
      .agg(min("id").as("rep"), min_by(col("vec"), col("id")).as("rep_vec"))
    val dropped = clustered.join(reps, Seq("cluster"))
      .filter(col("id") > col("rep") &&
        graft.functions.CosineSimilarity.cosineFused(col("vec"), col("rep_vec")) >= minCosine)
      .select("id")
    df.join(dropped.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** CONTENT-DEFINED CHUNKING (the gear-hash CDC family behind
    * storage dedup and FastCDC): split text at positions where a
    * rolling hash of the trailing window hits a mask — boundaries
    * move WITH the content, so an insertion shifts at most one
    * chunk's worth of boundaries and every untouched region re-chunks
    * identically (the property fixed-size chunking — [[graft.ops
    * .SplitOps]]' q50 shape — fundamentally lacks). The roll is the
    * gear recurrence `h ← 2h + code(c)` taken mod `2^hashBits`;
    * because the modulus kills every contribution older than
    * `hashBits` shifts, `h` at position i has the CLOSED FORM of a
    * Horner fold over just the trailing `hashBits` characters — which
    * is what makes the whole chunker a per-row HOF expression (zero
    * shuffles, codegen) AND lets any engine replay it from the same
    * window fold. A cut fires after position i when
    * `h_i mod 2^maskBits = 0` (expected chunk length `2^maskBits`).
    *
    * Returns the chunk array; empty/NULL text yields an empty/NULL
    * array.
    */
  def cdcChunks(
      text: Column, maskBits: Int = 6, hashBits: Int = 20): Column =
    graft.functions.CdcChunks.cdcChunks(text, maskBits, hashBits)

  /** The composable-HOF twin of [[cdcChunks]] — kept as the
    * differential pin of [[graft.functions.CdcChunks]]'s native loop
    * (bit-identical by spec; the interpreted struct-accumulator fold
    * measured ~30× the native cost at sf0.1, the reason the fused
    * form is the production default).
    */
  def cdcChunksComposable(
      text: Column, maskBits: Int = 6, hashBits: Int = 20): Column = {
    require(maskBits >= 1 && maskBits <= hashBits && hashBits <= 30,
      s"cdcChunks: need 1 <= maskBits <= hashBits <= 30")
    val mod = lit(1L << hashBits)
    val mask = lit(1L << maskBits)
    val n = length(text)
    // ONE left fold over positions (HOFs get no subexpression
    // elimination, so a cuts-array formulation re-evaluates the hash
    // array per filter element — O(n³); the fold is O(n) state): the
    // running gear hash over the WHOLE prefix equals the trailing-
    // window Horner fold mod 2^hashBits (older terms are multiples of
    // the modulus), which is the closed form the SQL oracle replays.
    val init = struct(lit(0L).as("h"), lit(1).as("start"),
      array().cast("array<string>").as("chunks"))
    val folded = aggregate(
      sequence(lit(1), n), init,
      (acc, i) => {
        // the gear table: per-char Knuth multiplicative mix — raw
        // ASCII codes leave the low maskBits nearly constant over a
        // word alphabet (observed ~4x under-cutting), a spread gear
        // value restores the designed 2^-maskBits cut rate
        val gear = pmod(ascii(text.substr(i, lit(1))) *
          lit(2654435761L), mod)
        val h2 = pmod(acc.getField("h") * 2 + gear, mod)
        val isCut = i < n && h2 % mask === 0
        struct(
          h2.as("h"),
          when(isCut, i + 1).otherwise(acc.getField("start")).as("start"),
          when(isCut, concat(acc.getField("chunks"),
              array(text.substr(acc.getField("start"),
                i - acc.getField("start") + 1))))
            .otherwise(acc.getField("chunks")).as("chunks"))
      },
      acc => concat(acc.getField("chunks"),
        array(text.substr(acc.getField("start"),
          n - acc.getField("start") + 1))))
    when(text.isNull, lit(null).cast("array<string>"))
      .when(n === 0, array().cast("array<string>"))
      .otherwise(folded)
  }

  /** Cross-document duplicate-CHUNK census over [[cdcChunks]] — the
    * sub-document dedup gauge: per doc, how many of its chunks appear
    * verbatim in at least one OTHER document (copied boilerplate,
    * quoted passages, mirrored fragments that document-level dedup
    * scores dilute below threshold). `keyFn` maps a chunk string to
    * its shuffle key — xxhash64 by default (only 64-bit keys cross
    * the exchange; the portable md5 twin slots in for oracle replay,
    * the [[exactDedupGroups]] convention).
    *
    * Scale shape: chunking is row-local column algebra; the census is
    * one (key → distinct-doc count > 1) aggregation of (key, doc)
    * pairs and a second keyed fold back to docs — text never
    * shuffles, and chunk keys are ~len/2^maskBits per doc.
    */
  def cdcDupStats(
      df: DataFrame, textCol: String, idCol: String,
      maskBits: Int = 6, hashBits: Int = 20,
      keyFn: Column => Column = c => xxhash64(c)): DataFrame = {
    val chunks = df
      .select(col(idCol), explode(cdcChunks(col(textCol), maskBits, hashBits))
        .as("__chunk"))
      .select(col(idCol), keyFn(col("__chunk")).as("__ck"))
    val shared = chunks.select(col(idCol), col("__ck")).distinct()
      .groupBy("__ck").agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") > 1)
      .select(col("__ck"))
    // duplicated content can be pervasive (boilerplate) — the shared
    // set is NOT broadcast-bounded; keep the key-keyed join and let
    // AQE downgrade it when the set happens to be small
    chunks
      .join(shared.withColumnRenamed("__ck", "__sk"),
        col("__ck") === col("__sk"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__sk").isNotNull, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_frac",
        col("n_shared").cast("double") / col("n_chunks").cast("double"))
  }
}
