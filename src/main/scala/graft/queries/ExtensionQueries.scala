package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{PortableHash, Scratch, Tables}
import graft.core.PortableHash.{md5Long48Sql, md5LongSql, uniform01Sql}
import graft.ops._

/** LLM-data-pipeline extension queries (q21+): dedup (MinHash-LSH,
  * n-gram Jaccard, SimHash, embedding-cosine), similarity search, text
  * analysis (language ID, quality, token stats, fingerprints) and the
  * multimodal column bundle — each oracle-checked against DuckDB.
  *
  * Oracle-checked variants use [[graft.core.PortableHash]] (md5-derived
  * integers) so BOTH engines compute identical hashes; the production
  * paths in [[graft.ops.DedupOps]]/[[graft.ops.SimilarityOps]] default
  * to xxhash64 (faster, codegen'd) with identical structure.
  */
object ExtensionQueries {

  // --------------------------------------------------------------- q21
  /** MinHash(16) + LSH(4 bands × 4 rows) candidates, exact-Jaccard
    * verified at 0.6 — the scale path for near-dedup, oracle-checked via
    * the portable hash family.
    */
  def q21(spark: SparkSession, dir: String): DataFrame =
    DedupOps.minHashDedupPortable(
      Tables.documents(spark, dir), "text", "doc_id", threshold = 0.6,
      bands = 4, rowsPerBand = 4)

  /** The token sets `t` (doc_id, distinct whitespace tokens `toks`,
    * their count `n`) of the documents in `from`.
    */
  private def tokenSetSql(from: String): String =
    s"""t AS (
      | SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks,
      |        len(list_distinct(string_split(text, ' '))) AS n
      | FROM $from)""".stripMargin

  /** The MinHash(16) signatures `sig` of `t` and their 4 × 4 LSH band
    * hashes `band`.
    */
  private val minhashBandSql: String =
    s"""sig AS (
      | SELECT doc_id, toks, n,
      |  list_transform(generate_series(0, 15), i ->
      |    list_min(list_transform(toks, tk -> ${md5LongSql("tk || '#' || i")}))) AS sg
      | FROM t),
      |band AS (
      | SELECT doc_id, u.i AS band,
      |   md5(array_to_string(sg[4*u.i+1 : 4*u.i+4], ',')) AS bh
      | FROM sig, (SELECT unnest(generate_series(0, 3)) AS i) u)""".stripMargin

  /** Each band bucket's min-id representative `rep`. */
  private val minhashRepSql: String =
    """rep AS (
      | SELECT band, bh, min(doc_id) AS rep FROM band GROUP BY band, bh)""".stripMargin

  /** The keep/drop decision over `t` and `band`: the `edge`s from each
    * doc to its buckets' reps, the docs `dropped` because their Jaccard
    * with a rep reaches `threshold`, and the kept doc ids.
    */
  private def minhashKeepersSql(threshold: Double): String =
    s"""$minhashRepSql,
      |edge AS (
      | SELECT DISTINCT b.doc_id AS id, r.rep
      | FROM band b JOIN rep r ON b.band = r.band AND b.bh = r.bh
      | WHERE b.doc_id > r.rep),
      |dropped AS (
      | SELECT DISTINCT e.id
      | FROM edge e
      |  JOIN t ta ON ta.doc_id = e.id
      |  JOIN t tb ON tb.doc_id = e.rep
      | WHERE CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
      |   / (ta.n + tb.n - len(list_intersect(ta.toks, tb.toks))) >= $threshold)
      |SELECT doc_id FROM documents
      |WHERE doc_id NOT IN (SELECT id FROM dropped)""".stripMargin

  /** q21's CTE chain through the verified pair list `vpairs` at
    * Jaccard >= `threshold` — shared with q69's transitive closure
    * (which needs the WITH to be RECURSIVE, hence no WITH keyword here).
    */
  private def minhashPairCtes(threshold: Double): String =
    s"""${tokenSetSql("documents")},
      |$minhashBandSql,
      |cand AS (
      | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      | FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh
      |  AND a.doc_id < b.doc_id),
      |vpairs AS (
      | SELECT id_a, id_b,
      |  CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
      |   / (ta.n + tb.n - len(list_intersect(ta.toks, tb.toks))) AS jaccard
      | FROM cand
      |  JOIN t ta ON ta.doc_id = id_a
      |  JOIN t tb ON tb.doc_id = id_b
      | WHERE CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
      |   / (ta.n + tb.n - len(list_intersect(ta.toks, tb.toks))) >= $threshold)""".stripMargin

  val q21Sql: String =
    s"""WITH ${minhashPairCtes(0.6)}
      |SELECT id_a, id_b, jaccard FROM vpairs""".stripMargin

  // --------------------------------------------------------------- q22
  /** Near-dup pairs by word 3-gram (shingle) Jaccard >= 0.05. */
  def q22(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val t = d.select(col("doc_id").as("id"),
        DedupOps.ngramSet(col("text"), 3).as("toks"))
      .withColumn("n", size(col("toks")))
    val a = t.select(col("id").as("id_a"), col("toks").as("toks_a"), col("n").as("n_a"))
    val b = t.select(col("id").as("id_b"), col("toks").as("toks_b"), col("n").as("n_b"))
    a.join(b,
        col("id_a") < col("id_b") &&
        least(col("n_a"), col("n_b")).cast("double") >=
          greatest(col("n_a"), col("n_b")) * 0.05)
      .withColumn("inter", size(array_intersect(col("toks_a"), col("toks_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= 0.05)
      .select("id_a", "id_b", "jaccard")
  }

  val q22Sql: String =
    """WITH t AS (
      | SELECT doc_id,
      |  list_distinct(list_transform(
      |    generate_series(1, len(string_split(text, ' ')) - 2),
      |    i -> array_to_string(string_split(text, ' ')[i : i+2], ' '))) AS toks
      | FROM documents),
      |s AS (SELECT doc_id, toks, len(toks) AS n FROM t)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      | CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |  / (a.n + b.n - len(list_intersect(a.toks, b.toks))) AS jaccard
      |FROM s a JOIN s b ON a.doc_id < b.doc_id
      | AND CAST(least(a.n, b.n) AS DOUBLE) >= greatest(a.n, b.n) * 0.05
      |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |  / (a.n + b.n - len(list_intersect(a.toks, b.toks))) >= 0.05""".stripMargin

  // --------------------------------------------------------------- q23
  /** Embedding-cosine near-dup pairs (brute force at fixture scale). */
  def q23(spark: SparkSession, dir: String): DataFrame =
    DedupOps.cosinePairs(Tables.embeddings(spark, dir), "embedding", "vec_id", 0.45)

  val q23Sql: String =
    """WITH n AS (SELECT vec_id,
      |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
      |  embedding FROM embeddings),
      |e AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS u
      | FROM n)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      | list_sum(list_transform(generate_series(1, len(a.u)), i -> a.u[i] * b.u[i])) AS cosine
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_sum(list_transform(generate_series(1, len(a.u)), i -> a.u[i] * b.u[i])) >= 0.45""".stripMargin

  /** `e`: each embedding with its L2 norm `nrm`, plus the columns
    * `cols` (each followed by ", ").
    */
  private def bruteCosineBaseSql(cols: String): String =
    s"""e AS (SELECT vec_id, ${cols}embedding,
      |  sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      | FROM embeddings)""".stripMargin

  /** `c`: the exact cosine of each query vector (vec_id < `queries`)
    * against every other vector of `e`; the join condition is left
    * open for the caller to extend and close.
    */
  private def bruteCosineSql(queries: Int): String =
    s"""c AS (
      | SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |  list_sum(list_transform(generate_series(1, len(a.embedding)),
      |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |   / (a.nrm * b.nrm) AS cosine
      | FROM e a JOIN e b ON a.vec_id < $queries AND b.vec_id <> a.vec_id""".stripMargin

  // --------------------------------------------------------------- q24
  /** Brute-force cosine top-5 neighbors for query vectors vec_id < 20. */
  def q24(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    SimilarityOps.bruteCosineTopK(e.filter(col("vec_id") < 20), e, 5)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank").as("rnk"))
  }

  val q24Sql: String =
    s"""WITH ${bruteCosineBaseSql("")},
      |${bruteCosineSql(20)}),
      |r AS (
      | SELECT query_id, neighbor_id, cosine,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rnk
      | FROM c)
      |SELECT query_id, neighbor_id, cosine, rnk FROM r WHERE rnk <= 5""".stripMargin

  // --------------------------------------------------------------- q25
  /** Heuristic language ID (stopword-profile argmax) vs labeled lang. */
  def q25(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(col("lang"),
        TextAnalysis.langId(split(col("text"), " ")).as("pred_lang"))
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
  }

  val q25Sql: String = {
    val scores = TextAnalysis.stopwords.map { case (lang, words) =>
      val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"CAST(len(list_filter(toks, t -> list_contains($arr, t))) AS DOUBLE) / len(toks) AS s_$lang"
    }.mkString(",\n  ")
    val langs = TextAnalysis.stopwords.map(_._1)
    val mx = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val caseChain = langs.init.map(l => s"WHEN s_$l = mx THEN '$l'")
      .mkString(" ") + s" ELSE '${langs.last}'"
    s"""WITH t AS (
      | SELECT lang, string_split(text, ' ') AS toks FROM documents),
      |s AS (
      | SELECT lang,
      |  $scores
      | FROM t),
      |p AS (SELECT lang, $mx AS mx, * FROM s)
      |SELECT lang, CASE $caseChain END AS pred_lang, COUNT(*) AS n
      |FROM p GROUP BY lang, pred_lang""".stripMargin
  }

  // --------------------------------------------------------------- q26
  /** Quality signals + composite score per document. */
  def q26(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val s = TextAnalysis.qualitySignals(col("text"))
    d.select(
      col("doc_id"),
      s.getField("n_tokens").as("n_tokens"),
      s.getField("mean_token_len").as("mean_token_len"),
      s.getField("stopword_ratio").as("stopword_ratio"),
      s.getField("punct_ratio").as("punct_ratio"),
      s.getField("upper_ratio").as("upper_ratio"),
      TextAnalysis.qualityScore(col("text")).as("quality"))
  }

  /** TextAnalysis' English stopwords as a DuckDB list literal. */
  private val enStopwordsSql: String = TextAnalysis.stopwords.toMap.apply("en")
    .map(w => s"'$w'").mkString("[", ", ", "]")

  val q26Sql: String =
    s"""WITH t AS (
      | SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
      |s AS (
      | SELECT doc_id,
      |  CAST(len(toks) AS INT) AS n_tokens,
      |  CAST(list_sum(list_transform(toks, tk -> len(tk))) AS DOUBLE) / len(toks) AS mean_token_len,
      |  CAST(len(list_filter(toks, tk -> list_contains($enStopwordsSql, tk))) AS DOUBLE) / len(toks) AS stopword_ratio,
      |  CAST(len(text) - len(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / len(text) AS punct_ratio,
      |  CAST(len(text) - len(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) / len(text) AS upper_ratio
      | FROM t)
      |SELECT doc_id, n_tokens, mean_token_len, stopword_ratio, punct_ratio, upper_ratio,
      | least(n_tokens / 20.0, 1.0) * 0.4
      |  + greatest(0.0, 1.0 - punct_ratio * 4.0) * 0.4
      |  + least(stopword_ratio * 5.0, 1.0) * 0.2 AS quality
      |FROM s""".stripMargin

  // --------------------------------------------------------------- q27
  /** Token counting: whitespace tokens and BPE-ish regex tokens. */
  def q27(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val ws = size(TextOps.whitespaceTokenize(col("text")))
    d.select(
      col("doc_id"),
      ws.as("ws_tokens"),
      TextAnalysis.regexTokenCount(col("text")).as("regex_tokens"),
      col("n_chars"),
      (col("n_chars").cast("double") / ws).as("chars_per_token"))
  }

  val q27Sql: String =
    """SELECT doc_id,
      | CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
      | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS regex_tokens,
      | n_chars,
      | CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS chars_per_token
      |FROM documents""".stripMargin

  // --------------------------------------------------------------- q28
  /** Document fingerprints: md5 of normalized text + min-wise 3-gram
    * shingle fingerprint (1-hash MinHash).
    */
  def q28(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextAnalysis.docFingerprint(col("text")).as("fp"),
      TextAnalysis.minShingleFingerprint(col("text"), 3).as("shingle_fp"))

  val q28Sql: String =
    s"""SELECT doc_id, md5(lower(trim(text))) AS fp,
      | list_min(list_transform(
      |   list_distinct(list_transform(
      |     generate_series(1, len(string_split(text, ' ')) - 2),
      |     i -> array_to_string(string_split(text, ' ')[i : i+2], ' '))),
      |   g -> ${md5LongSql("g")})) AS shingle_fp
      |FROM documents""".stripMargin

  // --------------------------------------------------------------- q29
  /** 48-bit SimHash per document over the token multiset (portable hash
    * family; production path uses xxhash64/64-bit).
    */
  def q29(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      graft.functions.SimHashMd5.simHashMd5(split(col("text"), " "), 48)
        .as("simhash"))

  val q29Sql: String =
    s"""SELECT doc_id,
      | CAST(list_sum(list_transform(generate_series(0, 47), b ->
      |   CASE WHEN list_sum(list_transform(string_split(text, ' '), tk ->
      |     CASE WHEN (${md5Long48Sql("tk")} >> b) & 1 = 1
      |       THEN 1 ELSE -1 END)) > 0
      |   THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
      |FROM documents""".stripMargin

  // --------------------------------------------------------------- q30
  /** Multimodal bundle plumbing: the text payload treated as an opaque
    * binary column with typed metadata (byte length, first byte, fake
    * frame count) — the schema/shape contract for image/audio columns;
    * see MultimodalOps for the decode-stub pipeline.
    */
  def q30(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val bin = col("text").cast("binary")
    d.select(
      col("doc_id"),
      length(bin).as("n_bytes"),
      ascii(substring(col("text"), 1, 1)).as("first_byte"),
      ceil(length(bin) / 64.0).cast("int").as("frame_count"),
      col("source"))
  }

  val q30Sql: String =
    """SELECT doc_id,
      | CAST(octet_length(encode(text)) AS INT) AS n_bytes,
      | ascii(substr(text, 1, 1)) AS first_byte,
      | CAST(ceil(octet_length(encode(text)) / 64.0) AS INT) AS frame_count,
      | source
      |FROM documents""".stripMargin

  // --------------------------------------------------------------- q39
  /** CUBE over orders (status × priority): all four grouping sets —
    * (s,p), (s), (p), () — completing SURVEY §2.4's grouping surface
    * next to q09's ROLLUP. Grouping nulls coalesced to a sentinel,
    * sums decimal-accumulated (the OracleQueries float-parity rules).
    */
  def q39(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    Tables.orders(spark, dir)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(
        sum(col("o_totalprice").cast(DecimalType(38, 6))).cast("double").as("sum_price"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("sum_price"), col("n"))
  }

  val q39Sql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
      | COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
      | COUNT(*) AS n
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin

  // --------------------------------------------------------------- q38
  /** As-of join (an operator Spark lacks; composed per JoinOps.asOfJoin):
    * every purchase event attached to the user's most recent prior (or
    * simultaneous) view — checked against DuckDB's native ASOF JOIN.
    */
  def q38(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
    val views = e.filter(col("event_type") === "view")
    JoinOps.asOfJoin(purchases, views, "user_id", "ts", Seq("event_id", "ts"))
      .select(
        col("event_id").as("purchase_id"),
        col("user_id"),
        col("asof_event_id").as("view_id"),
        (unix_micros(col("ts")) - unix_micros(col("asof_ts"))).as("gap_us"))
  }

  val q38Sql: String =
    """SELECT p.event_id AS purchase_id, p.user_id, v.event_id AS view_id,
      | epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      | ON p.user_id = v.user_id AND v.ts <= p.ts""".stripMargin

  // --------------------------------------------------------------- q40
  /** Per-key EMA through [[graft.ops.VectorOps.emaByKey]] — the OP-33
    * LINEAR scale path (one shuffle, sequential per-key fold, O(1)
    * state), oracle-checked end-to-end: the final smoothed value per
    * event_type must equal DuckDB's `list_reduce` left fold over the
    * event_id-ordered values. Both sides fold left-to-right in double
    * with the identical constants (`0.9` / `1 - 0.9` evaluated in
    * DOUBLE, so DuckDB's decimal literal arithmetic — where 1 - 0.9 is
    * exactly 0.1 — cannot diverge from the engine's
    * 0.09999999999999998), per the OracleQueries float-parity rules.
    */
  def q40(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select("event_type", "event_id", "value")
    VectorOps.emaByKey(e, "event_type", "event_id", "value", decay = 0.9, outCol = "ema")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        max_by(col("ema"), col("event_id")).as("ema_final"))
  }

  val q40Sql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      | list_reduce(list(CAST(value AS DOUBLE) ORDER BY event_id),
      |   (acc, x) -> acc * CAST(0.9 AS DOUBLE)
      |     + x * (CAST(1 AS DOUBLE) - CAST(0.9 AS DOUBLE))) AS ema_final
      |FROM events GROUP BY event_type""".stripMargin

  // --------------------------------------------------------------- q41
  /** Exact-dedup DECISION form ([[graft.ops.DedupOps.exactKeepers]]):
    * the kept doc ids — min id per lower(trim(text)) — oracle-checked
    * row-level against the windowed GROUP BY equivalent. The engine
    * keys the decision on `xxhash64(norm)` (so only 64-bit keys
    * shuffle); a hash collision (≈1e-11 at fixture scale,
    * deterministic) is the documented gap vs the oracle's exact string
    * key.
    */
  def q41(spark: SparkSession, dir: String): DataFrame =
    DedupOps.exactKeepers(Tables.documents(spark, dir), "text", "doc_id")
      .select(col("doc_id"))

  val q41Sql: String =
    """SELECT doc_id FROM (
      | SELECT doc_id,
      |        row_number() OVER (PARTITION BY lower(trim(text)) ORDER BY doc_id) AS rn
      | FROM documents) WHERE rn = 1""".stripMargin

  // --------------------------------------------------------------- q42
  /** The MinHash+LSH dedup DECISION path itself, oracle-checked
    * row-level ([[graft.ops.DedupOps.dedupKeepersPortable]] — the
    * md5-family twin of the production `dedupKeepers`): per-bucket
    * min-id representative, exact-Jaccard-verified edges, kept ids.
    * q21 pins the banding construction for the pair form; this pins
    * the keep/drop DECISION — reps, edges, verify, anti-join — against
    * DuckDB replaying the identical algebra end to end.
    */
  def q42(spark: SparkSession, dir: String): DataFrame =
    DedupOps.dedupKeepersPortable(
      Tables.documents(spark, dir), "text", "doc_id", threshold = 0.6,
      bands = 4, rowsPerBand = 4)
      .select(col("doc_id"))

  val q42Sql: String =
    s"""WITH ${tokenSetSql("documents")},
      |$minhashBandSql,
      |${minhashKeepersSql(0.6)}""".stripMargin

  // --------------------------------------------------------------- q43
  /** The SimHash dedup DECISION path, oracle-checked row-level
    * ([[graft.ops.DedupOps.simHashKeepersPortable]] — the 48-bit
    * md5-family twin of the production `simHashKeepers`): 12-bit chunk
    * buckets, min-id rep carrying its signature, Hamming-≤3 verify at
    * the bucket join, kept ids. q29 pins the signature; this pins the
    * whole keep/drop decision against DuckDB replaying it.
    */
  def q43(spark: SparkSession, dir: String): DataFrame =
    DedupOps.simHashKeepersPortable(
      Tables.documents(spark, dir), "text", "doc_id", maxHamming = 3)
      .select(col("doc_id"))

  /** The 48-bit SimHash `sig` of each document (`s`), its four 12-bit
    * chunk buckets `band`, and each bucket's min-id `rep` with its
    * signature — shared by q43 and q76.
    */
  private val simhashRepSql: String =
    s"""s AS (
      | SELECT doc_id,
      |  CAST(list_sum(list_transform(generate_series(0, 47), b ->
      |    CASE WHEN list_sum(list_transform(string_split(text, ' '), tk ->
      |      CASE WHEN (${md5Long48Sql("tk")} >> b) & 1 = 1
      |        THEN 1 ELSE -1 END)) > 0
      |    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS sig
      | FROM documents),
      |band AS (
      | SELECT doc_id, sig, u.c AS chunk, (sig >> (12 * u.c)) & 4095 AS cv
      | FROM s, (SELECT unnest(generate_series(0, 3)) AS c) u),
      |rep AS (
      | SELECT chunk, cv, min(doc_id) AS rep, arg_min(sig, doc_id) AS rep_sig
      | FROM band GROUP BY chunk, cv)""".stripMargin

  val q43Sql: String =
    s"""WITH $simhashRepSql,
      |dropped AS (
      | SELECT DISTINCT b.doc_id AS id
      | FROM band b JOIN rep r ON b.chunk = r.chunk AND b.cv = r.cv
      | WHERE b.doc_id > r.rep AND bit_count(xor(b.sig, r.rep_sig)) <= 3)
      |SELECT doc_id FROM documents
      |WHERE doc_id NOT IN (SELECT id FROM dropped)""".stripMargin

  // --------------------------------------------------------------- q44
  /** The incremental corpus-vs-batch dedup DECISION (daily-ingest
    * contract), oracle-checked row-level
    * ([[graft.ops.DedupOps.dedupIncrementalPortable]] — the md5-family
    * twin of the production `dedupIncremental`): documents key-split
    * 80/20 by the portable id hash, the 20% batch verified against
    * per-bucket corpus reps (corpus always wins), survivors then
    * deduped within themselves — DuckDB replays both stages.
    */
  def q44(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val part = pmod(PortableHash.md5Long(col("doc_id")), lit(5))
    DedupOps.dedupIncrementalPortable(
      docs.filter(part =!= 0), docs.filter(part === 0), "text", "doc_id",
      threshold = 0.6, bands = 4, rowsPerBand = 4)
      .select(col("doc_id"))
  }

  val q44Sql: String =
    s"""WITH doc AS (
      | SELECT doc_id, text,
      |   ${md5LongSql("CAST(doc_id AS VARCHAR)")} % 5 AS part
      | FROM documents),
      |t AS (
      | SELECT doc_id, part, list_distinct(string_split(text, ' ')) AS toks,
      |        len(list_distinct(string_split(text, ' '))) AS n
      | FROM doc),
      |sig AS (
      | SELECT doc_id, part, toks, n,
      |  list_transform(generate_series(0, 15), i ->
      |    list_min(list_transform(toks, tk -> ${md5LongSql("tk || '#' || i")}))) AS sg
      | FROM t),
      |band AS (
      | SELECT doc_id, part, u.i AS band,
      |   md5(array_to_string(sg[4*u.i+1 : 4*u.i+4], ',')) AS bh
      | FROM sig, (SELECT unnest(generate_series(0, 3)) AS i) u),
      |crep AS (
      | SELECT band, bh, min(doc_id) AS rep FROM band WHERE part <> 0
      | GROUP BY band, bh),
      |edge AS (
      | SELECT DISTINCT b.doc_id AS id, r.rep
      | FROM band b JOIN crep r ON b.band = r.band AND b.bh = r.bh
      | WHERE b.part = 0),
      |drop1 AS (
      | SELECT DISTINCT e.id
      | FROM edge e JOIN t ta ON ta.doc_id = e.id JOIN t tc ON tc.doc_id = e.rep
      | WHERE CAST(len(list_intersect(ta.toks, tc.toks)) AS DOUBLE)
      |   / (ta.n + tc.n - len(list_intersect(ta.toks, tc.toks))) >= 0.6),
      |sb AS (
      | SELECT * FROM band
      | WHERE part = 0 AND doc_id NOT IN (SELECT id FROM drop1)),
      |rep2 AS (
      | SELECT band, bh, min(doc_id) AS rep FROM sb GROUP BY band, bh),
      |edge2 AS (
      | SELECT DISTINCT b.doc_id AS id, r.rep
      | FROM sb b JOIN rep2 r ON b.band = r.band AND b.bh = r.bh
      | WHERE b.doc_id > r.rep),
      |drop2 AS (
      | SELECT DISTINCT e.id
      | FROM edge2 e JOIN t ta ON ta.doc_id = e.id JOIN t tc ON tc.doc_id = e.rep
      | WHERE CAST(len(list_intersect(ta.toks, tc.toks)) AS DOUBLE)
      |   / (ta.n + tc.n - len(list_intersect(ta.toks, tc.toks))) >= 0.6)
      |SELECT doc_id FROM doc
      |WHERE part = 0
      |  AND doc_id NOT IN (SELECT id FROM drop1)
      |  AND doc_id NOT IN (SELECT id FROM drop2)""".stripMargin

  // --------------------------------------------------------------- q45
  /** The embedding-cosine dedup DECISION path
    * ([[graft.ops.DedupOps.cosineKeepers]] — the PRODUCTION operator,
    * not a portable twin), oracle-checked row-level: the hyperplane
    * matrix is a pure deterministic function of (plane, dim), so the
    * generated SQL inlines every component as a double literal and
    * replays the sign-bit signatures, min-id rep per (band, bucket),
    * and the fused-cosine ≥ 0.4 verify (0.4, not the production-typical 0.95: the fixture embeddings are random — max pairwise cosine ≈0.51 — so a higher threshold would never exercise the drop branch) with the SAME left-to-right
    * double arithmetic (explicit 64-term addition chains — SQL `+` is
    * left-associative, matching the generated loop), making the
    * decision bit-replayable without a separate hash family.
    */
  private val q45Bands = 4
  private val q45Planes = 4
  private val q45Dim = 64

  def q45(spark: SparkSession, dir: String): DataFrame =
    DedupOps.cosineKeepers(
      Tables.embeddings(spark, dir), "embedding", "vec_id", minCosine = 0.4,
      bands = q45Bands, planesPerBand = q45Planes, dim = q45Dim)
      .select(col("vec_id"))

  /** Sign-bit band signature as an explicit SQL expression: bit p of
    * band b set iff the inlined-literal plane dot (left-to-right over
    * the 64 components, floats widened to double) is positive — the
    * exact algebra of [[graft.functions.HyperplaneBandSigs]], including
    * its zero-signature contract for length-mismatched or
    * null-element vectors.
    */
  private def q45SigSql(col: String, band: Int): String = {
    val bits = (0 until q45Planes).map { p =>
      val plane = band * q45Planes + p
      val dot = (0 until q45Dim).map { j =>
        val c = graft.functions.HyperplaneBandSigs.planeComponent(plane, j)
        s"CAST($col[${j + 1}] AS DOUBLE) * ($c)"
      }.mkString(" + ")
      s"CASE WHEN ($dot) > 0 THEN ${1L << p} ELSE 0 END"
    }.mkString(" + ")
    s"""CASE WHEN len($col) <> $q45Dim
       | OR len(list_filter($col, x -> x IS NULL)) > 0
       |THEN 0 ELSE $bits END""".stripMargin
  }

  /** Fused-cosine SQL over two fixed-dim vectors: dot and both norms as
    * explicit left-to-right chains, `sqrt(na)*sqrt(nb)` denominator,
    * zero-denominator → 0 — [[graft.functions.CosineSimilarity]]'s
    * algebra verbatim.
    */
  private def q45CosSql(a: String, b: String): String = {
    def chain(f: Int => String): String = (0 until q45Dim).map(f).mkString(" + ")
    val dot = chain(j => s"CAST($a[${j + 1}] AS DOUBLE) * CAST($b[${j + 1}] AS DOUBLE)")
    val na = chain(j => s"CAST($a[${j + 1}] AS DOUBLE) * CAST($a[${j + 1}] AS DOUBLE)")
    val nb = chain(j => s"CAST($b[${j + 1}] AS DOUBLE) * CAST($b[${j + 1}] AS DOUBLE)")
    s"(CASE WHEN sqrt($na) * sqrt($nb) = 0 THEN 0" +
      s" ELSE ($dot) / (sqrt($na) * sqrt($nb)) END)"
  }

  val q45Sql: String = {
    val bandSelects = (0 until q45Bands).map { b =>
      s"""SELECT vec_id, embedding, $b AS band,
         | ${q45SigSql("embedding", b)} AS sig
         |FROM embeddings WHERE embedding IS NOT NULL""".stripMargin
    }.mkString("\n UNION ALL\n")
    s"""WITH band AS (
       |$bandSelects),
       |rep AS (
       | SELECT band, sig, min(vec_id) AS rep, arg_min(embedding, vec_id) AS rep_vec
       | FROM band GROUP BY band, sig),
       |dropped AS (
       | SELECT DISTINCT b.vec_id AS id
       | FROM band b JOIN rep r ON b.band = r.band AND b.sig = r.sig
       | WHERE b.vec_id > r.rep
       |   AND ${q45CosSql("b.embedding", "r.rep_vec")} >= 0.4)
       |SELECT vec_id FROM embeddings
       |WHERE vec_id NOT IN (SELECT id FROM dropped)""".stripMargin
  }

  // --------------------------------------------------------------- q46
  /** The shingle-level (word 3-gram) dedup DECISION, oracle-checked
    * row-level ([[graft.ops.DedupOps.dedupKeepersNgramPortable]] with
    * n = 3 — the md5-family twin of the production
    * `dedupKeepersNgram`): q22 pins the shingle-set construction for
    * pairs, q42 the token-set decision; this pins the order-aware
    * shingle decision. Threshold 0.05 like q22 — trigram Jaccard runs
    * far below token Jaccard on the fixture.
    */
  def q46(spark: SparkSession, dir: String): DataFrame =
    DedupOps.dedupKeepersNgramPortable(
      Tables.documents(spark, dir), "text", "doc_id", threshold = 0.05,
      n = 3, bands = 4, rowsPerBand = 4)
      .select(col("doc_id"))

  val q46Sql: String =
    s"""WITH t AS (
      | SELECT doc_id,
      |  list_distinct(list_transform(
      |    generate_series(1, len(string_split(text, ' ')) - 2),
      |    i -> array_to_string(string_split(text, ' ')[i : i+2], ' '))) AS toks,
      |  len(list_distinct(list_transform(
      |    generate_series(1, len(string_split(text, ' ')) - 2),
      |    i -> array_to_string(string_split(text, ' ')[i : i+2], ' ')))) AS n
      | FROM documents),
      |$minhashBandSql,
      |${minhashKeepersSql(0.05)}""".stripMargin

  // --------------------------------------------------------------- q52
  /** Gopher-style intra-document repetition signals
    * ([[graft.ops.TextAnalysis.repetitionSignals]]): duplicate-token
    * fraction and top-bigram fraction — the repetition-removal quality
    * dimension of LLM curation, oracle-checked value-level.
    */
  def q52(spark: SparkSession, dir: String): DataFrame = {
    val s = TextAnalysis.repetitionSignals(col("text"))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      s.getField("dup_token_frac").as("dup_token_frac"),
      s.getField("top_bigram_frac").as("top_bigram_frac"))
  }

  val q52Sql: String =
    """WITH t AS (
      | SELECT doc_id,
      |  list_filter(string_split(text, ' '), tk -> tk <> '') AS toks
      | FROM documents),
      |g AS (
      | SELECT doc_id, toks,
      |  CASE WHEN len(toks) < 2 THEN []
      |   ELSE list_transform(generate_series(1, len(toks) - 1),
      |     i -> array_to_string(toks[i : i+1], ' ')) END AS grams
      | FROM t)
      |SELECT doc_id,
      | CASE WHEN len(toks) = 0 THEN 0.0
      |  ELSE 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END AS dup_token_frac,
      | CASE WHEN len(grams) = 0 THEN 0.0
      |  ELSE CAST(list_max(list_transform(list_distinct(grams),
      |    d -> len(list_filter(grams, x -> x = d)))) AS DOUBLE) / len(grams) END AS top_bigram_frac
      |FROM g""".stripMargin

  // --------------------------------------------------------------- q53
  /** Benchmark decontamination ([[graft.ops.CurationOps.decontaminate]]):
    * docs `doc_id % 20 == 0` play the eval set, the rest train; kept =
    * train docs sharing NO word 3-gram with eval. Portable twin joins
    * on the gram strings themselves (production default is xxhash64
    * keys — [[graft.ops.CurationOpsSpec]] pins the two families to
    * identical decisions).
    */
  def q53(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    CurationOps.decontaminate(
        d.filter(col("doc_id") % 20 =!= 0),
        d.filter(col("doc_id") % 20 === 0),
        "text", "doc_id", n = 3,
        gramKeys = (t, n) => array_distinct(CurationOps.ngramList(t, n)))
      .select("doc_id")
  }

  /** `name`: each document's non-empty whitespace tokens `tk`. */
  private def wordListSql(name: String): String =
    s"""$name AS (
      | SELECT doc_id, list_filter(string_split(text, ' '), tk -> tk <> '') AS tk
      | FROM documents)""".stripMargin

  /** The word lists `toks` and their word 3-grams `gs` (`grams`). */
  private val trigramsSql: String =
    s"""${wordListSql("toks")},
      |grams AS (
      | SELECT doc_id, CASE WHEN len(tk) < 3 THEN []
      |   ELSE list_transform(generate_series(1, len(tk) - 2),
      |     i -> array_to_string(tk[i : i+2], ' ')) END AS gs
      | FROM toks)""".stripMargin

  val q53Sql: String =
    s"""WITH $trigramsSql,
      |ev AS (SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 20 = 0),
      |bad AS (
      | SELECT DISTINCT tr.doc_id
      | FROM (SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id % 20 <> 0) tr
      |  JOIN ev USING (g))
      |SELECT doc_id FROM documents
      |WHERE doc_id % 20 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin

  // --------------------------------------------------------------- q54
  /** Corpus-frequent span scrub
    * ([[graft.ops.CurationOps.scrubFrequentSpans]]): every 4-token span
    * occurring ≥2× corpus-wide is removed from every doc, remaining
    * spans re-joined in order. Portable twin keys spans with the md5
    * family (production default: xxhash64 — same plan, same binary-
    * search probe).
    */
  def q54(spark: SparkSession, dir: String): DataFrame =
    CurationOps.scrubFrequentSpans(
        Tables.documents(spark, dir), "text", m = 4, minCount = 2,
        spanKey = PortableHash.md5Long)
      .select("doc_id", "text")

  /** The word lists `toks` cut into consecutive 4-token spans `sp`
    * (`spans`).
    */
  private val spansSql: String =
    s"""${wordListSql("toks")},
      |spans AS (
      | SELECT doc_id, CASE WHEN len(tk) = 0 THEN []
      |  ELSE list_transform(generate_series(0, CAST(ceil(len(tk) / 4.0) AS BIGINT) - 1),
      |    i -> array_to_string(tk[i*4+1 : i*4+4], ' ')) END AS sp
      | FROM toks)""".stripMargin

  val q54Sql: String =
    s"""WITH $spansSql,
      |freq AS (
      | SELECT k FROM (SELECT ${md5LongSql("g")} AS k FROM (SELECT unnest(sp) AS g FROM spans))
      | GROUP BY k HAVING count(*) >= 2),
      |bad AS (SELECT coalesce(list(k), []) AS b FROM freq)
      |SELECT doc_id,
      | coalesce(array_to_string(
      |   list_filter(sp, x -> NOT list_contains(b, ${md5LongSql("x")})), ' '), '') AS text
      |FROM spans, bad""".stripMargin

  // --------------------------------------------------------------- q55
  /** PII scrub ([[graft.ops.CurationOps.scrubPii]]): each doc gets a
    * deterministic doc_id-derived email plus a phone and an IP appended,
    * then redacted — the oracle replays the identical regex chain (the
    * patterns are restricted to Java-regex/RE2-common syntax for exactly
    * this portability).
    */
  def q55(spark: SparkSession, dir: String): DataFrame = {
    val withPii = concat_ws(" ", col("text"),
      concat(lit("user"), col("doc_id").cast("string"), lit("@mail.example.com")),
      lit("call 415-555-0199 from 10.0.0.1"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), CurationOps.scrubPii(withPii).as("text"))
  }

  val q55Sql: String =
    s"""SELECT doc_id,
      | regexp_replace(
      |  regexp_replace(
      |   regexp_replace(
      |     text || ' user' || doc_id || '@mail.example.com call 415-555-0199 from 10.0.0.1',
      |     '${CurationOps.EmailRe}', '<EMAIL>', 'g'),
      |   '${CurationOps.Ipv4Re}', '<IP>', 'g'),
      |  '${CurationOps.PhoneRe}', '<PHONE>', 'g') AS text
      |FROM documents""".stripMargin

  // --------------------------------------------------------------- q56
  /** Corpus balancing ([[graft.ops.CurationOps.capBuckets]]): at most 8
    * docs per (lang, source) bucket, longest (n_chars) first, doc_id
    * tiebreak — integer rank key so both engines order identically.
    */
  def q56(spark: SparkSession, dir: String): DataFrame =
    CurationOps.capBuckets(Tables.documents(spark, dir),
        Seq("lang", "source"), col("n_chars"), "doc_id", cap = 8)
      .select("doc_id", "lang", "source", "n_chars")

  val q56Sql: String =
    """WITH ranked AS (
      | SELECT doc_id, ROW_NUMBER() OVER (
      |   PARTITION BY lang, source ORDER BY n_chars DESC, doc_id) AS rn
      | FROM documents)
      |SELECT d.doc_id, d.lang, d.source, d.n_chars
      |FROM documents d JOIN ranked USING (doc_id)
      |WHERE rn <= 8""".stripMargin

  // --------------------------------------------------------------- q57
  /** Greedy sequence packing ([[graft.ops.CurationOps.packSequences]]):
    * 256-token packs per source shard, docs in doc_id order. The oracle
    * replays the sequential fold as a recursive CTE stepping one doc
    * per shard per iteration (depth = max docs/shard — fine at oracle
    * scale; the Spark side is the scale path).
    */
  def q57(spark: SparkSession, dir: String): DataFrame =
    CurationOps.packSequences(Tables.documents(spark, dir),
        "source", "doc_id",
        size(TextOps.whitespaceTokenize(col("text"))), budget = 256L)
      .select("doc_id", "pack_id")

  val q57Sql: String =
    """WITH RECURSIVE toks AS (
      | SELECT source, doc_id,
      |   len(list_filter(string_split(text, ' '), tk -> tk <> '')) AS n,
      |   ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      | FROM documents),
      |packed AS (
      | SELECT source, doc_id, n, rn, 0 AS pack_id, n AS acc
      | FROM toks WHERE rn = 1
      | UNION ALL
      | SELECT t.source, t.doc_id, t.n, t.rn,
      |   CASE WHEN p.acc + t.n > 256 THEN p.pack_id + 1 ELSE p.pack_id END,
      |   CASE WHEN p.acc + t.n > 256 THEN t.n ELSE p.acc + t.n END
      | FROM toks t JOIN packed p ON t.source = p.source AND t.rn = p.rn + 1)
      |SELECT doc_id, CAST(pack_id AS BIGINT) AS pack_id FROM packed""".stripMargin

  // --------------------------------------------------------------- q58
  /** Weighted Bernoulli corpus sampling
    * ([[graft.ops.SplitOps.weightedSample]]): keep probability
    * n_chars/400 (clamped) — longer docs over-sampled. Decision =
    * md5-uniform(doc_id, seed) < prob: one IEEE multiply + compare in
    * both engines, bit-identical.
    */
  def q58(spark: SparkSession, dir: String): DataFrame =
    SplitOps.weightedSample(Tables.documents(spark, dir),
        "doc_id", col("n_chars") / lit(400.0), seed = 42L)
      .select("doc_id")

  val q58Sql: String =
    s"""SELECT doc_id FROM documents
      |WHERE ${md5LongSql("doc_id || '#' || '42'")}
      |    / 1152921504606846976.0
      |  < least(greatest(n_chars / 400.0, 0.0), 1.0)""".stripMargin

  // --------------------------------------------------------------- q59
  /** FLAGSHIP curation-pipeline composition — five production stages
    * chained and oracle-checked end-to-end, value-level:
    * length filter → corpus-frequent span scrub → exact dedup (on the
    * SCRUBBED text — scrubbing creates new exact duplicates, so stage
    * order is observable) → per-(lang, source) cap → weighted Bernoulli
    * sample → greedy sequence packing. All production operators with
    * their default hashes: every keep/drop/assign decision is
    * hash-independent (group identity, not hash value), so the
    * string-keyed DuckDB replay must agree exactly.
    */
  def q59(spark: SparkSession, dir: String): DataFrame = {
    val filtered = Tables.documents(spark, dir).filter(col("n_chars") >= 100)
    // stage-boundary persistence: the dedup/cap stages consume their
    // input 2-3× (join diamonds) — unmaterialized, every reuse re-runs
    // the whole upstream chain (see b_curation_full's note). Callers
    // (Verify per-query, Bench per-row) sweep the cache afterwards.
    val scrubbed = CurationOps.scrubFrequentSpans(filtered, "text", m = 4, minCount = 2)
      .persist()
    val deduped = DedupOps.exactKeepers(scrubbed, "text", "doc_id").persist()
    val balanced = CurationOps.capBuckets(
      deduped, Seq("lang", "source"), col("n_chars"), "doc_id", cap = 8)
    val sampled = SplitOps.weightedSample(
      balanced, "doc_id", col("n_chars") / lit(400.0), seed = 42L)
    CurationOps.packSequences(sampled, "source", "doc_id",
        size(TextOps.whitespaceTokenize(col("text"))), budget = 256L)
      .select("doc_id", "pack_id")
  }

  val q59Sql: String =
    s"""WITH RECURSIVE f AS (
      | SELECT doc_id, lang, source, n_chars,
      |   list_filter(string_split(text, ' '), tk -> tk <> '') AS tk
      | FROM documents WHERE n_chars >= 100),
      |spans AS (
      | SELECT doc_id, lang, source, n_chars, CASE WHEN len(tk) = 0 THEN []
      |  ELSE list_transform(generate_series(0, CAST(ceil(len(tk) / 4.0) AS BIGINT) - 1),
      |    i -> array_to_string(tk[i*4+1 : i*4+4], ' ')) END AS sp
      | FROM f),
      |freq AS (
      | SELECT g FROM (SELECT unnest(sp) AS g FROM spans)
      | GROUP BY g HAVING count(*) >= 2),
      |badspans AS (SELECT coalesce(list(g), []) AS b FROM freq),
      |scrub AS (
      | SELECT doc_id, lang, source, n_chars,
      |  -- coalesce: a fully-scrubbed doc keeps EMPTY text (the operator
      |  -- contract); DuckDB's array_to_string([]) is NULL, which would
      |  -- otherwise poison the packing recursion's accumulator
      |  coalesce(array_to_string(
      |    list_filter(sp, x -> NOT list_contains(b, x)), ' '), '') AS text
      | FROM spans, badspans),
      |winners AS (
      | SELECT min(doc_id) AS doc_id FROM scrub GROUP BY lower(trim(text))),
      |dedup AS (SELECT s.* FROM scrub s JOIN winners USING (doc_id)),
      |ranked AS (
      | SELECT doc_id, ROW_NUMBER() OVER (
      |   PARTITION BY lang, source ORDER BY n_chars DESC, doc_id) AS rn
      | FROM dedup),
      |bal AS (SELECT d.* FROM dedup d JOIN ranked USING (doc_id) WHERE rn <= 8),
      |samp AS (
      | SELECT * FROM bal
      | WHERE ${md5LongSql("doc_id || '#' || '42'")}
      |     / 1152921504606846976.0
      |   < least(greatest(n_chars / 400.0, 0.0), 1.0)),
      |stoks AS (
      | SELECT source, doc_id,
      |   len(list_filter(string_split(text, ' '), tk -> tk <> '')) AS n,
      |   ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      | FROM samp),
      |packed AS (
      | SELECT source, doc_id, n, rn, 0 AS pack_id, n AS acc
      | FROM stoks WHERE rn = 1
      | UNION ALL
      | SELECT t.source, t.doc_id, t.n, t.rn,
      |   CASE WHEN p.acc + t.n > 256 THEN p.pack_id + 1 ELSE p.pack_id END,
      |   CASE WHEN p.acc + t.n > 256 THEN t.n ELSE p.acc + t.n END
      | FROM stoks t JOIN packed p ON t.source = p.source AND t.rn = p.rn + 1)
      |SELECT doc_id, CAST(pack_id AS BIGINT) AS pack_id FROM packed""".stripMargin

  // --------------------------------------------------------------- q60
  /** BM25 keyword scoring ([[graft.ops.SearchOps.bm25TopK]]) for the
    * query ("spark", "table", "fast"), k = corpus size so every score
    * is oracle-compared (the top-k cut itself is spec'd — a cut
    * boundary between ulp-close scores would make the row SET
    * engine-sensitive). The SQL replays the exact left-to-right IEEE
    * fold, writing constants as the same source expressions
    * (`1.2 + 1.0`, not `2.2` — they round differently).
    */
  def q60(spark: SparkSession, dir: String): DataFrame =
    SearchOps.bm25TopK(Tables.documents(spark, dir), "text", "doc_id",
      Seq("spark", "table", "fast"), k = 500)

  /** BM25 (k1 = 1.2, b = 0.75) of `terms` in DuckDB: the CTEs `t`
    * (word lists) and `st` (doc count, mean length, per-term document
    * frequency), the per-term `tf_i` columns of a `t` row, and the
    * score sum over those columns, `dl` and `st`.
    */
  private def bm25Sql(terms: Seq[String]): (String, String, String) = {
    def term(i: Int): String =
      s"""ln(1.0 + (n_docs - df_$i + 0.5) / (df_$i + 0.5))
         |   * (tf_$i * (1.2 + 1.0))
         |   / (tf_$i + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))""".stripMargin
    val dfAggs = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(sum(CASE WHEN list_contains(tk, '$t') THEN 1 ELSE 0 END) AS DOUBLE) AS df_$i"
    }.mkString(",\n  ")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(tk, x -> x = '$t')) AS DOUBLE) AS tf_$i"
    }.mkString(",\n  ")
    val ctes =
      s"""${wordListSql("t")},
        |st AS (
        | SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |  avg(CAST(len(tk) AS DOUBLE)) AS avgdl,
        |  $dfAggs
        | FROM t)""".stripMargin
    (ctes, tfCols, terms.indices.map(term).mkString("\n + "))
  }

  val q60Sql: String = {
    val (bm25, tfCols, scoreSum) = bm25Sql(Seq("spark", "table", "fast"))
    s"""WITH $bm25,
      |d AS (
      | SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl,
      |  $tfCols
      | FROM t)
      |SELECT doc_id,
      | $scoreSum AS score
      |FROM d, st""".stripMargin
  }

  // --------------------------------------------------------------- q61
  /** Corpus vocabulary build ([[graft.ops.SearchOps.buildVocab]]): top
    * 30 tokens by occurrence count, dense ids by (count desc, token
    * asc) — the tokenizer-training artifact, fully integer/string
    * deterministic.
    */
  def q61(spark: SparkSession, dir: String): DataFrame =
    SearchOps.buildVocab(Tables.documents(spark, dir), "text", maxSize = 30)

  val q61Sql: String =
    """SELECT token, n, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) - 1 AS BIGINT) AS id
      |FROM (
      | SELECT g AS token, CAST(count(*) AS BIGINT) AS n
      | FROM (SELECT unnest(list_filter(string_split(text, ' '), tk -> tk <> '')) AS g
      |       FROM documents)
      | GROUP BY g ORDER BY n DESC, g LIMIT 30)""".stripMargin

  // --------------------------------------------------------------- q62
  /** Int8 embedding quantization
    * ([[graft.ops.SimilarityOps.quantizeInt8]]): per-vector symmetric
    * scale + int components, value-compared. Portable because round()
    * is half-away-from-zero in both engines and float→double widening
    * is exact; the all-zero vector CASEs to scale 0 / q zeros.
    */
  def q62(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select(col("vec_id"),
      SimilarityOps.quantizeInt8(col("embedding")).as("qs"))
      .select(col("vec_id"), col("qs.scale").as("scale"),
        // the driver's canonicalizer hashes scalars, not arrays —
        // serialize the int components to CSV in both engines
        concat_ws(",", col("qs.q")).as("q_csv"))

  val q62Sql: String =
    """SELECT vec_id,
      | CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) / 127.0 AS scale,
      | array_to_string(list_transform(embedding, x -> CAST(round(
      |   CAST(x AS DOUBLE) / (CASE
      |     WHEN CAST(list_max(list_transform(embedding, y -> abs(y))) AS DOUBLE) / 127.0 = 0.0
      |     THEN 1.0
      |     ELSE CAST(list_max(list_transform(embedding, y -> abs(y))) AS DOUBLE) / 127.0 END))
      |   AS INTEGER)), ',') AS q_csv
      |FROM embeddings""".stripMargin

  // --------------------------------------------------------------- q63
  /** Paragraph-level first-occurrence dedup
    * ([[graft.ops.CurationOps.dedupSpans]]): every distinct 4-token
    * span keeps exactly its earliest (doc_id, position) copy. The
    * oracle replays the packed-long `min` ownership and rebuilds via
    * position-ordered `string_agg` — pure integer/string algebra, no
    * float risk.
    */
  def q63(spark: SparkSession, dir: String): DataFrame =
    CurationOps.dedupSpans(Tables.documents(spark, dir), "text", "doc_id",
        m = 4, spanKey = PortableHash.md5Long)
      .select("doc_id", "text")

  val q63Sql: String =
    s"""WITH $spansSql,
      |occ AS (
      | SELECT doc_id, i - 1 AS pos, sp[i] AS g,
      |  ${md5LongSql("sp[i]")} AS k, doc_id * 1048576 + (i - 1) AS ord
      | FROM (SELECT doc_id, sp, unnest(generate_series(1, len(sp))) AS i FROM spans)),
      |win AS (SELECT k, min(ord) AS w FROM occ GROUP BY k),
      |rebuilt AS (
      | SELECT o.doc_id, string_agg(o.g, ' ' ORDER BY o.pos) AS t
      | FROM occ o JOIN win w ON o.k = w.k AND o.ord = w.w
      | GROUP BY o.doc_id)
      |SELECT d.doc_id, coalesce(r.t, '') AS text
      |FROM documents d LEFT JOIN rebuilt r USING (doc_id)""".stripMargin

  // --------------------------------------------------------------- q64
  /** Bigram-LM perplexity ([[graft.ops.CurationOps.perplexitySelf]]):
    * add-one-smoothed bigram scores with the model trained on the same
    * corpus. Counts are exact integers on both sides; the per-doc
    * log-prob sum is double (the driver's 6-decimal rounding absorbs
    * accumulation-order noise, and `nll` ~ O(10) keeps `ppl = exp(nll)`
    * well inside that tolerance).
    */
  def q64(spark: SparkSession, dir: String): DataFrame =
    CurationOps.perplexitySelf(Tables.documents(spark, dir), "text", "doc_id",
        tokenKey = PortableHash.md5Long)
      .select("doc_id", "n_bigrams", "nll", "ppl")

  /** The word lists `toks` and the corpus count `c` of each md5 word
    * key `k` (`uni`).
    */
  private val unigramSql: String =
    s"""${wordListSql("toks")},
      |uni AS (
      | SELECT ${md5LongSql("w")} AS k, count(*) AS c
      | FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY 1)""".stripMargin

  /** Shared CTE prefix replaying [[graft.ops.CurationOps.perplexitySelf]]
    * (md5 key family) up to the per-position log-prob frame `lp`.
    */
  private val pplPrefixSql: String =
    s"""WITH $unigramSql,
      |v AS (SELECT count(*) AS v FROM uni),
      |bgs AS (
      | SELECT doc_id, tk[i] AS w1, tk[i] || ' ' || tk[i+1] AS bg
      | FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i
      |       FROM toks WHERE len(tk) >= 2)),
      |bi AS (SELECT ${md5LongSql("bg")} AS k, count(*) AS c FROM bgs GROUP BY 1),
      |lp AS (
      | SELECT g.doc_id,
      |  ln(CAST(coalesce(b.c, 0) + 1 AS DOUBLE) /
      |     CAST(coalesce(u.c, 0) + v.v AS DOUBLE)) AS lp
      | FROM bgs g
      | LEFT JOIN uni u ON u.k = ${md5LongSql("g.w1")}
      | LEFT JOIN bi b ON b.k = ${md5LongSql("g.bg")}, v)""".stripMargin

  val q64Sql: String =
    s"""$pplPrefixSql
      |SELECT doc_id, count(*) AS n_bigrams,
      | -sum(lp) / count(*) AS nll,
      | exp(-sum(lp) / count(*)) AS ppl
      |FROM lp GROUP BY doc_id""".stripMargin

  // --------------------------------------------------------------- q65
  private val q65K = 8
  private val q65Iters = 2
  private val q65Dim = 64

  /** Left-to-right widened-double product chain over two DuckDB list
    * columns — [[graft.functions.TopCentroids]]' accumulation order
    * verbatim (`dot += v(j) * y` ascending j).
    */
  private def chainSql(a: String, b: String): String =
    (0 until q65Dim).map(j =>
      s"CAST($a[${j + 1}] AS DOUBLE) * CAST($b[${j + 1}] AS DOUBLE)").mkString(" + ")

  /** `aName`: every vector of `e` assigned to its max-cosine centroid
    * in `cFrom` (ties → lowest cluster, replaying TopCentroids'
    * strict-displacement scan).
    */
  private def kmeansAssignSql(cFrom: String, aName: String): String =
    s"""$aName AS (
      | SELECT vec_id, embedding, vn, cl FROM (
      |  SELECT e.vec_id, e.embedding, e.vn, r.cl,
      |   row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |    (CASE WHEN sqrt(e.vn) * sqrt(r.cn) = 0 THEN 0
      |     ELSE (${chainSql("e.embedding", "r.c")}) / (sqrt(e.vn) * sqrt(r.cn))
      |     END) DESC, r.cl) AS rn
      |  FROM e CROSS JOIN $cFrom r) WHERE rn = 1)""".stripMargin

  /** One Lloyd round in SQL: the [[kmeansAssignSql]] assignment, then per-cluster
    * per-dimension means rounded to 6 decimals and cast to REAL —
    * [[graft.ops.SimilarityOps.kmeansCentroids]]' update — with empty
    * clusters keeping their previous centroid.
    */
  private def kmeansRoundSql(cFrom: String, aName: String, cName: String): String = {
    val avgList = (0 until q65Dim).map(j =>
      s"CAST(round(avg(CAST(embedding[${j + 1}] AS DOUBLE)), 6) AS REAL)")
      .mkString(", ")
    s"""${kmeansAssignSql(cFrom, aName)},
      |${cName}_m AS (
      | SELECT cl, [$avgList] AS c FROM $aName GROUP BY cl),
      |$cName AS (
      | SELECT cl, c, ${chainSql("c", "c")} AS cn FROM (
      |  SELECT s.cl, coalesce(m.c, s.c) AS c
      |  FROM $cFrom s LEFT JOIN ${cName}_m m USING (cl)))""".stripMargin
  }

  /** Shared k-means CTE prefix (valid vectors + seeds + `q65Iters`
    * unrolled Lloyd rounds); `aOut` is the final assignment CTE name.
    */
  private def kmeansPrefixSql(aOut: String): String = {
    val rounds = (1 to q65Iters).map(t =>
      kmeansRoundSql(s"r${t - 1}", s"a$t", s"r$t")).mkString(",\n")
    val finalAssign = kmeansAssignSql(s"r$q65Iters", aOut)
    s"""WITH e AS (
      | SELECT vec_id, embedding, ${chainSql("embedding", "embedding")} AS vn
      | FROM embeddings
      | WHERE embedding IS NOT NULL AND len(embedding) = $q65Dim
      |  AND len(list_filter(embedding, x -> x IS NULL)) = 0),
      |seed AS (
      | SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cl,
      |  embedding AS c
      | FROM (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT $q65K)),
      |r0 AS (SELECT cl, c, ${chainSql("c", "c")} AS cn FROM seed),
      |$rounds,
      |$finalAssign""".stripMargin
  }

  /** Spherical k-means assignment
    * ([[graft.ops.SimilarityOps.kmeansAssign]], k=8, 2 Lloyd rounds):
    * the oracle unrolls both rounds as CTEs, replaying the fused
    * TopCentroids cosine (precomputed norm chains, strict-displacement
    * tiebreak) and the round-to-6-decimals float centroid update that
    * makes the iteration reproducible across engines.
    */
  def q65(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.kmeansAssign(Tables.embeddings(spark, dir),
      "embedding", "vec_id", k = q65K, iters = q65Iters, dim = q65Dim)

  val q65Sql: String =
    s"""${kmeansPrefixSql("af")}
      |SELECT vec_id, cl AS cluster FROM af""".stripMargin

  // --------------------------------------------------------------- q66
  /** SemDeDup ([[graft.ops.DedupOps.semDedupKeepers]]): within each
    * final k-means cluster, drop every non-rep member with cosine to
    * the min-id rep >= 0.4. Shares q65's unrolled k-means prefix; the
    * verify replays [[graft.functions.CosineSimilarity]]'s fused
    * algebra via the same precomputed norm chains.
    */
  def q66(spark: SparkSession, dir: String): DataFrame =
    DedupOps.semDedupKeepers(Tables.embeddings(spark, dir),
        "embedding", "vec_id", minCosine = 0.4,
        k = q65K, iters = q65Iters, dim = q65Dim)
      .select(col("vec_id"))

  val q66Sql: String =
    s"""${kmeansPrefixSql("af")},
      |rep AS (
      | SELECT cl, min(vec_id) AS rep, arg_min(embedding, vec_id) AS rep_vec,
      |  arg_min(vn, vec_id) AS rep_vn
      | FROM af GROUP BY cl),
      |dropped AS (
      | SELECT a.vec_id FROM af a JOIN rep r USING (cl)
      | WHERE a.vec_id > r.rep
      |  AND (CASE WHEN sqrt(a.vn) * sqrt(r.rep_vn) = 0 THEN 0
      |   ELSE (${chainSql("a.embedding", "r.rep_vec")}) /
      |    (sqrt(a.vn) * sqrt(r.rep_vn)) END) >= 0.4)
      |SELECT vec_id FROM embeddings
      |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin

  // --------------------------------------------------------------- q67
  /** CCNet head/middle/tail perplexity split
    * ([[graft.ops.CurationOps.quantileBuckets]] over
    * [[graft.ops.CurationOps.perplexitySelf]]): exact interpolated
    * tercile cutoffs over round(ppl, 6) — rounding FIRST gives both
    * engines identical percentile inputs — then a when-chain tag
    * against the 1-row broadcast cutoff array.
    */
  def q67(spark: SparkSession, dir: String): DataFrame =
    CurationOps.quantileBuckets(
      CurationOps.perplexitySelf(Tables.documents(spark, dir), "text",
        "doc_id", tokenKey = PortableHash.md5Long),
      "ppl", "doc_id", Seq(1.0 / 3, 2.0 / 3), Seq("head", "middle", "tail"))
      .select("doc_id", "bucket")

  val q67Sql: String =
    s"""$pplPrefixSql,
      |scored AS (
      | SELECT doc_id, round(exp(-sum(lp) / count(*)), 6) AS p6
      | FROM lp GROUP BY doc_id),
      |cuts AS (
      | SELECT quantile_cont(p6, [${1.0 / 3}, ${2.0 / 3}]) AS c FROM scored)
      |SELECT doc_id,
      | CASE WHEN p6 <= c[1] THEN 'head'
      |      WHEN p6 <= c[2] THEN 'middle'
      |      ELSE 'tail' END AS bucket
      |FROM scored, cuts""".stripMargin

  // --------------------------------------------------------------- q68
  private val q68Cap = 40

  /** Cluster-balanced diversity sampling
    * ([[graft.ops.SimilarityOps.clusterDiversitySample]]): per final
    * k-means cluster keep the `q68Cap` members FARTHEST from their
    * centroid (lowest fused cosine, vec_id tiebreak). Shares q65's
    * unrolled k-means prefix; the score replays the fused cosine via
    * the same precomputed norm chains against the final centroids.
    */
  def q68(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.clusterDiversitySample(Tables.embeddings(spark, dir),
      "embedding", "vec_id", k = q65K, iters = q65Iters, dim = q65Dim,
      cap = q68Cap)

  val q68Sql: String =
    s"""${kmeansPrefixSql("af")},
      |scored AS (
      | SELECT a.vec_id, a.cl AS cluster,
      |  (CASE WHEN sqrt(a.vn) * sqrt(r.cn) = 0 THEN 0
      |   ELSE (${chainSql("a.embedding", "r.c")}) /
      |    (sqrt(a.vn) * sqrt(r.cn)) END) AS centroid_cos
      | FROM af a JOIN r$q65Iters r ON r.cl = a.cl),
      |ranked AS (
      | SELECT vec_id, cluster, centroid_cos,
      |  row_number() OVER (PARTITION BY cluster
      |   ORDER BY centroid_cos ASC, vec_id) AS rn
      | FROM scored)
      |SELECT vec_id, cluster, centroid_cos FROM ranked
      |WHERE rn <= $q68Cap""".stripMargin

  // --------------------------------------------------------------- q69
  /** Duplicate-cluster components ([[graft.ops.DedupOps.dupComponents]]
    * over q21's verified MinHash pairs): every doc labeled with the
    * min-id of its transitive near-dup component. The oracle computes
    * the transitive closure with a recursive CTE (UNION dedup
    * terminates it) over the same pair list q21 hash-matches.
    */
  def q69(spark: SparkSession, dir: String): DataFrame =
    DedupOps.dupComponents(
      Tables.documents(spark, dir).select("doc_id"), "doc_id",
      q21(spark, dir))

  /** The transitive closure of the `vpairs` graph: both edge
    * directions, the recursive `reach`, and each reached doc's min-id
    * `comp`onent — q69 and q215.
    */
  private val componentsSql: String =
    """edges AS (
      | SELECT id_a AS a, id_b AS b FROM vpairs
      | UNION ALL
      | SELECT id_b AS a, id_a AS b FROM vpairs),
      |reach AS (
      | SELECT a AS id, a AS r FROM edges
      | UNION
      | SELECT e.b AS id, reach.r FROM reach JOIN edges e ON e.a = reach.id),
      |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)""".stripMargin

  val q69Sql: String =
    s"""WITH RECURSIVE ${minhashPairCtes(0.6)},
      |$componentsSql
      |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
      |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id""".stripMargin

  // --------------------------------------------------------------- q70
  private val q70Dim = 64

  /** Feature-hashed TF-IDF ([[graft.ops.SearchOps.hashedTfidfWeights]],
    * sparse form, md5 bucket hash): per-(doc, bucket) L2-normalized
    * smoothed-idf weights. The oracle replays count → idf → normalize;
    * both engines round the final weight to 6 decimals (the grouped
    * double sums under the norm agree far below 1e-6).
    */
  def q70(spark: SparkSession, dir: String): DataFrame =
    SearchOps.hashedTfidfWeights(Tables.documents(spark, dir),
        "text", "doc_id", dim = q70Dim, tokenKey = PortableHash.md5Long)
      .select(col("doc_id"), col("bucket"),
        round(col("weight"), 6).as("weight"))

  val q70Sql: String =
    s"""WITH tok AS (
      | SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |tf AS (
      | SELECT doc_id, CAST(${md5LongSql("t")} % $q70Dim AS INT) AS bucket,
      |  count(*) AS tf
      | FROM tok GROUP BY 1, 2),
      |dfq AS (SELECT bucket, count(*) AS dfn FROM tf GROUP BY 1),
      |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
      |w AS (
      | SELECT doc_id, bucket,
      |  tf * (ln((1.0 + n_docs) / (1.0 + dfn)) + 1.0) AS w
      | FROM tf JOIN dfq USING (bucket) CROSS JOIN nd),
      |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nr FROM w GROUP BY doc_id)
      |SELECT w.doc_id, w.bucket, round(w.w / nrm.nr, 6) AS weight
      |FROM w JOIN nrm ON w.doc_id = nrm.doc_id""".stripMargin

  // --------------------------------------------------------------- q71
  /** Naive Bayes language classifier
    * ([[graft.ops.CurationOps.nbClassify]], md5 token keys): train
    * multinomial NB on (text, lang), predict the language of every doc
    * from text alone. The argmax orders by round(score, 6) desc, label
    * asc in BOTH engines, so the decision never hinges on a float ulp.
    */
  def q71(spark: SparkSession, dir: String): DataFrame =
    CurationOps.nbClassify(Tables.documents(spark, dir),
      "text", "doc_id", "lang", tokenKey = PortableHash.md5Long)

  val q71Sql: String =
    s"""WITH tok AS (
      | SELECT doc_id, lang, ${md5LongSql("t")} AS tk
      | FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
      |       FROM documents)),
      |tf AS (SELECT doc_id, tk, count(*) AS tf FROM tok GROUP BY 1, 2),
      |cnt AS (SELECT lang, tk, count(*) AS c FROM tok GROUP BY 1, 2),
      |lab AS (SELECT lang, CAST(sum(c) AS DOUBLE) AS n_toks FROM cnt GROUP BY 1),
      |pri AS (
      | SELECT lang, ln(CAST(count(*) AS DOUBLE) /
      |   (SELECT count(*) FROM documents)) AS prior_lp
      | FROM documents GROUP BY 1),
      |v AS (SELECT CAST(count(DISTINCT tk) AS DOUBLE) AS v FROM tok),
      |sc AS (
      | SELECT tf.doc_id, lab.lang, pri.prior_lp +
      |   sum(tf.tf * ln((coalesce(cnt.c, 0) + 1.0) / (lab.n_toks + v.v))) AS score
      | FROM tf
      |  CROSS JOIN lab
      |  JOIN pri ON pri.lang = lab.lang
      |  CROSS JOIN v
      |  LEFT JOIN cnt ON cnt.lang = lab.lang AND cnt.tk = tf.tk
      | GROUP BY tf.doc_id, lab.lang, pri.prior_lp)
      |SELECT doc_id, lang AS pred, round(score, 6) AS score
      |FROM sc
      |QUALIFY row_number() OVER (PARTITION BY doc_id
      | ORDER BY round(score, 6) DESC, lang) = 1""".stripMargin

  // --------------------------------------------------------------- q72
  private val q72Buckets = 256

  /** DSIR importance log-weights
    * ([[graft.ops.CurationOps.dsirLogWeights]], md5 gram hash): hashed
    * unigram+bigram bucket distributions, target = the English slice,
    * raw = the whole corpus; per-doc summed log-ratio under add-one
    * smoothing.
    */
  def q72(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    CurationOps.dsirLogWeights(docs, "text", "doc_id",
        target = docs.filter(col("lang") === "en"),
        buckets = q72Buckets, tokenKey = PortableHash.md5Long)
      .select(col("doc_id"), col("n_grams"), round(col("logw"), 6).as("logw"))
  }

  val q72Sql: String =
    s"""WITH g AS (
      | SELECT doc_id, lang,
      |  CAST(${md5LongSql("gr")} % $q72Buckets AS INT) AS bucket
      | FROM (SELECT doc_id, lang, unnest(list_concat(
      |    string_split(text, ' '),
      |    list_transform(
      |      generate_series(1, len(string_split(text, ' ')) - 1),
      |      i -> string_split(text, ' ')[i] || ' ' ||
      |           string_split(text, ' ')[i + 1]))) AS gr
      |   FROM documents)),
      |tgt AS (SELECT bucket, count(*) AS ct FROM g WHERE lang = 'en' GROUP BY 1),
      |raw AS (SELECT bucket, count(*) AS cr FROM g GROUP BY 1),
      |nt AS (SELECT CAST(sum(ct) AS DOUBLE) AS n_t FROM tgt),
      |nr AS (SELECT CAST(sum(cr) AS DOUBLE) AS n_r FROM raw),
      |tf AS (SELECT doc_id, bucket, count(*) AS tf FROM g GROUP BY 1, 2)
      |SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_grams,
      | round(sum(tf.tf * (
      |   ln((coalesce(tgt.ct, 0) + 1.0) / (nt.n_t + $q72Buckets.0)) -
      |   ln((coalesce(raw.cr, 0) + 1.0) / (nr.n_r + $q72Buckets.0)))), 6) AS logw
      |FROM tf
      | LEFT JOIN tgt USING (bucket)
      | LEFT JOIN raw USING (bucket)
      | CROSS JOIN nt CROSS JOIN nr
      |GROUP BY tf.doc_id""".stripMargin

  // --------------------------------------------------------------- q73
  private val q73K = 100

  /** Deterministic exact-k sample
    * ([[graft.ops.SplitOps.sampleExactK]]): the $q73K docs with the
    * smallest md5(doc_id#seed) — replayed by the oracle as a
    * row_number window over the same hash.
    */
  def q73(spark: SparkSession, dir: String): DataFrame =
    SplitOps.sampleExactK(Tables.documents(spark, dir), "doc_id",
        k = q73K, seed = 7L)
      .select("doc_id", "lang")

  val q73Sql: String =
    s"""SELECT doc_id, lang FROM documents
      |QUALIFY row_number() OVER (
      | ORDER BY ${md5LongSql("CAST(doc_id AS VARCHAR) || '#' || '7'")}, doc_id)
      | <= $q73K""".stripMargin

  // --------------------------------------------------------------- q74
  /** Sliding 1-hour window, 30-minute hop
    * ([[graft.ops.SessionOps.slidingCounts]]): every event lands in 2
    * overlapping epoch-aligned windows; count + DECIMAL-accumulated
    * value sum per (event_type, window). The oracle replays Spark's
    * window assignment as integer micro-arithmetic: starts are
    * `floor(eu / slide) * slide - i * slide` for hop i, kept while
    * `eu < start + window`.
    */
  def q74(spark: SparkSession, dir: String): DataFrame =
    SessionOps.slidingCounts(Tables.events(spark, dir),
      "ts", "event_type", "value",
      windowSeconds = 3600L, slideSeconds = 1800L)

  val q74Sql: String =
    """WITH e AS (
      | SELECT event_type, value, epoch_us(ts) AS eu FROM events),
      |w AS (
      | SELECT event_type, value,
      |  (eu // 1800000000) * 1800000000 - u.i * 1800000000 AS ws
      | FROM e, (SELECT unnest(generate_series(0, 1)) AS i) u
      | WHERE eu < (eu // 1800000000) * 1800000000 - u.i * 1800000000
      |   + 3600000000)
      |SELECT event_type,
      | strftime(make_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS bucket,
      | COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      |FROM w GROUP BY event_type, bucket""".stripMargin

  // --------------------------------------------------------------- q75
  private val q75Words = Seq("dup", "forbidden")

  /** C4-style blocklist filter
    * ([[graft.ops.CurationOps.blocklistFilterPortable]], the hash-free
    * twin of the `SortedLongContains` production probe — differential-
    * spec'd equal): keep docs whose token set avoids every blocklist
    * word.
    */
  def q75(spark: SparkSession, dir: String): DataFrame =
    CurationOps.blocklistFilterPortable(
        Tables.documents(spark, dir), "text", q75Words)
      .select("doc_id", "n_chars")

  val q75Sql: String =
    s"""SELECT doc_id, n_chars FROM documents
      |WHERE len(list_intersect(string_split(text, ' '),
      | [${q75Words.map(w => s"'$w'").mkString(", ")}])) = 0""".stripMargin

  // --------------------------------------------------------------- q76
  private val q76MaxDist = 40

  /** Edit-distance fuzzy dedup DECISION
    * ([[graft.ops.DedupOps.editKeepersPortable]]): SimHash-banded
    * candidates (48-bit md5 family, Hamming ≤ 3 gate) verified by
    * exact `levenshtein(doc, rep) <= $q76MaxDist` — both engines run
    * the classic unit-cost DP, so the keep/drop decision replays
    * row-level.
    */
  def q76(spark: SparkSession, dir: String): DataFrame =
    DedupOps.editKeepersPortable(Tables.documents(spark, dir),
        "text", "doc_id", maxDist = q76MaxDist)
      .select(col("doc_id"))

  val q76Sql: String =
    s"""WITH $simhashRepSql,
      |cand AS (
      | SELECT DISTINCT b.doc_id AS id, r.rep
      | FROM band b JOIN rep r ON b.chunk = r.chunk AND b.cv = r.cv
      | WHERE b.doc_id > r.rep AND bit_count(xor(b.sig, r.rep_sig)) <= 3),
      |dropped AS (
      | SELECT DISTINCT c.id FROM cand c
      |  JOIN documents da ON da.doc_id = c.id
      |  JOIN documents db ON db.doc_id = c.rep
      | WHERE levenshtein(da.text, db.text) <= $q76MaxDist)
      |SELECT doc_id FROM documents
      |WHERE doc_id NOT IN (SELECT id FROM dropped)""".stripMargin

  // --------------------------------------------------------------- q77
  private val q77Terms = Seq("spark", "table", "fast")
  private val q77PerList = 50
  private val q77K = 20

  /** Hybrid search via reciprocal-rank fusion
    * ([[graft.ops.SearchOps.rrfFuse]]): BM25 top-$q77PerList over
    * `documents` (q60's replayable scoring) fused with cosine
    * top-$q77PerList against the vec_id-0 embedding (q24's replayable
    * chain) — ranks only, no score calibration, the published hybrid
    * retrieval combiner. Both per-list rank orders are bit-exact across
    * engines (their scores already hash-match in q60/q24), so the
    * fused top-$q77K replays row-level.
    */
  def q77(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val embs = Tables.embeddings(spark, dir)
    val bm = SearchOps.bm25TopK(docs, "text", "doc_id", q77Terms, k = q77PerList)
    val bmRank = JoinOps.withRowIndex(
        bm.sort(col("score").desc, col("doc_id")), "rank0")
      .select(col("doc_id"), (col("rank0") + 1).as("rank"))
    val qv = embs.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_vec"))
    val cosTop = embs.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        graft.functions.CosineSimilarity
          .cosineFused(col("embedding"), col("q_vec")).as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(q77PerList)
    val cosRank = JoinOps.withRowIndex(
        cosTop.sort(col("cos").desc, col("doc_id")), "rank0")
      .select(col("doc_id"), (col("rank0") + 1).as("rank"))
    SearchOps.rrfFuse(Seq(bmRank, cosRank), "doc_id", k = q77K)
  }

  val q77Sql: String = {
    val (bm25, tfCols, scoreSum) = bm25Sql(q77Terms)
    s"""WITH $bm25,
      |bm AS (
      | SELECT doc_id, $scoreSum AS score
      | FROM (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl, $tfCols FROM t) d, st),
      |bmr AS (
      | SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
      | FROM bm QUALIFY rank <= $q77PerList),
      |${bruteCosineBaseSql("")},
      |cs AS (
      | SELECT b.vec_id AS doc_id,
      |  list_sum(list_transform(generate_series(1, len(a.embedding)),
      |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |   / (a.nrm * b.nrm) AS cos
      | FROM e a JOIN e b ON a.vec_id = 0 AND b.vec_id <> 0),
      |csr AS (
      | SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS rank
      | FROM cs QUALIFY rank <= $q77PerList),
      |u AS (SELECT doc_id, rank FROM bmr UNION ALL SELECT doc_id, rank FROM csr),
      |f AS (
      | SELECT doc_id, sum(1.0 / (60.0 + rank)) AS rrf,
      |  CAST(count(*) AS BIGINT) AS n_lists
      | FROM u GROUP BY doc_id)
      |SELECT doc_id, round(rrf, 6) AS rrf, n_lists FROM f
      |QUALIFY ROW_NUMBER() OVER (ORDER BY round(rrf, 6) DESC, doc_id) <= $q77K""".stripMargin
  }

  // --------------------------------------------------------------- q78
  private val q78K = 30

  /** Stratified exact-k sample
    * ([[graft.ops.SplitOps.sampleExactKStratified]]): exactly
    * min($q78K, |stratum|) docs per language by the portable hash
    * order — the balanced-eval-set carve.
    */
  def q78(spark: SparkSession, dir: String): DataFrame =
    SplitOps.sampleExactKStratified(Tables.documents(spark, dir),
        "doc_id", "lang", k = q78K, seed = 11L)
      .select("doc_id", "lang")

  val q78Sql: String =
    s"""SELECT doc_id, lang FROM documents
      |QUALIFY ROW_NUMBER() OVER (PARTITION BY lang
      | ORDER BY ${md5LongSql("CAST(doc_id AS VARCHAR) || '#' || '11'")}, doc_id)
      | <= $q78K""".stripMargin

  // --------------------------------------------------------------- q79
  /** Hard-negative mining
    * ([[graft.ops.SimilarityOps.hardNegativesBrute]] — the bounded
    * brute baseline, q24's contract): for the first 20 vectors, the
    * top-5 most-cosine-similar vectors with a DIFFERENT label. The
    * production plan is [[graft.ops.SimilarityOps.hardNegativesLsh]]
    * (b_hard_negatives), which rejects same-label candidates at the
    * bucket join.
    */
  def q79(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    SimilarityOps.hardNegativesBrute(
      e.filter(col("vec_id") < 20), e, k = 5)
  }

  val q79Sql: String =
    s"""WITH ${bruteCosineBaseSql("label, ")},
      |${bruteCosineSql(20)}
      |  AND b.label <> a.label),
      |r AS (
      | SELECT query_id, neighbor_id, cosine,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |   ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      | FROM c)
      |SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5""".stripMargin

  // --------------------------------------------------------------- q80
  private val q80Budget = 200L

  /** Temperature-balanced corpus mixture
    * ([[graft.ops.MixOps.temperatureSample]], alpha = 0.5): per-language
    * keep rates proportional to sqrt-share, hitting an expected
    * $q80Budget docs total — low-resource languages over-sampled
    * relative to natural proportions. sqrt is the one correctly-rounded
    * pow, and the cross-stratum share total is an ORDERED fold
    * (stratum-ascending), so the rates — and therefore every
    * hash-vs-rate membership decision — replay bit-level in the oracle.
    */
  def q80(spark: SparkSession, dir: String): DataFrame =
    MixOps.temperatureSample(Tables.documents(spark, dir),
        "lang", "doc_id", budget = q80Budget, seed = 13L)
      .select("doc_id", "lang")

  val q80Sql: String =
    s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
      |t AS (SELECT list_sum(list(sqrt(CAST(n AS DOUBLE)) ORDER BY lang)) AS tot
      |      FROM c),
      |r AS (SELECT lang,
      |  least(1.0, $q80Budget.0 * (sqrt(CAST(n AS DOUBLE)) / tot)
      |    / CAST(n AS DOUBLE)) AS rate
      | FROM c CROSS JOIN t)
      |SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
      |WHERE ${md5LongSql("d.doc_id || '#' || '13'")}
      |    / 1152921504606846976.0 < r.rate""".stripMargin

  // --------------------------------------------------------------- q81
  /** Snapshot diff ([[graft.ops.DiffOps.snapshotDiff]]) between two
    * deterministically-derived corpus versions: "old" drops the ~5% of
    * doc_ids whose 81o-hash exceeds 0.95, "new" drops a different ~5%
    * (81n) and rewrites `lang` for the ~10% with 81c-hash < 0.1 — so
    * the diff must classify added / removed / changed (on the
    * (lang, n_chars) compare set) and drop the unchanged majority.
    */
  def q81(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val oldDf = d.filter(PortableHash.uniform01(col("doc_id"), lit("81o")) < 0.95)
    val newDf = d.filter(PortableHash.uniform01(col("doc_id"), lit("81n")) < 0.95)
      .withColumn("lang",
        when(PortableHash.uniform01(col("doc_id"), lit("81c")) < 0.1,
          concat(col("lang"), lit("-x"))).otherwise(col("lang")))
    DiffOps.snapshotDiff(oldDf, newDf, Seq("doc_id"), Seq("lang", "n_chars"))
  }

  val q81Sql: String = {
    def u(salt: String): String =
      uniform01Sql(s"doc_id || '#' || '$salt'")
    s"""WITH o AS (
      | SELECT doc_id, lang, n_chars FROM documents WHERE ${u("81o")} < 0.95),
      |n AS (
      | SELECT doc_id,
      |  CASE WHEN ${u("81c")} < 0.1 THEN lang || '-x' ELSE lang END AS lang,
      |  n_chars
      | FROM documents WHERE ${u("81n")} < 0.95),
      |j AS (
      | SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
      |  CASE WHEN o.doc_id IS NULL THEN 'added'
      |       WHEN n.doc_id IS NULL THEN 'removed'
      |       WHEN NOT (o.lang IS NOT DISTINCT FROM n.lang
      |             AND o.n_chars IS NOT DISTINCT FROM n.n_chars)
      |        THEN 'changed' END AS change
      | FROM o FULL JOIN n ON o.doc_id = n.doc_id)
      |SELECT doc_id, change FROM j WHERE change IS NOT NULL""".stripMargin
  }

  // --------------------------------------------------------------- q82
  /** ROUGE-2 ([[graft.ops.EvalMetrics.rougeN]]) over deterministic
    * reference/candidate pairs: each short doc (≤250 chars) paired with
    * the next doc_id in its language — clipped bigram overlap,
    * precision/recall/F1 per pair. Integer overlap counts are exact;
    * the P/R/F1 doubles are single correctly-rounded division chains,
    * so the replay is bit-level.
    */
  def q82(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
    val pairs = Tables.documents(spark, dir)
      .filter(col("n_chars") <= 250)
      .select(col("doc_id"), col("lang"), col("text").as("ref_text"))
      .withColumn("cand_text", lead(col("ref_text"), 1).over(w))
      .filter(col("cand_text").isNotNull)
    EvalMetrics.rougeN(pairs, "ref_text", "cand_text", n = 2)
      .select("doc_id", "overlap", "ref_n", "cand_n",
        "rouge_p", "rouge_r", "rouge_f1")
  }

  val q82Sql: String =
    """WITH d AS (
      | SELECT doc_id, lang,
      |  list_filter(string_split(text, ' '), t -> t <> '') AS rt
      | FROM documents WHERE n_chars <= 250),
      |p AS (
      | SELECT doc_id, rt,
      |  lead(rt) OVER (PARTITION BY lang ORDER BY doc_id) AS ct
      | FROM d),
      |g AS (
      | SELECT doc_id,
      |  list_transform(generate_series(1, len(rt) - 1),
      |    i -> rt[i] || ' ' || rt[i + 1]) AS rg,
      |  list_transform(generate_series(1, len(ct) - 1),
      |    i -> ct[i] || ' ' || ct[i + 1]) AS cg
      | FROM p WHERE ct IS NOT NULL),
      |m AS (
      | SELECT doc_id,
      |  COALESCE(CAST(list_sum(list_transform(list_distinct(cg), x ->
      |    least(len(list_filter(rg, y -> y = x)),
      |          len(list_filter(cg, y -> y = x))))) AS BIGINT), 0) AS overlap,
      |  CAST(len(rg) AS BIGINT) AS ref_n,
      |  CAST(len(cg) AS BIGINT) AS cand_n
      | FROM g)
      |SELECT doc_id, overlap, ref_n, cand_n,
      | CASE WHEN cand_n > 0 THEN CAST(overlap AS DOUBLE) / cand_n END AS rouge_p,
      | CASE WHEN ref_n > 0 THEN CAST(overlap AS DOUBLE) / ref_n END AS rouge_r,
      | CASE WHEN (CASE WHEN cand_n > 0 THEN CAST(overlap AS DOUBLE) / cand_n END)
      |         + (CASE WHEN ref_n > 0 THEN CAST(overlap AS DOUBLE) / ref_n END) > 0.0
      |  THEN 2.0 * (CAST(overlap AS DOUBLE) / cand_n) * (CAST(overlap AS DOUBLE) / ref_n)
      |     / ((CAST(overlap AS DOUBLE) / cand_n) + (CAST(overlap AS DOUBLE) / ref_n))
      |  END AS rouge_f1
      |FROM m""".stripMargin

  // --------------------------------------------------------------- q83
  private val q83WindowUs = 1800000000L // 30 min in micros

  /** Range (interval) join ([[graft.ops.JoinOps.rangeJoinBucketed]]):
    * every purchase paired with EVERY view of the same user in the
    * preceding 30 minutes — the all-matches counterpart of q38's
    * latest-only as-of join. The engine buckets the number line into
    * window-sized cells so the range predicate runs inside a (user,
    * cell) equi-join instead of the per-user cross product DuckDB (and
    * naive Spark) plan for the raw inequality.
    */
  def q83(spark: SparkSession, dir: String): DataFrame =
    purchaseViewPairs(spark, dir)
      .select(col("purchase_id"), col("user_id"), col("view_id"),
        (col("pt") - col("lo")).as("gap_us"))

  /** q83's range join before the projection: each purchase's
    * `(pt)` row paired with every `[lo, hi)` view window of its user.
    */
  private[graft] def purchaseViewPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val points = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_micros(col("ts")).as("pt"))
    val intervals = e.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        unix_micros(col("ts")).as("lo"),
        (unix_micros(col("ts")) + q83WindowUs).as("hi"))
    JoinOps.rangeJoinBucketed(points, intervals, "user_id",
      "pt", "lo", "hi", cellWidth = q83WindowUs)
  }

  val q83Sql: String =
    s"""SELECT p.event_id AS purchase_id, p.user_id, v.event_id AS view_id,
      | epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT * FROM events WHERE event_type = 'view') v
      | ON p.user_id = v.user_id
      | AND epoch_us(p.ts) >= epoch_us(v.ts)
      | AND epoch_us(p.ts) < epoch_us(v.ts) + $q83WindowUs""".stripMargin

  // --------------------------------------------------------------- q84
  /** Count-Min Sketch ([[graft.ops.SketchOps.cmsSketch]] /
    * [[graft.ops.SketchOps.cmsEstimate]], depth 4 × width 512,
    * md5-portable hashes): point-frequency estimates for the q61
    * top-30 vocabulary probed against the one-pass mergeable sketch —
    * the constant-state stand-in for an exact token count table that
    * would itself be TB-sized at corpus scale. Every cell count and
    * min-fold is integer, so the replay is exact.
    */
  def q84(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val sketch = SketchOps.cmsSketch(d, "text", depth = 4, width = 512, seed = 7L)
    val probes = SearchOps.buildVocab(d, "text", maxSize = 30).select("token")
    SketchOps.cmsEstimate(sketch, probes, "token", depth = 4, width = 512, seed = 7L)
  }

  val q84Sql: String =
    s"""WITH toks AS (
      | SELECT unnest(list_filter(string_split(text, ' '), tk -> tk <> '')) AS tok
      | FROM documents),
      |sk AS (
      | SELECT r, ${md5LongSql("tok || '#' || '7' || '#' || r")} % 512 AS bucket,
      |  CAST(count(*) AS BIGINT) AS cnt
      | FROM toks CROSS JOIN range(0, 4) t(r)
      | GROUP BY 1, 2),
      |vocab AS (
      | SELECT tok AS token FROM toks GROUP BY tok
      | ORDER BY count(*) DESC, tok LIMIT 30),
      |pr AS (
      | SELECT token, r, ${md5LongSql("token || '#' || '7' || '#' || r")} % 512 AS bucket
      | FROM vocab CROSS JOIN range(0, 4) t(r))
      |SELECT token, min(COALESCE(cnt, CAST(0 AS BIGINT))) AS est
      |FROM pr LEFT JOIN sk USING (r, bucket) GROUP BY token""".stripMargin

  // --------------------------------------------------------------- q85
  /** HyperLogLog registers ([[graft.ops.SketchOps.hllRegisters]],
    * b = 8 → 256 buckets over the 48-bit portable hash): the
    * register frame IS the cardinality sketch — mergeable by
    * register-wise max, constant-size, and integer-exact for the
    * oracle (the scalar estimate on top is
    * [[graft.ops.SketchOps.hllEstimate]], spec-checked against exact
    * distinct counts).
    */
  def q85(spark: SparkSession, dir: String): DataFrame =
    SketchOps.hllRegisters(Tables.documents(spark, dir), "text", b = 8, seed = 9L)

  val q85Sql: String =
    s"""WITH toks AS (
      | SELECT unnest(list_filter(string_split(text, ' '), tk -> tk <> '')) AS tok
      | FROM documents),
      |h AS (
      | SELECT ${md5Long48Sql("tok || '#' || '9'")} AS h
      | FROM toks)
      |SELECT h >> 40 AS bucket,
      | CAST(max(CASE WHEN (h & ((CAST(1 AS BIGINT) << 40) - 1)) = 0 THEN 41
      |  ELSE 41 - length(bin(h & ((CAST(1 AS BIGINT) << 40) - 1))) END) AS INT)
      |  AS rho_max
      |FROM h GROUP BY 1""".stripMargin

  // --------------------------------------------------------------- q86
  /** Ordered conversion funnel ([[graft.ops.FunnelOps.funnelCounts]]):
    * signup → view → click → purchase completion counts, each step's
    * first occurrence at-or-after the previous step's completion. Run
    * over a deterministic 1-in-8 event subsample (portable hash of
    * event_id) so the ordering constraint discriminates — the full
    * fixture is dense enough that every user completes every funnel.
    */
  def q86(spark: SparkSession, dir: String): DataFrame = {
    val sampled = Tables.events(spark, dir)
      .filter(pmod(PortableHash.md5Long(col("event_id"), lit("86")), lit(8)) === 0)
    FunnelOps.funnelCounts(sampled, "user_id", "ts", "event_type",
      Seq("signup", "view", "click", "purchase"))
  }

  val q86Sql: String =
    s"""WITH ev AS (
      | SELECT * FROM events
      | WHERE ${md5LongSql("event_id || '#' || '86'")} % 8 = 0),
      |u1 AS (
      | SELECT user_id, min(ts) AS t FROM ev
      | WHERE event_type = 'signup' GROUP BY 1),
      |u2 AS (
      | SELECT e.user_id, min(e.ts) AS t FROM ev e JOIN u1 USING (user_id)
      | WHERE e.event_type = 'view' AND e.ts >= u1.t GROUP BY 1),
      |u3 AS (
      | SELECT e.user_id, min(e.ts) AS t FROM ev e JOIN u2 USING (user_id)
      | WHERE e.event_type = 'click' AND e.ts >= u2.t GROUP BY 1),
      |u4 AS (
      | SELECT e.user_id, min(e.ts) AS t FROM ev e JOIN u3 USING (user_id)
      | WHERE e.event_type = 'purchase' AND e.ts >= u3.t GROUP BY 1)
      |SELECT 'signup' AS step, CAST(1 AS INT) AS step_idx,
      | CAST((SELECT count(*) FROM u1) AS BIGINT) AS n_users
      |UNION ALL SELECT 'view', CAST(2 AS INT),
      | CAST((SELECT count(*) FROM u2) AS BIGINT)
      |UNION ALL SELECT 'click', CAST(3 AS INT),
      | CAST((SELECT count(*) FROM u3) AS BIGINT)
      |UNION ALL SELECT 'purchase', CAST(4 AS INT),
      | CAST((SELECT count(*) FROM u4) AS BIGINT)""".stripMargin

  // --------------------------------------------------------------- q87
  /** Cohort retention grid ([[graft.ops.FunnelOps.cohortRetention]],
    * daily buckets): users cohorted by first-event day, distinct
    * active users per (cohort, period) cell. Epoch-aligned integer
    * day buckets replay exactly in both engines.
    */
  def q87(spark: SparkSession, dir: String): DataFrame =
    FunnelOps.cohortRetention(Tables.events(spark, dir), "user_id", "ts",
      bucketSeconds = 86400L)

  val q87Sql: String =
    """WITH f AS (
      | SELECT user_id,
      |  CAST(floor(epoch_us(min(ts)) / 86400000000) AS BIGINT) AS cohort
      | FROM events GROUP BY 1),
      |a AS (
      | SELECT user_id,
      |  CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS bucket
      | FROM events)
      |SELECT cohort, bucket - cohort AS period,
      | CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
      |FROM a JOIN f USING (user_id) GROUP BY cohort, bucket""".stripMargin

  // --------------------------------------------------------------- q88
  /** Bloom membership filter ([[graft.ops.SketchOps.bloomBits]] /
    * [[graft.ops.SketchOps.bloomProbe]], m = 4096, k = 3): corpus
    * tokens of the benchmark slice (doc_id % 20 = 0, the
    * decontamination convention) summarized as a ≤ m-row bit frame;
    * probed with the q61 top-30 vocabulary plus 30 definitely-absent
    * variants — no false negatives by construction, and the absent
    * probes discriminate (30 true / 30 false at sf0.01). The
    * 100 TB use: probe grams against the broadcast bloom and
    * full-join only the maybes.
    */
  def q88(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val bits = SketchOps.bloomBits(
      d.filter(col("doc_id") % 20 === 0), "text", m = 4096, k = 3, seed = 5L)
    val vocab = SearchOps.buildVocab(d, "text", maxSize = 30).select("token")
    val probes = vocab.unionByName(
      vocab.select(concat(col("token"), lit("-x")).as("token")))
    SketchOps.bloomProbe(bits, probes, "token", m = 4096, k = 3, seed = 5L)
  }

  val q88Sql: String =
    s"""WITH btoks AS (
      | SELECT DISTINCT unnest(list_filter(string_split(text, ' '), tk -> tk <> '')) AS tok
      | FROM documents WHERE doc_id % 20 = 0),
      |bits AS (
      | SELECT DISTINCT ${md5LongSql("tok || '#' || '5' || '#' || j")} % 4096 AS bit
      | FROM btoks CROSS JOIN range(0, 3) t(j)),
      |toks AS (
      | SELECT unnest(list_filter(string_split(text, ' '), tk -> tk <> '')) AS tok
      | FROM documents),
      |vocab AS (
      | SELECT tok AS token FROM toks GROUP BY tok
      | ORDER BY count(*) DESC, tok LIMIT 30),
      |pr0 AS (
      | SELECT token FROM vocab UNION ALL SELECT token || '-x' FROM vocab),
      |pr AS (
      | SELECT token, ${md5LongSql("token || '#' || '5' || '#' || j")} % 4096 AS bit
      | FROM pr0 CROSS JOIN range(0, 3) t(j))
      |SELECT token, count(b.bit) = 3 AS maybe_present
      |FROM pr LEFT JOIN bits b USING (bit) GROUP BY token""".stripMargin

  // --------------------------------------------------------------- q89
  /** Pivot (cross-tab): daily event counts pivoted to one column per
    * event type — Spark's native `groupBy.pivot` with the value list
    * pinned (no discovery pass), replayed as conditional aggregation.
    * One (day)-keyed shuffle of partial counts; the pivot itself is
    * column arithmetic, not a second exchange.
    */
  def q89(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(floor(unix_micros(col("ts")) / lit(86400000000L)).as("day"))
      .pivot("event_type", Seq("signup", "view", "click", "purchase", "error"))
      .count()
      .na.fill(0L)

  val q89Sql: String =
    """SELECT CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
      | CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
      | CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view,
      | CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
      | CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
      | CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error
      |FROM events GROUP BY 1""".stripMargin

  // --------------------------------------------------------------- q90
  /** Exact interpolated percentiles per group (Spark `percentile`, the
    * quantileBuckets primitive surfaced as a query): p25/p50/p75 of
    * order totals per status. Both engines linearly interpolate
    * between the same two order statistics, so the doubles agree.
    */
  def q90(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .groupBy("o_orderstatus")
      .agg(expr("percentile(o_totalprice, array(0.25D, 0.5D, 0.75D))").as("p"))
      .select(col("o_orderstatus"),
        col("p").getItem(0).as("p25"),
        col("p").getItem(1).as("p50"),
        col("p").getItem(2).as("p75"))
  }

  val q90Sql: String =
    """SELECT o_orderstatus,
      | quantile_cont(o_totalprice, 0.25) AS p25,
      | quantile_cont(o_totalprice, 0.5) AS p50,
      | quantile_cont(o_totalprice, 0.75) AS p75
      |FROM orders GROUP BY 1""".stripMargin

  // --------------------------------------------------------------- q91
  /** Pearson correlation per group, decimal-exact: the five
    * sufficient-statistic sums accumulate in DECIMAL (order-free,
    * exact — the OracleQueries float-parity rule), and the final
    * correlation is ONE double expression over identical decimal
    * values, so it replays bit-level. Spark's built-in `corr`
    * (streaming double co-moments) is the non-portable twin — same
    * math, order-dependent rounding.
    */
  def q91(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val x = col("l_quantity").cast(DecimalType(19, 6))
    val y = col("l_extendedprice").cast(DecimalType(19, 6))
    val d = (c: org.apache.spark.sql.Column) => c.cast("double")
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"),
        sum(x * y).as("sxy"))
      .select(col("l_returnflag"), col("n"),
        ((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
          (sqrt(d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
            sqrt(d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy")))))
          .as("corr_qty_price"))
  }

  val q91Sql: String =
    """WITH s AS (
      | SELECT l_returnflag,
      |  CAST(count(*) AS BIGINT) AS n,
      |  SUM(CAST(l_quantity AS DECIMAL(19,6))) AS sx,
      |  SUM(CAST(l_extendedprice AS DECIMAL(19,6))) AS sy,
      |  SUM(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_quantity AS DECIMAL(19,6))) AS sxx,
      |  SUM(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6))) AS syy,
      |  SUM(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6))) AS sxy
      | FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, n,
      | (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      | / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |  * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      | AS corr_qty_price
      |FROM s""".stripMargin

  // --------------------------------------------------------------- q92
  /** Per-group HLL distinct estimate
    * ([[graft.ops.SketchOps.hllRegistersBy]] +
    * [[graft.ops.SketchOps.hllEstimateBy]]): approximate distinct
    * tokens per language with ≤ 2^b register rows per group — the
    * constant-state replacement for a countDistinct whose per-group
    * key sets would be data-sized. Fully portable INCLUDING the float
    * path: the 2^-rho harmonic terms are exact powers of two whose
    * per-group sum spans < 53 mantissa bits (order-free, exact), and
    * the final expression is one shared double formula.
    */
  def q92(spark: SparkSession, dir: String): DataFrame =
    SketchOps.hllEstimateBy(
      SketchOps.hllRegistersBy(Tables.documents(spark, dir), Seq("lang"),
        "text", b = 8, seed = 9L),
      Seq("lang"), b = 8)

  val q92Sql: String =
    s"""WITH toks AS (
      | SELECT lang, unnest(list_filter(string_split(text, ' '), tk -> tk <> '')) AS tok
      | FROM documents),
      |h AS (
      | SELECT lang, ${md5Long48Sql("tok || '#' || '9'")} AS h
      | FROM toks),
      |r AS (
      | SELECT lang, h >> 40 AS bucket,
      |  max(CASE WHEN (h & ((CAST(1 AS BIGINT) << 40) - 1)) = 0 THEN 41
      |   ELSE 41 - length(bin(h & ((CAST(1 AS BIGINT) << 40) - 1))) END) AS rho_max
      | FROM h GROUP BY 1, 2),
      |s AS (
      | SELECT lang, count(*) AS np, SUM(pow(2.0, -rho_max)) AS sp FROM r GROUP BY 1)
      |SELECT lang,
      | CASE WHEN ((0.7213 / (1 + 1.079 / 256.0)) * 256.0 * 256.0 / (sp + (256 - np))) <= 640.0
      |        AND (256 - np) > 0
      |  THEN 256.0 * ln(256.0 / (256 - np))
      |  ELSE (0.7213 / (1 + 1.079 / 256.0)) * 256.0 * 256.0 / (sp + (256 - np)) END
      |  AS est_distinct
      |FROM s""".stripMargin

  // --------------------------------------------------------------- q93
  /** Forward as-of join ([[graft.ops.JoinOps.asOfJoinForward]]):
    * every purchase attached to the user's NEXT error event —
    * time-to-next-event attribution, checked against DuckDB's native
    * forward ASOF (`e.ts >= p.ts`). q38 pins the backward twin.
    */
  def q93(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
    val errors = e.filter(col("event_type") === "error")
    JoinOps.asOfJoinForward(purchases, errors, "user_id", "ts",
        Seq("event_id", "ts"))
      .select(
        col("event_id").as("purchase_id"),
        col("user_id"),
        col("next_event_id").as("next_error_id"),
        (unix_micros(col("next_ts")) - unix_micros(col("ts"))).as("wait_us"))
  }

  val q93Sql: String =
    """SELECT p.event_id AS purchase_id, p.user_id, e.event_id AS next_error_id,
      | epoch_us(e.ts) - epoch_us(p.ts) AS wait_us
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
      | ON p.user_id = e.user_id AND e.ts >= p.ts""".stripMargin

  // --------------------------------------------------------------- q94
  private val q94WindowUs = 12L * 3600 * 1000000 // 12 h

  /** Gap-constrained window funnel
    * ([[graft.ops.FunnelOps.windowFunnel]], ClickHouse `windowFunnel`
    * semantics): view → click → purchase with all steps inside a
    * 12-hour window from the anchoring view — 150/136/36 users at
    * sf0.01, vs q86's unbounded-gap funnel. Each level is one
    * grid-bucketed range join (never a per-user cross product).
    */
  def q94(spark: SparkSession, dir: String): DataFrame =
    FunnelOps.windowFunnel(Tables.events(spark, dir), "user_id", "ts",
      "event_type", Seq("view", "click", "purchase"), windowUs = q94WindowUs)

  val q94Sql: String =
    s"""WITH a1 AS (
      | SELECT user_id, ts AS t1 FROM events WHERE event_type = 'view'),
      |a2 AS (
      | SELECT a1.user_id, a1.t1, min(e.ts) AS t2
      | FROM a1 JOIN events e ON e.user_id = a1.user_id
      |  AND e.event_type = 'click' AND e.ts >= a1.t1
      |  AND epoch_us(e.ts) < epoch_us(a1.t1) + $q94WindowUs
      | GROUP BY 1, 2),
      |a3 AS (
      | SELECT a2.user_id, a2.t1, min(e.ts) AS t3
      | FROM a2 JOIN events e ON e.user_id = a2.user_id
      |  AND e.event_type = 'purchase' AND e.ts >= a2.t2
      |  AND epoch_us(e.ts) < epoch_us(a2.t1) + $q94WindowUs
      | GROUP BY 1, 2)
      |SELECT 'view' AS step, CAST(1 AS INT) AS step_idx,
      | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM a1
      |UNION ALL SELECT 'click', CAST(2 AS INT),
      | CAST(count(DISTINCT user_id) AS BIGINT) FROM a2
      |UNION ALL SELECT 'purchase', CAST(3 AS INT),
      | CAST(count(DISTINCT user_id) AS BIGINT) FROM a3""".stripMargin

  // --------------------------------------------------------------- q95
  /** Dataset profile ([[graft.ops.ProfileOps.profile]]): per-column
    * completeness/domain stats in one pass — the data-quality report
    * every ingest gate reads before the pipeline runs. min/max as
    * strings (binary UTF8 comparison, identical in both engines).
    */
  def q95(spark: SparkSession, dir: String): DataFrame =
    ProfileOps.profile(Tables.documents(spark, dir),
      Seq("doc_id", "lang", "source", "n_chars"))

  val q95Sql: String = {
    def leg(c: String): String =
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        | CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
        | CAST(min($c) AS VARCHAR) AS min_val,
        | CAST(max($c) AS VARCHAR) AS max_val
        |FROM documents""".stripMargin
    Seq("doc_id", "lang", "source", "n_chars").map(leg).mkString("\nUNION ALL ")
  }

  // --------------------------------------------------------------- q96
  /** Gaps-and-islands ([[graft.ops.SessionOps.islands]]): consecutive
    * equal event_type runs per user collapsed to one row each — the
    * SCD-2 validity-interval / streak-analysis builder, same
    * single-sort plan as q19's sessionize.
    */
  def q96(spark: SparkSession, dir: String): DataFrame =
    SessionOps.islands(Tables.events(spark, dir), "user_id", "ts", "event_type")

  val q96Sql: String =
    """WITH o AS (
      | SELECT user_id, event_id, ts, event_type,
      |  CASE WHEN event_type IS NOT DISTINCT FROM
      |   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |  THEN 0 ELSE 1 END AS chg
      | FROM events),
      |i AS (
      | SELECT user_id, event_type, ts,
      |  SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |   ROWS UNBOUNDED PRECEDING) AS island_id
      | FROM o)
      |SELECT user_id, CAST(island_id AS BIGINT) AS island_id,
      | min(event_type) AS event_type, CAST(count(*) AS BIGINT) AS n,
      | min(ts) AS start_ts, max(ts) AS end_ts
      |FROM i GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q97
  /** Trailing 7-day rolling revenue ([[graft.ops.TrendOps.rollingAgg]]):
    * daily DECIMAL-exact totals, then rolling sum/avg with RANGE
    * semantics (day gaps excluded, partial head windows) — computed by
    * contribution-explode + one keyed aggregation, NO unpartitioned
    * window, checked against DuckDB's native RANGE frame.
    */
  def q97(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // o_orderdate may read as TIMESTAMP_NTZ (see Tables.normalizeTs);
    // the cast is a no-op on TimestampType and a UTC reinterpretation
    // otherwise. Applied here, not in the reader: a reader-level cast
    // would sit between q01's l_shipdate filter and the scan and break
    // its pushdown (PlanShapeSpec-pinned).
    val daily = Tables.orders(spark, dir)
      .groupBy(floor(unix_micros(col("o_orderdate")
        .cast(org.apache.spark.sql.types.TimestampType)) / lit(86400000000L)).as("day"))
      .agg(sum(col("o_totalprice").cast(DecimalType(19, 6))).as("rev"))
    TrendOps.rollingAgg(daily, "day", "rev", window = 7)
      .select(col("day"), col("rev").cast("double").as("rev"),
        col("roll_sum"), col("roll_avg"), col("n_terms"))
  }

  val q97Sql: String =
    """WITH daily AS (
      | SELECT CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS day,
      |  SUM(CAST(o_totalprice AS DECIMAL(19,6))) AS rev
      | FROM orders GROUP BY 1)
      |SELECT day, CAST(rev AS DOUBLE) AS rev,
      | CAST(SUM(rev) OVER w AS DOUBLE) AS roll_sum,
      | CAST(SUM(rev) OVER w AS DOUBLE) / CAST(count(*) OVER w AS BIGINT) AS roll_avg,
      | CAST(count(*) OVER w AS BIGINT) AS n_terms
      |FROM daily WINDOW w AS (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin

  // --------------------------------------------------------------- q98
  /** Market-basket association rules
    * ([[graft.ops.BasketOps.associationRules]]): directed A → B
    * support/confidence/lift over (user, day) baskets of event types —
    * the classic co-occurrence miner. Every metric is an exact count
    * ratio in one double division.
    */
  def q98(spark: SparkSession, dir: String): DataFrame =
    BasketOps.associationRules(
      Tables.events(spark, dir)
        .withColumn("day",
          floor(unix_micros(col("ts")) / lit(86400000000L))),
      Seq("user_id", "day"), "event_type")

  val q98Sql: String =
    """WITH obs AS (
      | SELECT DISTINCT user_id,
      |  CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
      |  event_type AS item
      | FROM events),
      |nb AS (SELECT count(*) AS n FROM (SELECT DISTINCT user_id, day FROM obs)),
      |ic AS (SELECT item, CAST(count(*) AS BIGINT) AS n_i FROM obs GROUP BY 1),
      |p AS (
      | SELECT a.item AS item_a, b.item AS item_b, CAST(count(*) AS BIGINT) AS n_ab
      | FROM obs a JOIN obs b ON a.user_id = b.user_id AND a.day = b.day
      |  AND a.item <> b.item
      | GROUP BY 1, 2)
      |SELECT item_a, item_b, n_ab, ia.n_i AS n_a, ib.n_i AS n_b,
      | CAST(n_ab AS DOUBLE) / CAST(nb.n AS DOUBLE) AS support,
      | CAST(n_ab AS DOUBLE) / CAST(ia.n_i AS DOUBLE) AS confidence,
      | CAST(n_ab AS DOUBLE) * CAST(nb.n AS DOUBLE)
      |  / (CAST(ia.n_i AS DOUBLE) * CAST(ib.n_i AS DOUBLE)) AS lift
      |FROM p JOIN ic ia ON p.item_a = ia.item JOIN ic ib ON p.item_b = ib.item
      |CROSS JOIN nb""".stripMargin

  // --------------------------------------------------------------- q99
  /** Trailing-window anomaly score
    * ([[graft.ops.TrendOps.rollingZScore]]): each day's revenue
    * z-scored against the preceding ≤ 7 days (current excluded, ≥ 3
    * required) — decimal-exact trailing sums, one shared double
    * formula, vs DuckDB's RANGE ... 1 PRECEDING frame.
    */
  def q99(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, TimestampType}
    val daily = Tables.orders(spark, dir)
      .groupBy(floor(unix_micros(col("o_orderdate").cast(TimestampType))
        / lit(86400000000L)).as("day"))
      .agg(sum(col("o_totalprice").cast(DecimalType(19, 6))).as("rev"))
    TrendOps.rollingZScore(daily, "day", "rev", window = 7, minPoints = 3)
      .select(col("day"), col("rev").cast("double").as("rev"),
        col("n_prev"), col("z"))
  }

  val q99Sql: String =
    """WITH daily AS (
      | SELECT CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS day,
      |  SUM(CAST(o_totalprice AS DECIMAL(19,6))) AS rev
      | FROM orders GROUP BY 1),
      |t AS (SELECT day, rev,
      |  CAST(count(*) OVER w AS BIGINT) AS n_prev,
      |  SUM(rev) OVER w AS s, SUM(rev * rev) OVER w AS sq
      | FROM daily WINDOW w AS (ORDER BY day RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING))
      |SELECT day, CAST(rev AS DOUBLE) AS rev, n_prev,
      | CASE WHEN n_prev >= 3 AND greatest(CAST(sq AS DOUBLE) / n_prev
      |   - (CAST(s AS DOUBLE) / n_prev) * (CAST(s AS DOUBLE) / n_prev), 0.0) > 0
      |  THEN (CAST(rev AS DOUBLE) - CAST(s AS DOUBLE) / n_prev)
      |   / sqrt(greatest(CAST(sq AS DOUBLE) / n_prev
      |     - (CAST(s AS DOUBLE) / n_prev) * (CAST(s AS DOUBLE) / n_prev), 0.0))
      | END AS z
      |FROM t""".stripMargin

  /** Two derived versions of the corpus for the drift rows: "old"
    * keeps the docs whose `<salt>o` draw is below `keep`, "new" those
    * whose `<salt>n` draw is, with the lang of a `relabel` share
    * (`<salt>c` draw) rewritten to `lang-x`.
    */
  private[graft] def langVersions(spark: SparkSession, dir: String, salt: String,
      keep: Double, relabel: Double): (DataFrame, DataFrame) = {
    val d = Tables.documents(spark, dir)
    def u(s: String) = PortableHash.uniform01(col("doc_id"), lit(salt + s))
    (d.filter(u("o") < keep),
      d.filter(u("n") < keep).withColumn("lang",
        when(u("c") < relabel, concat(col("lang"), lit("-x"))).otherwise(col("lang"))))
  }

  /** [[langVersions]] in DuckDB: the old (`o`) and new (`n`) langs,
    * their counts `co`/`cn`, and `j`, both counts per lang of either.
    */
  private def langVersionsSql(salt: String, keep: Double, relabel: Double): String = {
    def u(s: String): String =
      uniform01Sql(s"doc_id || '#' || '$salt$s'")
    s"""o AS (SELECT lang FROM documents WHERE ${u("o")} < $keep),
      |n AS (SELECT CASE WHEN ${u("c")} < $relabel THEN lang || '-x' ELSE lang END AS lang
      |      FROM documents WHERE ${u("n")} < $keep),
      |co AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_old FROM o GROUP BY 1),
      |cn AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_new FROM n GROUP BY 1),
      |j AS (SELECT COALESCE(co.lang, cn.lang) AS lang,
      |  COALESCE(n_old, CAST(0 AS BIGINT)) AS n_old,
      |  COALESCE(n_new, CAST(0 AS BIGINT)) AS n_new
      | FROM co FULL JOIN cn ON co.lang = cn.lang)""".stripMargin
  }

  // --------------------------------------------------------------- q100
  /** Categorical drift / PSI ([[graft.ops.DriftOps.categoricalDrift]]):
    * language-mix Population Stability Index between two
    * deterministically-derived corpus versions (q81's snapshot
    * pattern, fresh salts) — the accept/reject gate a production
    * ingest runs. Add-one smoothing over the union domain keeps
    * vanished/new categories finite; PSI 0.195 here (above the 0.1
    * "stable" band — the synthetic lang rewrite is a real shift).
    */
  def q100(spark: SparkSession, dir: String): DataFrame = {
    val (oldDf, newDf) = langVersions(spark, dir, "100", 0.95, 0.1)
    DriftOps.categoricalDrift(oldDf, newDf, "lang")
  }

  val q100Sql: String =
    s"""WITH ${langVersionsSql("100", 0.95, 0.1)},
      |t AS (SELECT SUM(n_old) AS t_old, SUM(n_new) AS t_new, count(*) AS k FROM j),
      |w AS (SELECT lang, n_old, n_new,
      |  (CAST(n_old AS DOUBLE) + 1.0) / (CAST(t_old AS DOUBLE) + CAST(k AS DOUBLE)) AS p_old,
      |  (CAST(n_new AS DOUBLE) + 1.0) / (CAST(t_new AS DOUBLE) + CAST(k AS DOUBLE)) AS p_new
      | FROM j CROSS JOIN t),
      |w2 AS (SELECT lang, n_old, n_new, p_old, p_new,
      |  (p_new - p_old) * ln(p_new / p_old) AS psi_term FROM w),
      |tt AS (SELECT CAST(SUM(CAST(round(psi_term, 9) AS DECIMAL(38,9))) AS DOUBLE)
      |       AS psi_total FROM w2)
      |SELECT * FROM w2 CROSS JOIN tt""".stripMargin

  // --------------------------------------------------------------- q101
  /** Numeric drift ([[graft.ops.DriftOps.numericDrift]]): PSI of
    * `n_chars` over the OLD version's quintile bins — the original
    * credit-scoring PSI. The "new" version deterministically
    * under-samples long docs (keep rate 0.5 above 300 chars vs 0.95),
    * a genuine length shift the gate must flag; edges are computed on
    * the reference side only and ride a 1-row broadcast.
    */
  def q101(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val oldDf = d.filter(
      PortableHash.uniform01(col("doc_id"), lit("101o")) < 0.95)
    val newDf = d.filter(
      PortableHash.uniform01(col("doc_id"), lit("101n")) <
        when(col("n_chars") > 300, 0.5).otherwise(0.95))
    DriftOps.numericDrift(oldDf, newDf, "n_chars", nBins = 5)
  }

  val q101Sql: String = {
    def u(salt: String): String =
      uniform01Sql(s"doc_id || '#' || '$salt'")
    val probs = (1 until 5).map(i => (i.toDouble / 5).toString).mkString(", ")
    val binCase = "CASE " + (0 until 4).map(i =>
      s"WHEN round(n_chars, 6) <= c[${i + 1}] THEN CAST($i AS INT)").mkString(" ") +
      " ELSE CAST(4 AS INT) END"
    s"""WITH o AS (SELECT n_chars FROM documents
      |  WHERE ${u("101o")} < 0.95 AND n_chars IS NOT NULL),
      |n AS (SELECT n_chars FROM documents
      |  WHERE ${u("101n")} < (CASE WHEN n_chars > 300 THEN 0.5 ELSE 0.95 END)
      |   AND n_chars IS NOT NULL),
      |cu AS (SELECT quantile_cont(round(n_chars, 6), [$probs]) AS c FROM o),
      |ob AS (SELECT $binCase AS bin FROM o CROSS JOIN cu),
      |nb2 AS (SELECT $binCase AS bin FROM n CROSS JOIN cu),
      |co AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_old FROM ob GROUP BY 1),
      |cn AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_new FROM nb2 GROUP BY 1),
      |j AS (SELECT COALESCE(co.bin, cn.bin) AS bin,
      |  COALESCE(n_old, CAST(0 AS BIGINT)) AS n_old,
      |  COALESCE(n_new, CAST(0 AS BIGINT)) AS n_new
      | FROM co FULL JOIN cn ON co.bin = cn.bin),
      |t AS (SELECT SUM(n_old) AS t_old, SUM(n_new) AS t_new, count(*) AS k FROM j),
      |w AS (SELECT bin, n_old, n_new,
      |  (CAST(n_old AS DOUBLE) + 1.0) / (CAST(t_old AS DOUBLE) + CAST(k AS DOUBLE)) AS p_old,
      |  (CAST(n_new AS DOUBLE) + 1.0) / (CAST(t_new AS DOUBLE) + CAST(k AS DOUBLE)) AS p_new
      | FROM j CROSS JOIN t),
      |w2 AS (SELECT bin, n_old, n_new, p_old, p_new,
      |  (p_new - p_old) * ln(p_new / p_old) AS psi_term FROM w),
      |tt AS (SELECT CAST(SUM(CAST(round(psi_term, 9) AS DECIMAL(38,9))) AS DOUBLE)
      |       AS psi_total FROM w2)
      |SELECT * FROM w2 CROSS JOIN tt""".stripMargin
  }

  // --------------------------------------------------------------- q102
  /** Markov transition matrix
    * ([[graft.ops.SessionOps.transitionMatrix]]): event_type → next
    * event_type counts and conditional probabilities over per-user
    * sequences — the sequence complement of q96's islands (which
    * collapse the self-transitions measured here).
    */
  def q102(spark: SparkSession, dir: String): DataFrame =
    SessionOps.transitionMatrix(Tables.events(spark, dir),
      "user_id", "ts", "event_type")

  val q102Sql: String =
    """WITH p AS (
      | SELECT event_type AS from_event_type,
      |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |   AS to_event_type
      | FROM events),
      |c AS (SELECT from_event_type, to_event_type, CAST(count(*) AS BIGINT) AS n
      | FROM p WHERE to_event_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT from_event_type, SUM(n) AS tot FROM c GROUP BY 1)
      |SELECT c.from_event_type, c.to_event_type, n,
      | CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS p
      |FROM c JOIN t USING (from_event_type)""".stripMargin

  // --------------------------------------------------------------- q103
  /** Inverted index ([[graft.ops.SearchOps.invertedIndex]]): per-token
    * document frequency + sorted posting list, the persistable
    * retrieval artifact behind q60's BM25. Sorted CSV postings make
    * the frame deterministic and oracle-hashable.
    */
  def q103(spark: SparkSession, dir: String): DataFrame =
    SearchOps.invertedIndex(Tables.documents(spark, dir), "text", "doc_id")

  val q103Sql: String =
    """WITH toks AS (
      | SELECT DISTINCT doc_id,
      |  unnest(list_filter(string_split(text, ' '), tk -> tk <> '')) AS token
      | FROM documents)
      |SELECT token, CAST(count(*) AS BIGINT) AS df,
      | array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
      |FROM toks GROUP BY token""".stripMargin

  // --------------------------------------------------------------- q104
  /** Time-weighted average ([[graft.ops.TrendOps.twap]]): per-user
    * TWAP of the event value — each observation weighted by its
    * duration-until-next, the irregular-sampling mean a plain avg
    * gets wrong on bursty streams. Exact decimal products/sums, one
    * double division.
    */
  def q104(spark: SparkSession, dir: String): DataFrame =
    TrendOps.twap(Tables.events(spark, dir), "user_id", "ts", "value")

  val q104Sql: String =
    """WITH p AS (
      | SELECT user_id, value,
      |  epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
      |   - epoch_us(ts) AS w
      | FROM events)
      |SELECT user_id,
      | CAST(SUM(CAST(round(value, 6) AS DECIMAL(19,6)) * w) AS DOUBLE)
      |  / CAST(SUM(w) AS DOUBLE) AS twap,
      | CAST(count(*) AS BIGINT) AS n_obs
      |FROM p WHERE w IS NOT NULL GROUP BY 1""".stripMargin

  // --------------------------------------------------------------- q105
  /** Sequence pattern mining ([[graft.ops.SessionOps.eventSequence]] +
    * `regexp_count` — MATCH_RECOGNIZE-lite): per-user counts of the
    * strict contiguous view→click→purchase run and the lenient form
    * tolerating signup/error interruptions. Identical RE2-safe
    * regexes in both engines.
    */
  def q105(spark: SparkSession, dir: String): DataFrame = {
    val sym = when(col("event_type") === "signup", "s")
      .when(col("event_type") === "view", "v")
      .when(col("event_type") === "click", "c")
      .when(col("event_type") === "purchase", "p")
      .otherwise("e")
    SessionOps.eventSequence(Tables.events(spark, dir), "user_id", "ts", sym)
      .select(col("user_id"),
        regexp_count(col("seq"), lit("vcp")).cast("long").as("n_strict"),
        regexp_count(col("seq"), lit("v[se]*c[se]*p")).cast("long").as("n_lenient"))
  }

  val q105Sql: String =
    """WITH s AS (
      | SELECT user_id,
      |  string_agg(CASE event_type WHEN 'signup' THEN 's' WHEN 'view' THEN 'v'
      |   WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p' ELSE 'e' END, ''
      |   ORDER BY ts, event_id) AS seq
      | FROM events GROUP BY 1)
      |SELECT user_id,
      | CAST(len(regexp_extract_all(seq, 'vcp')) AS BIGINT) AS n_strict,
      | CAST(len(regexp_extract_all(seq, 'v[se]*c[se]*p')) AS BIGINT) AS n_lenient
      |FROM s""".stripMargin

  // --------------------------------------------------------------- q106
  /** Chi-square independence test ([[graft.ops.StatsOps.chiSquare]]):
    * weekday × event_type contingency over events — the A/B-testing
    * staple. All inputs exact counts; the statistic sums
    * round(term, 9) as DECIMAL (order-free, the PSI pattern).
    */
  def q106(spark: SparkSession, dir: String): DataFrame =
    StatsOps.chiSquare(
      Tables.events(spark, dir).withColumn("wd",
        pmod(floor(unix_micros(col("ts")) / lit(86400000000L)), lit(7))),
      "wd", "event_type")

  val q106Sql: String =
    """WITH o AS (
      | SELECT CAST(floor(epoch_us(ts) / 86400000000) % 7 AS BIGINT) AS wd,
      |  event_type AS et, CAST(count(*) AS BIGINT) AS n
      | FROM events GROUP BY 1, 2),
      |r AS (SELECT wd, SUM(n) AS rn FROM o GROUP BY 1),
      |c AS (SELECT et, SUM(n) AS cn FROM o GROUP BY 1),
      |t AS (SELECT SUM(n) AS tot FROM o),
      |e AS (
      | SELECT r.wd, c.et, COALESCE(o.n, 0) AS n,
      |  CAST(r.rn AS DOUBLE) * CAST(c.cn AS DOUBLE) / CAST(t.tot AS DOUBLE) AS exp
      | FROM r CROSS JOIN c
      | LEFT JOIN o ON o.wd = r.wd AND o.et = c.et
      | CROSS JOIN t),
      |s AS (
      | SELECT (CAST(n AS DOUBLE) - exp) * (CAST(n AS DOUBLE) - exp) / exp AS term
      | FROM e)
      |SELECT CAST(SUM(CAST(round(term, 9) AS DECIMAL(38,9))) AS DOUBLE) AS chi2,
      | CAST((SELECT count(*) FROM r) - 1 AS BIGINT)
      |  * CAST((SELECT count(*) FROM c) - 1 AS BIGINT) AS dof,
      | CAST((SELECT tot FROM t) AS BIGINT) AS n_total
      |FROM s""".stripMargin

  // --------------------------------------------------------------- q107
  /** Shannon entropy ([[graft.ops.StatsOps.entropy]]) of the source
    * mix — the diversity gauge: a collapsing mix shows up as falling
    * entropy before any single category's drift term flags.
    * ln(20 sources, uniform) ≈ 2.9957 here.
    */
  def q107(spark: SparkSession, dir: String): DataFrame =
    StatsOps.entropy(Tables.documents(spark, dir), "source")

  val q107Sql: String =
    """WITH c AS (SELECT source AS cat, CAST(count(*) AS BIGINT) AS n
      | FROM documents GROUP BY 1),
      |t AS (SELECT SUM(n) AS tot FROM c),
      |s AS (SELECT -(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))
      |        * ln(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)) AS term
      | FROM c CROSS JOIN t)
      |SELECT CAST(SUM(CAST(round(term, 9) AS DECIMAL(38,9))) AS DOUBLE) AS entropy,
      | CAST((SELECT count(*) FROM c) AS BIGINT) AS n_categories,
      | CAST((SELECT tot FROM t) AS BIGINT) AS n_rows
      |FROM s""".stripMargin

  // --------------------------------------------------------------- q108
  /** OP-20 (random frame subsample) oracle row:
    * [[graft.ops.VectorOps.seededSamplePortable]] over the embeddings table
    * — each vector's 6-element seeded draw (seed 7), flattened to
    * (vec_id, position, value) rows. DuckDB replays the identical
    * score-sort-gather: md5Long("key#i#seed") per index, keep the 6
    * smallest (h, i) structs, re-sort the indices ascending, gather.
    * Pins the key-derived DRAW cross-engine, closing VERDICT r6
    * missing #5 (OP-20 was unit-only).
    */
  def q108(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        posexplode(VectorOps.seededSamplePortable(
          col("embedding"), col("vec_id"), 6, 7L)))
      .select(col("vec_id"), (col("pos") + 1).cast("int").as("k"),
        col("col").cast("double").as("val"))

  val q108Sql: String =
    s"""WITH s AS (
      | SELECT vec_id, embedding,
      |  list_sort(list_transform(range(len(embedding)), i ->
      |    {'h': ${md5LongSql("vec_id::VARCHAR || '#' || i::VARCHAR || '#' || '7'")},
      |     'i': i})) AS scored
      | FROM embeddings),
      |c AS (
      | SELECT vec_id, embedding,
      |  list_sort(list_transform(scored[1:6], x -> x.i)) AS idx
      | FROM s)
      |SELECT vec_id, CAST(k AS INT) AS k,
      | CAST(embedding[idx[k] + 1] AS DOUBLE) AS val
      |FROM (SELECT vec_id, embedding, idx,
      |      unnest(generate_series(1, len(idx))) AS k FROM c)""".stripMargin

  // --------------------------------------------------------------- q109
  /** C4 line-level cleaning ([[graft.ops.TextAnalysis.c4LineFilter]]):
    * the fixture's texts are single-line and punctuation-free (every
    * row would be a degenerate all-zeros case), so the query first
    * composes a deterministic MULTI-LINE document from each row's real
    * text — a terminal-punct line, a too-short line, a no-punct line,
    * a javascript line, a question line, `doc_id % 7` repeated
    * sentences, a `% 11` curly-brace poison line and a `% 13` lorem
    * ipsum poison line — IDENTICALLY in both engines, so every rule
    * (line keep/drop, sentence floor, both doc-level poisons) takes
    * both branches across the corpus and the whole decision replays
    * row-level in DuckDB.
    */
  def q109(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), concat_ws("\n",
        concat(substring(col("text"), 1, 40), lit(" end.")),
        lit("too short."),
        lit("no terminal punct here"),
        lit("Watch javascript warnings drop lines."),
        concat(lit("does "), substring(col("text"), 1, 20), lit(" hold?")),
        expr("repeat('More sentences here. ', CAST(doc_id % 7 AS INT))"),
        when(col("doc_id") % 11 === 0, lit("brace { line"))
          .otherwise(lit("clean tail line.")),
        when(col("doc_id") % 13 === 0, lit("includes lorem ipsum text."))
          .otherwise(lit("regular extra sentence."))).as("synth"))
      .select(col("doc_id"),
        TextAnalysis.c4LineFilter(col("synth")).as("c4"))
      .select(col("doc_id"), col("c4.cleaned").as("cleaned"),
        col("c4.n_lines_kept").as("n_lines_kept"),
        col("c4.n_sentences").as("n_sentences"),
        col("c4.keep").as("keep"))

  val q109Sql: String =
    """WITH d AS (
      | SELECT doc_id, concat_ws(chr(10),
      |   substr(text, 1, 40) || ' end.',
      |   'too short.',
      |   'no terminal punct here',
      |   'Watch javascript warnings drop lines.',
      |   'does ' || substr(text, 1, 20) || ' hold?',
      |   repeat('More sentences here. ', CAST(doc_id % 7 AS INT)),
      |   CASE WHEN doc_id % 11 = 0 THEN 'brace { line' ELSE 'clean tail line.' END,
      |   CASE WHEN doc_id % 13 = 0 THEN 'includes lorem ipsum text.'
      |        ELSE 'regular extra sentence.' END) AS synth
      | FROM documents),
      |k AS (
      | SELECT doc_id, synth,
      |  list_filter(string_split(synth, chr(10)), l ->
      |    regexp_matches(l, '[.!?]["'']?\s*$')
      |    AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 3
      |    AND NOT contains(lower(l), 'javascript')) AS kept
      | FROM d),
      |c AS (
      | SELECT doc_id, synth, kept,
      |  COALESCE(array_to_string(kept, chr(10)), '') AS cleaned
      | FROM k)
      |SELECT doc_id, cleaned,
      | CAST(len(kept) AS INT) AS n_lines_kept,
      | CAST(len(regexp_extract_all(cleaned, '[.!?]')) AS INT) AS n_sentences,
      | CAST(CASE WHEN len(regexp_extract_all(cleaned, '[.!?]')) >= 5
      |   AND NOT contains(lower(synth), 'lorem ipsum')
      |   AND NOT contains(lower(synth), '{') THEN 1 ELSE 0 END AS INT) AS keep
      |FROM c""".stripMargin

  // --------------------------------------------------------------- q110
  /** Gopher quality rules
    * ([[graft.ops.TextAnalysis.gopherQualityFlags]]) over documents:
    * per-doc 0/1 flag per published rule + the conjunction — the
    * curation-debugging surface (which rule kills how much of a
    * crawl), replayed rule-for-rule in DuckDB. The fixture's synthetic
    * vocabulary never trips the stop-word / symbol / alpha rules, so
    * deterministic tails are appended by doc_id residue — a stop-word
    * tail (`% 3`), a `#`/`...` symbol burst (`% 5`), a numeric-word
    * run (`% 4`) — IDENTICALLY in both engines, putting every rule on
    * both branches across the corpus.
    */
  def q110(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 3 === 0,
          lit(" and that the rest have to go with be of"))
          .when(col("doc_id") % 3 === 1, lit(" and only and again"))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          lit(" ### ... ### ... ### ... ### ...")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          lit(" 111 222 333 444 555 666 777 888 999 000" +
            " 123 456 789 321 654 987 135 246 357 468" +
            " 579 680 791 802 913")).otherwise(lit(""))).as("synth"))
      .select(col("doc_id"),
        TextAnalysis.gopherQualityFlags(col("synth"), minWords = 20).as("g"))
      .select(col("doc_id"), col("g.f_word_count").as("f_word_count"),
        col("g.f_mean_word_len").as("f_mean_word_len"),
        col("g.f_symbol_ratio").as("f_symbol_ratio"),
        col("g.f_alpha_words").as("f_alpha_words"),
        col("g.f_stop_words").as("f_stop_words"),
        col("g.keep").as("keep"))

  val q110Sql: String =
    """WITH d AS (
      | SELECT doc_id, text
      |  || CASE WHEN doc_id % 3 = 0 THEN ' and that the rest have to go with be of'
      |          WHEN doc_id % 3 = 1 THEN ' and only and again' ELSE '' END
      |  || CASE WHEN doc_id % 5 = 0 THEN ' ### ... ### ... ### ... ### ...' ELSE '' END
      |  || CASE WHEN doc_id % 4 = 0 THEN ' 111 222 333 444 555 666 777 888 999 000 123 456 789 321 654 987 135 246 357 468 579 680 791 802 913' ELSE '' END
      |  AS text
      | FROM documents),
      |t AS (
      | SELECT doc_id, text,
      |  list_filter(string_split(text, ' '), w -> w <> '') AS toks
      | FROM d),
      |s AS (
      | SELECT doc_id, text, toks, len(toks) AS n,
      |  CASE WHEN len(toks) = 0 THEN 0.0
      |   ELSE CAST(list_sum(list_transform(toks, w -> len(w))) AS DOUBLE)
      |     / len(toks) END AS mean_len,
      |  len(regexp_extract_all(text, '#|\.\.\.')) AS symbols,
      |  len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
      |  (CASE WHEN list_contains(list_transform(toks, w -> lower(w)), 'the') THEN 1 ELSE 0 END
      |   + CASE WHEN list_contains(list_transform(toks, w -> lower(w)), 'be') THEN 1 ELSE 0 END
      |   + CASE WHEN list_contains(list_transform(toks, w -> lower(w)), 'to') THEN 1 ELSE 0 END
      |   + CASE WHEN list_contains(list_transform(toks, w -> lower(w)), 'of') THEN 1 ELSE 0 END
      |   + CASE WHEN list_contains(list_transform(toks, w -> lower(w)), 'and') THEN 1 ELSE 0 END
      |   + CASE WHEN list_contains(list_transform(toks, w -> lower(w)), 'that') THEN 1 ELSE 0 END
      |   + CASE WHEN list_contains(list_transform(toks, w -> lower(w)), 'have') THEN 1 ELSE 0 END
      |   + CASE WHEN list_contains(list_transform(toks, w -> lower(w)), 'with') THEN 1 ELSE 0 END) AS stop_hits
      | FROM t),
      |f AS (
      | SELECT doc_id,
      |  CASE WHEN n >= 20 AND n <= 100000 THEN 1 ELSE 0 END AS f_word_count,
      |  CASE WHEN mean_len >= 3.0 AND mean_len <= 10.0 THEN 1 ELSE 0 END AS f_mean_word_len,
      |  CASE WHEN n > 0 AND CAST(symbols AS DOUBLE) / n <= 0.1 THEN 1 ELSE 0 END AS f_symbol_ratio,
      |  CASE WHEN n > 0 AND CAST(alpha_words AS DOUBLE) / n >= 0.8 THEN 1 ELSE 0 END AS f_alpha_words,
      |  CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS f_stop_words
      | FROM s)
      |SELECT doc_id, CAST(f_word_count AS INT) AS f_word_count,
      | CAST(f_mean_word_len AS INT) AS f_mean_word_len,
      | CAST(f_symbol_ratio AS INT) AS f_symbol_ratio,
      | CAST(f_alpha_words AS INT) AS f_alpha_words,
      | CAST(f_stop_words AS INT) AS f_stop_words,
      | CAST(f_word_count * f_mean_word_len * f_symbol_ratio
      |   * f_alpha_words * f_stop_words AS INT) AS keep
      |FROM f""".stripMargin

  // --------------------------------------------------------------- q111
  /** Retrieval-evaluation metrics
    * ([[graft.ops.SearchOps.rankingMetrics]]): per-query reciprocal
    * rank, recall@10 and nDCG@10 of the brute-force cosine top-10 run
    * (q24's oracle-pinned contract) against a DETERMINISTIC graded
    * judgment set built from integer arithmetic on (query, doc) ids —
    * both engines derive identical qrels, runs, and the
    * round-then-DECIMAL DCG folds, so the whole evaluation replays
    * row-level. DuckDB's log2 is replaced by ln/ln to match Spark's
    * `log(2, ·)` float-for-float.
    */
  def q111(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val runs = SimilarityOps.bruteCosineTopK(e.filter(col("vec_id") < 20), e, 10)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    val qrels = e.filter(col("vec_id") < 20).select(col("vec_id").as("query_id"))
      .crossJoin(e.filter(col("vec_id") < 50).select(col("vec_id").as("doc_id")))
      .withColumn("rel", {
        val r = pmod(col("query_id") * 7 + col("doc_id") * 13, lit(11))
        when(r >= 9, 2).when(r >= 6, 1).otherwise(0)
      })
    SearchOps.rankingMetrics(runs, qrels, k = 10)
  }

  val q111Sql: String =
    s"""WITH ${bruteCosineBaseSql("")},
      |c AS (
      | SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
      |  list_sum(list_transform(generate_series(1, len(a.embedding)),
      |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |   / (a.nrm * b.nrm) AS cosine
      | FROM e a JOIN e b ON a.vec_id < 20 AND b.vec_id <> a.vec_id),
      |runs AS (
      | SELECT query_id, doc_id,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS INT) AS rank
      | FROM c QUALIFY rank <= 10),
      |qr AS (
      | SELECT q.vec_id AS query_id, d.vec_id AS doc_id,
      |  CASE WHEN (q.vec_id * 7 + d.vec_id * 13) % 11 >= 9 THEN 2
      |       WHEN (q.vec_id * 7 + d.vec_id * 13) % 11 >= 6 THEN 1 ELSE 0 END AS rel
      | FROM e q, e d WHERE q.vec_id < 20 AND d.vec_id < 50),
      |scored AS (
      | SELECT runs.query_id, runs.rank, COALESCE(qr.rel, 0) AS rel
      | FROM runs LEFT JOIN qr ON qr.query_id = runs.query_id AND qr.doc_id = runs.doc_id),
      |prun AS (
      | SELECT query_id,
      |  MIN(CASE WHEN rel > 0 THEN rank END) AS first_rel_rank,
      |  COUNT(CASE WHEN rel > 0 THEN 1 END) AS n_rel_retrieved,
      |  SUM(CAST(round((POW(2.0, rel) - 1.0) / (ln(rank + 1.0) / ln(2.0)), 9)
      |    AS DECIMAL(28,9))) AS dcg
      | FROM scored GROUP BY 1),
      |rr AS (
      | SELECT query_id, rel,
      |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id) AS rk
      | FROM qr WHERE rel > 0),
      |pidcg AS (
      | SELECT query_id,
      |  SUM(CAST(round((POW(2.0, rel) - 1.0) / (ln(rk + 1.0) / ln(2.0)), 9)
      |    AS DECIMAL(28,9))) AS idcg
      | FROM rr WHERE rk <= 10 GROUP BY 1),
      |pj AS (
      | SELECT query_id, COUNT(CASE WHEN rel > 0 THEN 1 END) AS n_relevant
      | FROM qr GROUP BY 1)
      |SELECT pj.query_id,
      | COALESCE(1.0 / first_rel_rank, 0.0) AS rr,
      | CASE WHEN n_relevant > 0
      |   THEN COALESCE(n_rel_retrieved, 0) / CAST(n_relevant AS DOUBLE) END AS recall_k,
      | CASE WHEN idcg > 0
      |   THEN CAST(COALESCE(dcg, CAST(0 AS DECIMAL(28,9))) AS DOUBLE)
      |     / CAST(idcg AS DOUBLE) END AS ndcg_k
      |FROM pj LEFT JOIN prun USING (query_id) LEFT JOIN pidcg USING (query_id)""".stripMargin

  // --------------------------------------------------------------- q112
  /** ROC AUC ([[graft.ops.EvalMetrics.aucRoc]]) of a deterministic
    * quantized score (floor(n_chars / 50) — deliberately TIE-heavy so
    * the averaged-rank convention is what's being verified) against an
    * arithmetic label. DuckDB replays the identical rank construction:
    * ROW_NUMBER ordered by score, tie groups collapsed to average
    * ranks (average of a contiguous run — tie order irrelevant),
    * Mann-Whitney normalization.
    */
  def q112(spark: SparkSession, dir: String): DataFrame =
    EvalMetrics.aucRoc(
      Tables.documents(spark, dir)
        .select(floor(col("n_chars") / 50).cast("double").as("score"),
          (pmod(col("doc_id") * 13, lit(7)) < 3).cast("int").as("label")),
      "score", "label")

  val q112Sql: String =
    """WITH s AS (
      | SELECT CAST(floor(n_chars / 50) AS DOUBLE) AS s,
      |  CASE WHEN (doc_id * 13) % 7 < 3 THEN 1 ELSE 0 END AS y
      | FROM documents),
      |r AS (SELECT s, y, ROW_NUMBER() OVER (ORDER BY s) AS rn FROM s),
      |a AS (
      | SELECT s, CAST(round(AVG(rn), 9) AS DECIMAL(28,9)) AS ar,
      |  SUM(y) AS np, COUNT(*) AS nt
      | FROM r GROUP BY s),
      |t AS (
      | SELECT SUM(ar * np) AS rsp, SUM(np) AS p, SUM(nt - np) AS n FROM a)
      |SELECT
      | CASE WHEN p > 0 AND n > 0 THEN
      |  (CAST(rsp AS DOUBLE) - CAST(p AS DOUBLE) * (CAST(p AS DOUBLE) + 1.0) / 2.0)
      |   / (CAST(p AS DOUBLE) * CAST(n AS DOUBLE)) END AS auc,
      | CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg
      |FROM t""".stripMargin

  // --------------------------------------------------------------- q113
  /** Expected calibration error
    * ([[graft.ops.EvalMetrics.calibrationBins]]) of a key-derived
    * pseudo-probability against a label drawn correlated with it
    * (u2 < 0.8·score + 0.1) — both md5-portable draws, so the whole
    * reliability diagram (bin populations, exact-decimal confidence /
    * accuracy, weighted ECE) replays row-level in DuckDB.
    */
  def q113(spark: SparkSession, dir: String): DataFrame =
    EvalMetrics.calibrationBins(
      Tables.documents(spark, dir).select(
        graft.core.PortableHash.uniform01(col("doc_id"), lit("cal")).as("score"),
        (graft.core.PortableHash.uniform01(col("doc_id"), lit("lab")) <
          graft.core.PortableHash.uniform01(col("doc_id"), lit("cal")) * 0.8 + 0.1)
          .cast("int").as("label")),
      "score", "label")

  val q113Sql: String =
    s"""WITH u AS (
      | SELECT
      |  ${md5LongSql("doc_id || '#' || 'cal'")}
      |    / 1152921504606846976.0 AS s,
      |  ${md5LongSql("doc_id || '#' || 'lab'")}
      |    / 1152921504606846976.0 AS u2
      | FROM documents),
      |s AS (
      | SELECT CAST(least(floor(s * 10), 9) AS INT) AS bin, s,
      |  CASE WHEN u2 < s * 0.8 + 0.1 THEN 1 ELSE 0 END AS y
      | FROM u),
      |pb AS (
      | SELECT bin, COUNT(*) AS n,
      |  CAST(round(CAST(SUM(CAST(round(s, 9) AS DECIMAL(28,9))) AS DOUBLE)
      |    / COUNT(*), 9) AS DECIMAL(28,9)) AS confidence,
      |  CAST(round(CAST(SUM(y) AS DOUBLE) / COUNT(*), 9) AS DECIMAL(28,9)) AS accuracy
      | FROM s GROUP BY 1),
      |g AS (SELECT *, abs(accuracy - confidence) AS gap FROM pb),
      |t AS (SELECT SUM(n) AS nn, SUM(gap * n) AS gsum FROM g)
      |SELECT bin, n,
      | CAST(confidence AS DOUBLE) AS confidence,
      | CAST(accuracy AS DOUBLE) AS accuracy,
      | CAST(gap AS DOUBLE) AS gap,
      | CAST(gsum AS DOUBLE) / CAST(nn AS DOUBLE) AS ece
      |FROM g CROSS JOIN t""".stripMargin

  // --------------------------------------------------------------- q114
  /** Exact-recall prefix-filtered Jaccard self-join
    * ([[graft.ops.DedupOps.prefixJaccardPairs]], the All-Pairs/PPJoin
    * family) at 0.6 — the DETERMINISTIC dedup contract ("no missed
    * duplicate above t"), vs MinHash-LSH's probabilistic recall. The
    * oracle is the INDEPENDENT formulation — a full token-level
    * inverted self-join with no prefix logic at all — so the row-level
    * match is also an exactness proof of the prefix filter on this
    * corpus (recall 1.0 by construction, not by measurement).
    */
  def q114(spark: SparkSession, dir: String): DataFrame =
    DedupOps.prefixJaccardPairs(
      Tables.documents(spark, dir), "text", "doc_id", threshold = 0.6)

  val q114Sql: String =
    s"""WITH ${tokenSetSql("documents")},
      |e AS (SELECT doc_id, n, unnest(toks) AS tok FROM t),
      |p AS (
      | SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
      |        count(*) AS inter
      | FROM e a JOIN e b ON a.tok = b.tok AND a.doc_id < b.doc_id
      | GROUP BY 1, 2, 3, 4)
      |SELECT id_a, id_b,
      | CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
      |FROM p
      |WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.6""".stripMargin

  // --------------------------------------------------------------- q115
  /** Directed containment join
    * ([[graft.ops.DedupOps.containmentPairs]]) at 0.7: ordered pairs
    * where >= 70% of a's distinct tokens appear in b — quote/excerpt
    * detection, the asymmetric dedup signal Jaccard misses. Oracle is
    * again the independent full inverted self-join.
    */
  def q115(spark: SparkSession, dir: String): DataFrame =
    DedupOps.containmentPairs(
      Tables.documents(spark, dir), "text", "doc_id", threshold = 0.7)

  val q115Sql: String =
    s"""WITH ${tokenSetSql("documents")},
      |e AS (SELECT doc_id, n, unnest(toks) AS tok FROM t),
      |p AS (
      | SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na,
      |        count(*) AS inter
      | FROM e a JOIN e b ON a.tok = b.tok AND a.doc_id <> b.doc_id
      | GROUP BY 1, 2, 3)
      |SELECT id_a, id_b, CAST(inter AS DOUBLE) / na AS containment
      |FROM p
      |WHERE CAST(inter AS DOUBLE) / na >= 0.7""".stripMargin

  // --------------------------------------------------------------- q116
  /** Jensen–Shannon divergence ([[graft.ops.DriftOps.jsDivergence]])
    * between the language mixes of two deterministically-derived
    * corpus versions (q100's snapshot pattern, fresh salts): the
    * BOUNDED drift gauge — zero-count categories contribute their
    * exact closed form instead of a smoothing constant, so the q100
    * PSI row and this row disagree exactly where smoothing matters.
    */
  def q116(spark: SparkSession, dir: String): DataFrame = {
    val (oldDf, newDf) = langVersions(spark, dir, "116", 0.9, 0.15)
    DriftOps.jsDivergence(oldDf, newDf, "lang")
  }

  val q116Sql: String =
    s"""WITH ${langVersionsSql("116", 0.9, 0.15)},
      |t AS (SELECT SUM(n_old) AS t_old, SUM(n_new) AS t_new FROM j),
      |w AS (SELECT lang, n_old, n_new,
      |  CAST(n_old AS DOUBLE) / CAST(t_old AS DOUBLE) AS p_old,
      |  CAST(n_new AS DOUBLE) / CAST(t_new AS DOUBLE) AS p_new
      | FROM j CROSS JOIN t),
      |w2 AS (SELECT lang, n_old, n_new, p_old, p_new,
      |  (CASE WHEN n_old = 0 THEN 0.0
      |    ELSE p_old * ln(p_old / ((p_old + p_new) / 2.0)) * 0.5 END)
      |  + (CASE WHEN n_new = 0 THEN 0.0
      |    ELSE p_new * ln(p_new / ((p_old + p_new) / 2.0)) * 0.5 END) AS jsd_term
      | FROM w),
      |tt AS (SELECT CAST(SUM(CAST(round(jsd_term, 9) AS DECIMAL(38,9))) AS DOUBLE)
      |       AS jsd_total FROM w2)
      |SELECT * FROM w2 CROSS JOIN tt""".stripMargin

  // --------------------------------------------------------------- q117
  /** Windowed co-occurrence PMI
    * ([[graft.ops.TextAnalysis.pmiPairs]], window 2, minCount 5) over
    * the corpus — the word2vec/GloVe preprocessing statistic. The
    * oracle replays pair generation positionally (a.pos < b.pos <=
    * a.pos + 2 inside each doc), the unordered canonicalization, both
    * marginals, and the exact double algebra of the PMI ratio.
    */
  def q117(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.pmiPairs(
      Tables.documents(spark, dir), "text", window = 2, minCount = 5L)

  val q117Sql: String =
    """WITH t AS (
      | SELECT doc_id,
      |  list_filter(string_split(text, ' '), w -> w <> '') AS toks
      | FROM documents),
      |e AS (
      | SELECT doc_id, unnest(toks) AS tok,
      |  unnest(generate_series(1, len(toks))) AS pos
      | FROM t),
      |p AS (
      | SELECT least(a.tok, b.tok) AS x, greatest(a.tok, b.tok) AS y
      | FROM e a JOIN e b
      |  ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos <= a.pos + 2),
      |c AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy FROM p GROUP BY 1, 2),
      |m AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1),
      |tot AS (SELECT (SELECT count(*) FROM p) AS tp,
      |               (SELECT count(*) FROM e) AS tt)
      |SELECT c.x, c.y, c.c_xy, mx.c AS c_x, my.c AS c_y,
      | ln((CAST(c_xy AS DOUBLE) / CAST(tp AS DOUBLE))
      |   / ((CAST(mx.c AS DOUBLE) / CAST(tt AS DOUBLE))
      |     * (CAST(my.c AS DOUBLE) / CAST(tt AS DOUBLE)))) AS pmi
      |FROM c
      | JOIN m mx ON mx.tok = c.x
      | JOIN m my ON my.tok = c.y
      | CROSS JOIN tot
      |WHERE c_xy >= 5""".stripMargin

  // --------------------------------------------------------------- q118
  /** The arithmetic corpus graph of q118, q119, q175 and q176: doc i
    * links to i+1, i+2 and 7i+11 mod N, self-loops dropped.
    */
  private def arithmeticGraph(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val n = d.count()
    d.select(col("doc_id").as("src"), ((col("doc_id") + 1) % n).as("dst"))
      .union(d.select(col("doc_id"), (col("doc_id") + 2) % n))
      .union(d.select(col("doc_id"), (col("doc_id") * 7 + 11) % n))
      .filter(col("src") =!= col("dst"))
  }

  /** [[arithmeticGraph]] in DuckDB: the doc count `t` and the edge
    * union `e0`, self-loops still in.
    */
  private val arithmeticEdgesSql: String =
    """t AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM documents),
      |e0 AS (
      | SELECT doc_id AS src, (doc_id + 1) % cnt AS dst FROM documents CROSS JOIN t
      | UNION SELECT doc_id, (doc_id + 2) % cnt FROM documents CROSS JOIN t
      | UNION SELECT doc_id, (doc_id * 7 + 11) % cnt FROM documents CROSS JOIN t)""".stripMargin

  /** The undirected graph `canon`: each edge of `e0` once, as a < b. */
  private val canonEdgesSql: String =
    """canon AS (
      | SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      | FROM e0 WHERE src <> dst)""".stripMargin

  /** q175/q176's layout of `t`, `e0` and `canon`. */
  private val undirectedGraphSql: String =
    s"""t AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM documents),
      |e0 AS (
      | SELECT doc_id AS src, (doc_id + 1) % cnt AS dst
      |  FROM documents CROSS JOIN t
      | UNION SELECT doc_id, (doc_id + 2) % cnt FROM documents CROSS JOIN t
      | UNION SELECT doc_id, (doc_id * 7 + 11) % cnt
      |  FROM documents CROSS JOIN t),
      |$canonEdgesSql""".stripMargin

  /** Every triangle of `canon` once, as x < y < z, and its `corners`. */
  private val trianglesSql: String =
    """tri AS (
      | SELECT e1.a AS x, e1.b AS y, e2.b AS z
      | FROM canon e1
      |  JOIN canon e2 ON e2.a = e1.b
      |  JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b),
      |corners AS (
      | SELECT x AS id FROM tri UNION ALL
      | SELECT y FROM tri UNION ALL
      | SELECT z FROM tri)""".stripMargin

  /** PageRank ([[graft.ops.GraphOps.pageRank]], 5 passes, d = 0.85)
    * over a deterministic arithmetic corpus graph (doc i links to
    * i+1, i+2 and 7i+11 mod N): the oracle UNROLLS all five
    * synchronous passes as SQL stages — per-pass contribution sums are
    * order-free round-to-DECIMAL folds in both engines, so the ranks
    * stay bit-aligned through the whole iteration, not just at the
    * end.
    */
  def q118(spark: SparkSession, dir: String): DataFrame =
    GraphOps.pageRank(arithmeticGraph(spark, dir), iters = 5)

  val q118Sql: String = {
    def pass(i: Int): String =
      s"""r$i AS (
        | SELECT n.id,
        |  (1.0 - 0.85) / t.cnt + 0.85 * COALESCE(s.m, 0.0) AS rank
        | FROM n CROSS JOIN t LEFT JOIN (
        |   SELECT e.dst AS id,
        |    CAST(SUM(CAST(round(r.rank / d.outdeg, 9) AS DECIMAL(38,9))) AS DOUBLE) AS m
        |   FROM e JOIN r${i - 1} r ON r.id = e.src JOIN d ON d.id = e.src
        |   GROUP BY e.dst) s ON s.id = n.id)"""
    s"""WITH $arithmeticEdgesSql,
      |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
      |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      |d AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
      |r0 AS (SELECT id, 1.0 / t.cnt AS rank FROM n CROSS JOIN t),
      |${(1 to 5).map(pass).mkString(",\n")}
      |SELECT id, rank FROM r5""".stripMargin
  }

  // --------------------------------------------------------------- q119
  /** Exact triangle count ([[graft.ops.GraphOps.triangleCount]]) on
    * the undirected arithmetic graph (i+1/i+2 edges guarantee N
    * planted triangles). The engine counts via degree-orientation
    * (hub-proof wedge join); the oracle is the INDEPENDENT a<b<c
    * three-way edge join — matching per-node rows prove the
    * orientation enumerates every triangle exactly once.
    */
  def q119(spark: SparkSession, dir: String): DataFrame =
    GraphOps.triangleCount(arithmeticGraph(spark, dir))

  val q119Sql: String =
    s"""WITH $arithmeticEdgesSql,
      |$canonEdgesSql,
      |nodes AS (SELECT a AS id FROM canon UNION SELECT b FROM canon),
      |$trianglesSql,
      |pn AS (SELECT id, CAST(count(*) AS BIGINT) AS triangles FROM corners GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS total_triangles FROM tri)
      |SELECT nodes.id, COALESCE(pn.triangles, CAST(0 AS BIGINT)) AS triangles,
      |       tot.total_triangles
      |FROM nodes LEFT JOIN pn ON pn.id = nodes.id CROSS JOIN tot""".stripMargin

  // --------------------------------------------------------------- q120
  /** BPE training statistic ([[graft.ops.BpeOps.pairCounts]] over
    * [[graft.ops.BpeOps.wordVocab]]): the round-1 weighted
    * adjacent-character-pair counts — the argmax of this table IS the
    * first learned merge. The full iterative merge loop is pinned by
    * `BpeOpsSpec`'s differential against an independent plain-Scala
    * BPE; this row pins the corpus statistic each round derives from.
    */
  def q120(spark: SparkSession, dir: String): DataFrame =
    BpeOps.pairCounts(
      BpeOps.wordVocab(Tables.documents(spark, dir), "text"))

  val q120Sql: String =
    """WITH w AS (
      | SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
      | FROM documents),
      |v AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY 1),
      |p AS (
      | SELECT n, unnest(list_transform(generate_series(1, len(word) - 1),
      |   i -> {'a': substr(word, i, 1), 'b': substr(word, i + 1, 1)})) AS pr
      | FROM v WHERE len(word) >= 2)
      |SELECT pr.a AS a, pr.b AS b, CAST(SUM(n) AS BIGINT) AS cnt
      |FROM p GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q121
  /** Group-wise rank normalization
    * ([[graft.ops.StatsOps.rankNormalize]]): per-language percentile
    * rank of document length — the scale-free feature transform. Both
    * engines use the identical (value, id) tie-broken window order and
    * the (rank-1)/(n-1) percent_rank definition.
    */
  def q121(spark: SparkSession, dir: String): DataFrame =
    StatsOps.rankNormalize(
      Tables.documents(spark, dir), "n_chars", "lang", "doc_id")

  val q121Sql: String =
    """SELECT doc_id, lang, n_chars,
      | PERCENT_RANK() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
      |   AS pct_rank
      |FROM documents""".stripMargin

  // --------------------------------------------------------------- q122
  /** Shot-boundary detection
    * ([[graft.ops.MultimodalOps.shotBoundaries]]): each embedding
    * reshaped to an 8×8 frame sequence
    * ([[graft.ops.MultimodalOps.reshapeFrames]] — the flat-storage
    * interop shim), consecutive-frame cosines as exact left-to-right
    * double folds, boundaries where cosine < 0.2. The whole per-row
    * algebra (slice indexing, fold order, zero-norm guard) replays
    * row-level in DuckDB via the q111 list_sum parity precedent.
    */
  def q122(spark: SparkSession, dir: String): DataFrame = {
    val frames = MultimodalOps.reshapeFrames(col("embedding"), 8, 8)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        MultimodalOps.consecutiveFrameCosines(frames).as("cos"))
      .select(col("vec_id"),
        explode(MultimodalOps.shotBoundaries(col("cos"), 0.2)).as("b"))
      .select(col("vec_id"), col("b.i").as("i"), col("b.c").as("cosine"))
  }

  val q122Sql: String =
    """WITH c AS (
      | SELECT vec_id, i,
      |  list_sum(list_transform(generate_series(1, 8), j ->
      |    CAST(embedding[(i-1)*8 + j] AS DOUBLE)
      |      * CAST(embedding[i*8 + j] AS DOUBLE))) AS dot,
      |  sqrt(list_sum(list_transform(generate_series(1, 8), j ->
      |    CAST(embedding[(i-1)*8 + j] AS DOUBLE)
      |      * CAST(embedding[(i-1)*8 + j] AS DOUBLE)))) AS na,
      |  sqrt(list_sum(list_transform(generate_series(1, 8), j ->
      |    CAST(embedding[i*8 + j] AS DOUBLE)
      |      * CAST(embedding[i*8 + j] AS DOUBLE)))) AS nb
      | FROM embeddings, (SELECT unnest(generate_series(1, 7)) AS i) u),
      |s AS (
      | SELECT vec_id, CAST(i AS INT) AS i,
      |  CASE WHEN na * nb = 0.0 THEN 0.0 ELSE dot / (na * nb) END AS cosine
      | FROM c)
      |SELECT vec_id, i, cosine FROM s WHERE cosine < 0.2""".stripMargin

  // --------------------------------------------------------------- q123
  /** Negative sampling ([[graft.ops.SplitOps.negativeSamples]]): 3
    * draws per document from the unigram^0.75 distribution — weights,
    * cumulative ladder, md5 draws and the range lookup all replay
    * row-level in DuckDB (the ^0.75 as nested sqrts is what makes the
    * weights bit-exact cross-engine; the oracle's interval join
    * `u ∈ [cum-w, cum)` is the independent formulation of the
    * engine's binary-search walk).
    */
  def q123(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    SplitOps.negativeSamples(d, "doc_id", d, "text", k = 3, salt = "neg")
  }

  /** Over the vocabulary counts `v` (tok, cnt): the ^0.75-damped
    * integer weights `wt`, their cumulative ladder `c` and total `t`,
    * three md5 draws per document salted with `salt` (`d`), and the
    * token each draw lands on — q123 and q213.
    */
  private def negativeDrawSql(salt: String): String =
    s"""wt AS (SELECT tok,
      |  CAST(round(sqrt(CAST(cnt AS DOUBLE) * sqrt(CAST(cnt AS DOUBLE))) * 1000)
      |    AS BIGINT) AS w
      | FROM v),
      |c AS (SELECT tok, w,
      |  CAST(SUM(w) OVER (ORDER BY tok ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      | FROM wt),
      |t AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM wt),
      |d AS (
      | SELECT doc_id, j,
      |  ${md5LongSql(s"doc_id || '#' || j || '#' || '$salt'")} % tw AS u
      | FROM documents
      |  CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS j) jj
      |  CROSS JOIN t)
      |SELECT d.doc_id, CAST(d.j AS INT) AS j, c.tok AS neg
      |FROM d JOIN c ON d.u < c.cum AND d.u >= c.cum - c.w""".stripMargin

  val q123Sql: String =
    s"""WITH w AS (
      | SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      | FROM documents),
      |v AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY 1),
      |${negativeDrawSql("neg")}""".stripMargin

  // --------------------------------------------------------------- q124
  /** Mergeable log-binned quantile sketch
    * ([[graft.ops.SketchOps.hdrQuantiles]]): p50/p95/p99 of event
    * values per event type from ≤ 64×16 constant-state buckets per
    * group. Binning is exact integer math (`length(bin(x)) - 1` for
    * the octave — no libm log), so the whole sketch — buckets,
    * cumulative walk, ceil targets, lower-edge estimates — replays
    * row-level in DuckDB (probs forced `::DOUBLE`: DuckDB would
    * otherwise parse 0.95 as DECIMAL and drift the target
    * arithmetic).
    */
  def q124(spark: SparkSession, dir: String): DataFrame =
    SketchOps.hdrQuantiles(
      Tables.events(spark, dir), "value", "event_type",
      probs = Seq(0.5, 0.95, 0.99))

  val q124Sql: String =
    """WITH x AS (
      | SELECT event_type AS g, CAST(round(value * 1e6) AS BIGINT) AS x
      | FROM events WHERE value IS NOT NULL AND value > 0),
      |eb AS (SELECT g, x, CAST(length(bin(x)) - 1 AS BIGINT) AS e FROM x),
      |bk AS (
      | SELECT g, e * 16 + CAST(floor(
      |   CAST(x - CAST(pow(2.0, e) AS BIGINT) AS DOUBLE) * 16
      |     / CAST(pow(2.0, e) AS BIGINT)) AS BIGINT) AS bucket
      | FROM eb),
      |c AS (SELECT g, bucket, CAST(count(*) AS BIGINT) AS n FROM bk GROUP BY 1, 2),
      |cc AS (SELECT g, bucket, n,
      |  CAST(SUM(n) OVER (PARTITION BY g ORDER BY bucket
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM c),
      |t AS (SELECT g, CAST(SUM(n) AS BIGINT) AS n_total FROM c GROUP BY 1),
      |tp AS (SELECT g, n_total, p, CAST(ceil(p * n_total) AS BIGINT) AS target
      | FROM t CROSS JOIN
      |  (SELECT unnest([0.5::DOUBLE, 0.95::DOUBLE, 0.99::DOUBLE]) AS p) pp),
      |pick AS (
      | SELECT tp.g, tp.p, tp.n_total, MIN(cc.bucket) AS bucket
      | FROM tp JOIN cc ON cc.g = tp.g AND cc.cum >= tp.target
      | GROUP BY 1, 2, 3)
      |SELECT g, p,
      | (pow(2.0, CAST(floor(bucket / 16.0) AS BIGINT))
      |   * (16.0 + bucket % 16) / 16) / 1e6 AS estimate,
      | n_total
      |FROM pick""".stripMargin

  // --------------------------------------------------------------- q125
  /** Key-skew histogram ([[graft.ops.SkewOps.keyHistogram]]): top-20
    * hottest user keys of the event stream — the diagnostic that picks
    * salt factors before a fact-side join. Count-desc with key-asc
    * tiebreak makes the top-n membership deterministic.
    */
  def q125(spark: SparkSession, dir: String): DataFrame =
    SkewOps.keyHistogram(Tables.events(spark, dir), "user_id", topN = 20)

  val q125Sql: String =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS count
      |FROM events GROUP BY 1
      |ORDER BY 2 DESC, 1 LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q126
  /** Salted-join equivalence ([[graft.ops.SkewOps.saltedJoin]]): the
    * hot-key mitigation joins events to a per-user segment dim with
    * the key spread over 8 salts, then aggregates per segment; the
    * oracle is the PLAIN join + aggregate — matching rows prove the
    * salt/replicate/drop composition is semantically invisible (the
    * result contract that lets it be swapped in under any skewed key).
    */
  def q126(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val dim = e.select(col("user_id")).distinct()
      .withColumn("segment", pmod(col("user_id") * 31 + 7, lit(5)).cast("int"))
    SkewOps.saltedJoin(
        e.select("event_id", "user_id", "value"), dim, "user_id", salts = 8)
      .groupBy("segment")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value"), 2).cast("decimal(38,2)"))
          .cast("double").as("sum_value"))
  }

  val q126Sql: String =
    """WITH dim AS (
      | SELECT DISTINCT user_id,
      |  CAST((user_id * 31 + 7) % 5 AS INT) AS segment
      | FROM events)
      |SELECT segment, CAST(count(*) AS BIGINT) AS n,
      | CAST(SUM(CAST(round(value, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sum_value
      |FROM events JOIN dim USING (user_id)
      |GROUP BY 1""".stripMargin

  // --------------------------------------------------------------- q127
  /** Trigram stupid-backoff fluency scores
    * ([[graft.ops.CurationOps.stupidBackoffSelf]], Brants et al. 2007)
    * with the model trained on the scored corpus — q64's CCNet shape
    * one order up, with the distributed-LM smoothing instead of
    * add-one. Counts are exact integers on both sides; each position's
    * score is a single double division (+ one double multiply on the
    * backoff rungs), so the ladder is bit-aligned cross-engine and the
    * driver's 6-decimal rounding absorbs only the per-doc sum order.
    */
  def q127(spark: SparkSession, dir: String): DataFrame =
    CurationOps.stupidBackoffSelf(Tables.documents(spark, dir), "text",
        "doc_id", tokenKey = PortableHash.md5Long)
      .select("doc_id", "n_trigrams", "sb_nll", "sb_ppl")

  val q127Sql: String =
    s"""WITH $unigramSql,
      |tot AS (SELECT sum(c) AS n_tokens, count(*) AS v FROM uni),
      |bgs AS (
      | SELECT tk[i] || ' ' || tk[i+1] AS bg
      | FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i
      |       FROM toks WHERE len(tk) >= 2)),
      |bi AS (SELECT ${md5LongSql("bg")} AS k, count(*) AS c FROM bgs GROUP BY 1),
      |tgs AS (
      | SELECT doc_id,
      |  tk[i] || ' ' || tk[i+1] AS ctx2,
      |  tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS tri,
      |  tk[i+1] AS w2,
      |  tk[i+1] || ' ' || tk[i+2] AS b23,
      |  tk[i+2] AS w3
      | FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i
      |       FROM toks WHERE len(tk) >= 3)),
      |tri AS (SELECT ${md5LongSql("tri")} AS k, count(*) AS c FROM tgs GROUP BY 1),
      |lp AS (
      | SELECT g.doc_id, ln(
      |  CASE WHEN coalesce(t.c, 0) > 0
      |       THEN CAST(t.c AS DOUBLE) / CAST(c2.c AS DOUBLE)
      |       WHEN coalesce(b.c, 0) > 0
      |       THEN 0.4 * CAST(b.c AS DOUBLE) / CAST(u2.c AS DOUBLE)
      |       ELSE (0.4 * 0.4) * CAST(coalesce(u3.c, 0) + 1 AS DOUBLE)
      |            / CAST(tot.n_tokens + tot.v AS DOUBLE) END) AS lp
      | FROM tgs g
      | LEFT JOIN tri t ON t.k = ${md5LongSql("g.tri")}
      | LEFT JOIN bi c2 ON c2.k = ${md5LongSql("g.ctx2")}
      | LEFT JOIN bi b ON b.k = ${md5LongSql("g.b23")}
      | LEFT JOIN uni u2 ON u2.k = ${md5LongSql("g.w2")}
      | LEFT JOIN uni u3 ON u3.k = ${md5LongSql("g.w3")}, tot)
      |SELECT doc_id, count(*) AS n_trigrams,
      | -sum(lp) / count(*) AS sb_nll,
      | exp(-sum(lp) / count(*)) AS sb_ppl
      |FROM lp GROUP BY doc_id""".stripMargin

  // --------------------------------------------------------------- q128
  /** Exact two-sample Kolmogorov–Smirnov drift
    * ([[graft.ops.DriftOps.ksStatistic]]) between an event-value
    * sample and a deterministically 1.1×-scaled sample — the bin-free
    * companion to q101's quantile-PSI (no bin choice to argue about;
    * D is the sup CDF gap). Cumulative counts are exact longs from the
    * range-partitioned two-pass scan, each CDF value one
    * integer/integer division, the sup an order-free max — the oracle
    * replays it with a window running sum over the same value dim.
    */
  def q128(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val a = e.filter(
      PortableHash.uniform01(col("event_id"), lit("128a")) < 0.5)
      .select(col("value"))
    val b = e.filter(
      PortableHash.uniform01(col("event_id"), lit("128b")) < 0.5)
      .select((col("value") * lit(1.1)).as("value"))
    DriftOps.ksStatistic(a, b, "value")
  }

  val q128Sql: String =
    s"""WITH a AS (
      | SELECT value AS v FROM events
      | WHERE ${md5LongSql("event_id || '#' || '128a'")}
      |     / 1152921504606846976.0 < 0.5 AND value IS NOT NULL),
      |b AS (
      | SELECT value * 1.1::DOUBLE AS v FROM events
      | WHERE ${md5LongSql("event_id || '#' || '128b'")}
      |     / 1152921504606846976.0 < 0.5 AND value IS NOT NULL),
      |ac AS (SELECT v, count(*) AS ca FROM a GROUP BY 1),
      |bc AS (SELECT v, count(*) AS cb FROM b GROUP BY 1),
      |m AS (
      | SELECT coalesce(ac.v, bc.v) AS v,
      |  coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
      | FROM ac FULL OUTER JOIN bc ON ac.v = bc.v),
      |t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM m),
      |c AS (SELECT sum(ca) OVER (ORDER BY v) AS cca,
      |             sum(cb) OVER (ORDER BY v) AS ccb FROM m)
      |SELECT max(abs(CAST(cca AS DOUBLE) / CAST(t.na AS DOUBLE)
      |          - CAST(ccb AS DOUBLE) / CAST(t.nb AS DOUBLE))) AS ks_d,
      | CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b
      |FROM c, t GROUP BY t.na, t.nb""".stripMargin

  // --------------------------------------------------------------- q129
  /** Johnson–Lindenstrauss random projection
    * ([[graft.ops.VectorOps.randomProject]], Achlioptas ±1 signs) of
    * the 64-dim embeddings to 16 dims, exploded to
    * (vec_id, j, x) rows. The oracle RE-DERIVES every sign
    * independently (DuckDB md5 of the same `"i#j#42"` strings — the
    * md5Long-evenness convention) and sums per output dim; the
    * engine's pinned left-to-right chain and the oracle's group sum
    * agree inside the driver's 6-decimal rounding, and the
    * 1/√16 = 0.25 scale is exact in both engines.
    */
  def q129(spark: SparkSession, dir: String): DataFrame =
    VectorOps.randomProject(Tables.embeddings(spark, dir), "embedding",
        inDim = 64, outDim = 16, seed = 42L)
      .select(col("vec_id"), posexplode(col("proj")))
      .select(col("vec_id"), col("pos").cast("long").as("j"),
        col("col").as("x"))

  val q129Sql: String =
    """WITH s AS (
      | SELECT i, j,
      |  CASE WHEN CAST('0x' || substr(md5(i || '#' || j || '#' || '42'), 1, 15)
      |            AS BIGINT) % 2 = 0
      |       THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END AS sgn
      | FROM (SELECT unnest(generate_series(0, 63)) AS i),
      |      (SELECT unnest(generate_series(0, 15)) AS j)),
      |e AS (
      | SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS x
      | FROM (SELECT vec_id, embedding, unnest(generate_series(0, 63)) AS i
      |       FROM embeddings WHERE embedding IS NOT NULL))
      |SELECT e.vec_id, s.j, sum(e.x * s.sgn) * 0.25::DOUBLE AS x
      |FROM e JOIN s ON s.i = e.i
      |GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q130
  /** T5 span corruption ([[graft.functions.SpanCorruptMd5]], Raffel
    * et al. 2020): md5-keyed span starts/lengths, overlap-merged runs
    * collapsed to unique sequential sentinels in the input, targets =
    * sentinel-delimited original spans. Token ids are md5Long(token)
    * mod 1000 (replayable), sentinels 1000+ord. The oracle re-derives
    * the whole decision with window functions: rolling
    * farthest-coverage max over the 4-preceding frame (span length ≤
    * 5), lag-based run starts, running-sum ordinals — integer
    * arithmetic end to end except the one start-draw compare, written
    * as the same IEEE `0.15/3` division the engine computes.
    */
  def q130(spark: SparkSession, dir: String): DataFrame = {
    val ids = transform(TextOps.whitespaceTokenize(col("text")),
      t => pmod(PortableHash.md5Long(t), lit(1000L)).cast("int"))
    val sc = Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.SpanCorruptMd5.spanCorruptMd5(
          ids, col("doc_id").cast("string"), sentinelBase = 1000).as("sc"))
    // row form (doc_id, part, pos, tok): the driver compare hashes
    // scalar columns, not arrays
    val inp = sc.select(col("doc_id"), lit("i").as("part"),
      posexplode(col("sc.input_ids")))
    val tgt = sc.select(col("doc_id"), lit("t").as("part"),
      posexplode(col("sc.target_ids")))
    inp.unionByName(tgt)
      .select(col("doc_id"), col("part"), col("pos"), col("col").as("tok"))
  }

  val q130Sql: String =
    s"""WITH ${wordListSql("toks")},
      |pos AS (
      | SELECT doc_id, i - 1 AS i,
      |  CAST(${md5LongSql("tk[i]")} % 1000 AS INTEGER) AS tok
      | FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM toks)),
      |draws AS (
      | SELECT doc_id, i, tok,
      |  (${md5LongSql("doc_id || '#' || i || '#' || '0' || '#' || 'sstart'")}
      |    / 1152921504606846976.0) < (0.15::DOUBLE / 3.0::DOUBLE) AS st,
      |  1 + ${md5LongSql("doc_id || '#' || i || '#' || '0' || '#' || 'slen'")} % 5 AS ln
      | FROM pos),
      |cov AS (
      | SELECT *, max(CASE WHEN st THEN i + ln ELSE -1 END)
      |   OVER (PARTITION BY doc_id ORDER BY i
      |         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) > i AS noise
      | FROM draws),
      |runs AS (
      | SELECT *, noise AND NOT coalesce(
      |   lag(noise) OVER (PARTITION BY doc_id ORDER BY i), FALSE) AS run_start
      | FROM cov),
      |ord AS (
      | SELECT *, SUM(CASE WHEN run_start THEN 1 ELSE 0 END)
      |   OVER (PARTITION BY doc_id ORDER BY i) - 1 AS run_ord
      | FROM runs),
      |inp AS (
      | SELECT doc_id, 'i' AS part,
      |  row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS pos,
      |  CASE WHEN NOT noise THEN tok
      |       ELSE CAST(1000 + run_ord AS INTEGER) END AS tok
      | FROM ord WHERE NOT noise OR run_start),
      |tg0 AS (
      | SELECT doc_id, i, 0 AS k, CAST(1000 + run_ord AS INTEGER) AS tok
      | FROM ord WHERE run_start
      | UNION ALL
      | SELECT doc_id, i, 1 AS k, tok FROM ord WHERE noise),
      |tgt AS (
      | SELECT doc_id, 't' AS part,
      |  row_number() OVER (PARTITION BY doc_id ORDER BY i, k) - 1 AS pos, tok
      | FROM tg0)
      |SELECT doc_id, part, CAST(pos AS INTEGER) AS pos, tok FROM inp
      |UNION ALL
      |SELECT doc_id, part, CAST(pos AS INTEGER) AS pos, tok FROM tgt""".stripMargin

  // --------------------------------------------------------------- q131
  /** Exact Gini coefficient ([[graft.ops.StatsOps.gini]]) of document
    * lengths — the corpus-inequality gauge next to q107's entropy.
    * The rank identity's term sum is an exact DECIMAL fold (tie
    * blocks are permutation-invariant), so both engines produce the
    * identical numerator and ONE double division ends it.
    */
  def q131(spark: SparkSession, dir: String): DataFrame =
    StatsOps.gini(Tables.documents(spark, dir), "n_chars")

  val q131Sql: String =
    """WITH v AS (
      | SELECT round(CAST(n_chars AS DOUBLE), 6) AS x FROM documents
      | WHERE n_chars IS NOT NULL),
      |r AS (SELECT x, row_number() OVER (ORDER BY x) - 1 AS ri FROM v),
      |t AS (SELECT count(*) AS n, SUM(CAST(x AS DECIMAL(38,6))) AS tot FROM v)
      |SELECT
      | CAST(SUM((2 * ri + 1 - t.n) * CAST(x AS DECIMAL(38,6))) AS DOUBLE)
      |   / (CAST(t.n AS DOUBLE) * CAST(t.tot AS DOUBLE)) AS gini,
      | CAST(t.n AS BIGINT) AS n, CAST(t.tot AS DOUBLE) AS total
      |FROM r, t GROUP BY t.n, t.tot""".stripMargin

  // --------------------------------------------------------------- q132
  /** Upper-triangle covariance matrix of the embedding column
    * ([[graft.ops.VectorOps.covarianceMatrix]]) — the one-pass
    * sufficient statistic PCA ([[graft.ops.VectorOps.pcaTrain]])
    * eigendecomposes on the driver. Every sum is round-then-DECIMAL
    * (exact, order-free) and the combination is pinned double
    * arithmetic, so all 2,080 cells replay bit-level.
    */
  def q132(spark: SparkSession, dir: String): DataFrame =
    VectorOps.covarianceMatrix(Tables.embeddings(spark, dir), "embedding", 64)

  val q132Sql: String =
    """WITH ei AS (
      | SELECT vec_id, CAST(i AS INTEGER) AS i,
      |  CAST(embedding[i + 1] AS DOUBLE) AS x
      | FROM (SELECT vec_id, embedding, unnest(generate_series(0, 63)) AS i
      |       FROM embeddings
      |       WHERE embedding IS NOT NULL AND len(embedding) = 64)),
      |n AS (SELECT count(*) AS n
      |      FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64),
      |p AS (
      | SELECT a.i AS i, b.i AS j,
      |  SUM(CAST(round(a.x * b.x, 9) AS DECIMAL(38,9))) AS sxy
      | FROM ei a JOIN ei b ON a.vec_id = b.vec_id AND b.i >= a.i
      | GROUP BY 1, 2),
      |s AS (SELECT i, SUM(CAST(round(x, 9) AS DECIMAL(38,9))) AS sx
      |      FROM ei GROUP BY 1)
      |SELECT p.i, p.j,
      | CAST(p.sxy AS DOUBLE) / CAST(n.n AS DOUBLE)
      |  - (CAST(si.sx AS DOUBLE) / CAST(n.n AS DOUBLE))
      |    * (CAST(sj.sx AS DOUBLE) / CAST(n.n AS DOUBLE)) AS cov
      |FROM p
      |JOIN s si ON si.i = p.i
      |JOIN s sj ON sj.i = p.j, n""".stripMargin

  // --------------------------------------------------------------- q133
  /** Logistic-regression pass-1 gradient
    * ([[graft.ops.CurationOps.logisticGradient]] at `w = 0`) over the
    * embeddings with `y = label mod 2` — the statistic every
    * gradient-descent pass of the linear quality classifier derives
    * from (the q120 BPE-round-1 pattern: oracle the per-pass
    * aggregate, spec the loop). At `w = 0`, `σ` is exactly 0.5 — no
    * transcendentals — and the per-dim sums are round-then-DECIMAL,
    * so all 64 gradient cells replay bit-level.
    */
  def q133(spark: SparkSession, dir: String): DataFrame =
    CurationOps.logisticGradient(
      Tables.embeddings(spark, dir).filter(col("label").isNotNull)
        .withColumn("y01", pmod(col("label"), lit(2))),
      "embedding", "y01", dim = 64,
      w = Array.fill(64)(0.0))

  val q133Sql: String =
    """WITH v AS (
      | SELECT embedding, CAST(label % 2 AS DOUBLE) AS y FROM embeddings
      | WHERE label IS NOT NULL AND embedding IS NOT NULL AND len(embedding) = 64),
      |n AS (SELECT count(*) AS n FROM v),
      |e AS (
      | SELECT CAST(i AS INTEGER) AS i,
      |  (0.5 - y) * CAST(embedding[i + 1] AS DOUBLE) AS g
      | FROM (SELECT embedding, y, unnest(generate_series(0, 63)) AS i FROM v))
      |SELECT e.i,
      | CAST(SUM(CAST(round(e.g, 9) AS DECIMAL(38,9))) AS DOUBLE)
      |   / CAST(n.n AS DOUBLE) AS g
      |FROM e, n GROUP BY e.i, n.n""".stripMargin

  // --------------------------------------------------------------- q134
  /** One alternating-star contraction round
    * ([[graft.ops.GraphOps.starContractionRound]]) over the sparse
    * arithmetic corpus graph — the q118 unroll pattern applied to the
    * connected-components family: the oracle replays the large-star
    * min aggregate + join and the small-star pair stage-for-stage
    * (pure integer min/set algebra, no randomness), pinning the edge
    * rewrite every [[graft.ops.GraphOps.connectedComponentsAlternating]]
    * round is built from.
    */
  def q134(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val n = d.count()
    val e0 = d.select(col("doc_id").as("src"),
        ((col("doc_id") * 7 + 11) % n).as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .distinct()
    GraphOps.starContractionRound(e0)
  }

  val q134Sql: String =
    """WITH nn AS (SELECT count(*) AS n FROM documents),
      |e0 AS (
      | SELECT DISTINCT greatest(doc_id, dst) AS u, least(doc_id, dst) AS v
      | FROM (SELECT doc_id, (doc_id * 7 + 11) % nn.n AS dst
      |       FROM documents, nn)
      | WHERE doc_id <> dst),
      |sym AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
      |lmins AS (SELECT u, min(v) AS mn FROM sym GROUP BY u),
      |large AS (
      | SELECT DISTINCT s.v AS u, least(l.mn, s.u) AS v
      | FROM sym s JOIN lmins l ON l.u = s.u WHERE s.v > s.u),
      |smins AS (SELECT u, min(v) AS mn FROM large GROUP BY u),
      |j AS (SELECT l.u, l.v, s.mn FROM large l JOIN smins s ON s.u = l.u)
      |SELECT DISTINCT u, v FROM (
      | SELECT v AS u, mn AS v FROM j
      | UNION ALL
      | SELECT u, mn AS v FROM j)
      |WHERE u <> v""".stripMargin

  // --------------------------------------------------------------- q135
  /** Unigram-LM seed vocabulary ([[graft.ops.UnigramLmOps.seedVocab]],
    * Kudo 2018): top-200 corpus substrings (≤ 4 chars) by weighted
    * frequency UNION all single characters — the statistic every
    * hard-EM round of the SentencePiece-style induction starts from
    * (the q120 BPE-round-1 pattern: oracle the seeding statistic,
    * spec the loop). Counts are exact integers; the top-N cutoff
    * breaks ties (weight desc, piece asc) identically in both
    * engines.
    */
  def q135(spark: SparkSession, dir: String): DataFrame =
    UnigramLmOps.seedVocab(
      UnigramLmOps.wordCounts(Tables.documents(spark, dir), "text"),
      maxPieceLen = 4, seedSize = 200)

  val q135Sql: String =
    """WITH words AS (
      | SELECT w, count(*) AS n FROM (
      |  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS w
      |  FROM documents) GROUP BY 1),
      |subs AS (
      | SELECT substr(w, s, l) AS piece, SUM(n) AS weight FROM (
      |   SELECT w, n, s, unnest(generate_series(1, 4)) AS l FROM (
      |     SELECT w, n, unnest(generate_series(1, len(w))) AS s FROM words))
      | WHERE s + l - 1 <= len(w) GROUP BY 1),
      |top AS (SELECT piece, weight FROM subs
      |        ORDER BY weight DESC, piece LIMIT 200),
      |chars AS (SELECT piece, weight FROM subs WHERE len(piece) = 1)
      |SELECT piece, CAST(max(weight) AS BIGINT) AS weight
      |FROM (SELECT * FROM top UNION ALL SELECT * FROM chars)
      |GROUP BY 1""".stripMargin

  // --------------------------------------------------------------- q136
  /** Bounded-buffer top-k per group
    * ([[graft.ops.SearchOps.topKPerGroup]]): top-5 events by value per
    * event type — the oracle is the `row_number` WINDOW formulation,
    * so matching rows prove the k-bounded aggregation buffer
    * reproduces the full sort exactly (value desc, id asc).
    */
  def q136(spark: SparkSession, dir: String): DataFrame =
    SearchOps.topKPerGroup(
      Tables.events(spark, dir), "event_type", "value", "event_id", k = 5)

  val q136Sql: String =
    """SELECT event_type, CAST(rank AS INTEGER) AS rank, event_id, value
      |FROM (
      | SELECT event_type, event_id, value,
      |  row_number() OVER (PARTITION BY event_type
      |                     ORDER BY value DESC, event_id) AS rank
      | FROM events)
      |WHERE rank <= 5""".stripMargin

  // --------------------------------------------------------------- q137
  /** Per-key interval union ([[graft.ops.SessionOps.intervalUnion]]):
    * each event opens a span of `round(value, 2)` minutes (duration
    * derived through DECIMAL so the micros arithmetic is
    * integer-exact in both engines); overlapping/touching spans merge
    * into maximal disjoint intervals per user — the "total covered
    * time" statistic a plain duration sum double-counts. The oracle
    * replays the sweep (running-max prefix, open flags, running
    * interval ids) with the same keyed windows.
    */
  def q137(spark: SparkSession, dir: String): DataFrame = {
    val spans = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("s"),
        (unix_micros(col("ts")) +
          (round(col("value"), 2).cast("decimal(38,2)") * 100).cast("long")
            * lit(60000000L)).as("e"))
    SessionOps.intervalUnion(spans, "user_id", "s", "e")
  }

  val q137Sql: String =
    """WITH sp AS (
      | SELECT user_id, epoch_us(ts) AS s,
      |  epoch_us(ts) + CAST(CAST(round(value, 2) AS DECIMAL(38,2)) * 100 AS BIGINT)
      |    * 60000000 AS e
      | FROM events),
      |m AS (
      | SELECT user_id, s, e,
      |  max(e) OVER (PARTITION BY user_id ORDER BY s, e
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      | FROM sp WHERE s IS NOT NULL AND e IS NOT NULL AND e >= s),
      |o AS (
      | SELECT *, CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS op
      | FROM m),
      |iv AS (
      | SELECT *, SUM(op) OVER (PARTITION BY user_id ORDER BY s, e
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS interval_id
      | FROM o)
      |SELECT user_id, CAST(interval_id AS BIGINT) AS interval_id,
      | min(s) AS start, max(e) AS "end", CAST(count(*) AS BIGINT) AS n_spans
      |FROM iv GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q138
  /** Bilinear resize ([[graft.functions.ResizeBilinear]]) of the
    * 64-dim embeddings viewed as 8×8 single-channel images down to
    * 4×4, exploded to (vec_id, pos, x) rows. At an exact 2× downscale
    * the align_corners=false sample sits at fractional 0.5 in both
    * axes, so the oracle replays the two-lerp fold
    * (`top + (bot − top)·0.5`) verbatim over the positional grid —
    * identical double arithmetic, identical float cast.
    */
  def q138(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        posexplode(graft.functions.ResizeBilinear.resizeBilinear(
          col("embedding"), 8, 8, 1, 4, 4)))
      .select(col("vec_id"), col("pos").cast("int").as("pos"),
        col("col").as("x"))

  val q138Sql: String =
    """WITH g AS (
      | SELECT vec_id, i,
      |  CAST(embedding[(2*(i // 4))*8 + 2*(i % 4) + 1] AS DOUBLE) AS p00,
      |  CAST(embedding[(2*(i // 4))*8 + 2*(i % 4) + 2] AS DOUBLE) AS p01,
      |  CAST(embedding[(2*(i // 4) + 1)*8 + 2*(i % 4) + 1] AS DOUBLE) AS p10,
      |  CAST(embedding[(2*(i // 4) + 1)*8 + 2*(i % 4) + 2] AS DOUBLE) AS p11
      | FROM (SELECT vec_id, embedding, unnest(generate_series(0, 15)) AS i
      |       FROM embeddings
      |       WHERE embedding IS NOT NULL AND len(embedding) = 64)),
      |l AS (
      | SELECT vec_id, i,
      |  p00 + (p01 - p00) * 0.5 AS t,
      |  p10 + (p11 - p10) * 0.5 AS b
      | FROM g)
      |SELECT vec_id, CAST(i AS INTEGER) AS pos,
      | CAST(t + (b - t) * 0.5 AS REAL) AS x
      |FROM l""".stripMargin

  // --------------------------------------------------------------- q139
  /** Per-frame energy + zero-crossing rate
    * ([[graft.ops.MultimodalOps.frameFeatures]]) over the embeddings
    * viewed as 8 frames × 8 samples — the audio front-end statistics
    * as exact column algebra: the energy fold unrolls to the same
    * left-to-right chain in SQL (bit-level), the ZCR is an integer
    * CASE sum.
    */
  def q139(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull && size(col("embedding")) === 64)
      .select(col("vec_id"),
        posexplode(MultimodalOps.frameFeatures(col("embedding"), 8, 8)))
      .select(col("vec_id"), col("pos").cast("int").as("frame"),
        col("col.energy").as("energy"), col("col.zcr").as("zcr"))

  val q139Sql: String = {
    def t(f: Int, j: Int) = s"CAST(embedding[${f * 8 + j + 1}] AS DOUBLE)"
    val frames = (0 until 8).map { f =>
      val energy = (0 until 8).map(j => s"${t(f, j)} * ${t(f, j)}")
        .mkString(" + ")
      val zcr = (0 until 7).map(j =>
        s"CASE WHEN ${t(f, j)} * ${t(f, j + 1)} < 0 THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"SELECT vec_id, $f AS frame, $energy AS energy, " +
        s"CAST($zcr AS INTEGER) AS zcr FROM e"
    }
    s"""WITH e AS (
      | SELECT vec_id, embedding FROM embeddings
      | WHERE embedding IS NOT NULL AND len(embedding) = 64)
      |${frames.mkString("\nUNION ALL\n")}""".stripMargin
  }

  // --------------------------------------------------------------- q140
  /** OP-12 label projection through the REAL 200-code category
    * dimension ([[graft.ops.CategoryOps.attachIds]]): every doc picks
    * a code by md5 index into the reference list, and the broadcast
    * dim attaches (lv2id, lv1id). The oracle REBUILDS the dimension
    * from its published arithmetic (23 lv1 group sizes → `pp` prefix +
    * in-group position, lv2id = global list position) and joins on
    * the same md5 pick — so the dim derivation itself is replayed,
    * not just the join.
    */
  def q140(spark: SparkSession, dir: String): DataFrame = {
    val dim = CategoryOps.referenceCategoryDim(spark)
    val codesArr = array(CategoryOps.referenceCategoryCodes.map(lit): _*)
    val docs = Tables.documents(spark, dir).select(col("doc_id"),
      element_at(codesArr,
        (pmod(PortableHash.md5Long(col("doc_id")), lit(200L)) + 1)
          .cast("int")).as("code"))
    CategoryOps.attachIds(docs, dim, "code")
      .select(col("doc_id"), col("code"), col("lv2id"), col("lv1id"))
  }

  val q140Sql: String =
    s"""WITH sizes(lv1, n) AS (VALUES
      | (0,9),(1,5),(2,9),(3,6),(4,6),(5,3),(6,3),(7,6),(8,6),(9,8),
      | (10,4),(11,6),(12,6),(13,12),(14,4),(15,10),(16,11),(17,9),
      | (18,7),(19,6),(20,16),(21,24),(22,24)),
      |offs AS (
      | SELECT lv1, n, CAST(coalesce(SUM(n) OVER (ORDER BY lv1
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INTEGER) AS off
      | FROM sizes),
      |dim AS (
      | SELECT printf('%02d%02d', lv1, i) AS category_id,
      |  off + CAST(i AS INTEGER) AS lv2id, CAST(lv1 AS INTEGER) AS lv1id
      | FROM (SELECT lv1, off, unnest(generate_series(0, n - 1)) AS i FROM offs)),
      |docs AS (
      | SELECT doc_id,
      |  CAST(${md5LongSql("CAST(doc_id AS VARCHAR)")}
      |       % 200 AS INTEGER) AS pick
      | FROM documents)
      |SELECT d.doc_id, m.category_id AS code, m.lv2id, m.lv1id
      |FROM docs d JOIN dim m ON m.lv2id = d.pick""".stripMargin

  // --------------------------------------------------------------- q141
  /** OP-24 validation join ([[graft.ops.EvalMetrics.validatePredictions]]):
    * predictions derived from the corpus (10% deterministically
    * perturbed to 'xx') joined to the ground truth after the anti-join
    * and count guards pass — the reference's evaluate() entry
    * contract, now row-level oracle-checked rather than unit-only.
    */
  def q141(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val truth = d.select(col("doc_id").as("vid"), col("lang").as("label"))
    val preds = d.select(col("doc_id").as("vid"),
      when(PortableHash.uniform01(col("doc_id"), lit("141")) < 0.9,
        col("lang")).otherwise(lit("xx")).as("pred"))
    EvalMetrics.validatePredictions(preds, truth)
  }

  val q141Sql: String =
    s"""WITH truth AS (SELECT doc_id AS vid, lang AS label FROM documents),
      |preds AS (
      | SELECT doc_id AS vid,
      |  CASE WHEN ${md5LongSql("doc_id || '#' || '141'")}
      |        / 1152921504606846976.0 < 0.9
      |       THEN lang ELSE 'xx' END AS pred
      | FROM documents)
      |SELECT p.vid, p.pred, t.label
      |FROM preds p JOIN truth t ON t.vid = p.vid""".stripMargin

  // --------------------------------------------------------------- q142
  /** Corpus BLEU ([[graft.ops.EvalMetrics.bleuCorpus]], string-exact
    * twin) of an md5-perturbed candidate corpus (each token flips to
    * 'xx' with p=0.1, both engines deriving the identical candidates)
    * against the original documents. All match/total sums are exact
    * integers; the final BLEU is one pinned double expression
    * (left-assoc log sum, exact-int ratios), so the row replays
    * bit-level up to the driver's 6-decimal rounding.
    */
  def q142(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.whitespaceTokenize(col("text"))
    val cand = concat_ws(" ", transform(toks, (t, i) =>
      when(PortableHash.uniform01(
        concat_ws("#", col("doc_id"), (i + 1).cast("string")),
        lit("142")) < 0.9, t).otherwise(lit("xx"))))
    val pairs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").as("ref"), cand.as("cand"))
    EvalMetrics.bleuCorpus(pairs, "ref", "cand", maxN = 4, fused = false)
  }

  val q142Sql: String =
    s"""WITH ${wordListSql("toks")},
      |p AS (
      | SELECT doc_id, i, len(tk) AS L, tk[i] AS rt,
      |  CASE WHEN ${md5LongSql("doc_id || '#' || i || '#' || '142'")}
      |        / 1152921504606846976.0 < 0.9
      |       THEN tk[i] ELSE 'xx' END AS ct
      | FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM toks)),
      |w AS (
      | SELECT doc_id, i, L, rt, ct,
      |  lead(rt, 1) OVER win AS r1, lead(rt, 2) OVER win AS r2,
      |  lead(rt, 3) OVER win AS r3,
      |  lead(ct, 1) OVER win AS c1, lead(ct, 2) OVER win AS c2,
      |  lead(ct, 3) OVER win AS c3
      | FROM p WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
      |rg AS (
      | SELECT doc_id, 1 AS n, rt AS g FROM w
      | UNION ALL SELECT doc_id, 2, rt || ' ' || r1 FROM w WHERE i + 1 <= L
      | UNION ALL SELECT doc_id, 3, rt || ' ' || r1 || ' ' || r2 FROM w WHERE i + 2 <= L
      | UNION ALL SELECT doc_id, 4, rt || ' ' || r1 || ' ' || r2 || ' ' || r3 FROM w WHERE i + 3 <= L),
      |cg AS (
      | SELECT doc_id, 1 AS n, ct AS g FROM w
      | UNION ALL SELECT doc_id, 2, ct || ' ' || c1 FROM w WHERE i + 1 <= L
      | UNION ALL SELECT doc_id, 3, ct || ' ' || c1 || ' ' || c2 FROM w WHERE i + 2 <= L
      | UNION ALL SELECT doc_id, 4, ct || ' ' || c1 || ' ' || c2 || ' ' || c3 FROM w WHERE i + 3 <= L),
      |rc AS (SELECT doc_id, n, g, count(*) AS cr FROM rg GROUP BY 1, 2, 3),
      |cc AS (SELECT doc_id, n, g, count(*) AS cn FROM cg GROUP BY 1, 2, 3),
      |mm AS (
      | SELECT rc.n, SUM(LEAST(rc.cr, cc.cn)) AS m
      | FROM rc JOIN cc ON cc.doc_id = rc.doc_id AND cc.n = rc.n AND cc.g = rc.g
      | GROUP BY 1),
      |tt AS (SELECT n, count(*) AS t FROM cg GROUP BY 1),
      |flat AS (
      | SELECT
      |  CAST(coalesce(MAX(CASE WHEN mm.n = 1 THEN m END), 0) AS BIGINT) AS m_1,
      |  CAST(coalesce(MAX(CASE WHEN mm.n = 2 THEN m END), 0) AS BIGINT) AS m_2,
      |  CAST(coalesce(MAX(CASE WHEN mm.n = 3 THEN m END), 0) AS BIGINT) AS m_3,
      |  CAST(coalesce(MAX(CASE WHEN mm.n = 4 THEN m END), 0) AS BIGINT) AS m_4
      | FROM mm),
      |flatt AS (
      | SELECT
      |  CAST(coalesce(MAX(CASE WHEN n = 1 THEN t END), 0) AS BIGINT) AS t_1,
      |  CAST(coalesce(MAX(CASE WHEN n = 2 THEN t END), 0) AS BIGINT) AS t_2,
      |  CAST(coalesce(MAX(CASE WHEN n = 3 THEN t END), 0) AS BIGINT) AS t_3,
      |  CAST(coalesce(MAX(CASE WHEN n = 4 THEN t END), 0) AS BIGINT) AS t_4
      | FROM tt),
      |lens AS (SELECT CAST(count(*) AS BIGINT) AS c_len,
      |                CAST(count(*) AS BIGINT) AS r_len FROM p)
      |SELECT m_1, t_1, m_2, t_2, m_3, t_3, m_4, t_4, c_len, r_len,
      | CASE WHEN m_1 > 0 AND m_2 > 0 AND m_3 > 0 AND m_4 > 0 AND c_len > 0
      |      THEN (CASE WHEN c_len > r_len THEN 1.0
      |            ELSE exp(1.0 - CAST(r_len AS DOUBLE) / CAST(c_len AS DOUBLE)) END)
      |        * exp((ln(CAST(m_1 AS DOUBLE) / CAST(t_1 AS DOUBLE))
      |             + ln(CAST(m_2 AS DOUBLE) / CAST(t_2 AS DOUBLE))
      |             + ln(CAST(m_3 AS DOUBLE) / CAST(t_3 AS DOUBLE))
      |             + ln(CAST(m_4 AS DOUBLE) / CAST(t_4 AS DOUBLE))) / 4.0)
      |      ELSE 0.0 END AS bleu
      |FROM flat, flatt, lens""".stripMargin

  // --------------------------------------------------------------- q143
  /** KMV cross-source overlap ([[graft.ops.SketchOps.kmvSketch]] /
    * [[graft.ops.SketchOps.kmvOverlap]], k = 256): estimate the
    * Jaccard / union / intersection cardinalities between the
    * `orders.o_orderkey` and `lineitem.l_orderkey` key sets from two
    * constant-size sketches — the set-algebra question ("how much do
    * these two sources overlap?") that HLL registers cannot answer
    * because register max discards value identities. Each side is one
    * corpus pass with a k-bounded `Aggregator` buffer; the overlap
    * math touches ≤ 2k rows. True Jaccard at this fixture ≈ 0.983
    * (lineitem covers all but 257 of the 15,000 order keys).
    */
  def q143(spark: SparkSession, dir: String): DataFrame = {
    val sa = SketchOps.kmvSketch(
      Tables.orders(spark, dir), "o_orderkey", k = 256, seed = 43L)
    val sb = SketchOps.kmvSketch(
      Tables.lineitem(spark, dir), "l_orderkey", k = 256, seed = 43L)
    SketchOps.kmvOverlap(sa, sb, k = 256)
  }

  val q143Sql: String =
    s"""WITH sa AS (
      | SELECT DISTINCT ${md5LongSql("o_orderkey || '#' || '43'")} AS h
      | FROM orders ORDER BY h LIMIT 256),
      |sb AS (
      | SELECT DISTINCT ${md5LongSql("l_orderkey || '#' || '43'")} AS h
      | FROM lineitem ORDER BY h LIMIT 256),
      |u AS (
      | SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
      | ORDER BY h LIMIT 256),
      |fl AS (
      | SELECT u.h, a.h IS NOT NULL AND b.h IS NOT NULL AS in_both
      | FROM u LEFT JOIN sa a ON u.h = a.h LEFT JOIN sb b ON u.h = b.h),
      |ag AS (
      | SELECT CAST(count(*) AS BIGINT) AS k_used, max(h) AS hk,
      |  CAST(sum(CASE WHEN in_both THEN 1 ELSE 0 END) AS BIGINT) AS m_both
      | FROM fl)
      |SELECT k_used,
      | CAST(m_both AS DOUBLE) / CAST(k_used AS DOUBLE) AS jaccard_est,
      | CASE WHEN k_used < 256 THEN CAST(k_used AS DOUBLE)
      |  ELSE 255.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE) END
      |  AS union_est,
      | (CAST(m_both AS DOUBLE) / CAST(k_used AS DOUBLE)) *
      | (CASE WHEN k_used < 256 THEN CAST(k_used AS DOUBLE)
      |  ELSE 255.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE) END)
      |  AS intersect_est
      |FROM ag""".stripMargin

  // --------------------------------------------------------------- q144
  /** Sketch-based join-size estimation
    * ([[graft.ops.SketchOps.cmsKeySketch]] /
    * [[graft.ops.SketchOps.joinSizeEstimate]], depth 4 × width 1024):
    * predict `|orders ⋈ lineitem|` on the order key from two
    * constant-size frequency sketches WITHOUT running the join — the
    * planning primitive behind salt-or-broadcast decisions
    * ([[graft.ops.SkewOps.keyHistogram]] probes the hot keys;
    * this answers the cheaper "how big is the output?" question at
    * any corpus scale). All cells and products are integer, so the
    * DuckDB replay is exact; the estimate is an upper bound on the
    * true 60,000.
    */
  def q144(spark: SparkSession, dir: String): DataFrame = {
    val sa = SketchOps.cmsKeySketch(
      Tables.orders(spark, dir), "o_orderkey", depth = 4, width = 1024,
      seed = 11L)
    val sb = SketchOps.cmsKeySketch(
      Tables.lineitem(spark, dir), "l_orderkey", depth = 4, width = 1024,
      seed = 11L)
    SketchOps.joinSizeEstimate(sa, sb)
  }

  val q144Sql: String =
    s"""WITH sa AS (
      | SELECT r, ${md5LongSql("o_orderkey || '#' || '11' || '#' || r")} % 1024
      |   AS bucket, CAST(count(*) AS BIGINT) AS cnt
      | FROM orders CROSS JOIN range(0, 4) t(r) GROUP BY 1, 2),
      |sb AS (
      | SELECT r, ${md5LongSql("l_orderkey || '#' || '11' || '#' || r")} % 1024
      |   AS bucket, CAST(count(*) AS BIGINT) AS cnt
      | FROM lineitem CROSS JOIN range(0, 4) t(r) GROUP BY 1, 2),
      |re AS (
      | SELECT sa.r, sum(sa.cnt * sb.cnt) AS row_est
      | FROM sa JOIN sb USING (r, bucket) GROUP BY 1)
      |SELECT CAST(min(row_est) AS BIGINT) AS est_join_rows FROM re""".stripMargin

  // --------------------------------------------------------------- q145
  /** SCD TYPE-2 dimension build
    * ([[graft.ops.DiffOps.scd2FromChangeLog]]): collapse the events
    * stream into per-user `event_type` validity intervals — the
    * warehouse-standard "state as of any past time" table built from
    * an append-only change log in ONE keyed sort (both windows share
    * the exchange). Consecutive same-state rows collapse, so the
    * dimension scales with the churn, not the log.
    */
  def q145(spark: SparkSession, dir: String): DataFrame =
    DiffOps.scd2FromChangeLog(
      Tables.events(spark, dir), "user_id", "ts", Seq("event_type"))

  val q145Sql: String =
    """WITH o AS (
      | SELECT user_id, ts, event_type,
      |  lag(event_type) OVER
      |   (PARTITION BY user_id ORDER BY ts, event_type) AS prev
      | FROM events),
      |ch AS (
      | SELECT user_id, ts, event_type FROM o
      | WHERE prev IS NULL OR prev IS DISTINCT FROM event_type)
      |SELECT user_id, event_type, ts AS valid_from,
      | lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_type)
      |  AS valid_to,
      | lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_type)
      |  IS NULL AS is_current
      |FROM ch""".stripMargin

  // --------------------------------------------------------------- q146
  /** K-anonymity violation audit
    * ([[graft.ops.ProfileOps.kAnonymityViolations]], k = 8) on the
    * customer quasi-identifiers (nation, market segment): the
    * equivalence classes small enough to re-identify members by an
    * external join — the release-side privacy gate that complements
    * the q55 PII scrub. One keyed count; output is the violating tail
    * only.
    */
  def q146(spark: SparkSession, dir: String): DataFrame =
    ProfileOps.kAnonymityViolations(
      Tables.customer(spark, dir), Seq("c_nationkey", "c_mktsegment"), k = 8)

  val q146Sql: String =
    """SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS group_n
      |FROM customer GROUP BY 1, 2 HAVING count(*) < 8""".stripMargin

  // --------------------------------------------------------------- q147
  /** K-anonymity posture summary
    * ([[graft.ops.ProfileOps.kAnonymitySummary]], k = 8): classes,
    * violating classes, rows at risk, and the table's EFFECTIVE k
    * (the minimum class size — the strongest guarantee the release
    * actually makes). Constant-size output from one keyed count.
    */
  def q147(spark: SparkSession, dir: String): DataFrame =
    ProfileOps.kAnonymitySummary(
      Tables.customer(spark, dir), Seq("c_nationkey", "c_mktsegment"), k = 8)

  val q147Sql: String =
    """WITH g AS (
      | SELECT count(*) AS group_n FROM customer
      | GROUP BY c_nationkey, c_mktsegment)
      |SELECT CAST(count(*) AS BIGINT) AS n_classes,
      | CAST(sum(CASE WHEN group_n < 8 THEN 1 ELSE 0 END) AS BIGINT)
      |  AS n_violating_classes,
      | CAST(sum(CASE WHEN group_n < 8 THEN group_n ELSE 0 END) AS BIGINT)
      |  AS n_rows_at_risk,
      | CAST(min(group_n) AS BIGINT) AS effective_k
      |FROM g""".stripMargin

  // --------------------------------------------------------------- q148
  /** Embedding-distribution drift ([[graft.ops.DriftOps.mmdDrift]]):
    * RBF-kernel squared MMD between the label<5 and label≥5 embedding
    * populations via 16 random Fourier features — the SEMANTIC drift
    * gate the scalar monitors (PSI q100 / KS q128 / JSD q116) cannot
    * express. The W matrix and phases re-derive in SQL from the same
    * md5 literals (Box–Muller over portable uniforms); φ terms are
    * round-then-DECIMAL summed so the one-row replay is exact.
    */
  def q148(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    DriftOps.mmdDrift(
      e.filter(col("label") < 5), e.filter(col("label") >= 5),
      "embedding", dim = 64, features = 16, sigma = 4.0)
  }

  val q148Sql: String =
    s"""WITH wg AS (
      | SELECT f, i,
      |  sqrt(-2.0 * ln((CAST(${md5LongSql("'w#' || f || '#' || i || '#' || '8'")}
      |     AS DOUBLE) + 0.5) / 1152921504606846976.0))
      |  * cos(2.0 * pi() * ((CAST(${md5LongSql("'u#' || f || '#' || i || '#' || '8'")}
      |     AS DOUBLE) + 0.5) / 1152921504606846976.0)) / 4.0 AS w
      | FROM (SELECT unnest(generate_series(0, 15)) AS f),
      |      (SELECT unnest(generate_series(0, 63)) AS i)),
      |bg AS (
      | SELECT f, 2.0 * pi() * ((CAST(${md5LongSql("'b#' || f || '#' || '8'")}
      |    AS DOUBLE) + 0.5) / 1152921504606846976.0) AS bp
      | FROM (SELECT unnest(generate_series(0, 15)) AS f)),
      |e AS (
      | SELECT CASE WHEN label < 5 THEN 'a' ELSE 'b' END AS side, vec_id, i,
      |  CAST(embedding[i + 1] AS DOUBLE) AS x
      | FROM (SELECT vec_id, label, embedding,
      |        unnest(generate_series(0, 63)) AS i
      |       FROM embeddings
      |       WHERE embedding IS NOT NULL AND len(embedding) = 64)),
      |proj AS (
      | SELECT side, vec_id, f, sum(x * w) AS p
      | FROM e JOIN wg USING (i) GROUP BY 1, 2, 3),
      |phi AS (
      | SELECT side, f,
      |  CAST(round(sqrt(2.0 / 16.0) * cos(p + bp), 9) AS DECIMAL(38, 9))
      |   AS ph
      | FROM proj JOIN bg USING (f)),
      |m AS (
      | SELECT side, f,
      |  CAST(sum(ph) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu,
      |  CAST(count(*) AS BIGINT) AS n
      | FROM phi GROUP BY 1, 2)
      |SELECT
      | CAST(sum(CAST(round((ma.mu - mb.mu) * (ma.mu - mb.mu), 12)
      |   AS DECIMAL(38, 12))) AS DOUBLE) AS mmd2,
      | CAST(max(ma.n) AS BIGINT) AS n_a, CAST(max(mb.n) AS BIGINT) AS n_b
      |FROM (SELECT * FROM m WHERE side = 'a') ma
      |JOIN (SELECT * FROM m WHERE side = 'b') mb USING (f)""".stripMargin

  // --------------------------------------------------------------- q149
  /** Arbitrary GROUPING SETS (the general form whose specializations
    * q09 ROLLUP and q39 CUBE already pin): one aggregation pass
    * producing the (flag, status), (status), and grand-total grains
    * via Spark's EXPAND — each input row fans out once per set, one
    * shuffle total, NO re-scan per grain (the hand-written alternative
    * unions three scans). Sentinel-coalesced like q09 so the replay is
    * engine-neutral.
    */
  def q149(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast("decimal(38,6)")).cast("double")
        .as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("sum_qty"), col("n"))

  val q149Sql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
      | COALESCE(l_linestatus, 'ALL') AS l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
      | COUNT(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
      | (l_linestatus), ())""".stripMargin

  // --------------------------------------------------------------- q150
  /** Multi-touch channel attribution
    * ([[graft.ops.AttributionOps.touchCredits]] /
    * [[graft.ops.AttributionOps.channelAttribution]]): view/click
    * touches within 30 min of each purchase earn credit under the
    * four standard models (linear, first, last, U-shaped 40/20/40);
    * the rollup is a |channels|-row dim. The per-user range join and
    * one conv-keyed window replay exactly — all credits are small
    * rationals summed through the round-then-DECIMAL pattern.
    */
  def q150(spark: SparkSession, dir: String): DataFrame =
    AttributionOps.channelAttribution(
      AttributionOps.touchCredits(
        Tables.events(spark, dir), Seq("view", "click"), "purchase",
        horizonSec = 1800L))

  val q150Sql: String =
    """WITH t AS (
      | SELECT user_id, event_id AS touch_id, ts AS touch_ts,
      |  event_type AS channel
      | FROM events WHERE event_type IN ('view', 'click')),
      |c AS (
      | SELECT user_id, event_id AS conv_id, ts AS conv_ts
      | FROM events WHERE event_type = 'purchase'),
      |p AS (
      | SELECT t.channel, c.conv_id,
      |  row_number() OVER
      |   (PARTITION BY c.conv_id ORDER BY t.touch_ts, t.touch_id) AS pos,
      |  count(*) OVER (PARTITION BY c.conv_id) AS n
      | FROM t JOIN c ON t.user_id = c.user_id
      |  AND t.touch_ts <= c.conv_ts
      |  AND t.touch_ts > c.conv_ts - INTERVAL 1800 SECOND),
      |cr AS (
      | SELECT channel,
      |  1.0 / CAST(n AS DOUBLE) AS credit_linear,
      |  CASE WHEN pos = 1 THEN 1.0 ELSE 0.0 END AS credit_first,
      |  CASE WHEN pos = n THEN 1.0 ELSE 0.0 END AS credit_last,
      |  CASE WHEN n = 1 THEN 1.0 WHEN n = 2 THEN 0.5
      |   WHEN pos = 1 OR pos = n THEN 0.4
      |   ELSE 0.2 / (CAST(n AS DOUBLE) - 2.0) END AS credit_position
      | FROM p)
      |SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
      | CAST(sum(CAST(round(credit_linear, 9) AS DECIMAL(38, 9)))
      |  AS DOUBLE) AS credit_linear,
      | CAST(sum(CAST(round(credit_first, 9) AS DECIMAL(38, 9)))
      |  AS DOUBLE) AS credit_first,
      | CAST(sum(CAST(round(credit_last, 9) AS DECIMAL(38, 9)))
      |  AS DOUBLE) AS credit_last,
      | CAST(sum(CAST(round(credit_position, 9) AS DECIMAL(38, 9)))
      |  AS DOUBLE) AS credit_position
      |FROM cr GROUP BY channel""".stripMargin

  // --------------------------------------------------------------- q151
  /** Regular-grid resample with linear interpolation
    * ([[graft.ops.TrendOps.resampleInterpolate]], 6-hour grid): each
    * user's irregular event values become one value per grid point
    * between their first and last observation — the
    * `time_bucket_gapfill`/`interpolate` primitive. Observations and
    * grid points merge into ONE keyed sorted window pass (the as-of
    * union trick — no per-point probe join); the oracle re-derives
    * prev/next via the same IGNORE NULLS running windows.
    */
  def q151(spark: SparkSession, dir: String): DataFrame =
    TrendOps.resampleInterpolate(
        Tables.events(spark, dir), "user_id", "ts", "value",
        stepSec = 21600L)
      .select(col("user_id"), unix_seconds(col("grid_ts")).as("t"),
        col("value"))

  val q151Sql: String =
    """WITH obs AS (
      | SELECT user_id AS k,
      |  CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 1000000.0) AS BIGINT)
      |   AS t,
      |  max(CAST(value AS DOUBLE)) AS v
      | FROM events GROUP BY 1, 2),
      |grid AS (
      | SELECT k, unnest(generate_series(mn - mn % 21600,
      |   mx - mx % 21600, 21600)) AS t
      | FROM (SELECT k, min(t) AS mn, max(t) AS mx FROM obs GROUP BY 1)),
      |u AS (
      | SELECT k, t, v, 1 AS is_obs FROM obs
      | UNION ALL
      | SELECT k, t, NULL, 0 FROM grid),
      |w AS (
      | SELECT k, t, is_obs,
      |  last_value(CASE WHEN is_obs = 1 THEN t END IGNORE NULLS) OVER
      |   (PARTITION BY k ORDER BY t, is_obs DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
      |  last_value(CASE WHEN is_obs = 1 THEN v END IGNORE NULLS) OVER
      |   (PARTITION BY k ORDER BY t, is_obs DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
      |  first_value(CASE WHEN is_obs = 1 THEN t END IGNORE NULLS) OVER
      |   (PARTITION BY k ORDER BY t, is_obs DESC
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt,
      |  first_value(CASE WHEN is_obs = 1 THEN v END IGNORE NULLS) OVER
      |   (PARTITION BY k ORDER BY t, is_obs DESC
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
      | FROM u)
      |SELECT k AS user_id, t,
      | CASE WHEN pt = t THEN pv
      |  ELSE pv + (nv - pv) * CAST(t - pt AS DOUBLE)
      |   / CAST(nt - pt AS DOUBLE) END AS value
      |FROM w WHERE is_obs = 0 AND pt IS NOT NULL""".stripMargin

  // --------------------------------------------------------------- q152
  /** Markov removal-effect attribution
    * ([[graft.ops.AttributionOps.markovRemovalEffects]], 8-step
    * truncation): journey chains START → touches → CONV/NULL, per
    * channel the chain is rebuilt without it and the 8-hop
    * conversion probability compared — the data-driven alternative to
    * q150's position heuristics. The k-step truncation is the pinned
    * replayable form of the absorbing solve: the oracle re-runs the
    * SAME 8 matrix-vector stages as chained join+aggregate CTEs over
    * the |states|²-bounded transition dim.
    */
  def q152(spark: SparkSession, dir: String): DataFrame =
    AttributionOps.markovRemovalEffects(
      Tables.events(spark, dir), Seq("view", "click"), "purchase",
      steps = 8)

  val q152Sql: String = {
    val base =
      """WITH ev AS (
        | SELECT user_id, ts, event_id, event_type
        | FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        |j AS (
        | SELECT *, coalesce(sum(CASE WHEN event_type = 'purchase'
        |    THEN 1 ELSE 0 END) OVER
        |   (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS jid
        | FROM ev),
        |touches AS (
        | SELECT user_id, jid, ts, event_id, event_type AS ch
        | FROM j WHERE event_type <> 'purchase'),
        |steps AS (
        | SELECT coalesce(lag(ch) OVER (PARTITION BY user_id, jid
        |    ORDER BY ts, event_id), 'START') AS src, ch AS dst
        | FROM touches),
        |convflag AS (
        | SELECT user_id, jid, max(CASE WHEN event_type = 'purchase'
        |    THEN 1 ELSE 0 END) AS has_conv
        | FROM j GROUP BY 1, 2),
        |lastt AS (
        | SELECT user_id, jid, ch FROM (
        |  SELECT user_id, jid, ch, row_number() OVER
        |   (PARTITION BY user_id, jid ORDER BY ts DESC, event_id DESC)
        |   AS rn FROM touches) WHERE rn = 1),
        |endtr AS (
        | SELECT coalesce(lt.ch, 'START') AS src,
        |  CASE WHEN cf.has_conv = 1 THEN 'CONV' ELSE 'NULL' END AS dst
        | FROM convflag cf LEFT JOIN lastt lt USING (user_id, jid)),
        |trans AS (
        | SELECT src, dst, count(*) AS n FROM (
        |  SELECT src, dst FROM steps
        |  UNION ALL SELECT src, dst FROM endtr) GROUP BY 1, 2),
        |probs AS (
        | SELECT src, dst, CAST(n AS DOUBLE) /
        |  CAST(sum(n) OVER (PARTITION BY src) AS DOUBLE) AS p
        | FROM trans),
        |variants AS (
        | SELECT 'FULL' AS variant UNION ALL SELECT 'view'
        | UNION ALL SELECT 'click'),
        |vp AS MATERIALIZED (
        | SELECT v.variant, pr.src,
        |  CASE WHEN pr.dst = v.variant THEN 'NULL' ELSE pr.dst END AS dst,
        |  sum(pr.p) AS p
        | FROM variants v JOIN probs pr ON pr.src <> v.variant
        | GROUP BY 1, 2, 3),
        |it0 AS MATERIALIZED (
        | SELECT v.variant, st.s AS state,
        |  CASE WHEN st.s = 'CONV' THEN 1.0 ELSE 0.0 END AS p
        | FROM variants v, (SELECT DISTINCT src AS s FROM probs
        |   UNION SELECT 'CONV' UNION SELECT 'NULL') st
        | WHERE st.s <> v.variant)""".stripMargin
    val its = (1 to 8).map { k =>
      s"""it$k AS MATERIALIZED (
         | SELECT vp.variant, vp.src AS state, sum(vp.p * q.p) AS p
         | FROM vp JOIN it${k - 1} q
         |  ON q.variant = vp.variant AND q.state = vp.dst
         | GROUP BY 1, 2
         | UNION ALL
         | SELECT variant, state, p FROM it${k - 1}
         | WHERE state IN ('CONV', 'NULL'))""".stripMargin
    }.mkString(",\n")
    val fin =
      """fin AS (SELECT variant, p FROM it8 WHERE state = 'START')
        |SELECT f.variant AS channel, fu.p AS p_full, f.p AS p_removed,
        | CASE WHEN fu.p > 0 THEN 1.0 - f.p / fu.p ELSE 0.0 END
        |  AS removal_effect
        |FROM fin f, (SELECT p FROM fin WHERE variant = 'FULL') fu(p)
        |WHERE f.variant <> 'FULL'""".stripMargin
    s"$base,\n$its,\n$fin"
  }

  // --------------------------------------------------------------- q153
  /** UNPIVOT/melt (the inverse of q89's pivot): wide per-order price
    * and priority-numeric columns become long (key, metric, value)
    * rows via Spark's native `unpivot` — a zero-shuffle row-local
    * expansion (each input row emits |metrics| rows inside the scan's
    * codegen span), NOT a union of per-column scans.
    */
  def q153(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        col("o_totalprice").as("total_price"),
        length(col("o_orderpriority")).cast("double").as("priority_len"))
      .unpivot(Array(col("o_orderkey")),
        Array(col("total_price"), col("priority_len")),
        "metric", "value")

  val q153Sql: String =
    """SELECT o_orderkey, 'total_price' AS metric,
      | o_totalprice AS value FROM orders
      |UNION ALL
      |SELECT o_orderkey, 'priority_len',
      | CAST(length(o_orderpriority) AS DOUBLE) FROM orders""".stripMargin

  // --------------------------------------------------------------- q154
  /** MUTUAL INFORMATION between two categoricals (nats):
    * `I(A;B) = Σ p(a,b) ln(p(a,b)/(p(a)p(b)))` — the dependence
    * strength behind q106's chi² test and the aggregate form of
    * q117's pairwise PMI (MI is the p(a,b)-weighted mean of PMI).
    * One (a,b) keyed count, two marginal dims + a 1-row total on
    * broadcasts, round-then-DECIMAL term sum — output is ONE row
    * `(mi_nats, n)` at any scale. Only observed cells contribute
    * (lim p→0 of p·ln p = 0, so empty cells are exact zeros — unlike
    * chi² there is no zero-cell correction to make).
    */
  def q154(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.events(spark, dir)
      .select(col("event_type").as("a"),
        (col("user_id") % 10).as("b"))
    val o = df.groupBy("a", "b").agg(count(lit(1)).as("n"))
    val ra = o.groupBy("a").agg(sum(col("n")).as("na"))
    val rb = o.groupBy("b").agg(sum(col("n")).as("nb"))
    val t = o.agg(sum(col("n")).as("nt"))
    val term = (col("n").cast("double") / col("nt").cast("double")) *
      log((col("n").cast("double") * col("nt").cast("double")) /
        (col("na").cast("double") * col("nb").cast("double")))
    o.join(broadcast(ra), "a").join(broadcast(rb), "b")
      .crossJoin(broadcast(t))
      .select(round(term, 9).cast("decimal(38,9)").as("__term"), col("nt"))
      .groupBy("nt")
      .agg(sum(col("__term")).cast("double").as("mi_nats"))
      .select(col("mi_nats"), col("nt").as("n"))
  }

  val q154Sql: String =
    """WITH d AS (
      | SELECT event_type AS a, user_id % 10 AS b FROM events),
      |o AS (SELECT a, b, count(*) AS n FROM d GROUP BY 1, 2),
      |ra AS (SELECT a, sum(n) AS na FROM o GROUP BY 1),
      |rb AS (SELECT b, sum(n) AS nb FROM o GROUP BY 1),
      |t AS (SELECT sum(n) AS nt FROM o)
      |SELECT CAST(sum(CAST(round(
      |  (CAST(n AS DOUBLE) / CAST(nt AS DOUBLE)) *
      |  ln((CAST(n AS DOUBLE) * CAST(nt AS DOUBLE)) /
      |     (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))), 9)
      |  AS DECIMAL(38, 9))) AS DOUBLE) AS mi_nats,
      | CAST(max(nt) AS BIGINT) AS n
      |FROM o JOIN ra USING (a) JOIN rb USING (b) CROSS JOIN t""".stripMargin

  // --------------------------------------------------------------- q155
  /** Record linkage ([[graft.ops.LinkageOps.jaroLinkagePairs]] on the
    * fused [[graft.functions.JaroWinkler]] expression): near-identical
    * customer names within a nation block at JW ≥ 0.95 — the
    * Fellegi–Sunter blocking+compare shape with the order-tolerant
    * scorer Levenshtein dedup (q76) lacks. Semantics are pinned to
    * DuckDB's `jaro_winkler_similarity` bit-for-bit (integer
    * transposition halving, 0.7 boost gate — probed and spec'd), so
    * the threshold decision AND the score replay exactly; the 0.95
    * cut sits in a fixture score gap (0.9431 / 0.9556), so no
    * boundary ulp can flip a pair. 1-in-10 customer subsample keeps
    * the within-block quadratic at oracle scale.
    */
  def q155(spark: SparkSession, dir: String): DataFrame =
    LinkageOps.jaroLinkagePairs(
      Tables.customer(spark, dir).filter(col("c_custkey") % 10 === 0),
      "c_name", "c_custkey", "c_nationkey", threshold = 0.95)

  val q155Sql: String =
    """WITH c AS (
      | SELECT * FROM customer WHERE c_custkey % 10 = 0)
      |SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
      | jaro_winkler_similarity(a.c_name, b.c_name) AS jw
      |FROM c a JOIN c b
      | ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      |WHERE jaro_winkler_similarity(a.c_name, b.c_name) >= 0.95""".stripMargin

  // --------------------------------------------------------------- q156
  /** Two-pass heavy hitters ([[graft.ops.SketchOps.heavyHitters]],
    * Misra–Gries candidates + exact recount): corpus tokens at ≥ 3.4%
    * frequency with exact counts. Pass 1's k-bounded buffers make the
    * only full-corpus scan shuffle `k × tasks` rows; the MG
    * no-false-negative guarantee (`minFrac > 1/(k+1)`) plus exact
    * pass-2 counts make the output deterministic, so the oracle is a
    * plain HAVING over exact counts — the sketch never leaks into the
    * result.
    */
  def q156(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(filter(split(col("text"), " "), t => t =!= ""))
        .as("tok"))
    SketchOps.heavyHitters(toks, "tok", k = 64, minFrac = 0.034)
  }

  val q156Sql: String =
    """WITH toks AS (
      | SELECT unnest(list_filter(string_split(text, ' '), tk -> tk <> ''))
      |  AS tok
      | FROM documents),
      |t AS (SELECT count(*) AS n FROM toks)
      |SELECT tok AS value, CAST(count(*) AS BIGINT) AS cnt
      |FROM toks CROSS JOIN t
      |GROUP BY tok, n HAVING count(*) >= ceil(n * 0.034)""".stripMargin

  // --------------------------------------------------------------- q157
  /** RFM customer segmentation ([[graft.ops.ProfileOps.rfmScores]],
    * quintiles): recency/frequency/monetary metrics and 1–5 quantile
    * scores per customer from orders — the classic value-segmentation
    * table. Scores come from range-partitioned sorted row indexes
    * (the gini pattern — NO single-partition ntile window), with
    * key tiebreaks so every bucket edge is deterministic; the oracle
    * replays them with `row_number()` global windows.
    */
  def q157(spark: SparkSession, dir: String): DataFrame =
    ProfileOps.rfmScores(
      Tables.orders(spark, dir), "o_custkey", "o_orderdate",
      "o_totalprice")

  val q157Sql: String =
    """WITH perkey AS (
      | SELECT o_custkey AS k, max(o_orderdate) AS last_ts,
      |  CAST(count(*) AS BIGINT) AS frequency,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(38, 6))) AS DOUBLE)
      |   AS monetary
      | FROM orders GROUP BY 1),
      |mx AS (SELECT max(o_orderdate) AS mts FROM orders),
      |base AS (
      | SELECT k, CAST(datediff('day', CAST(last_ts AS DATE),
      |   CAST(mts AS DATE)) AS INT) AS recency_days,
      |  frequency, monetary
      | FROM perkey CROSS JOIN mx),
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM base),
      |r AS (
      | SELECT k, CAST(floor(CAST(row_number() OVER
      |   (ORDER BY recency_days DESC, k) - 1 AS DOUBLE) * 5 / n)
      |   AS INT) + 1 AS r_score
      | FROM base CROSS JOIN nn),
      |f AS (
      | SELECT k, CAST(floor(CAST(row_number() OVER
      |   (ORDER BY frequency ASC, k) - 1 AS DOUBLE) * 5 / n)
      |   AS INT) + 1 AS f_score
      | FROM base CROSS JOIN nn),
      |m AS (
      | SELECT k, CAST(floor(CAST(row_number() OVER
      |   (ORDER BY monetary ASC, k) - 1 AS DOUBLE) * 5 / n)
      |   AS INT) + 1 AS m_score
      | FROM base CROSS JOIN nn)
      |SELECT base.k AS o_custkey, recency_days, frequency, monetary,
      | r_score, f_score, m_score,
      | r_score * 100 + f_score * 10 + m_score AS segment
      |FROM base JOIN r USING (k) JOIN f USING (k) JOIN m USING (k)"""
      .stripMargin

  // --------------------------------------------------------------- q158
  /** Exact weighted median ([[graft.ops.StatsOps.weightedQuantile]],
    * q = 0.5): per return flag, the extended price whose cumulative
    * QUANTITY weight reaches half the total — the value a plain
    * median misstates when rows carry different volumes. RANGE-frame
    * cumulative sums make ties order-free; weights run exact through
    * DECIMAL.
    */
  def q158(spark: SparkSession, dir: String): DataFrame =
    StatsOps.weightedQuantile(
      Tables.lineitem(spark, dir), "l_returnflag", "l_extendedprice",
      "l_quantity", q = 0.5)

  /** `c`: each (k, v) row of `clean` with its key's cumulative weight
    * `cum` up to v (RANGE frame, ties together) and total `tot` — the
    * weighted-quantile scan of q158 and q170.
    */
  private val weightedCumSql: String =
    """c AS (
      | SELECT k, v,
      |  CAST(sum(w) OVER (PARTITION BY k ORDER BY v
      |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |   AS cum,
      |  CAST(sum(w) OVER (PARTITION BY k) AS DOUBLE) AS tot
      | FROM clean)""".stripMargin

  val q158Sql: String =
    s"""WITH clean AS (
      | SELECT l_returnflag AS k, CAST(l_extendedprice AS DOUBLE) AS v,
      |  CAST(l_quantity AS DECIMAL(38, 6)) AS w
      | FROM lineitem
      | WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
      |  AND l_quantity > 0),
      |$weightedCumSql
      |SELECT k AS l_returnflag, min(v) AS weighted_quantile,
      | max(tot) AS total_weight
      |FROM c WHERE cum >= tot * 0.5 GROUP BY 1""".stripMargin

  // --------------------------------------------------------------- q159
  /** Two-proportion z-test ([[graft.ops.StatsOps.twoProportionZ]]):
    * user-level conversion (≥ 14 purchases) between the even/odd
    * user-id variants — the A/B readout derived entirely from four
    * integer counts, one row, pooled z in a single pinned double
    * expression.
    */
  def q159(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("np"))
      .select(when(col("user_id") % 2 === 0, "A").otherwise("B")
        .as("variant"), (col("np") >= 14).as("converted"))
    StatsOps.twoProportionZ(users, "variant", "converted")
  }

  /** [[graft.ops.StatsOps.twoProportionZ]] over `v` (variant,
    * converted): per-variant counts `a`, the first variant `p`, both
    * variants side by side `w`, and the pooled two-proportion z row —
    * q159 and q210.
    */
  private val twoProportionZSql: String =
    """a AS (
      | SELECT variant, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS s
      | FROM v GROUP BY 1),
      |p AS (SELECT min(variant) AS v1 FROM a),
      |w AS (
      | SELECT p.v1,
      |  max(CASE WHEN variant = v1 THEN n END) AS n1,
      |  max(CASE WHEN variant = v1 THEN s END) AS s1,
      |  max(CASE WHEN variant <> v1 THEN variant END) AS v2,
      |  max(CASE WHEN variant <> v1 THEN n END) AS n2,
      |  max(CASE WHEN variant <> v1 THEN s END) AS s2
      | FROM a CROSS JOIN p GROUP BY p.v1)
      |SELECT v1 AS variant1, v2 AS variant2, n1, s1, n2, s2,
      | CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
      | CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS p2,
      | (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
      |  CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) /
      | sqrt(((CAST(s1 AS DOUBLE) + CAST(s2 AS DOUBLE)) /
      |       (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))) *
      |  (1.0 - (CAST(s1 AS DOUBLE) + CAST(s2 AS DOUBLE)) /
      |         (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))) *
      |  (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))) AS z
      |FROM w""".stripMargin

  val q159Sql: String =
    s"""WITH u AS (
      | SELECT user_id, sum(CASE WHEN event_type = 'purchase'
      |    THEN 1 ELSE 0 END) AS np
      | FROM events GROUP BY 1),
      |v AS (
      | SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
      |  np >= 14 AS converted
      | FROM u),
      |$twoProportionZSql""".stripMargin

  // --------------------------------------------------------------- q160
  /** Item-to-item neighbors ([[graft.ops.BasketOps.itemNeighbors]],
    * top-3 by basket-set cosine): the "people who did A also did B"
    * recommender table on q98's pair machinery plus one item-keyed
    * rank window; neighbor-id tiebreaks pin the cut.
    */
  def q160(spark: SparkSession, dir: String): DataFrame =
    BasketOps.itemNeighbors(
      Tables.events(spark, dir)
        .withColumn("day",
          floor(unix_micros(col("ts")) / lit(86400000000L))),
      Seq("user_id", "day"), "event_type", k = 3)

  /** Over the (user, day, item) observations `obs` and item counts
    * `ic`: the co-occurrence count `n_ab` of each ordered item pair
    * (`p`) and its cosine score (`sc`) — q160 and q180.
    */
  private val itemPairScoreSql: String =
    """p AS (
      | SELECT a.item AS item_a, b.item AS item_b,
      |  CAST(count(*) AS BIGINT) AS n_ab
      | FROM obs a JOIN obs b ON a.user_id = b.user_id AND a.day = b.day
      |  AND a.item <> b.item
      | GROUP BY 1, 2),
      |sc AS (
      | SELECT item_a, item_b, n_ab,
      |  CAST(n_ab AS DOUBLE) /
      |   sqrt(CAST(ia.n_i AS DOUBLE) * CAST(ib.n_i AS DOUBLE)) AS score
      | FROM p JOIN ic ia ON p.item_a = ia.item
      |        JOIN ic ib ON p.item_b = ib.item)""".stripMargin

  val q160Sql: String =
    s"""WITH obs AS (
      | SELECT DISTINCT user_id,
      |  CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
      |  event_type AS item
      | FROM events),
      |ic AS (SELECT item, CAST(count(*) AS BIGINT) AS n_i FROM obs GROUP BY 1),
      |$itemPairScoreSql,
      |rk AS (
      | SELECT item_a, item_b, n_ab, score, CAST(row_number() OVER
      |   (PARTITION BY item_a ORDER BY score DESC, item_b) AS INT) AS rk
      | FROM sc)
      |SELECT item_a AS item, item_b AS neighbor, n_ab, score, rk AS rank
      |FROM rk WHERE rk <= 3""".stripMargin

  // --------------------------------------------------------------- q161
  /** CDC MERGE-APPLY ([[graft.ops.DiffOps.applyChanges]]): a
    * deterministic upsert/delete log derived from orders folds into
    * the customer snapshot — latest change per key wins (full
    * tiebreak chain), `D` drops, upserts of absent keys insert,
    * untouched rows pass through. One keyed window over the log + one
    * co-partitioned full-outer join; the output IS the next snapshot.
    */
  def q161(spark: SparkSession, dir: String): DataFrame = {
    val changes = Tables.orders(spark, dir)
      .filter(col("o_custkey") % 5 === 0)
      .select(
        (col("o_custkey") + when(col("o_orderkey") % 7 === 0, 20000L)
          .otherwise(0L)).as("c_custkey"),
        col("o_orderdate").as("ts"),
        when(col("o_orderkey") % 10 < 2, "D").otherwise("U").as("op"),
        concat(lit("upd#"), col("o_orderkey")).as("c_name"),
        col("o_totalprice").as("c_acctbal"))
    DiffOps.applyChanges(
      Tables.customer(spark, dir).select("c_custkey", "c_name", "c_acctbal"),
      changes, "c_custkey", "ts", "op", Seq("c_name", "c_acctbal"))
  }

  val q161Sql: String =
    """WITH ch0 AS (
      | SELECT CASE WHEN o_orderkey % 7 = 0 THEN o_custkey + 20000
      |   ELSE o_custkey END AS k,
      |  o_orderdate AS ts,
      |  CASE WHEN o_orderkey % 10 < 2 THEN 'D' ELSE 'U' END AS op,
      |  'upd#' || o_orderkey AS name, o_totalprice AS bal
      | FROM orders WHERE o_custkey % 5 = 0),
      |latest AS (
      | SELECT k, op, name, bal FROM (
      |  SELECT *, row_number() OVER (PARTITION BY k
      |    ORDER BY ts DESC, op DESC, name DESC, bal DESC) AS rn
      |  FROM ch0) WHERE rn = 1)
      |SELECT coalesce(b.c_custkey, l.k) AS c_custkey,
      | CASE WHEN l.op IS NOT NULL THEN l.name ELSE b.c_name END AS c_name,
      | CASE WHEN l.op IS NOT NULL THEN l.bal ELSE b.c_acctbal END
      |  AS c_acctbal
      |FROM customer b FULL OUTER JOIN latest l ON b.c_custkey = l.k
      |WHERE l.op IS NULL OR l.op <> 'D'""".stripMargin

  // --------------------------------------------------------------- q162
  /** Group-wise OLS ([[graft.ops.StatsOps.groupwiseRegression]]):
    * price-vs-quantity slope, intercept, and r² per return flag from
    * one keyed aggregation of round-then-DECIMAL sufficient
    * statistics (the q132 covariance parity pattern) and pinned
    * closed-form double expressions.
    */
  def q162(spark: SparkSession, dir: String): DataFrame =
    StatsOps.groupwiseRegression(
      Tables.lineitem(spark, dir), "l_returnflag", "l_quantity",
      "l_extendedprice")

  val q162Sql: String =
    """WITH a AS (
      | SELECT l_returnflag AS k, CAST(count(*) AS BIGINT) AS n,
      |  sum(CAST(round(CAST(l_quantity AS DOUBLE), 9)
      |    AS DECIMAL(38, 9))) AS sx,
      |  sum(CAST(round(CAST(l_extendedprice AS DOUBLE), 9)
      |    AS DECIMAL(38, 9))) AS sy,
      |  sum(CAST(round(CAST(l_quantity AS DOUBLE) *
      |    CAST(l_extendedprice AS DOUBLE), 9) AS DECIMAL(38, 9))) AS sxy,
      |  sum(CAST(round(CAST(l_quantity AS DOUBLE) *
      |    CAST(l_quantity AS DOUBLE), 9) AS DECIMAL(38, 9))) AS sxx,
      |  sum(CAST(round(CAST(l_extendedprice AS DOUBLE) *
      |    CAST(l_extendedprice AS DOUBLE), 9) AS DECIMAL(38, 9))) AS syy
      | FROM lineitem
      | WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
      | GROUP BY 1),
      |d AS (
      | SELECT k, n, CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
      |  CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
      |  CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
      | FROM a),
      |e AS (
      | SELECT k, n, nd, sxd, syd,
      |  nd * sxyd - sxd * syd AS cov,
      |  nd * sxxd - sxd * sxd AS denx,
      |  nd * syyd - syd * syd AS deny
      | FROM d)
      |SELECT k AS l_returnflag, n,
      | CASE WHEN denx > 0 THEN cov / denx END AS slope,
      | CASE WHEN denx > 0 THEN (syd - (cov / denx) * sxd) / nd END
      |  AS intercept,
      | CASE WHEN denx > 0 AND deny > 0 THEN (cov * cov) / (denx * deny)
      |  END AS r2
      |FROM e""".stripMargin

  // --------------------------------------------------------------- q163
  /** Unicode canonicalization ([[graft.functions.NfcNormalize]] /
    * [[graft.functions.StripAccents]]): NFC composition and
    * accent-strip (NFD → drop Mn → NFC recompose) over a pinned
    * unicode literal set — composed/decomposed é forms, fullwidth
    * katakana (NOT folded: no NFKC), Hangul (recomposition visible),
    * stacked marks. Semantics probed equal to DuckDB's
    * `nfc_normalize`/`strip_accents`, so the oracle calls those
    * directly on the same literals. The fixture corpus is ASCII, so
    * literals are the honest way to exercise the unicode paths
    * cross-engine.
    */
  def q163(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Seq("caf\u00e9", "cafe\u0301", "\u00c5ngstr\u00f6m",
        "na\u00efve \u00e9t\u00e9",
        "\uff76\uff80\uff76\uff85 \uff21\uff22\uff23",
        "\ud55c\uad6d\uc5b4",
        "\u1e09\u1ec7 \u03a3\u03af\u03c3",
        "plain ascii")
      .toDF("s")
      .select(col("s"),
        graft.functions.UnicodeNorm.nfcNormalize(col("s")).as("nfc"),
        graft.functions.UnicodeNorm.stripAccentsCol(col("s")).as("stripped"))
  }

  val q163Sql: String =
    """SELECT s, nfc_normalize(s) AS nfc, strip_accents(s) AS stripped
      |FROM (VALUES ('caf' || chr(233)), ('cafe' || chr(769)),
      | (chr(197) || 'ngstr' || chr(246) || 'm'),
      | ('na' || chr(239) || 've ' || chr(233) || 't' || chr(233)),
      | (chr(65398) || chr(65408) || chr(65398) || chr(65413) || ' ' ||
      |  chr(65313) || chr(65314) || chr(65315)),
      | (chr(54620) || chr(44397) || chr(50612)),
      | (chr(7689) || chr(7879) || ' ' || chr(931) || chr(943) || chr(963)),
      | ('plain ascii')) t(s)""".stripMargin

  // --------------------------------------------------------------- q164
  /** Benford first-digit audit
    * ([[graft.ops.StatsOps.benfordDeviation]]) over order totals:
    * per-digit observed vs `log10(1+1/d)` shares, deviations, and the
    * Nigrini MAD on every row. Digit extraction is string-exact
    * (shortest-roundtrip formatting agrees cross-engine on leading
    * digits); the oracle composes the expectation as ln/ln exactly
    * like Spark's two-argument log.
    */
  def q164(spark: SparkSession, dir: String): DataFrame =
    StatsOps.benfordDeviation(Tables.orders(spark, dir), "o_totalprice")

  val q164Sql: String =
    """WITH o AS (
      | SELECT CAST(substr(regexp_replace(
      |    CAST(abs(o_totalprice) AS VARCHAR), '[0.]*', '', 'g'), 1, 1)
      |   AS INT) AS d
      | FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0),
      |c AS (
      | SELECT d, CAST(count(*) AS BIGINT) AS n FROM o
      | WHERE d BETWEEN 1 AND 9 GROUP BY 1),
      |t AS (SELECT sum(n) AS tot FROM c),
      |dev AS (
      | SELECT d, n,
      |  CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS observed,
      |  ln(1.0 + 1.0 / CAST(d AS DOUBLE)) / ln(10.0) AS expected,
      |  CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) -
      |   ln(1.0 + 1.0 / CAST(d AS DOUBLE)) / ln(10.0) AS deviation
      | FROM c CROSS JOIN t),
      |m AS (
      | SELECT CAST(sum(CAST(round(abs(deviation), 9) AS DECIMAL(38, 9)))
      |   AS DOUBLE) / 9.0 AS mad
      | FROM dev)
      |SELECT d, n, observed, expected, deviation, mad
      |FROM dev CROSS JOIN m""".stripMargin

  // --------------------------------------------------------------- q165
  /** Welch's t-test ([[graft.ops.StatsOps.welchTTest]]): mean order
    * value between even/odd customer-key variants — the
    * continuous-metric A/B readout beside q159's proportions, from
    * round-then-DECIMAL sufficient statistics and pinned double
    * closed forms (incl. the Welch–Satterthwaite df).
    */
  def q165(spark: SparkSession, dir: String): DataFrame =
    StatsOps.welchTTest(
      Tables.orders(spark, dir)
        .select(when(col("o_custkey") % 2 === 0, "A").otherwise("B")
          .as("variant"),
          // metric in 100k-price units: keeps the DECIMAL sufficient
          // statistics near unit scale so the decimal->double cast is
          // ulp-safe cross-engine (t and df are scale-invariant)
          (col("o_totalprice") / lit(100000.0)).as("x")),
      "variant", "x")

  val q165Sql: String =
    """WITH agg AS (
      | SELECT CASE WHEN o_custkey % 2 = 0 THEN 'A' ELSE 'B' END AS v,
      |  CAST(count(*) AS BIGINT) AS n,
      |  sum(CAST(round(CAST(o_totalprice AS DOUBLE) / 100000.0, 9)
      |    AS DECIMAL(38, 9))) AS sx,
      |  sum(CAST(round((CAST(o_totalprice AS DOUBLE) / 100000.0) *
      |    (CAST(o_totalprice AS DOUBLE) / 100000.0), 9)
      |    AS DECIMAL(38, 9))) AS sxx
      | FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
      |p AS (SELECT min(v) AS v1 FROM agg),
      |w AS (
      | SELECT p.v1,
      |  max(CASE WHEN v = v1 THEN n END) AS n1,
      |  max(CASE WHEN v = v1 THEN sx END) AS sx1,
      |  max(CASE WHEN v = v1 THEN sxx END) AS sxx1,
      |  max(CASE WHEN v <> v1 THEN v END) AS v2,
      |  max(CASE WHEN v <> v1 THEN n END) AS n2,
      |  max(CASE WHEN v <> v1 THEN sx END) AS sx2,
      |  max(CASE WHEN v <> v1 THEN sxx END) AS sxx2
      | FROM agg CROSS JOIN p GROUP BY p.v1),
      |e AS (
      | SELECT v1, v2, n1, n2,
      |  CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
      |  CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
      |  (CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE)
      |    / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) AS va1,
      |  (CAST(sxx2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE)
      |    / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0) AS va2
      | FROM w),
      |f AS (
      | SELECT v1, v2, n1, n2, m1, m2, va1, va2,
      |  va1 / CAST(n1 AS DOUBLE) AS se1, va2 / CAST(n2 AS DOUBLE) AS se2
      | FROM e)
      |SELECT v1 AS variant1, v2 AS variant2, n1, n2,
      | m1 AS mean1, m2 AS mean2, va1 AS var1, va2 AS var2,
      | (m1 - m2) / sqrt(se1 + se2) AS t,
      | (se1 + se2) * (se1 + se2) /
      |  (se1 * se1 / (CAST(n1 AS DOUBLE) - 1.0) +
      |   se2 * se2 / (CAST(n2 AS DOUBLE) - 1.0)) AS df
      |FROM f""".stripMargin

  // --------------------------------------------------------------- q166
  /** Kaplan–Meier survival ([[graft.ops.SessionOps.kaplanMeier]]):
    * per first-seen-week cohort, the churn-corrected survival curve
    * over user lifetimes (duration = first→last activity days; a user
    * whose last event is within 1 day of the corpus edge is CENSORED,
    * not churned — the distinction a naive retention ratio misses).
    * The cumulative product replays as an exact DECIMAL ln-cumsum
    * with a zero-factor flag; one keyed count + two cohort-keyed
    * windows.
    */
  def q166(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val mx = e.agg(max(col("ts")).as("__mx"))
    val subj = e.groupBy(col("user_id"))
      .agg(min(col("ts")).as("f"), max(col("ts")).as("l"))
      .crossJoin(broadcast(mx))
      .select(
        floor(unix_micros(col("f")) / lit(604800000000.0)).as("cohort"),
        floor((unix_micros(col("l")) - unix_micros(col("f"))) /
          lit(86400000000.0)).as("dur"),
        when(unix_micros(col("l")) <
          unix_micros(col("__mx")) - lit(86400000000L), 1).otherwise(0)
          .as("ev"))
    SessionOps.kaplanMeier(subj, "cohort", "dur", "ev")
  }

  val q166Sql: String =
    """WITH mx AS (SELECT max(ts) AS m FROM events),
      |subj AS (
      | SELECT
      |  CAST(floor(epoch_us(min(ts)) / 604800000000.0) AS BIGINT)
      |   AS cohort,
      |  CAST(floor((epoch_us(max(ts)) - epoch_us(min(ts)))
      |   / 86400000000.0) AS BIGINT) AS t,
      |  CASE WHEN epoch_us(max(ts)) < epoch_us(max(m)) - 86400000000
      |   THEN 1 ELSE 0 END AS ev
      | FROM events CROSS JOIN mx GROUP BY user_id, m),
      |g AS (
      | SELECT cohort, t,
      |  CAST(sum(CASE WHEN ev = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |  CAST(count(*) AS BIGINT) AS n_obs
      | FROM subj GROUP BY 1, 2),
      |r AS (
      | SELECT *, CAST(sum(n_obs) OVER (PARTITION BY cohort) -
      |  coalesce(sum(n_obs) OVER (PARTITION BY cohort ORDER BY t
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |  AS BIGINT) AS n_risk
      | FROM g),
      |f AS (
      | SELECT *, 1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)
      |  AS fac FROM r),
      |z AS (
      | SELECT *,
      |  max(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER
      |   (PARTITION BY cohort ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zs,
      |  sum(CASE WHEN d > 0 AND d < n_risk
      |    THEN CAST(round(ln(fac), 9) AS DECIMAL(38, 9)) END) OVER
      |   (PARTITION BY cohort ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnsum
      | FROM f)
      |SELECT cohort, t, n_risk, d AS d_events,
      | n_obs - d AS n_censored,
      | CASE WHEN zs = 1 THEN 0.0
      |  ELSE exp(coalesce(CAST(lnsum AS DOUBLE), 0.0)) END AS survival
      |FROM z""".stripMargin

  // --------------------------------------------------------------- q167
  /** Cohort LTV curve ([[graft.ops.FunnelOps.cohortLtv]], weekly
    * buckets): cumulative purchase value per user by cohort age — the
    * payback table beside q87's retention grid. Revenue runs exact
    * through DECIMAL; the running sum is one cohort-keyed window over
    * the |cohorts|×|ages| grid.
    */
  def q167(spark: SparkSession, dir: String): DataFrame =
    FunnelOps.cohortLtv(Tables.events(spark, dir), "user_id", "ts",
      "value", revenueType = "purchase", typeCol = "event_type",
      bucketSeconds = 604800L)

  val q167Sql: String =
    """WITH fs AS (
      | SELECT user_id,
      |  CAST(floor(epoch_us(min(ts)) / 604800000000) AS BIGINT) AS cohort
      | FROM events GROUP BY 1),
      |sz AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_users
      |       FROM fs GROUP BY 1),
      |g AS (
      | SELECT fs.cohort,
      |  CAST(floor(epoch_us(e.ts) / 604800000000) AS BIGINT) - fs.cohort
      |   AS age,
      |  sum(CASE WHEN e.event_type = 'purchase'
      |   THEN CAST(round(CAST(e.value AS DOUBLE), 6) AS DECIMAL(38, 6))
      |   ELSE CAST(0 AS DECIMAL(38, 6)) END) AS rev
      | FROM events e JOIN fs USING (user_id)
      | GROUP BY 1, 2),
      |c AS (
      | SELECT cohort, age, rev,
      |  sum(rev) OVER (PARTITION BY cohort ORDER BY age
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      | FROM g)
      |SELECT c.cohort, c.age, sz.n_users,
      | CAST(rev AS DOUBLE) AS revenue,
      | CAST(cum AS DOUBLE) / CAST(sz.n_users AS DOUBLE)
      |  AS cum_ltv_per_user
      |FROM c JOIN sz USING (cohort)""".stripMargin

  // --------------------------------------------------------------- q168
  /** Forward-fill null repair ([[graft.ops.TrendOps.fillForward]]):
    * nulls planted deterministically in the event values (2-in-5 by
    * id) are repaired with the latest prior non-null per user —
    * leading nulls stay null (no back-fill: inventing a past from the
    * future is a leak). One keyed sort; the oracle is the same
    * IGNORE NULLS running window.
    */
  def q168(spark: SparkSession, dir: String): DataFrame = {
    val holey = Tables.events(spark, dir)
      .withColumn("v", when(pmod(col("event_id"), lit(5)) < 2,
        lit(null).cast("double")).otherwise(col("value")))
    TrendOps.fillForward(holey, "user_id", "ts", Seq("v"))
      .select("event_id", "user_id", "v")
  }

  val q168Sql: String =
    """SELECT event_id, user_id,
      | last_value(CASE WHEN event_id % 5 < 2 THEN NULL ELSE value END
      |  IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
      |FROM events""".stripMargin

  // --------------------------------------------------------------- q169
  /** Top-N + OTHER contribution
    * ([[graft.ops.ProfileOps.topNWithOther]], n = 5): document
    * character volume by source, top five named, the tail collapsed
    * to `__other__`, with shares and cumulative shares — the ≤ n+1
    * row corpus-composition report. Sums are exact DECIMAL; the rank
    * and cumulative windows run on the |categories| dim (documented
    * report-dim window contract).
    */
  def q169(spark: SparkSession, dir: String): DataFrame =
    ProfileOps.topNWithOther(
      Tables.documents(spark, dir), "source", "n_chars", n = 5)

  val q169Sql: String =
    """WITH sums AS (
      | SELECT CAST(source AS VARCHAR) AS category,
      |  sum(CAST(round(CAST(n_chars AS DOUBLE), 6) AS DECIMAL(38, 6)))
      |   AS v
      | FROM documents GROUP BY 1),
      |rk AS (
      | SELECT *, CAST(row_number() OVER (ORDER BY v DESC, category)
      |   AS INT) AS rk
      | FROM sums),
      |coll AS (
      | SELECT CASE WHEN rk <= 5 THEN category ELSE '__other__' END
      |   AS category,
      |  sum(v) AS v, min(rk) AS rk
      | FROM rk GROUP BY 1),
      |t AS (SELECT sum(v) AS tot FROM coll),
      |c AS (
      | SELECT *, sum(v) OVER (ORDER BY rk
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      | FROM coll)
      |SELECT category, rk AS rank, CAST(v AS DOUBLE) AS total,
      | CAST(v AS DOUBLE) / CAST(tot AS DOUBLE) AS share,
      | CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) AS cum_share
      |FROM c CROSS JOIN t""".stripMargin

  // --------------------------------------------------------------- q170
  /** Winsorized means ([[graft.ops.StatsOps.winsorize]], [p10, p90]):
    * per return flag the raw vs outlier-capped average price with the
    * clamp bounds and tail counts — the robust-mean cleaning step.
    * Bounds are exact lower-edge quantiles (unit-weight
    * [[graft.ops.StatsOps.weightedQuantile]]); averages are
    * round-then-DECIMAL sums over one double division.
    */
  def q170(spark: SparkSession, dir: String): DataFrame = {
    def dsum(c: org.apache.spark.sql.Column) =
      sum(round(c, 6).cast("decimal(38,6)")).cast("double")
    StatsOps.winsorize(
        Tables.lineitem(spark, dir).select("l_returnflag", "l_extendedprice"),
        "l_returnflag", "l_extendedprice", pLo = 0.1, pHi = 0.9)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        min(col("p_lo")).as("p_lo"), min(col("p_hi")).as("p_hi"),
        (dsum(col("l_extendedprice").cast("double")) /
          count(lit(1)).cast("double")).as("avg_raw"),
        (dsum(col("winsorized")) / count(lit(1)).cast("double"))
          .as("avg_winsorized"),
        sum(when(col("l_extendedprice") < col("p_lo"), 1L).otherwise(0L))
          .as("n_clamped_low"),
        sum(when(col("l_extendedprice") > col("p_hi"), 1L).otherwise(0L))
          .as("n_clamped_high"))
  }

  /** `name`: each row of `from` with its key's row count `cum` up to
    * its `col` value (RANGE frame, ties together) and total `tot` —
    * the exact lower-edge quantile scan of the robust-statistics rows.
    */
  private def countCumSql(name: String, col: String, from: String): String =
    s"""$name AS (
      | SELECT k, $col,
      |  CAST(sum(CAST(1.0 AS DECIMAL(38, 6))) OVER (PARTITION BY k
      |    ORDER BY $col RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |   AS DOUBLE) AS cum,
      |  CAST(sum(CAST(1.0 AS DECIMAL(38, 6))) OVER (PARTITION BY k)
      |   AS DOUBLE) AS tot
      | FROM $from)""".stripMargin

  val q170Sql: String =
    s"""WITH clean AS (
      | SELECT l_returnflag AS k, CAST(l_extendedprice AS DOUBLE) AS v,
      |  CAST(1.0 AS DECIMAL(38, 6)) AS w
      | FROM lineitem
      | WHERE l_extendedprice IS NOT NULL),
      |$weightedCumSql,
      |lo AS (
      | SELECT k, min(v) AS p_lo FROM c WHERE cum >= tot * 0.1 GROUP BY 1),
      |hi AS (
      | SELECT k, min(v) AS p_hi FROM c WHERE cum >= tot * 0.9 GROUP BY 1),
      |j AS (
      | SELECT li.l_returnflag AS k, CAST(l_extendedprice AS DOUBLE) AS v,
      |  lo.p_lo, hi.p_hi,
      |  least(greatest(CAST(l_extendedprice AS DOUBLE), lo.p_lo), hi.p_hi)
      |   AS wz
      | FROM lineitem li JOIN lo ON li.l_returnflag = lo.k
      |  JOIN hi ON li.l_returnflag = hi.k)
      |SELECT k AS l_returnflag, CAST(count(*) AS BIGINT) AS n,
      | min(p_lo) AS p_lo, min(p_hi) AS p_hi,
      | CAST(sum(CAST(round(v, 6) AS DECIMAL(38, 6))) AS DOUBLE)
      |  / CAST(count(*) AS DOUBLE) AS avg_raw,
      | CAST(sum(CAST(round(wz, 6) AS DECIMAL(38, 6))) AS DOUBLE)
      |  / CAST(count(*) AS DOUBLE) AS avg_winsorized,
      | CAST(sum(CASE WHEN v < p_lo THEN 1 ELSE 0 END) AS BIGINT)
      |  AS n_clamped_low,
      | CAST(sum(CASE WHEN v > p_hi THEN 1 ELSE 0 END) AS BIGINT)
      |  AS n_clamped_high
      |FROM j GROUP BY 1""".stripMargin

  // --------------------------------------------------------------- q171
  /** Mann–Whitney U rank-sum test
    * ([[graft.ops.StatsOps.mannWhitneyU]]): click vs purchase event
    * values, floored so tie blocks are dense and the tie-corrected
    * variance path is exercised. The rank algebra runs on integer
    * tie-group counts (2·R₁ stays integral), so the statistic replays
    * exactly; the cumulative count rides the range-partitioned
    * [[graft.ops.StatsOps.runningTotals]] prefix — no unpartitioned
    * window even with millions of distinct metric values.
    */
  def q171(spark: SparkSession, dir: String): DataFrame =
    StatsOps.mannWhitneyU(
      Tables.events(spark, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("metric", floor(col("value").cast("double"))),
      "event_type", "metric")

  val q171Sql: String =
    """WITH base AS (
      | SELECT event_type AS v,
      |  CAST(floor(CAST(value AS DOUBLE)) AS DOUBLE) AS x
      | FROM events WHERE event_type IN ('click', 'purchase')),
      |lab AS (SELECT min(v) AS v1, max(v) AS v2 FROM base),
      |c AS (
      | SELECT x, CAST(count(*) AS BIGINT) AS t,
      |  CAST(sum(CASE WHEN v = (SELECT v1 FROM lab) THEN 1 ELSE 0 END)
      |   AS BIGINT) AS na
      | FROM base GROUP BY 1),
      |w AS (
      | SELECT x, t, na,
      |  sum(t) OVER (ORDER BY x
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      | FROM c),
      |s AS (
      | SELECT CAST(sum(na) AS BIGINT) AS n1,
      |  CAST(sum(t - na) AS BIGINT) AS n2,
      |  CAST(sum(na * (2 * cum - t + 1)) AS DOUBLE) AS r2x,
      |  CAST(sum(t * t * t - t) AS DOUBLE) AS ties
      | FROM w),
      |e AS (
      | SELECT n1, n2, r2x, ties,
      |  CAST(n1 AS DOUBLE) AS dn1, CAST(n2 AS DOUBLE) AS dn2,
      |  CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) AS bn
      | FROM s),
      |f AS (
      | SELECT n1, n2, dn1, dn2, bn,
      |  r2x / 2.0 - dn1 * (dn1 + 1.0) / 2.0 AS u1,
      |  dn1 * dn2 / 2.0 AS mu,
      |  dn1 * dn2 / 12.0 * ((bn + 1.0) - ties / (bn * (bn - 1.0))) AS s2
      | FROM e)
      |SELECT lab.v1 AS variant1, lab.v2 AS variant2, n1, n2, u1,
      | CASE WHEN s2 > 0 THEN (u1 - mu) / sqrt(s2) END AS z,
      | 1.0 - 2.0 * u1 / (dn1 * dn2) AS r_rank_biserial
      |FROM f CROSS JOIN lab""".stripMargin

  // --------------------------------------------------------------- q172
  /** MAD robust outlier gate ([[graft.ops.StatsOps.madOutliers]],
    * modified z threshold 3.5): per return flag the median/MAD pair
    * and the outlier census over extended prices. Both centers are
    * exact lower-edge quantiles (the q170 convention), so the flags
    * replay bit-level.
    */
  def q172(spark: SparkSession, dir: String): DataFrame =
    StatsOps.madOutliers(
      Tables.lineitem(spark, dir).select("l_returnflag", "l_extendedprice"),
      "l_returnflag", "l_extendedprice")

  val q172Sql: String =
    s"""WITH clean AS (
      | SELECT l_returnflag AS k, CAST(l_extendedprice AS DOUBLE) AS v
      | FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |${countCumSql("c1", "v", "clean")},
      |med AS (
      | SELECT k, min(v) AS med FROM c1 WHERE cum >= tot * 0.5 GROUP BY 1),
      |dev AS (
      | SELECT clean.k, v, med, abs(v - med) AS ad
      | FROM clean JOIN med USING (k)),
      |${countCumSql("c2", "ad", "dev")},
      |mad AS (
      | SELECT k, min(ad) AS mad FROM c2 WHERE cum >= tot * 0.5 GROUP BY 1),
      |j AS (
      | SELECT dev.k, v, dev.med, mad.mad FROM dev JOIN mad USING (k))
      |SELECT k AS l_returnflag, CAST(count(*) AS BIGINT) AS n,
      | min(med) AS median, min(mad) AS mad,
      | CASE WHEN min(mad) > 0 THEN
      |  CAST(sum(CASE WHEN abs(0.6745 * (v - med) / mad) > 3.5
      |   THEN 1 ELSE 0 END) AS BIGINT) END AS n_outliers,
      | max(CASE WHEN mad > 0 THEN abs(0.6745 * (v - med) / mad) END)
      |  AS max_abs_z
      |FROM j GROUP BY 1""".stripMargin

  // --------------------------------------------------------------- q173
  /** Autocorrelation of daily revenue per return flag
    * ([[graft.ops.TrendOps.acfByKey]], lags 1–7): the seasonality
    * probe. Pairs come from an exact-offset keyed self-join (gaps
    * contribute no pair — never a misaligned row-lag); means and both
    * deviation sums run round-then-DECIMAL.
    */
  def q173(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"),
        floor(unix_micros(col("l_shipdate")
          .cast(org.apache.spark.sql.types.TimestampType)) /
          lit(86400000000L)).as("day"))
      .agg(sum(round(col("l_extendedprice").cast("double"), 6)
        .cast("decimal(38,6)")).cast("double").as("rev"))
    TrendOps.acfByKey(daily, "l_returnflag", "day", "rev", maxLag = 7)
  }

  val q173Sql: String =
    """WITH s AS (
      | SELECT l_returnflag AS k,
      |  CAST(floor(epoch_us(l_shipdate) / 86400000000) AS BIGINT)
      |   AS idx,
      |  CAST(sum(CAST(round(CAST(l_extendedprice AS DOUBLE), 6)
      |   AS DECIMAL(38, 6))) AS DOUBLE) AS x
      | FROM lineitem GROUP BY 1, 2),
      |st AS (
      | SELECT k, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(x, 6) AS DECIMAL(38, 6))) AS DOUBLE)
      |   / CAST(count(*) AS DOUBLE) AS m
      | FROM s GROUP BY 1),
      |d AS (SELECT s.k, idx, x - m AS dv FROM s JOIN st USING (k)),
      |den AS (
      | SELECT k, CAST(sum(CAST(round(dv * dv, 9) AS DECIMAL(38, 9)))
      |  AS DOUBLE) AS den
      | FROM d GROUP BY 1),
      |lags AS (SELECT unnest(generate_series(1, 7)) AS lag_k),
      |num AS (
      | SELECT a.k, l.lag_k, CAST(count(*) AS BIGINT) AS np,
      |  CAST(sum(CAST(round(a.dv * b.dv, 9) AS DECIMAL(38, 9)))
      |   AS DOUBLE) AS num
      | FROM d a CROSS JOIN lags l
      |  JOIN d b ON b.k = a.k AND b.idx = a.idx + l.lag_k
      | GROUP BY 1, 2),
      |grid AS (
      | SELECT st.k, l.lag_k, den.den
      | FROM st CROSS JOIN lags l JOIN den ON den.k = st.k)
      |SELECT g.k AS l_returnflag, CAST(g.lag_k AS INT) AS lag_k,
      | coalesce(np, CAST(0 AS BIGINT)) AS n_pairs,
      | CASE WHEN den > 0 THEN coalesce(num, 0.0) / den END AS acf
      |FROM grid g LEFT JOIN num ON num.k = g.k AND num.lag_k = g.lag_k"""
      .stripMargin

  // --------------------------------------------------------------- q174
  /** The daily series of q174 and q182: per (event_type, day) the
    * exact round-then-DECIMAL sum of `value` as `v`.
    */
  private def dailyValue(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).as("day"))
      .agg(sum(round(col("value").cast("double"), 6)
        .cast("decimal(38,6)")).cast("double").as("v"))

  /** [[dailyValue]] in DuckDB: `s` (k, idx, x). */
  private val dailyValueSql: String =
    """s AS (
      | SELECT event_type AS k,
      |  CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS idx,
      |  CAST(sum(CAST(round(CAST(value AS DOUBLE), 6)
      |   AS DECIMAL(38, 6))) AS DOUBLE) AS x
      | FROM events GROUP BY 1, 2)""".stripMargin

  /** CUSUM changepoint per event type
    * ([[graft.ops.TrendOps.cusumChangepoint]]) over daily event-value
    * sums: the level-shift locator. The cumulative deviation runs as
    * exact DECIMAL in one keyed window; the argmax breaks ties toward
    * the earliest day via a max-struct.
    */
  def q174(spark: SparkSession, dir: String): DataFrame =
    TrendOps.cusumChangepoint(dailyValue(spark, dir), "event_type", "day", "v")

  val q174Sql: String =
    s"""WITH $dailyValueSql,
      |st AS (
      | SELECT k,
      |  CAST(sum(CAST(round(x, 6) AS DECIMAL(38, 6))) AS DOUBLE)
      |   / CAST(count(*) AS DOUBLE) AS m
      | FROM s GROUP BY 1),
      |c AS (
      | SELECT s.k, idx,
      |  sum(CAST(round(x - m, 9) AS DECIMAL(38, 9))) OVER
      |   (PARTITION BY s.k ORDER BY idx
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
      | FROM s JOIN st ON st.k = s.k),
      |r AS (
      | SELECT k, idx, abs(cs) AS a,
      |  row_number() OVER (PARTITION BY k ORDER BY abs(cs) DESC, idx)
      |   AS rn,
      |  count(*) OVER (PARTITION BY k) AS n
      | FROM c)
      |SELECT k AS event_type, CAST(n AS BIGINT) AS n, idx AS cp_idx,
      | CAST(a AS DOUBLE) AS max_abs_cusum
      |FROM r WHERE rn = 1""".stripMargin

  // --------------------------------------------------------------- q175
  /** Adamic–Adar link prediction ([[graft.ops.GraphOps.adamicAdar]],
    * top 20) on the q118/q119 arithmetic graph: non-adjacent pairs
    * ranked by `Σ 1/ln(deg)` over common neighbors. Terms accumulate
    * round-then-DECIMAL and the cut orders by the EXACT decimal score
    * with an `(a, b)` tiebreak, so the selected set replays.
    */
  def q175(spark: SparkSession, dir: String): DataFrame =
    GraphOps.adamicAdar(arithmeticGraph(spark, dir), topK = 20)

  val q175Sql: String =
    s"""WITH $undirectedGraphSql,
      |sym AS (SELECT a AS z, b AS x FROM canon
      |        UNION ALL SELECT b, a FROM canon),
      |deg AS (SELECT z, CAST(count(*) AS BIGINT) AS deg FROM sym
      |        GROUP BY 1),
      |c AS (
      | SELECT sym.z, sym.x, 1.0 / ln(CAST(deg AS DOUBLE)) AS w
      | FROM sym JOIN deg USING (z) WHERE deg >= 2),
      |wed AS (
      | SELECT c1.x AS x, c2.x AS y, c1.w
      | FROM c c1 JOIN c c2 ON c2.z = c1.z AND c2.x > c1.x),
      |sc AS (
      | SELECT x, y, CAST(count(*) AS BIGINT) AS common_neighbors,
      |  sum(CAST(round(w, 9) AS DECIMAL(38, 9))) AS s
      | FROM wed GROUP BY 1, 2),
      |ne AS (
      | SELECT sc.* FROM sc
      |  LEFT JOIN canon ON canon.a = sc.x AND canon.b = sc.y
      | WHERE canon.a IS NULL)
      |SELECT x AS a, y AS b, common_neighbors,
      | CAST(s AS DOUBLE) AS aa_score
      |FROM ne ORDER BY s DESC, x, y LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q176
  /** Local clustering coefficient
    * ([[graft.ops.GraphOps.clusteringCoefficient]]) on the arithmetic
    * graph: `2·triangles/(deg·(deg−1))` per node, degree-< 2 nodes
    * NULL. The engine's degree-oriented wedge join is checked against
    * the oracle's independent three-way edge join.
    */
  def q176(spark: SparkSession, dir: String): DataFrame =
    GraphOps.clusteringCoefficient(arithmeticGraph(spark, dir))

  val q176Sql: String =
    s"""WITH $undirectedGraphSql,
      |$trianglesSql,
      |pn AS (SELECT id, CAST(count(*) AS BIGINT) AS triangles
      |       FROM corners GROUP BY 1),
      |deg AS (
      | SELECT id, CAST(count(*) AS BIGINT) AS deg
      | FROM (SELECT a AS id FROM canon UNION ALL SELECT b FROM canon)
      | GROUP BY 1)
      |SELECT deg.id, deg.deg,
      | COALESCE(pn.triangles, CAST(0 AS BIGINT)) AS triangles,
      | CASE WHEN deg.deg >= 2 THEN
      |  (2.0 * CAST(COALESCE(pn.triangles, 0) AS DOUBLE))
      |   / CAST(deg.deg * (deg.deg - 1) AS DOUBLE) END AS lcc
      |FROM deg LEFT JOIN pn ON pn.id = deg.id""".stripMargin

  // --------------------------------------------------------------- q177
  /** L-diversity violation audit
    * ([[graft.ops.ProfileOps.lDiversityViolations]], l = 2): classes
    * over (nation, segment) where the sensitive account-balance SIGN
    * is homogeneous — the classes q146's size-only k-anonymity check
    * can never flag. NULL sensitive values count as a value.
    */
  def q177(spark: SparkSession, dir: String): DataFrame =
    ProfileOps.lDiversityViolations(
      Tables.customer(spark, dir)
        .withColumn("acct_pos", col("c_acctbal") > 0),
      Seq("c_nationkey", "c_mktsegment"), "acct_pos", l = 2)

  val q177Sql: String =
    """WITH g AS (
      | SELECT c_nationkey, c_mktsegment,
      |  CAST(count(*) AS BIGINT) AS group_n,
      |  CAST(count(DISTINCT c_acctbal > 0) +
      |   max(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |   AS distinct_sensitive
      | FROM customer GROUP BY 1, 2)
      |SELECT * FROM g WHERE distinct_sensitive < 2""".stripMargin

  // --------------------------------------------------------------- q178
  /** Per-dimension embedding stats + outlier census
    * ([[graft.ops.VectorOps.dimStats]], |z| > 4): the feature-quality
    * screen before whitening. Sufficient sums are round-then-DECIMAL;
    * the oracle zips DuckDB's positional double-unnest against the
    * same pinned mean/std/census algebra.
    */
  def q178(spark: SparkSession, dir: String): DataFrame =
    VectorOps.dimStats(Tables.embeddings(spark, dir), "embedding")

  val q178Sql: String =
    """WITH cells AS (
      | SELECT CAST(u.i - 1 AS INT) AS dim, CAST(u.x AS DOUBLE) AS x
      | FROM embeddings t, LATERAL (
      |  SELECT unnest(generate_series(1, len(embedding))) AS i,
      |   unnest(embedding) AS x) u),
      |st AS (
      | SELECT dim, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(x, 9) AS DECIMAL(38, 9))) AS DOUBLE) AS sx,
      |  CAST(sum(CAST(round(x * x, 9) AS DECIMAL(38, 9))) AS DOUBLE)
      |   AS sxx
      | FROM cells GROUP BY 1),
      |m AS (
      | SELECT dim, n, sx / CAST(n AS DOUBLE) AS mean,
      |  sqrt((sxx - sx * sx / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))
      |   AS std
      | FROM st),
      |o AS (
      | SELECT c.dim,
      |  sum(CASE WHEN m.std > 0 AND abs((c.x - m.mean) / m.std) > 4.0
      |   THEN 1 ELSE 0 END) AS no
      | FROM cells c JOIN m USING (dim) GROUP BY 1)
      |SELECT m.dim, m.n, m.mean, m.std,
      | CASE WHEN m.std > 0 THEN CAST(o.no AS BIGINT) END AS n_outliers
      |FROM m JOIN o USING (dim)""".stripMargin

  // --------------------------------------------------------------- q179
  /** CUPED variance reduction ([[graft.ops.StatsOps.cuped]]): per-user
    * purchase spend adjusted by the pre-period view-count covariate,
    * variants split on user-id parity. θ/x̄ derive from pooled
    * round-then-DECIMAL sufficient sums on a 1-row broadcast; the
    * per-variant variance algebra replays the same pinned shapes.
    */
  def q179(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(spark, dir).groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "purchase",
          round(col("value").cast("double"), 6).cast("decimal(38,6)"))
          .otherwise(lit(0).cast("decimal(38,6)"))).cast("double").as("y"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .cast("double").as("x"))
      .withColumn("variant",
        when(pmod(col("user_id"), lit(2)) === 0, "A").otherwise("B"))
    StatsOps.cuped(per, "variant", "y", "x")
  }

  val q179Sql: String =
    """WITH per AS (
      | SELECT user_id,
      |  CAST(sum(CASE WHEN event_type = 'purchase'
      |   THEN CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(38, 6))
      |   ELSE CAST(0 AS DECIMAL(38, 6)) END) AS DOUBLE) AS y,
      |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |   AS DOUBLE) AS x,
      |  CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant
      | FROM events GROUP BY 1),
      |p AS (
      | SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(x, 9) AS DECIMAL(38, 9))) AS DOUBLE) AS sx,
      |  CAST(sum(CAST(round(y, 9) AS DECIMAL(38, 9))) AS DOUBLE) AS sy,
      |  CAST(sum(CAST(round(x * x, 9) AS DECIMAL(38, 9))) AS DOUBLE)
      |   AS sxx,
      |  CAST(sum(CAST(round(x * y, 9) AS DECIMAL(38, 9))) AS DOUBLE)
      |   AS sxy
      | FROM per),
      |th AS (
      | SELECT CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0 THEN
      |   (CAST(n AS DOUBLE) * sxy - sx * sy) /
      |    (CAST(n AS DOUBLE) * sxx - sx * sx) END AS theta,
      |  sx / CAST(n AS DOUBLE) AS xbar
      | FROM p),
      |a AS (
      | SELECT variant, th.theta, y,
      |  y - th.theta * (x - th.xbar) AS ya
      | FROM per CROSS JOIN th),
      |g AS (
      | SELECT variant, CAST(count(*) AS BIGINT) AS n,
      |  min(theta) AS theta,
      |  CAST(sum(CAST(round(y, 9) AS DECIMAL(38, 9))) AS DOUBLE) AS sy,
      |  CAST(sum(CAST(round(y * y, 9) AS DECIMAL(38, 9))) AS DOUBLE)
      |   AS syy,
      |  CAST(sum(CAST(round(ya, 9) AS DECIMAL(38, 9))) AS DOUBLE) AS sa,
      |  CAST(sum(CAST(round(ya * ya, 9) AS DECIMAL(38, 9))) AS DOUBLE)
      |   AS saa
      | FROM a GROUP BY 1)
      |SELECT variant, n, theta,
      | sy / CAST(n AS DOUBLE) AS mean_raw,
      | sa / CAST(n AS DOUBLE) AS mean_adj,
      | (syy - sy * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)
      |  AS var_raw,
      | (saa - sa * sa / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)
      |  AS var_adj,
      | 1.0 - ((saa - sa * sa / CAST(n AS DOUBLE))
      |         / (CAST(n AS DOUBLE) - 1.0))
      |       / ((syy - sy * sy / CAST(n AS DOUBLE))
      |         / (CAST(n AS DOUBLE) - 1.0)) AS variance_reduction
      |FROM g""".stripMargin

  // --------------------------------------------------------------- q180
  /** User-level recommendations
    * ([[graft.ops.BasketOps.recommendItems]], 3 neighbors, top 2): the
    * serving step over q160's neighbor table — candidate scores sum
    * neighbor cosines over each user's profile (round-then-DECIMAL),
    * owned items anti-join away, the per-user cut ranks on the exact
    * decimal score with an item tiebreak.
    */
  def q180(spark: SparkSession, dir: String): DataFrame =
    BasketOps.recommendItems(
      // a deterministic event subset keeps per-user profiles sparse
      // (full fixture profiles own every item -> empty recs)
      Tables.events(spark, dir).filter(pmod(col("event_id"), lit(3)) === 0)
        .withColumn("day",
          floor(unix_micros(col("ts")) / lit(86400000000L))),
      "user_id", Seq("user_id", "day"), "event_type",
      kNeighbors = 3, topN = 2)

  val q180Sql: String =
    s"""WITH obs AS (
      | SELECT DISTINCT user_id,
      |  CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
      |  event_type AS item
      | FROM events WHERE event_id % 3 = 0),
      |ic AS (SELECT item, CAST(count(*) AS BIGINT) AS n_i FROM obs
      |       GROUP BY 1),
      |$itemPairScoreSql,
      |rk AS (
      | SELECT item_a, item_b, n_ab, score, row_number() OVER
      |   (PARTITION BY item_a ORDER BY score DESC, item_b) AS rk
      | FROM sc),
      |nbr AS (SELECT item_a AS item, item_b AS cand, score FROM rk
      |        WHERE rk <= 3),
      |prof AS (SELECT DISTINCT user_id, event_type AS item FROM events
      |        WHERE event_id % 3 = 0),
      |c AS (
      | SELECT pr.user_id, n.cand,
      |  CAST(count(*) AS BIGINT) AS n_sources,
      |  sum(CAST(round(n.score, 9) AS DECIMAL(38, 9))) AS s
      | FROM prof pr JOIN nbr n USING (item) GROUP BY 1, 2),
      |f AS (
      | SELECT c.* FROM c
      |  LEFT JOIN prof ON prof.user_id = c.user_id AND prof.item = c.cand
      | WHERE prof.item IS NULL),
      |r2 AS (
      | SELECT user_id, cand, n_sources, s,
      |  CAST(row_number() OVER (PARTITION BY user_id
      |   ORDER BY s DESC, cand) AS INT) AS rank
      | FROM f)
      |SELECT user_id, cand AS item, n_sources, CAST(s AS DOUBLE) AS score,
      | rank
      |FROM r2 WHERE rank <= 2""".stripMargin

  // --------------------------------------------------------------- q181
  /** Image near-dup pairs by average-hash
    * ([[graft.ops.MultimodalOps.imageNearDups]], Hamming ≤ 3): the
    * embeddings double as 8×8 grayscale thumbs; every 50th image gets
    * a planted twin with one perturbed pixel. Hashes are mean-
    * threshold bit packs (integer-exact in both engines), candidates
    * come from 4-band LSH (pigeonhole-exact at this radius), verify
    * is `popcount(xor)` at the join.
    */
  def q181(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull && size(col("embedding")) === 64)
      .select(col("vec_id"), col("embedding"))
    val twins = e.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select((col("vec_id") + 10000000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, (x.cast("double") + lit(0.5)).cast("float"))
            .otherwise(x)).as("embedding"))
    MultimodalOps.imageNearDups(e.unionByName(twins), "vec_id",
      "embedding", maxHamming = 3)
  }

  val q181Sql: String =
    """WITH base AS (
      | SELECT vec_id, embedding FROM embeddings
      | WHERE embedding IS NOT NULL AND len(embedding) = 64),
      |tw AS (
      | SELECT vec_id + 10000000 AS vec_id,
      |  list_transform(generate_series(1, 64), i ->
      |   CASE WHEN i = 1
      |    THEN CAST(CAST(embedding[1] AS DOUBLE) + 0.5 AS REAL)
      |    ELSE embedding[i] END) AS embedding
      | FROM base WHERE vec_id % 50 = 0),
      |allv AS (SELECT * FROM base UNION ALL SELECT * FROM tw),
      |h AS (
      | SELECT vec_id,
      |  CAST(list_sum(list_transform(generate_series(0, 31), i ->
      |   CAST(CASE WHEN CAST(embedding[i + 1] AS DOUBLE) >
      |     list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))
      |      / 64.0
      |    THEN 1 ELSE 0 END AS BIGINT) << (31 - i))) AS BIGINT) AS hi,
      |  CAST(list_sum(list_transform(generate_series(32, 63), i ->
      |   CAST(CASE WHEN CAST(embedding[i + 1] AS DOUBLE) >
      |     list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))
      |      / 64.0
      |    THEN 1 ELSE 0 END AS BIGINT) << (63 - i))) AS BIGINT) AS lo
      | FROM allv),
      |b AS (
      | SELECT vec_id, hi, lo, band,
      |  CASE band WHEN 0 THEN (hi >> 16) & 65535
      |            WHEN 1 THEN hi & 65535
      |            WHEN 2 THEN (lo >> 16) & 65535
      |            ELSE lo & 65535 END AS bv
      | FROM h CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band)),
      |cand AS (
      | SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b,
      |  a.hi AS ha, a.lo AS la, b2.hi AS hb, b2.lo AS lb
      | FROM b a JOIN b b2 ON a.band = b2.band AND a.bv = b2.bv
      |  AND a.vec_id < b2.vec_id)
      |SELECT id_a, id_b,
      | CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS INT)
      |  AS hamming
      |FROM cand
      |WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 3"""
      .stripMargin

  // --------------------------------------------------------------- q182
  /** Additive seasonal decomposition
    * ([[graft.ops.TrendOps.seasonalDecompose]], period 7) of daily
    * event-value sums per type: centered-MA trend over a gap-correct
    * RANGE frame (partial frames → NULL), per-weekday seasonal means
    * of the detrended values, residual remainder. All means are
    * round-then-DECIMAL sums over one double division.
    */
  def q182(spark: SparkSession, dir: String): DataFrame =
    TrendOps.seasonalDecompose(dailyValue(spark, dir), "event_type", "day", "v",
      period = 7)

  val q182Sql: String =
    s"""WITH $dailyValueSql,
      |t AS (
      | SELECT k, idx, x,
      |  CASE WHEN count(*) OVER w = 7 THEN
      |   CAST(sum(CAST(round(x, 6) AS DECIMAL(38, 6))) OVER w AS DOUBLE)
      |    / 7.0 END AS trend,
      |  idx % 7 AS phase
      | FROM s WINDOW w AS (PARTITION BY k ORDER BY idx
      |  RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |se AS (
      | SELECT k, phase,
      |  CAST(sum(CAST(round(x - trend, 9) AS DECIMAL(38, 9))) AS DOUBLE)
      |   / CAST(count(*) AS DOUBLE) AS seasonal
      | FROM t WHERE trend IS NOT NULL GROUP BY 1, 2)
      |SELECT t.k AS event_type, t.idx AS day, t.x AS v, t.trend,
      | se.seasonal, t.x - t.trend - se.seasonal AS residual
      |FROM t LEFT JOIN se ON se.k = t.k AND se.phase = t.phase"""
      .stripMargin

  // --------------------------------------------------------------- q183
  /** Theil–Sen robust trend ([[graft.ops.StatsOps.theilSen]]) of daily
    * revenue per return flag: the median pairwise slope and matching
    * intercept, both exact lower-edge quantiles over the keyed pair
    * frame — the outlier-proof answer q162's OLS can't give.
    */
  def q183(spark: SparkSession, dir: String): DataFrame = {
    // weekly buckets: the pair frame is O(points²) PER KEY by
    // contract — ~360 weeks -> 65k pairs/key stays a report dim at
    // any corpus size, where daily buckets (2.5k points -> 3M
    // pairs/key through a |keys|-way shuffle) measured 20 s at sf0.1
    val weekly = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"),
        floor(unix_micros(col("l_shipdate")
          .cast(org.apache.spark.sql.types.TimestampType)) /
          lit(604800000000L)).as("week"))
      .agg(sum(round(col("l_extendedprice").cast("double"), 6)
        .cast("decimal(38,6)")).cast("double").as("rev"))
    StatsOps.theilSen(weekly, "l_returnflag", "week", "rev")
  }

  val q183Sql: String =
    s"""WITH s AS (
      | SELECT l_returnflag AS k,
      |  CAST(floor(epoch_us(l_shipdate) / 604800000000) AS BIGINT)
      |   AS idx,
      |  CAST(sum(CAST(round(CAST(l_extendedprice AS DOUBLE), 6)
      |   AS DECIMAL(38, 6))) AS DOUBLE) AS rev
      | FROM lineitem GROUP BY 1, 2),
      |s2 AS (SELECT k, CAST(idx AS DOUBLE) AS x, rev AS y FROM s),
      |pr AS (
      | SELECT a.k, (b.y - a.y) / (b.x - a.x) AS slope
      | FROM s2 a JOIN s2 b ON b.k = a.k AND b.x > a.x),
      |c1 AS (
      | SELECT k, slope,
      |  CAST(sum(CAST(1.0 AS DECIMAL(38, 6))) OVER (PARTITION BY k
      |    ORDER BY slope RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT
      |    ROW) AS DOUBLE) AS cum,
      |  CAST(sum(CAST(1.0 AS DECIMAL(38, 6))) OVER (PARTITION BY k)
      |   AS DOUBLE) AS tot
      | FROM pr),
      |sl AS (
      | SELECT k, min(slope) AS ts_slope, CAST(max(tot) AS BIGINT)
      |  AS n_pairs
      | FROM c1 WHERE cum >= tot * 0.5 GROUP BY 1),
      |r AS (
      | SELECT s2.k, s2.y - sl.ts_slope * s2.x AS b
      | FROM s2 JOIN sl ON sl.k = s2.k),
      |${countCumSql("c2", "b", "r")},
      |ic AS (
      | SELECT k, min(b) AS ts_intercept FROM c2
      | WHERE cum >= tot * 0.5 GROUP BY 1)
      |SELECT sl.k AS l_returnflag, sl.n_pairs, sl.ts_slope,
      | ic.ts_intercept
      |FROM sl JOIN ic ON ic.k = sl.k""".stripMargin

  // --------------------------------------------------------------- q184
  /** TF-IDF keyword extraction
    * ([[graft.ops.SearchOps.keywordExtract]], top 3 per doc): the
    * human-readable summary surface beside the hashed tf-idf vectors;
    * smoothed idf self-suppresses corpus-frequent terms, the cut
    * ranks (score desc, term asc).
    */
  def q184(spark: SparkSession, dir: String): DataFrame =
    SearchOps.keywordExtract(
      Tables.documents(spark, dir), "text", "doc_id", k = 3)

  val q184Sql: String =
    """WITH tok AS (
      | SELECT doc_id,
      |  unnest(list_filter(string_split(text, ' '), x -> x <> ''))
      |   AS term
      | FROM documents),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |       FROM tok GROUP BY 1, 2),
      |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df_docs
      |        FROM tf GROUP BY 1),
      |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
      |sc AS (
      | SELECT tf.doc_id, tf.term, tf.tf, dfq.df_docs,
      |  CAST(tf.tf AS DOUBLE) *
      |   (ln((1.0 + nd.n_docs) / (1.0 + CAST(dfq.df_docs AS DOUBLE)))
      |    + 1.0) AS score
      | FROM tf JOIN dfq USING (term) CROSS JOIN nd),
      |rk AS (
      | SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
      |   ORDER BY score DESC, term) AS INT) AS rank
      | FROM sc)
      |SELECT doc_id, term, tf, df_docs, score, rank
      |FROM rk WHERE rank <= 3""".stripMargin

  // --------------------------------------------------------------- q185
  /** Conversion-latency quantiles: per signup-week cohort, the p50 and
    * p90 of first-signup → first-subsequent-purchase latency (micros),
    * both exact lower-edge [[graft.ops.StatsOps.weightedQuantile]]s —
    * the funnel-speed report beside q86's conversion counts.
    */
  def q185(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("s"))
    val pu = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("p"))
    val lat = su.join(pu, Seq("user_id"))
      .filter(col("p") >= col("s"))
      .groupBy(col("user_id"), col("s")).agg(min(col("p")).as("p1"))
      .select(floor(col("s") / lit(604800000000L)).as("cohort"),
        (col("p1") - col("s")).as("lat_us"))
      .withColumn("__one", lit(1.0))
    val p50 = StatsOps.weightedQuantile(lat, "cohort", "lat_us", "__one", 0.5)
      .select(col("cohort"), col("weighted_quantile").as("p50"),
        col("total_weight").cast("long").as("n"))
    val p90 = StatsOps.weightedQuantile(lat, "cohort", "lat_us", "__one", 0.9)
      .select(col("cohort"), col("weighted_quantile").as("p90"))
    p50.join(p90, Seq("cohort"))
      .select(col("cohort"), col("n"), col("p50"), col("p90"))
  }

  val q185Sql: String =
    """WITH su AS (
      | SELECT user_id, min(epoch_us(ts)) AS s FROM events
      | WHERE event_type = 'signup' GROUP BY 1),
      |pu AS (
      | SELECT user_id, epoch_us(ts) AS p FROM events
      | WHERE event_type = 'purchase'),
      |l0 AS (
      | SELECT su.user_id, su.s, min(pu.p) AS p1
      | FROM su JOIN pu USING (user_id) WHERE pu.p >= su.s
      | GROUP BY 1, 2),
      |lat AS (
      | SELECT CAST(floor(s / 604800000000) AS BIGINT) AS cohort,
      |  p1 - s AS lat_us
      | FROM l0),
      |c AS (
      | SELECT cohort, CAST(lat_us AS DOUBLE) AS v,
      |  CAST(sum(CAST(1.0 AS DECIMAL(38, 6))) OVER (PARTITION BY cohort
      |    ORDER BY CAST(lat_us AS DOUBLE)
      |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |   AS cum,
      |  CAST(sum(CAST(1.0 AS DECIMAL(38, 6))) OVER (PARTITION BY cohort)
      |   AS DOUBLE) AS tot
      | FROM lat),
      |q50 AS (
      | SELECT cohort, min(v) AS p50, CAST(max(tot) AS BIGINT) AS n
      | FROM c WHERE cum >= tot * 0.5 GROUP BY 1),
      |q90 AS (
      | SELECT cohort, min(v) AS p90 FROM c
      | WHERE cum >= tot * 0.9 GROUP BY 1)
      |SELECT q50.cohort, q50.n, q50.p50, q90.p90
      |FROM q50 JOIN q90 USING (cohort)""".stripMargin

  // --------------------------------------------------------------- q186
  /** Token frequency-of-frequency spectrum with simple Good–Turing
    * adjusted counts: per observed count `r`, how many vocabulary
    * types occur exactly `r` times (`n_r`) and
    * `r* = (r+1)·n_{r+1}/n_r` — the smoothing statistic behind
    * held-out LM mass estimates; spectrum holes leave `r*` NULL.
    */
  def q186(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(explode(graft.ops.TextOps.whitespaceTokenize(col("text")))
        .as("term"))
      .groupBy("term").agg(count(lit(1)).as("r"))
    val spec = counts.groupBy("r").agg(count(lit(1)).as("n_r"))
    val nxt = spec.select((col("r") - 1).as("r"), col("n_r").as("__n1"))
    spec.join(nxt, Seq("r"), "left")
      .select(col("r"), col("n_r"),
        ((col("r") + 1).cast("double") * col("__n1").cast("double") /
          col("n_r").cast("double")).as("r_star"))
  }

  val q186Sql: String =
    """WITH tok AS (
      | SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
      |  AS term
      | FROM documents),
      |cnt AS (SELECT term, CAST(count(*) AS BIGINT) AS r FROM tok
      |        GROUP BY 1),
      |spec AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM cnt
      |         GROUP BY 1)
      |SELECT s.r, s.n_r,
      | CAST(s.r + 1 AS DOUBLE) * CAST(n2.n_r AS DOUBLE)
      |  / CAST(s.n_r AS DOUBLE) AS r_star
      |FROM spec s LEFT JOIN spec n2 ON n2.r = s.r + 1""".stripMargin

  // --------------------------------------------------------------- q187
  /** Zipf's-law fit: OLS of ln(freq) on ln(rank) over the corpus
    * vocabulary ([[graft.ops.StatsOps.groupwiseRegression]] on one
    * key) — slope ≈ −1 is the healthy-corpus signature; rank comes
    * from the range-partitioned sorted row index (the gini pattern,
    * NO unpartitioned window), ties broken by term.
    */
  def q187(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(spark, dir)
      .select(explode(graft.ops.TextOps.whitespaceTokenize(col("text")))
        .as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val ranked = JoinOps.withRowIndex(
      vocab.sort(col("cnt").desc, col("term")), "__idx")
    val pts = ranked.select(lit("corpus").as("corpus"),
      log(col("__idx").cast("double") + lit(1.0)).as("ln_rank"),
      log(col("cnt").cast("double")).as("ln_freq"))
    StatsOps.groupwiseRegression(pts, "corpus", "ln_rank", "ln_freq")
  }

  val q187Sql: String =
    """WITH tok AS (
      | SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
      |  AS term
      | FROM documents),
      |v AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tok
      |      GROUP BY 1),
      |r AS (
      | SELECT 'corpus' AS corpus,
      |  ln(CAST(row_number() OVER (ORDER BY cnt DESC, term) - 1
      |     AS DOUBLE) + 1.0) AS x,
      |  ln(CAST(cnt AS DOUBLE)) AS y
      | FROM v),
      |a AS (
      | SELECT corpus, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(x, 9) AS DECIMAL(38, 9))) AS DOUBLE) AS sx,
      |  CAST(sum(CAST(round(y, 9) AS DECIMAL(38, 9))) AS DOUBLE) AS sy,
      |  CAST(sum(CAST(round(x * y, 9) AS DECIMAL(38, 9))) AS DOUBLE)
      |   AS sxy,
      |  CAST(sum(CAST(round(x * x, 9) AS DECIMAL(38, 9))) AS DOUBLE)
      |   AS sxx,
      |  CAST(sum(CAST(round(y * y, 9) AS DECIMAL(38, 9))) AS DOUBLE)
      |   AS syy
      | FROM r GROUP BY 1)
      |SELECT corpus, n,
      | CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0 THEN
      |  (CAST(n AS DOUBLE) * sxy - sx * sy)
      |   / (CAST(n AS DOUBLE) * sxx - sx * sx) END AS slope,
      | CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0 THEN
      |  (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
      |   / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
      |   / CAST(n AS DOUBLE) END AS intercept,
      | CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0 AND
      |           CAST(n AS DOUBLE) * syy - sy * sy > 0 THEN
      |  ((CAST(n AS DOUBLE) * sxy - sx * sy) *
      |   (CAST(n AS DOUBLE) * sxy - sx * sy)) /
      |  ((CAST(n AS DOUBLE) * sxx - sx * sx) *
      |   (CAST(n AS DOUBLE) * syy - sy * sy)) END AS r2
      |FROM a""".stripMargin

  // --------------------------------------------------------------- q188
  /** Cluster-robust jackknife SE
    * ([[graft.ops.StatsOps.jackknifeMean]], 32 user-hash buckets) of
    * the mean purchase value: the leave-one-bucket-out means are
    * exact DECIMAL subtractions, the spread term round-then-DECIMAL —
    * the uncertainty an i.i.d. SE understates when a user's rows
    * correlate.
    */
  def q188(spark: SparkSession, dir: String): DataFrame =
    StatsOps.jackknifeMean(
      Tables.events(spark, dir).filter(col("event_type") === "purchase")
        .withColumn("bucket", pmod(col("user_id"), lit(32))),
      "bucket", "value")

  val q188Sql: String =
    """WITH per AS (
      | SELECT user_id % 32 AS bk, CAST(count(*) AS BIGINT) AS ng,
      |  sum(CAST(round(CAST(value AS DOUBLE), 6) AS DECIMAL(38, 6)))
      |   AS sg
      | FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
      | GROUP BY 1),
      |tot AS (
      | SELECT CAST(count(*) AS BIGINT) AS nb, sum(ng) AS N, sum(sg) AS S
      | FROM per),
      |th AS (
      | SELECT nb, N, S,
      |  CAST(S - sg AS DOUBLE) / CAST(N - ng AS DOUBLE) AS th
      | FROM per CROSS JOIN tot),
      |ss AS (
      | SELECT nb, N, S,
      |  CAST(sum(CAST(round(th, 9) AS DECIMAL(38, 9))) AS DOUBLE)
      |   AS st,
      |  CAST(sum(CAST(round(th * th, 9) AS DECIMAL(38, 9))) AS DOUBLE)
      |   AS stt
      | FROM th GROUP BY 1, 2, 3)
      |SELECT CAST(N AS BIGINT) AS n, nb AS n_buckets,
      | CAST(S AS DOUBLE) / CAST(N AS DOUBLE) AS mean,
      | sqrt((CAST(nb AS DOUBLE) - 1.0) / CAST(nb AS DOUBLE) *
      |  (stt - st * st / CAST(nb AS DOUBLE))) AS se_jackknife
      |FROM ss""".stripMargin

  // --------------------------------------------------------------- q189
  /** Mantel–Haenszel pooled odds ratio
    * ([[graft.ops.StatsOps.mantelHaenszel]]): account-positivity odds
    * for even- vs odd-key customers pooled ACROSS nation strata — the
    * Simpson's-paradox-proof form of q159's marginal test. Integer
    * cells, round-then-DECIMAL term sums.
    */
  def q189(spark: SparkSession, dir: String): DataFrame =
    StatsOps.mantelHaenszel(
      Tables.customer(spark, dir)
        .withColumn("variant",
          when(pmod(col("c_custkey"), lit(2)) === 0, "even")
            .otherwise("odd"))
        .withColumn("pos", col("c_acctbal") > 0),
      "c_nationkey", "variant", "pos")

  val q189Sql: String =
    """WITH v AS (
      | SELECT c_nationkey AS s,
      |  CASE WHEN c_custkey % 2 = 0 THEN 'even' ELSE 'odd' END AS v,
      |  c_acctbal > 0 AS p
      | FROM customer),
      |cells AS (
      | SELECT s,
      |  CAST(sum(CASE WHEN v = 'even' AND p THEN 1 ELSE 0 END)
      |   AS BIGINT) AS a,
      |  CAST(sum(CASE WHEN v = 'even' AND NOT p THEN 1 ELSE 0 END)
      |   AS BIGINT) AS b,
      |  CAST(sum(CASE WHEN v <> 'even' AND p THEN 1 ELSE 0 END)
      |   AS BIGINT) AS c,
      |  CAST(sum(CASE WHEN v <> 'even' AND NOT p THEN 1 ELSE 0 END)
      |   AS BIGINT) AS d
      | FROM v GROUP BY 1),
      |agg AS (
      | SELECT CAST(count(*) AS BIGINT) AS n_strata,
      |  CAST(sum(CAST(round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
      |   / CAST(a + b + c + d AS DOUBLE), 9) AS DECIMAL(38, 9)))
      |   AS DOUBLE) AS num,
      |  CAST(sum(CAST(round(CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
      |   / CAST(a + b + c + d AS DOUBLE), 9) AS DECIMAL(38, 9)))
      |   AS DOUBLE) AS den
      | FROM cells)
      |SELECT 'even' AS variant1, 'odd' AS variant2, n_strata,
      | CASE WHEN den > 0 THEN num / den END AS or_mh
      |FROM agg""".stripMargin

  // --------------------------------------------------------------- q190
  /** Pairwise win matrix ([[graft.ops.EvalMetrics.pairwiseWins]]):
    * event types as competing systems, users as evaluation units,
    * per-unit exact DECIMAL score sums compared head-to-head — the
    * arena-style eval aggregate with tie-excluded win rates.
    */
  def q190(spark: SparkSession, dir: String): DataFrame =
    EvalMetrics.pairwiseWins(
      Tables.events(spark, dir), "user_id", "event_type", "value")

  val q190Sql: String =
    """WITH m AS (
      | SELECT user_id AS u, event_type AS sys,
      |  CAST(sum(CAST(round(CAST(value AS DOUBLE), 6)
      |   AS DECIMAL(38, 6))) AS DOUBLE) AS m
      | FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
      |SELECT a.sys AS system_a, b.sys AS system_b,
      | CAST(count(*) AS BIGINT) AS n_units,
      | CAST(sum(CASE WHEN a.m > b.m THEN 1 ELSE 0 END) AS BIGINT)
      |  AS wins,
      | CAST(sum(CASE WHEN a.m < b.m THEN 1 ELSE 0 END) AS BIGINT)
      |  AS losses,
      | CAST(sum(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS BIGINT)
      |  AS ties,
      | CASE WHEN sum(CASE WHEN a.m > b.m THEN 1 ELSE 0 END) +
      |           sum(CASE WHEN a.m < b.m THEN 1 ELSE 0 END) > 0 THEN
      |  CAST(sum(CASE WHEN a.m > b.m THEN 1 ELSE 0 END) AS DOUBLE) /
      |  CAST(sum(CASE WHEN a.m > b.m THEN 1 ELSE 0 END) +
      |       sum(CASE WHEN a.m < b.m THEN 1 ELSE 0 END) AS DOUBLE) END
      |  AS win_rate
      |FROM m a JOIN m b ON b.u = a.u AND a.sys < b.sys
      |GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q191
  /** Time-decayed purchase value per user
    * ([[graft.ops.TrendOps.decayedSum]], 30-day half-life): the
    * recency-weighted engagement score — pinned
    * `exp(−Δdays·ln2/30)` factors, round-then-DECIMAL sums, corpus
    * max-ts on a 1-row broadcast.
    */
  def q191(spark: SparkSession, dir: String): DataFrame =
    TrendOps.decayedSum(
      Tables.events(spark, dir).filter(col("event_type") === "purchase"),
      "user_id", "ts", "value", halfLifeDays = 30.0)

  val q191Sql: String =
    """WITH clean AS (
      | SELECT user_id, epoch_us(ts) AS t, CAST(value AS DOUBLE) AS v
      | FROM events
      | WHERE event_type = 'purchase' AND ts IS NOT NULL
      |  AND value IS NOT NULL),
      |r AS (SELECT max(t) AS ref FROM clean)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(CAST(round(v * exp(CAST(ref - t AS DOUBLE)
      |  / 86400000000.0 * (-ln(2) / 30.0)), 9) AS DECIMAL(38, 9)))
      |  AS DOUBLE) AS decayed_sum
      |FROM clean CROSS JOIN r GROUP BY 1""".stripMargin

  // --------------------------------------------------------------- q192
  /** Bradley–Terry strengths
    * ([[graft.ops.EvalMetrics.bradleyTerry]], 5 MM passes) over the
    * q190 head-to-head outcomes: the arena-leaderboard model. Integer
    * half-win credits, round-then-DECIMAL denominators and
    * normalizers; the oracle unrolls all five passes stage-for-stage
    * (the q118 convention). The unrolled chain's strength CTEs are
    * MATERIALIZED: each pass references the previous strengths twice
    * (si/sj) and DuckDB inlines CTEs by default, so the un-hinted
    * expression tree doubles per pass (2^5 copies of the m⋈m
    * self-join) — that made the round-8 gate run borderline at the
    * 8 GB cap. Materialization is a pure evaluation hint; results are
    * bit-identical (round-9 fix, fits in <1 GB).
    */
  def q192(spark: SparkSession, dir: String): DataFrame =
    EvalMetrics.bradleyTerry(
      Tables.events(spark, dir), "user_id", "event_type", "value",
      iters = 5)

  val q192Sql: String = {
    def pass(k: Int): String =
      s"""d$k AS (
        | SELECT sym.i,
        |  CAST(sum(CAST(round(CAST(sym.n AS DOUBLE) / (si.s + sj.s), 9)
        |   AS DECIMAL(38, 9))) AS DOUBLE) AS den
        | FROM sym JOIN s${k - 1} si ON si.i = sym.i
        |  JOIN s${k - 1} sj ON sj.i = sym.j
        | GROUP BY 1),
        |p$k AS (SELECT d$k.i, wi.W / d$k.den AS raw
        |        FROM d$k JOIN wi ON wi.i = d$k.i),
        |s$k AS MATERIALIZED (
        | SELECT i, raw / t.tot AS s FROM p$k CROSS JOIN
        |  (SELECT CAST(sum(CAST(round(raw, 9) AS DECIMAL(38, 9)))
        |    AS DOUBLE) AS tot FROM p$k) t)"""
    s"""WITH m AS MATERIALIZED (
      | SELECT user_id AS u, event_type AS sys,
      |  CAST(sum(CAST(round(CAST(value AS DOUBLE), 6)
      |   AS DECIMAL(38, 6))) AS DOUBLE) AS m
      | FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      |sym AS MATERIALIZED (
      | SELECT a.sys AS i, b.sys AS j, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN a.m > b.m THEN 2 WHEN a.m = b.m THEN 1
      |   ELSE 0 END) AS BIGINT) AS w2
      | FROM m a JOIN m b ON b.u = a.u AND a.sys <> b.sys
      | GROUP BY 1, 2),
      |wi AS (
      | SELECT i, CAST(sum(w2) AS DOUBLE) / 2.0 AS W,
      |  CAST(sum(n) AS BIGINT) AS n_comparisons
      | FROM sym GROUP BY 1),
      |s0 AS (SELECT i, 1.0 AS s FROM wi),
      |${(1 to 5).map(pass).mkString(",\n")}
      |SELECT s5.i AS system, wi.n_comparisons, wi.W AS win_score,
      | s5.s AS strength
      |FROM s5 JOIN wi ON wi.i = s5.i""".stripMargin
  }

  // --------------------------------------------------------------- q193
  /** Top entry paths ([[graft.ops.SessionOps.topPaths]], first 3
    * events, top 10): the journey-start report — per-user prefixes
    * ordered (ts, event_id), counted, cut on (count desc, path).
    */
  def q193(spark: SparkSession, dir: String): DataFrame =
    SessionOps.topPaths(Tables.events(spark, dir), "user_id", "ts",
      "event_type", "event_id", pathLen = 3, topK = 10)

  val q193Sql: String =
    """WITH r AS (
      | SELECT user_id, event_type,
      |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |   AS rn
      | FROM events),
      |p AS (
      | SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      | FROM r WHERE rn <= 3 GROUP BY 1)
      |SELECT path, CAST(count(*) AS BIGINT) AS n_keys
      |FROM p GROUP BY 1 ORDER BY n_keys DESC, path LIMIT 10"""
      .stripMargin

  // --------------------------------------------------------------- q194
  /** ABC / Pareto classification
    * ([[graft.ops.ProfileOps.abcClassify]], 80/95) of parts by
    * revenue micros: integer cross-product thresholds, prefix sums on
    * the range-partitioned row-index machinery — no boundary ulp, no
    * unpartitioned window.
    */
  def q194(spark: SparkSession, dir: String): DataFrame =
    ProfileOps.abcClassify(
      Tables.lineitem(spark, dir).select(col("l_partkey"),
        (round(col("l_extendedprice").cast("double"), 6)
          .cast("decimal(38,6)") * 1000000).cast("long").as("mm")),
      "l_partkey", "mm")

  val q194Sql: String =
    """WITH li AS (
      | SELECT l_partkey,
      |  CAST(CAST(round(CAST(l_extendedprice AS DOUBLE), 6)
      |   AS DECIMAL(38, 6)) * 1000000 AS BIGINT) AS mm
      | FROM lineitem),
      |it AS (SELECT l_partkey, CAST(sum(mm) AS BIGINT) AS metric_micros
      |       FROM li GROUP BY 1),
      |t AS (SELECT CAST(sum(metric_micros) AS BIGINT) AS tot FROM it),
      |c AS (
      | SELECT l_partkey, metric_micros,
      |  CAST(sum(metric_micros) OVER (ORDER BY metric_micros DESC,
      |   l_partkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |   AS BIGINT) AS cum_micros
      | FROM it)
      |SELECT l_partkey, metric_micros, cum_micros,
      | CASE WHEN cum_micros * 100 <= t.tot * 80 THEN 'A'
      |      WHEN cum_micros * 100 <= t.tot * 95 THEN 'B'
      |      ELSE 'C' END AS abc_class
      |FROM c CROSS JOIN t""".stripMargin

  // --------------------------------------------------------------- q195
  /** Trimmed means ([[graft.ops.StatsOps.trimmedMean]], [p5, p95]):
    * q170's dropping sibling — tail rows excluded, not clamped; same
    * exact lower-edge band, round-then-DECIMAL means.
    */
  def q195(spark: SparkSession, dir: String): DataFrame =
    StatsOps.trimmedMean(
      Tables.lineitem(spark, dir).select("l_returnflag", "l_extendedprice"),
      "l_returnflag", "l_extendedprice", 0.05, 0.95)

  val q195Sql: String =
    s"""WITH clean AS (
      | SELECT l_returnflag AS k, CAST(l_extendedprice AS DOUBLE) AS v
      | FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |${countCumSql("c", "v", "clean")},
      |lo AS (SELECT k, min(v) AS p_lo FROM c WHERE cum >= tot * 0.05
      |       GROUP BY 1),
      |hi AS (SELECT k, min(v) AS p_hi FROM c WHERE cum >= tot * 0.95
      |       GROUP BY 1),
      |j AS (
      | SELECT clean.k, v, lo.p_lo, hi.p_hi
      | FROM clean JOIN lo ON clean.k = lo.k JOIN hi ON clean.k = hi.k)
      |SELECT k AS l_returnflag, CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(CASE WHEN v >= p_lo AND v <= p_hi THEN 1 ELSE 0 END)
      |  AS BIGINT) AS n_kept,
      | min(p_lo) AS p_lo, min(p_hi) AS p_hi,
      | CAST(sum(CAST(round(v, 6) AS DECIMAL(38, 6))) AS DOUBLE)
      |  / CAST(count(*) AS DOUBLE) AS mean_raw,
      | CAST(sum(CASE WHEN v >= p_lo AND v <= p_hi
      |  THEN CAST(round(v, 6) AS DECIMAL(38, 6)) END) AS DOUBLE)
      |  / CAST(sum(CASE WHEN v >= p_lo AND v <= p_hi THEN 1 ELSE 0 END)
      |   AS DOUBLE) AS mean_trimmed
      |FROM j GROUP BY 1""".stripMargin

  // --------------------------------------------------------------- q196
  /** Decile gains/lift table ([[graft.ops.ProfileOps.gainsTable]]):
    * customers ranked by account balance, response = BUILDING
    * segment — the targeting report with integer-exact counts and
    * range-partitioned ranks.
    */
  def q196(spark: SparkSession, dir: String): DataFrame =
    ProfileOps.gainsTable(
      Tables.customer(spark, dir)
        .withColumn("resp", col("c_mktsegment") === "BUILDING"),
      "c_custkey", "c_acctbal", "resp", buckets = 10)

  val q196Sql: String =
    """WITH b AS (
      | SELECT c_custkey AS id, CAST(c_acctbal AS DOUBLE) AS score,
      |  CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS resp
      | FROM customer WHERE c_acctbal IS NOT NULL),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(resp) AS BIGINT) AS r FROM b),
      |i AS (
      | SELECT id, resp,
      |  row_number() OVER (ORDER BY score DESC, id) - 1 AS idx
      | FROM b),
      |bk AS (
      | SELECT CAST(floor(CAST(idx AS DOUBLE) * 10 / CAST(t.n AS DOUBLE))
      |   AS INT) + 1 AS bucket, resp
      | FROM i CROSS JOIN t),
      |per AS (
      | SELECT bucket, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(resp) AS BIGINT) AS responders
      | FROM bk GROUP BY 1),
      |c AS (
      | SELECT bucket, n, responders,
      |  CAST(sum(responders) OVER (ORDER BY bucket
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |   AS rc
      | FROM per)
      |SELECT c.bucket, c.n, c.responders,
      | CAST(c.responders AS DOUBLE) / CAST(c.n AS DOUBLE)
      |  AS response_rate,
      | CASE WHEN t.r > 0 THEN CAST(rc AS DOUBLE) / CAST(t.r AS DOUBLE)
      |  END AS cum_capture,
      | CASE WHEN t.r > 0 THEN
      |  (CAST(c.responders AS DOUBLE) / CAST(c.n AS DOUBLE)) /
      |  (CAST(t.r AS DOUBLE) / CAST(t.n AS DOUBLE)) END AS lift
      |FROM c CROSS JOIN t""".stripMargin

  // --------------------------------------------------------------- q197
  /** Leak-proof split audit ([[graft.ops.SplitOps.leakProofSplit]],
    * 10% test): content-keyed assignment — per-split doc and
    * distinct-content counts, plus the leaked-group census (groups
    * spanning both sides), which is 0 BY CONSTRUCTION and audited
    * anyway: the number a row-hash split would make nonzero.
    */
  def q197(spark: SparkSession, dir: String): DataFrame = {
    val s = SplitOps.leakProofSplit(
      Tables.documents(spark, dir), "text", testPct = 10, seed = "split42")
    val per = s.groupBy("split").agg(count(lit(1)).as("n_docs"),
      countDistinct(DedupOps.normText(col("text"))).as("n_groups"))
    val leaked = s
      .groupBy(DedupOps.normText(col("text")).as("__n"))
      .agg(countDistinct(col("split")).as("__c"))
      .filter(col("__c") > 1)
      .agg(count(lit(1)).as("n_leaked_groups"))
    per.crossJoin(broadcast(leaked))
  }

  val q197Sql: String =
    s"""WITH s AS (
      | SELECT doc_id, lower(trim(text)) AS norm,
      |  CASE WHEN ${md5LongSql("lower(trim(text)) || '#' || 'split42'")} % 100
      |   < 10 THEN 'test' ELSE 'train' END AS split
      | FROM documents),
      |per AS (
      | SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT norm) AS BIGINT) AS n_groups
      | FROM s GROUP BY 1),
      |lk AS (
      | SELECT CAST(count(*) AS BIGINT) AS n_leaked_groups FROM (
      |  SELECT norm FROM s GROUP BY norm
      |  HAVING count(DISTINCT split) > 1))
      |SELECT per.split, per.n_docs, per.n_groups, lk.n_leaked_groups
      |FROM per CROSS JOIN lk""".stripMargin

  // --------------------------------------------------------------- q198
  /** Cross-source duplication matrix
    * ([[graft.ops.DedupOps.crossSourceDupMatrix]], portable hash):
    * exact-dup pairs bucketed by source pair — the who-copies-whom
    * provenance view a mix designer reads before weighting sources.
    */
  def q198(spark: SparkSession, dir: String): DataFrame = {
    // the fixture has no natural byte-dups: plant a deterministic
    // mirror crawl (every 25th doc re-served under a mirror_ source)
    val d = Tables.documents(spark, dir)
      .select("doc_id", "text", "source")
    val mirror = d.filter(pmod(col("doc_id"), lit(25)) === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"),
        concat(lit("mirror_"), col("source")).as("source"))
    DedupOps.crossSourceDupMatrix(d.unionByName(mirror), "text",
      "doc_id", "source", keyFn = PortableHash.md5Long(_))
  }

  val q198Sql: String =
    s"""WITH allv AS (
      | SELECT doc_id, text, source FROM documents
      | UNION ALL
      | SELECT doc_id + 10000000, text, 'mirror_' || source
      | FROM documents WHERE doc_id % 25 = 0),
      |t AS (
      | SELECT ${md5LongSql("lower(trim(text))")} AS h, doc_id, source
      | FROM allv)
      |SELECT least(a.source, b.source) AS source_a,
      | greatest(a.source, b.source) AS source_b,
      | CAST(count(*) AS BIGINT) AS n_dup_pairs
      |FROM t a JOIN t b ON b.h = a.h AND a.doc_id < b.doc_id
      |GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q199
  /** Equal-frequency binning ([[graft.ops.StatsOps.equalFreqBins]],
    * k = 8) of extended prices per return flag: pure-integer bin
    * assignment over the RANGE-frame cumulative count — no floating
    * boundary, tie mass shares a bin.
    */
  def q199(spark: SparkSession, dir: String): DataFrame =
    StatsOps.equalFreqBins(
      Tables.lineitem(spark, dir).select("l_returnflag", "l_extendedprice"),
      "l_returnflag", "l_extendedprice", k = 8)

  val q199Sql: String =
    """WITH clean AS (
      | SELECT l_returnflag AS k, CAST(l_extendedprice AS DOUBLE) AS v
      | FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |c AS (
      | SELECT k, v,
      |  CAST(count(*) OVER (PARTITION BY k ORDER BY v
      |   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |   AS cnt,
      |  CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n
      | FROM clean),
      |b AS (
      | SELECT k, v, CAST((cnt * 8 + n - 1) // n AS INT) AS bin FROM c)
      |SELECT k AS l_returnflag, bin, CAST(count(*) AS BIGINT) AS n,
      | min(v) AS v_min, max(v) AS v_max
      |FROM b GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q200
  /** Pearson correlation matrix ([[graft.ops.StatsOps.corrMatrix]])
    * over four lineitem numerics in ONE aggregation pass; the oracle
    * re-derives every cell from the same round-then-DECIMAL
    * sufficient sums.
    */
  def q200(spark: SparkSession, dir: String): DataFrame =
    StatsOps.corrMatrix(Tables.lineitem(spark, dir),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))

  val q200Sql: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val idx = cols.indices
    def d9(e: String, a: String) =
      s"CAST(sum(CAST(round($e, 9) AS DECIMAL(38, 9))) AS DOUBLE) AS $a"
    val sums = (Seq("CAST(count(*) AS BIGINT) AS n") ++
      idx.flatMap(i => Seq(d9(s"x$i", s"s$i"), d9(s"x$i * x$i", s"ss$i"))) ++
      idx.flatMap(i => (i + 1 until cols.size).map(j =>
        d9(s"x$i * x$j", s"p${i}_$j")))).mkString(",\n |  ")
    def den(i: Int) = s"(CAST(n AS DOUBLE) * ss$i - s$i * s$i)"
    val cells = idx.flatMap(i => (i + 1 until cols.size).map { j =>
      s"""SELECT '${cols(i)}' AS col_a, '${cols(j)}' AS col_b, n,
        | CASE WHEN ${den(i)} > 0 AND ${den(j)} > 0 THEN
        |  (CAST(n AS DOUBLE) * p${i}_$j - s$i * s$j)
        |   / (sqrt(${den(i)}) * sqrt(${den(j)})) END AS corr
        |FROM s"""
    }).mkString("\n |UNION ALL\n |")
    s"""WITH clean AS (
      | SELECT ${idx.map(i => s"CAST(${cols(i)} AS DOUBLE) AS x$i")
        .mkString(", ")}
      | FROM lineitem
      | WHERE ${cols.map(c => s"$c IS NOT NULL").mkString(" AND ")}),
      |s AS (
      | SELECT $sums
      | FROM clean)
      |${cells}""".stripMargin
  }

  // --------------------------------------------------------------- q201
  /** Spearman rank correlation ([[graft.ops.StatsOps.spearman]])
    * between extended price and quantity: average tie ranks from
    * integer tie-group counts, Pearson on the ranks via pinned
    * sufficient statistics.
    */
  def q201(spark: SparkSession, dir: String): DataFrame =
    StatsOps.spearman(Tables.lineitem(spark, dir),
      "l_extendedprice", "l_quantity")

  val q201Sql: String =
    """WITH clean AS (
      | SELECT CAST(l_extendedprice AS DOUBLE) AS x,
      |  CAST(l_quantity AS DOUBLE) AS y
      | FROM lineitem
      | WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
      |cx AS (SELECT x, CAST(count(*) AS BIGINT) AS t FROM clean
      |       GROUP BY 1),
      |rx AS (
      | SELECT x,
      |  CAST(sum(t) OVER (ORDER BY x
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |   - (CAST(t AS DOUBLE) - 1.0) / 2.0 AS xr
      | FROM cx),
      |cy AS (SELECT y, CAST(count(*) AS BIGINT) AS t FROM clean
      |       GROUP BY 1),
      |ry AS (
      | SELECT y,
      |  CAST(sum(t) OVER (ORDER BY y
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |   - (CAST(t AS DOUBLE) - 1.0) / 2.0 AS yr
      | FROM cy),
      |j AS (
      | SELECT rx.xr, ry.yr
      | FROM clean JOIN rx USING (x) JOIN ry USING (y)),
      |s AS (
      | SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(xr, 9) AS DECIMAL(38, 9))) AS DOUBLE) AS sx,
      |  CAST(sum(CAST(round(yr, 9) AS DECIMAL(38, 9))) AS DOUBLE) AS sy,
      |  CAST(sum(CAST(round(xr * xr, 9) AS DECIMAL(38, 9))) AS DOUBLE)
      |   AS sxx,
      |  CAST(sum(CAST(round(yr * yr, 9) AS DECIMAL(38, 9))) AS DOUBLE)
      |   AS syy,
      |  CAST(sum(CAST(round(xr * yr, 9) AS DECIMAL(38, 9))) AS DOUBLE)
      |   AS sxy
      | FROM j)
      |SELECT n,
      | CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0 AND
      |           CAST(n AS DOUBLE) * syy - sy * sy > 0 THEN
      |  (CAST(n AS DOUBLE) * sxy - sx * sy) /
      |  (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) *
      |   sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) END AS spearman_rho
      |FROM s""".stripMargin

  // --------------------------------------------------------------- q202
  /** Target encoding ([[graft.ops.StatsOps.targetEncode]], m = 10):
    * per-supplier smoothed and LEAVE-ONE-OUT price encodings — the
    * leak-aware categorical feature; the row's own target subtracts
    * as exact DECIMAL.
    */
  def q202(spark: SparkSession, dir: String): DataFrame =
    StatsOps.targetEncode(
      Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_linenumber", "l_suppkey",
          "l_extendedprice"),
      "l_suppkey", "l_extendedprice", m = 10.0)
      .select("l_orderkey", "l_linenumber", "l_suppkey", "enc_smoothed",
        "enc_loo")

  val q202Sql: String =
    """WITH clean AS (
      | SELECT l_orderkey, l_linenumber, l_suppkey,
      |  CAST(l_extendedprice AS DOUBLE) AS y
      | FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |per AS (
      | SELECT l_suppkey, CAST(count(*) AS BIGINT) AS nc,
      |  sum(CAST(round(y, 6) AS DECIMAL(38, 6))) AS sc
      | FROM clean GROUP BY 1),
      |g AS (
      | SELECT CAST(sum(CAST(round(y, 6) AS DECIMAL(38, 6))) AS DOUBLE)
      |  / CAST(count(*) AS DOUBLE) AS gm
      | FROM clean)
      |SELECT c.l_orderkey, c.l_linenumber, c.l_suppkey,
      | (CAST(sc AS DOUBLE) + gm * 10.0) / (CAST(nc AS DOUBLE) + 10.0)
      |  AS enc_smoothed,
      | CASE WHEN nc > 1 THEN
      |  CAST(sc - CAST(round(y, 6) AS DECIMAL(38, 6)) AS DOUBLE)
      |   / (CAST(nc AS DOUBLE) - 1.0)
      | ELSE gm END AS enc_loo
      |FROM clean c JOIN per USING (l_suppkey) CROSS JOIN g"""
      .stripMargin

  // --------------------------------------------------------------- q203
  /** Importance reweighting to a uniform source target
    * ([[graft.ops.MixOps.importanceWeights]]): per-source weights
    * plus Kish's effective sample size on every row — the honesty
    * metric a weighted mix must quote instead of N.
    */
  def q203(spark: SparkSession, dir: String): DataFrame =
    MixOps.importanceWeights(Tables.documents(spark, dir), "source")

  val q203Sql: String =
    """WITH per AS (
      | SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents
      | GROUP BY 1),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
      |       CAST(count(*) AS BIGINT) AS kk FROM per),
      |c AS (
      | SELECT source, n,
      |  CAST(n AS DOUBLE) / CAST(t.nn AS DOUBLE) AS observed_share,
      |  CAST(t.nn AS DOUBLE) / (CAST(t.kk AS DOUBLE) * CAST(n AS DOUBLE))
      |   AS weight,
      |  t.nn
      | FROM per CROSS JOIN t),
      |e AS (
      | SELECT nn,
      |  CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) /
      |  CAST(sum(CAST(round(CAST(n AS DOUBLE) * weight * weight, 9)
      |   AS DECIMAL(38, 9))) AS DOUBLE) AS ess
      | FROM c GROUP BY nn)
      |SELECT c.source, c.n, c.observed_share, c.weight, e.ess
      |FROM c CROSS JOIN (SELECT ess FROM e) e""".stripMargin

  // --------------------------------------------------------------- q204
  /** Herfindahl–Hirschman source concentration
    * ([[graft.ops.StatsOps.hhi]]): 10000·Σ share² — the concentration
    * gauge beside q107 entropy and q131 gini.
    */
  def q204(spark: SparkSession, dir: String): DataFrame =
    StatsOps.hhi(Tables.documents(spark, dir), "source")

  val q204Sql: String =
    """WITH per AS (
      | SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents
      | GROUP BY 1),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
      |       CAST(count(*) AS BIGINT) AS kk FROM per)
      |SELECT
      | CAST(sum(CAST(round(
      |  10000.0 * (CAST(n AS DOUBLE) / CAST(nn AS DOUBLE))
      |   * (CAST(n AS DOUBLE) / CAST(nn AS DOUBLE)), 9)
      |  AS DECIMAL(38, 9))) AS DOUBLE) AS hhi,
      | kk AS n_categories, nn AS n_rows
      |FROM per CROSS JOIN t GROUP BY kk, nn""".stripMargin

  // --------------------------------------------------------------- q205
  /** Per-language document-length profile: token-count p10/p50/p90
    * (exact lower-edge [[graft.ops.StatsOps.weightedQuantile]]s) —
    * the calibration table a length filter reads per language (a CJK
    * length cut tuned on English garbage-collects the wrong docs).
    */
  def q205(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("lang"),
        size(TextOps.whitespaceTokenize(col("text"))).cast("double")
          .as("n_tokens"))
      .withColumn("__one", lit(1.0))
    def q(p: Double, name: String) =
      StatsOps.weightedQuantile(d, "lang", "n_tokens", "__one", p)
        .select(col("lang"), col("weighted_quantile").as(name))
    q(0.1, "p10").join(q(0.5, "p50"), "lang").join(q(0.9, "p90"), "lang")
      .join(d.groupBy("lang").agg(count(lit(1)).as("n_docs")), "lang")
      .select("lang", "n_docs", "p10", "p50", "p90")
  }

  val q205Sql: String =
    """WITH d AS (
      | SELECT lang,
      |  CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
      |   AS DOUBLE) AS v
      | FROM documents),
      |c AS (
      | SELECT lang, v,
      |  CAST(sum(CAST(1.0 AS DECIMAL(38, 6))) OVER (PARTITION BY lang
      |    ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |   AS DOUBLE) AS cum,
      |  CAST(sum(CAST(1.0 AS DECIMAL(38, 6))) OVER (PARTITION BY lang)
      |   AS DOUBLE) AS tot
      | FROM d),
      |q10 AS (SELECT lang, min(v) AS p10 FROM c WHERE cum >= tot * 0.1
      |        GROUP BY 1),
      |q50 AS (SELECT lang, min(v) AS p50 FROM c WHERE cum >= tot * 0.5
      |        GROUP BY 1),
      |q90 AS (SELECT lang, min(v) AS p90 FROM c WHERE cum >= tot * 0.9
      |        GROUP BY 1),
      |n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM d
      |      GROUP BY 1)
      |SELECT n.lang, n.n_docs, q10.p10, q50.p50, q90.p90
      |FROM n JOIN q10 ON q10.lang = n.lang
      | JOIN q50 ON q50.lang = n.lang JOIN q90 ON q90.lang = n.lang"""
      .stripMargin

  // --------------------------------------------------------------- q206
  /** Vocabulary coverage curve: cumulative corpus-token share of the
    * top 1/10/100/1000 types — the vocab-sizing readout (how much of
    * the stream a k-entry vocabulary explains); ranks via the
    * range-partitioned row index, prefix sums via
    * [[graft.ops.StatsOps.runningTotals]].
    */
  def q206(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(spark, dir)
      .select(explode(TextOps.whitespaceTokenize(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val ranked = JoinOps.withRowIndex(
      vocab.sort(col("cnt").desc, col("token")), "__idx")
    val cum = StatsOps.runningTotals(ranked, "__idx", Seq("cnt"))
    val tot = vocab.agg(sum(col("cnt")).as("__tot"),
      count(lit(1)).as("n_types"))
    cum.filter((col("__idx") + 1).isin(1, 10, 100, 1000))
      .crossJoin(broadcast(tot))
      .select((col("__idx") + 1).cast("int").as("top_k"),
        col("cnt_cum").as("cum_tokens"),
        (col("cnt_cum").cast("double") / col("__tot").cast("double"))
          .as("coverage"),
        col("n_types"))
  }

  val q206Sql: String =
    """WITH tok AS (
      | SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
      |  AS token
      | FROM documents),
      |v AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok
      |      GROUP BY 1),
      |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot,
      |       CAST(count(*) AS BIGINT) AS n_types FROM v),
      |r AS (
      | SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rk
      | FROM v),
      |c AS (
      | SELECT rk, CAST(sum(cnt) OVER (ORDER BY rk
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |  AS cum
      | FROM r)
      |SELECT CAST(rk AS INT) AS top_k, cum AS cum_tokens,
      | CAST(cum AS DOUBLE) / CAST(t.tot AS DOUBLE) AS coverage,
      | t.n_types
      |FROM c CROSS JOIN t WHERE rk IN (1, 10, 100, 1000)""".stripMargin

  // --------------------------------------------------------------- q207
  /** Out-of-vocabulary rate: src0 tokens against the top-500 vocab
    * built from the OTHER sources ([[graft.ops.SearchOps.buildVocab]])
    * — the domain-shift gauge a frozen tokenizer pays as [UNK] mass.
    */
  def q207(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val vocab = SearchOps.buildVocab(
      docs.filter(col("source") =!= "src0"), "text", 500)
      .select(col("token")).withColumn("__in", lit(1))
    val toks = docs.filter(col("source") === "src0")
      .select(explode(TextOps.whitespaceTokenize(col("text"))).as("token"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens").cast("double"))
          .as("oov_rate"))
  }

  val q207Sql: String =
    """WITH train AS (
      | SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
      |  AS token
      | FROM documents WHERE source <> 'src0'),
      |vc AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM train
      |       GROUP BY 1),
      |vocab AS (
      | SELECT token FROM (
      |  SELECT token, row_number() OVER (ORDER BY n DESC, token) AS rk
      |  FROM vc) WHERE rk <= 500),
      |ev AS (
      | SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
      |  AS token
      | FROM documents WHERE source = 'src0')
      |SELECT CAST(count(*) AS BIGINT) AS n_tokens,
      | CAST(sum(CASE WHEN vocab.token IS NULL THEN 1 ELSE 0 END)
      |  AS BIGINT) AS n_oov,
      | CAST(sum(CASE WHEN vocab.token IS NULL THEN 1 ELSE 0 END)
      |  AS DOUBLE) / CAST(count(*) AS DOUBLE) AS oov_rate
      |FROM ev LEFT JOIN vocab ON vocab.token = ev.token""".stripMargin

  // --------------------------------------------------------------- q208
  /** Huber robust means ([[graft.ops.StatsOps.huberMean]], c = 1.345,
    * 3 IRLS passes) of extended prices per return flag — the
    * efficiency upgrade over the median, every pass unrolled
    * stage-for-stage in the oracle.
    */
  def q208(spark: SparkSession, dir: String): DataFrame =
    StatsOps.huberMean(
      Tables.lineitem(spark, dir).select("l_returnflag", "l_extendedprice"),
      "l_returnflag", "l_extendedprice")

  val q208Sql: String = {
    def pass(t: Int): String =
      s"""w$t AS (
        | SELECT j.k,
        |  CAST(sum(CAST(round((CASE WHEN abs(x - m${t - 1}.m) <=
        |     1.345 * j.s THEN 1.0
        |    ELSE 1.345 * j.s / abs(x - m${t - 1}.m) END) * x, 9)
        |   AS DECIMAL(38, 9))) AS DOUBLE) AS swx,
        |  CAST(sum(CAST(round(CASE WHEN abs(x - m${t - 1}.m) <=
        |     1.345 * j.s THEN 1.0
        |    ELSE 1.345 * j.s / abs(x - m${t - 1}.m) END, 9)
        |   AS DECIMAL(38, 9))) AS DOUBLE) AS sw,
        |  min(j.s) AS s, min(j.med) AS med
        | FROM j JOIN m${t - 1} ON m${t - 1}.k = j.k GROUP BY 1),
        |m$t AS (
        | SELECT k, CASE WHEN s > 0 THEN swx / sw ELSE med END AS m
        | FROM w$t)"""
    s"""WITH clean AS (
      | SELECT l_returnflag AS k, CAST(l_extendedprice AS DOUBLE) AS x
      | FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |${countCumSql("c1", "x", "clean")},
      |med AS (SELECT k, min(x) AS med FROM c1 WHERE cum >= tot * 0.5
      |        GROUP BY 1),
      |dv AS (
      | SELECT clean.k, x, med, abs(x - med) AS ad
      | FROM clean JOIN med ON med.k = clean.k),
      |${countCumSql("c2", "ad", "dv")},
      |sc AS (SELECT k, 1.4826 * min(ad) AS s FROM c2
      |       WHERE cum >= tot * 0.5 GROUP BY k),
      |j AS (
      | SELECT dv.k, dv.x, dv.med, sc.s
      | FROM dv JOIN sc ON sc.k = dv.k),
      |m0 AS (SELECT k, med AS m FROM med),
      |${(1 to 3).map(pass).mkString(",\n")}
      |SELECT j2.k AS l_returnflag, CAST(count(*) AS BIGINT) AS n,
      | min(j2.med) AS median, min(j2.s) AS scale, min(m3.m) AS huber_mean
      |FROM j j2 JOIN m3 ON m3.k = j2.k GROUP BY 1""".stripMargin
  }

  // --------------------------------------------------------------- q209
  /** Per-source quality scorecard: doc counts, mean q26 quality
    * score, exact-dup rate, mean token length — the data-vendor
    * report card read before buying/weighting a source.
    */
  def q209(spark: SparkSession, dir: String): DataFrame = {
    def d9(c: org.apache.spark.sql.Column) =
      sum(round(c, 9).cast("decimal(38,9)")).cast("double")
    val d = Tables.documents(spark, dir)
    d.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      (d9(TextAnalysis.qualityScore(col("text"))) /
        count(lit(1)).cast("double")).as("avg_quality"),
      ((count(lit(1)) - countDistinct(DedupOps.normText(col("text"))))
        .cast("double") / count(lit(1)).cast("double")).as("dup_rate"),
      (d9(size(TextOps.whitespaceTokenize(col("text"))).cast("double")) /
        count(lit(1)).cast("double")).as("avg_tokens"))
  }

  val q209Sql: String =
    s"""WITH t AS (
      | SELECT source, text, lower(trim(text)) AS norm,
      |  list_filter(string_split(text, ' '), x -> x <> '') AS toks
      | FROM documents),
      |q AS (
      | SELECT source, norm,
      |  least(CAST(len(toks) AS INT) / 20.0, 1.0) * 0.4
      |   + greatest(0.0, 1.0 -
      |      (CAST(len(text) - len(regexp_replace(text,
      |        '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / len(text)) * 4.0)
      |     * 0.4
      |   + least((CAST(len(list_filter(toks,
      |        tk -> list_contains($enStopwordsSql, tk))) AS DOUBLE) / len(toks))
      |      * 5.0, 1.0) * 0.2 AS quality,
      |  CAST(len(toks) AS DOUBLE) AS ntok
      | FROM t)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      | CAST(sum(CAST(round(quality, 9) AS DECIMAL(38, 9))) AS DOUBLE)
      |  / CAST(count(*) AS DOUBLE) AS avg_quality,
      | CAST(count(*) - count(DISTINCT norm) AS DOUBLE)
      |  / CAST(count(*) AS DOUBLE) AS dup_rate,
      | CAST(sum(CAST(round(ntok, 9) AS DECIMAL(38, 9))) AS DOUBLE)
      |  / CAST(count(*) AS DOUBLE) AS avg_tokens
      |FROM q GROUP BY 1""".stripMargin

  // --------------------------------------------------------------- q210
  /** Funnel A/B test: signup→purchase-within-1-day conversion by
    * user-id parity
    * through [[graft.ops.StatsOps.twoProportionZ]] — the composed
    * experiment readout over the funnel definition q86 pins.
    */
  def q210(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("st"))
    val pu = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("p"))
    val cv = su.join(pu, Seq("user_id"), "left")
      .groupBy("user_id", "st")
      .agg(max(when(col("p") >= col("st") &&
        col("p") < col("st") + lit(86400000000L), 1).otherwise(0))
        .as("conv"))
    val v = cv.select(
      when(pmod(col("user_id"), lit(2)) === 0, "A").otherwise("B")
        .as("variant"),
      (col("conv") === 1).as("converted"))
    StatsOps.twoProportionZ(v, "variant", "converted")
  }

  val q210Sql: String =
    s"""WITH su AS (
      | SELECT user_id, min(epoch_us(ts)) AS st FROM events
      | WHERE event_type = 'signup' GROUP BY 1),
      |pu AS (
      | SELECT user_id, epoch_us(ts) AS p FROM events
      | WHERE event_type = 'purchase'),
      |cv AS (
      | SELECT su.user_id, su.st,
      |  max(CASE WHEN pu.p >= su.st AND pu.p < su.st + 86400000000
      |   THEN 1 ELSE 0 END) AS conv
      | FROM su LEFT JOIN pu ON pu.user_id = su.user_id GROUP BY 1, 2),
      |v AS (
      | SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
      |  conv = 1 AS converted
      | FROM cv),
      |$twoProportionZSql""".stripMargin

  // --------------------------------------------------------------- q211
  /** Session engagement report on [[graft.ops.SessionOps.sessionize]]
    * (30-min gap): session count, bounce rate (single-event
    * sessions), exact-DECIMAL mean duration and the lower-edge median
    * duration — the engagement scorecard q19's raw sessionization
    * feeds.
    */
  def q211(spark: SparkSession, dir: String): DataFrame = {
    val s = SessionOps.sessionize(Tables.events(spark, dir), "user_id",
      "ts", gapSeconds = 1800L)
    val per = s.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("__n"),
        ((unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
          .cast("double") / lit(1000000.0)).as("__dur"))
    // global lower-edge median WITHOUT a single-partition window:
    // range-partitioned sorted row index + integer rank*2 >= n cut
    val ranked = JoinOps.withRowIndex(
      per.select(col("__dur")).sort("__dur"), "__idx")
    val cnt = per.agg(count(lit(1)).as("__cnt"))
    val med = ranked.crossJoin(broadcast(cnt))
      .filter((col("__idx") + 1) * 2 >= col("__cnt"))
      .agg(min(col("__dur")).as("p50_duration_s"))
    per.agg(count(lit(1)).as("n_sessions"),
      (sum(when(col("__n") === 1, 1L).otherwise(0L)).cast("double") /
        count(lit(1)).cast("double")).as("bounce_rate"),
      (sum(round(col("__dur"), 6).cast("decimal(38,6)"))
        .cast("double") / count(lit(1)).cast("double"))
        .as("avg_duration_s"))
      .crossJoin(broadcast(med))
  }

  val q211Sql: String =
    """WITH g AS (
      | SELECT user_id, ts, event_id,
      |  CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
      |   OR lag(epoch_us(ts)) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |   THEN 1 ELSE 0 END AS b
      | FROM events),
      |s AS (
      | SELECT user_id,
      |  sum(b) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |   AS session_id,
      |  ts
      | FROM g),
      |per AS (
      | SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n,
      |  CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS DOUBLE)
      |   / 1000000.0 AS dur
      | FROM s GROUP BY 1, 2),
      |c AS (
      | SELECT dur AS v,
      |  CAST(sum(CAST(1.0 AS DECIMAL(38, 6))) OVER (ORDER BY dur
      |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |   AS cum,
      |  CAST(sum(CAST(1.0 AS DECIMAL(38, 6))) OVER () AS DOUBLE) AS tot
      | FROM per),
      |md AS (SELECT min(v) AS p50 FROM c WHERE cum >= tot * 0.5)
      |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
      | CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |  / CAST(count(*) AS DOUBLE) AS bounce_rate,
      | CAST(sum(CAST(round(dur, 6) AS DECIMAL(38, 6)))
      |  AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_duration_s,
      | md.p50 AS p50_duration_s
      |FROM per CROSS JOIN md GROUP BY md.p50""".stripMargin

  // --------------------------------------------------------------- q212
  /** Inter-arrival gap profile per event type: each event's gap to
    * the SAME USER's previous event of that type (one keyed lag
    * window), then the per-type lower-edge median and mean gap — the
    * cadence table behind retention/frequency modeling.
    */
  def q212(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    // seconds, not micros: micro-scale DECIMAL(38,6) sums reach the
    // 2^53/1e6 cast boundary where decimal->double rounding may
    // differ in the last ulp across engines
    val gaps = Tables.events(spark, dir)
      .withColumn("__gap",
        (unix_micros(col("ts")) -
          unix_micros(lag(col("ts"), 1).over(w))).cast("double") /
          lit(1000000.0))
      .filter(col("__gap").isNotNull)
      .select(col("event_type"), col("__gap"))
      .withColumn("__one", lit(1.0))
    val med = StatsOps.weightedQuantile(gaps, "event_type", "__gap",
        "__one", 0.5)
      .select(col("event_type"),
        col("weighted_quantile").as("p50_gap_s"),
        col("total_weight").cast("long").as("n_gaps"))
    val avg = gaps.groupBy("event_type")
      .agg((sum(round(col("__gap"), 6)
        .cast("decimal(38,6)")).cast("double") /
        count(lit(1)).cast("double")).as("avg_gap_s"))
    med.join(avg, Seq("event_type"))
      .select("event_type", "n_gaps", "p50_gap_s", "avg_gap_s")
  }

  // --------------------------------------------------------------- q213
  /** CAPPED negative sampling ([[graft.ops.SplitOps.negativeSamples]]
    * with `maxVocab = 20`): the unigram table is cut to the 20 most
    * frequent tokens (count desc, token asc — the word2vec capped
    * unigram-table discipline that keeps the driver collect bounded
    * on an open corpus) BEFORE the ^0.75 damping, ladder and md5
    * draws; the oracle replays the cut as `ORDER BY cnt DESC, tok
    * LIMIT 20` and then the same interval-join walk as q123, so both
    * the truncation rule and the post-cap renormalization (draws are
    * mod the CAPPED total weight) are pinned cross-engine.
    */
  def q213(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    SplitOps.negativeSamples(d, "doc_id", d, "text", k = 3,
      salt = "negcap", maxVocab = 20)
  }

  val q213Sql: String =
    s"""WITH w AS (
      | SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      | FROM documents),
      |v AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY 1
      |      ORDER BY cnt DESC, tok ASC LIMIT 20),
      |${negativeDrawSql("negcap")}""".stripMargin

  val q212Sql: String =
    """WITH g AS (
      | SELECT event_type,
      |  epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id,
      |   event_type ORDER BY ts, event_id) AS gap
      | FROM events),
      |gaps AS (
      | SELECT event_type, CAST(gap AS DOUBLE) / 1000000.0 AS gap
      | FROM g WHERE gap IS NOT NULL),
      |c AS (
      | SELECT event_type, gap AS v,
      |  CAST(sum(CAST(1.0 AS DECIMAL(38, 6))) OVER (PARTITION BY
      |    event_type ORDER BY gap
      |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |   AS cum,
      |  CAST(sum(CAST(1.0 AS DECIMAL(38, 6))) OVER (PARTITION BY
      |    event_type) AS DOUBLE) AS tot
      | FROM gaps),
      |md AS (
      | SELECT event_type, min(v) AS p50, CAST(max(tot) AS BIGINT) AS n
      | FROM c WHERE cum >= tot * 0.5 GROUP BY 1),
      |av AS (
      | SELECT event_type,
      |  CAST(sum(CAST(round(gap, 6) AS DECIMAL(38, 6)))
      |   AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_gap_s
      | FROM gaps GROUP BY 1)
      |SELECT md.event_type, md.n AS n_gaps, md.p50 AS p50_gap_s,
      | av.avg_gap_s
      |FROM md JOIN av ON av.event_type = md.event_type""".stripMargin

  // --------------------------------------------------------------- q214
  private val q214M = 4
  private val q214Ksub = 8
  private val q214Sub = 16 // dim 64 / m

  /** Squared-L2 chain between 16-element list slices, left-to-right in
    * index order — [[graft.functions.Pq]]'s `d2` accumulation
    * verbatim. `aIdx`/`bIdx` map the 1-based subspace-local j to the
    * engine-side list index expression.
    */
  private def q214D2(a: String, aOff: String, b: String): String =
    (1 to q214Sub).map { j =>
      val x = s"(CAST($a[$aOff + $j] AS DOUBLE) - CAST($b[$j] AS DOUBLE))"
      s"$x * $x"
    }.mkString(" + ")

  /** Argmin-d2 code assignment of every subvector in `sub` against
    * codebook CTE `cbFrom` (columns s, code, c) — ascending-code scan
    * displacing on strictly smaller distance, replayed as a
    * row_number over (d2 ASC, code ASC).
    */
  private def q214AssignSql(
      cbFrom: String, out: String, subFrom: String = "sub"): String =
    s"""$out AS (
      | SELECT vec_id, s, v, code FROM (
      |  SELECT sub.vec_id, sub.s, sub.v, cb.code,
      |   row_number() OVER (PARTITION BY sub.vec_id, sub.s ORDER BY
      |    (${q214D2("sub.v", "0", "cb.c")}) ASC, cb.code) AS rn
      |  FROM $subFrom sub JOIN $cbFrom cb ON cb.s = sub.s) WHERE rn = 1)""".stripMargin

  /** The PQ-ADC candidate search of q214 and q247 (m=4, ksub=8, 1
    * Lloyd round) up to the per-(query, neighbor) subspace distances
    * `padd`, for the query vectors that `queries` selects.
    */
  private def pqAdcSql(queries: String): String = {
    val avgList = (1 to q214Sub).map(j =>
      s"CAST(round(avg(CAST(v[$j] AS DOUBLE)), 6) AS REAL)").mkString(", ")
    s"""e AS (
      | SELECT vec_id, embedding FROM embeddings
      | WHERE embedding IS NOT NULL AND len(embedding) = ${q214M * q214Sub}
      |  AND len(list_filter(embedding, x -> x IS NULL)) = 0),
      |sub AS (
      | SELECT e.vec_id, sp.s,
      |  e.embedding[(sp.s * $q214Sub + 1):(sp.s * $q214Sub + $q214Sub)] AS v
      | FROM e CROSS JOIN (SELECT unnest(range($q214M)) AS s) sp),
      |seed AS (
      | SELECT s, CAST(code AS INT) AS code, v AS c FROM (
      |  SELECT s, row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1
      |    AS code, v
      |  FROM sub) WHERE code < $q214Ksub),
      |${q214AssignSql("seed", "a1")},
      |cb1m AS (
      | SELECT s, code, [$avgList] AS c FROM a1 GROUP BY s, code),
      |cb1 AS (
      | SELECT sd.s, sd.code, coalesce(m.c, sd.c) AS c
      | FROM seed sd LEFT JOIN cb1m m ON m.s = sd.s AND m.code = sd.code),
      |${q214AssignSql("cb1", "enc")},
      |lut AS (
      | SELECT q.vec_id AS query_id, cb.s, cb.code,
      |  (${q214D2("q.v", "0", "cb.c")}) AS d2
      | FROM (SELECT * FROM sub WHERE $queries) q
      | JOIN cb1 cb ON cb.s = q.s),
      |padd AS (
      | SELECT l.query_id, en.vec_id AS neighbor_id,
      |  max(CASE WHEN l.s = 0 THEN l.d2 END) AS da,
      |  max(CASE WHEN l.s = 1 THEN l.d2 END) AS db,
      |  max(CASE WHEN l.s = 2 THEN l.d2 END) AS dc,
      |  max(CASE WHEN l.s = 3 THEN l.d2 END) AS dd
      | FROM enc en JOIN lut l ON l.s = en.s AND l.code = en.code
      | WHERE l.query_id <> en.vec_id
      | GROUP BY 1, 2)""".stripMargin
  }

  /** Product-quantization ADC top-3
    * ([[graft.ops.PqOps.pqSearchADC]], m=4, ksub=8, 1 Lloyd round,
    * dim 64): the oracle unrolls subspace slicing, the seed codebook
    * (8 smallest-id vectors), one L2 Lloyd round with the
    * round-6-cast-REAL centroid update, the final encode, the
    * per-query lookup table, and the ADC sum — pivoted to explicit
    * `((d0 + d1) + d2) + d3` so both engines add subspaces in the
    * same order and ranks replay bit-for-bit.
    */
  def q214(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    PqOps.pqSearchADC(e.filter(col("vec_id") % 50 === 0), e, k = 3,
      m = q214M, ksub = q214Ksub, dim = q214M * q214Sub)
  }

  val q214Sql: String =
    s"""WITH ${pqAdcSql("vec_id % 50 = 0")}
      |SELECT query_id, neighbor_id, round(adc, 6) AS adc6, rank FROM (
      | SELECT query_id, neighbor_id, ((da + db) + dc) + dd AS adc,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |   ORDER BY ((da + db) + dc) + dd ASC, neighbor_id) AS INT) AS rank
      | FROM padd) WHERE rank <= 3""".stripMargin

  // --------------------------------------------------------------- q215
  /** Soft dedup ([[graft.ops.DedupOps.softDedupWeights]] over q69's
    * transitive components): every doc weighted `1/|component|` so a
    * duplicate cluster contributes one unit of training mass total —
    * the downweight-instead-of-drop sampling policy. The oracle
    * extends q69's recursive-CTE closure with a per-component count;
    * `1.0 / n` is one double division in both engines.
    */
  def q215(spark: SparkSession, dir: String): DataFrame =
    DedupOps.softDedupWeights(q69(spark, dir))

  val q215Sql: String =
    s"""WITH RECURSIVE ${minhashPairCtes(0.6)},
      |$componentsSql,
      |lab AS (
      | SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
      | FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
      |SELECT doc_id, component,
      | 1.0 / CAST(count(*) OVER (PARTITION BY component) AS DOUBLE) AS weight
      |FROM lab""".stripMargin

  // --------------------------------------------------------------- q216
  /** Readability ([[graft.ops.TextAnalysis.readabilitySignals]]):
    * word / sentence / vowel-group counts and the fixed
    * Flesch-Reading-Ease formula. Both regexes are character-class+
    * quantifier patterns with identical Java/RE2 semantics; the score
    * is three double ops in one fixed order.
    */
  def q216(spark: SparkSession, dir: String): DataFrame = {
    val s = TextAnalysis.readabilitySignals(col("text"))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      s.getField("n_words").as("n_words"),
      s.getField("n_sentences").as("n_sentences"),
      s.getField("n_syllables").as("n_syllables"),
      s.getField("flesch").as("flesch"))
  }

  val q216Sql: String =
    """WITH s AS (
      | SELECT doc_id,
      |  CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
      |   AS INT) AS n_words,
      |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
      |   AS INT) AS n_sentences,
      |  CAST(greatest(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')),
      |   len(list_filter(string_split(text, ' '), t -> t <> '')))
      |   AS INT) AS n_syllables
      | FROM documents)
      |SELECT doc_id, n_words, n_sentences, n_syllables,
      | CASE WHEN n_words = 0 THEN NULL
      |  ELSE 206.835
      |   - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
      |   - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
      | END AS flesch
      |FROM s""".stripMargin

  // --------------------------------------------------------------- q217
  /** DCT perceptual hash ([[graft.functions.DctHashHalves]]) of every
    * 8×8 thumb (embeddings doubling as grayscale grids, the q181
    * convention): orthonormal separable DCT-II with the cosine basis
    * shipped to DuckDB as shortest-round-trip double literals from the
    * ONE Scala computation, fixed-order 8-term folds, median
    * `(s₃₁+s₃₂)/2` threshold, q181's hi/lo bit packs — bit-identical
    * across engines with no `cos()`/rounding dependence.
    */
  def q217(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .withColumn("__h",
        graft.functions.DctHashHalves.dctHashHalves(col("embedding")))
      .filter(col("__h").isNotNull)
      .select(col("vec_id"), col("__h.hi").as("hi"), col("__h.lo").as("lo"))

  val q217Sql: String = {
    val bLit = graft.functions.DctHashHalves.basis8
      .map(_.toString).mkString("[", ", ", "]")
    def fold8(term: Int => String): String = (0 until 8).map(term).mkString(" + ")
    // T[k=u*8+y] = Σ_x B[u*8+x] · g[x*8+y]
    val tTerms = fold8(x => s"b[(k//8)*8 + ${x + 1}] * g[${x * 8} + (k%8) + 1]")
    // C[j=u*8+v] = Σ_y B[v*8+y] · T[u*8+y]
    val cTerms = fold8(y => s"b[(j%8)*8 + ${y + 1}] * t[(j//8)*8 + ${y + 1}]")
    s"""WITH gr AS (
      | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS g,
      |  $bLit AS b
      | FROM embeddings
      | WHERE embedding IS NOT NULL AND len(embedding) = 64
      |  AND len(list_filter(embedding, x -> x IS NULL)) = 0),
      |t1 AS (
      | SELECT vec_id, b,
      |  list_transform(generate_series(0, 63), k -> $tTerms) AS t
      | FROM gr),
      |c1 AS (
      | SELECT vec_id,
      |  list_transform(generate_series(0, 63), j -> $cTerms) AS c
      | FROM t1),
      |md AS (
      | SELECT vec_id, c,
      |  (list_sort(c)[32] + list_sort(c)[33]) / 2.0 AS median
      | FROM c1)
      |SELECT vec_id,
      | CAST(list_sum(list_transform(generate_series(0, 31), i ->
      |  CAST(CASE WHEN c[i + 1] > median THEN 1 ELSE 0 END AS BIGINT)
      |   << (31 - i))) AS BIGINT) AS hi,
      | CAST(list_sum(list_transform(generate_series(32, 63), i ->
      |  CAST(CASE WHEN c[i + 1] > median THEN 1 ELSE 0 END AS BIGINT)
      |   << (63 - i))) AS BIGINT) AS lo
      |FROM md""".stripMargin
  }

  // --------------------------------------------------------------- q218
  /** Semantic decontamination
    * ([[graft.ops.CurationOps.semanticDecontaminate]]): every 25th
    * embedding plays the heldout eval set; corpus rows are flagged by
    * hyperplane-banded candidates + exact fused-cosine ≥ 0.4 verify.
    * The oracle reuses q45's inlined-plane signature and cosine-chain
    * SQL on both sides of the band join — the banded recall contract
    * itself is what's being replayed, not a brute-force relaxation.
    */
  def q218(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    CurationOps.semanticDecontaminate(
      e.filter(col("vec_id") % 25 =!= 0), e.filter(col("vec_id") % 25 === 0),
      "vec_id", "embedding", minCosine = 0.4,
      bands = q45Bands, planesPerBand = q45Planes, dim = q45Dim)
  }

  val q218Sql: String = {
    def bandSelects(pred: String): String = (0 until q45Bands).map { b =>
      s"""SELECT vec_id, embedding, $b AS band,
         | ${q45SigSql("embedding", b)} AS sig
         |FROM embeddings WHERE embedding IS NOT NULL AND $pred""".stripMargin
    }.mkString("\n UNION ALL\n")
    s"""WITH cb AS (
       |${bandSelects("vec_id % 25 <> 0")}),
       |hb AS (
       |${bandSelects("vec_id % 25 = 0")})
       |SELECT DISTINCT c.vec_id, h.vec_id AS heldout_id,
       | ${q45CosSql("c.embedding", "h.embedding")} AS cosine
       |FROM cb c JOIN hb h ON h.band = c.band AND h.sig = c.sig
       |WHERE ${q45CosSql("c.embedding", "h.embedding")} >= 0.4""".stripMargin
  }

  // --------------------------------------------------------------- q219
  /** Token-budget epoch plan ([[graft.ops.MixOps.epochPlan]], τ=0.7,
    * 1M-token budget over `source` domains with `n_chars` as the token
    * proxy): temperature-damped shares, per-domain token targets and
    * the implied repeat factors. Both engines round the damped share
    * to 6 decimals before the domain-ordered total fold.
    */
  def q219(spark: SparkSession, dir: String): DataFrame =
    MixOps.epochPlan(Tables.documents(spark, dir), "source", "n_chars",
      targetTokens = 1000000L, temperature = 0.7)

  /** The τ = 0.7 mixture weights of q219 and q220: per-source token
    * counts `per`, the tempered weights `w` and their total `t`.
    */
  private val epochWeightsSql: String =
    """per AS (
      | SELECT source AS domain, CAST(sum(n_chars) AS BIGINT) AS n_tokens
      | FROM documents GROUP BY 1),
      |w AS (
      | SELECT domain, n_tokens,
      |  round(pow(CAST(n_tokens AS DOUBLE), 0.7), 6) AS w
      | FROM per),
      |t AS (SELECT list_sum(list(w ORDER BY domain)) AS tw FROM w)""".stripMargin

  val q219Sql: String =
    s"""WITH $epochWeightsSql
      |SELECT domain, n_tokens, w / tw AS weight,
      | round(w / tw * 1000000.0, 6) AS target_tokens,
      | round(round(w / tw * 1000000.0, 6) / CAST(n_tokens AS DOUBLE), 6)
      |  AS epochs
      |FROM w CROSS JOIN t""".stripMargin

  // --------------------------------------------------------------- q220
  /** Epoch-plan materializer ([[graft.ops.MixOps.epochPlanApply]],
    * same τ=0.7 / 1M-token plan as q219): each doc repeated
    * `floor(epochs)` times plus a stochastic-rounding extra copy drawn
    * by the portable md5 uniform over `doc_id#copy#seed` — the oracle
    * replays the plan CTE, the lateral copy expansion AND every draw.
    */
  def q220(spark: SparkSession, dir: String): DataFrame =
    MixOps.epochPlanApply(Tables.documents(spark, dir), "source", "n_chars",
      "doc_id", targetTokens = 1000000L, temperature = 0.7)

  val q220Sql: String =
    s"""WITH $epochWeightsSql,
      |plan AS (
      | SELECT domain,
      |  round(round(w / tw * 1000000.0, 6) / CAST(n_tokens AS DOUBLE), 6)
      |   AS epochs
      | FROM w CROSS JOIN t),
      |ext AS (
      | SELECT d.doc_id, p.domain,
      |  CAST(floor(p.epochs) AS INT) AS full_copies,
      |  p.epochs - floor(p.epochs) AS frac
      | FROM documents d JOIN plan p ON p.domain = d.source)
      |SELECT e.doc_id, e.domain, CAST(u.copy AS INT) AS copy
      |FROM ext e, unnest(range(0, e.full_copies + 1)) u(copy)
      |WHERE u.copy < e.full_copies
      |   OR CAST('0x' || substr(
      |        md5(e.doc_id || '#' || u.copy || '#' || '42'), 1, 15) AS BIGINT)
      |      / 1152921504606846976.0 < e.frac""".stripMargin

  // --------------------------------------------------------------- q221
  /** BPE merge-table training ([[graft.ops.BpeOps.bpeMergeTable]], 3
    * rounds): the oracle unrolls the ENTIRE training loop — weighted
    * adjacent-pair counts (q120's statistic), the (cnt desc, a, b)
    * argmax, and the greedy left-to-right merge application as a
    * `list_reduce` string fold semantically identical to
    * [[graft.ops.BpeOps.applyMerge]]'s array fold — three times in
    * chained CTEs, pinning every learned merge and its winning count.
    */
  def q221(spark: SparkSession, dir: String): DataFrame =
    BpeOps.bpeMergeTable(Tables.documents(spark, dir), "text", numMerges = 3)

  /** BPE training round `k` in DuckDB: the weighted adjacent-pair
    * counts `p<k>` of the spaced-symbol state `s<k-1>`, their argmax
    * `m<k>`, and the merged state `s<k>`; `carry` ("" or "word, ")
    * names the columns carried through the fold besides `n`.
    */
  private def bpeRoundSql(k: Int, carry: String): String = {
    val prev = s"s${k - 1}"
    s"""p$k AS (
       | SELECT l[i] AS a, l[i + 1] AS b, CAST(SUM(n) AS BIGINT) AS cnt
       | FROM (SELECT n, string_split(s, ' ') AS l FROM $prev) t,
       |      unnest(range(1, len(l))) u(i)
       | GROUP BY 1, 2),
       |m$k AS (
       | SELECT a, b, cnt FROM p$k WHERE cnt >= 2
       | ORDER BY cnt DESC, a, b LIMIT 1),
       |s$k AS (
       | SELECT ${carry}n, list_reduce(string_split(s, ' '), (acc, x) ->
       |   CASE WHEN (acc = m.a OR
       |              right(acc, length(m.a) + 1) = ' ' || m.a)
       |             AND x = m.b
       |        THEN substr(acc, 1, length(acc) - length(m.a)) || m.a || m.b
       |        ELSE acc || ' ' || x END) AS s
       | FROM $prev CROSS JOIN m$k m)""".stripMargin
  }

  val q221Sql: String =
    s"""WITH wds AS (
       | SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
       |   AS word
       | FROM documents),
       |v AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM wds GROUP BY 1),
       |s0 AS (
       | SELECT n, array_to_string(regexp_split_to_array(word, ''), ' ') AS s
       | FROM v),
       |${(1 to 3).map(bpeRoundSql(_, "")).mkString(",\n")}
       |SELECT * FROM (
       | SELECT CAST(1 AS INT) AS step, a, b, cnt FROM m1
       | UNION ALL SELECT CAST(2 AS INT), a, b, cnt FROM m2
       | UNION ALL SELECT CAST(3 AS INT), a, b, cnt FROM m3)""".stripMargin

  // --------------------------------------------------------------- q222
  /** The non-empty documents `t` with their word lists `toks` — the
    * input of [[qualitySql]] in q222 and q225.
    */
  private val qualityToksSql: String =
    """t AS (
       | SELECT doc_id, text,
       |  list_filter(string_split(text, ' '), x -> x <> '') AS toks
       | FROM documents WHERE text IS NOT NULL AND len(text) > 0)""".stripMargin

  /** TextAnalysis.qualityScore over a `t` row, as the column
    * `quality`.
    */
  private val qualitySql: String =
    s"""least(len(toks) / 20.0, 1.0) * 0.4
       |   + greatest(0.0, 1.0 -
       |      (CAST(len(text) - len(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
       |       / len(text)) * 4.0) * 0.4
       |   + least((CAST(len(list_filter(toks, tk -> list_contains($enStopwordsSql, tk))) AS DOUBLE)
       |      / len(toks)) * 5.0, 1.0) * 0.2 AS quality""".stripMargin

  /** Curriculum ordering ([[graft.ops.SplitOps.curriculumOrder]] over
    * the q26 quality score, descending thresholds 0.8/0.5): easy bins
    * first, md5-shuffled within bin, dense global position from the
    * range-partitioned sort + zipWithIndex — the oracle's
    * `ROW_NUMBER() OVER (ORDER BY bin, draw, doc_id)` replays the
    * total order exactly.
    */
  def q222(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .filter(col("text").isNotNull && length(col("text")) > 0)
    SplitOps.curriculumOrder(
      d, graft.ops.TextAnalysis.qualityScore(col("text")), "doc_id",
      binThresholds = Seq(0.8, 0.5), seed = "cur")
  }

  val q222Sql: String =
    s"""WITH $qualityToksSql,
       |s AS (
       | SELECT doc_id,
       |  $qualitySql
       | FROM t),
       |b AS (
       | SELECT doc_id,
       |  CASE WHEN quality >= 0.8 THEN 0
       |       WHEN quality >= 0.5 THEN 1 ELSE 2 END AS bin,
       |  ${md5LongSql("doc_id || '#' || 'cur'")}
       |    / 1152921504606846976.0 AS draw
       | FROM s)
       |SELECT doc_id, CAST(bin AS INT) AS bin,
       | ROW_NUMBER() OVER (ORDER BY bin, draw, doc_id) - 1 AS position
       |FROM b""".stripMargin

  // --------------------------------------------------------------- q223
  /** Power-iteration top principal component
    * ([[graft.ops.VectorOps.powerComponent]], 3 passes, dim 64): the
    * oracle replays every pass — exact round-then-DECIMAL(38,9)
    * per-dimension sufficient sums, the left-to-right centered
    * projection chain, the round-6 direction resync — as chained
    * CTEs. `w₀ = 1/√64 = 0.125` exactly, so the first chain needs no
    * literal shipping.
    */
  def q223(spark: SparkSession, dir: String): DataFrame =
    VectorOps.powerComponent(
      Tables.embeddings(spark, dir), "embedding", dim = 64, iters = 3)

  private val powerDim = 64

  /** The power-iteration replay of q223 and q240 up to the first pass:
    * the valid vectors `e`, their count `nn`, exact per-dim sums `b`,
    * and the mean vector `mu` with the total variance `tv` (`m`);
    * `mat` (" MATERIALIZED" or "") pins `nn` and `m`.
    */
  private def powerStatsSql(mat: String): String =
    s"""e AS (
       | SELECT embedding AS v FROM embeddings
       | WHERE embedding IS NOT NULL AND len(embedding) = $powerDim
       |  AND len(list_filter(embedding, x -> x IS NULL)) = 0),
       |nn AS$mat (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
       |b AS (
       | SELECT i,
       |  CAST(SUM(CAST(round(CAST(v[i + 1] AS DOUBLE), 9)
       |    AS DECIMAL(38,9))) AS DOUBLE) AS sx,
       |  CAST(SUM(CAST(round(
       |    CAST(v[i + 1] AS DOUBLE) * CAST(v[i + 1] AS DOUBLE), 9)
       |    AS DECIMAL(38,9))) AS DOUBLE) AS sq
       | FROM (SELECT v, unnest(generate_series(0, ${powerDim - 1})) AS i FROM e)
       | GROUP BY i),
       |m AS$mat (
       | SELECT list(sx / nn.n ORDER BY i) AS mu,
       |  list_sum(list(sq / nn.n - (sx / nn.n) * (sx / nn.n) ORDER BY i))
       |   AS tv
       | FROM b, nn)""".stripMargin

  /** Power pass `k` from direction `w<k-1>`, or from the uniform start
    * 0.125 = 1/√64 on a `restart`: the per-row projection `t<k>` and
    * the exact per-dim re-accumulation `u<k>`.
    */
  private def powerPassSql(k: Int, restart: Boolean): String = {
    def w(j: Int) = if (restart) "0.125" else s"w${k - 1}.w[${j + 1}]"
    val wFrom = if (restart) "" else s", w${k - 1}"
    val tChain = (0 until powerDim)
      .map(j => s"(CAST(v[${j + 1}] AS DOUBLE) - m.mu[${j + 1}]) * ${w(j)}")
      .mkString(" + ")
    s"""t$k AS (
       | SELECT v, $tChain AS t FROM e, m$wFrom),
       |u$k AS (
       | SELECT i, CAST(SUM(CAST(round(
       |   (CAST(v[i + 1] AS DOUBLE) - m.mu[i + 1]) * t, 9)
       |   AS DECIMAL(38,9))) AS DOUBLE) AS u
       | FROM (SELECT v, t, unnest(generate_series(0, ${powerDim - 1})) AS i
       |       FROM t$k), m
       | GROUP BY i)""".stripMargin
  }

  /** `w<k>`: `u<k>` L2-normalized, resynced to 6 decimals, with its
    * norm `lam`; `mat` as in [[powerStatsSql]].
    */
  private def powerNormSql(k: Int, mat: String): String =
    s"""w$k AS$mat (
       | SELECT list_transform(ul, x -> round(x / lam, 6)) AS w, lam
       | FROM (SELECT list(u / nn.n ORDER BY i) AS ul,
       |        sqrt(list_sum(list((u / nn.n) * (u / nn.n) ORDER BY i)))
       |         AS lam
       |       FROM u$k, nn))""".stripMargin

  val q223Sql: String =
    s"""WITH ${powerStatsSql("")},
       |${(1 to 3).map(k => s"${powerPassSql(k, k == 1)},\n${powerNormSql(k, "")}").mkString(",\n")}
       |SELECT CAST(i AS INT) AS i, w3.w[i + 1] AS loading,
       | w3.lam AS eigenvalue, w3.lam / m.tv AS var_share
       |FROM (SELECT unnest(generate_series(0, ${powerDim - 1})) AS i), w3, m"""
      .stripMargin

  // --------------------------------------------------------------- q224
  /** ε-DP noisy source counts ([[graft.ops.ProfileOps.dpCounts]],
    * ε=0.5): the Laplace(2) release whose inverse-CDF noise draw is
    * the portable md5 uniform over `source#dp` — the oracle replays
    * the count, the draw, and the `−b·sgn(u−½)·ln(1−2|u−½|)` noise
    * algebra exactly.
    */
  def q224(spark: SparkSession, dir: String): DataFrame =
    ProfileOps.dpCounts(Tables.documents(spark, dir), "source",
      epsilon = 0.5, salt = "dp")

  val q224Sql: String =
    s"""WITH g AS (
      | SELECT source, CAST(count(*) AS BIGINT) AS n
      | FROM documents GROUP BY 1),
      |u AS (
      | SELECT source, n,
      |  ${md5LongSql("source || '#' || 'dp'")}
      |   / 1152921504606846976.0 AS u
      | FROM g)
      |SELECT source,
      | CAST(n AS DOUBLE)
      |  - 2.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)) AS noisy_count
      |FROM u""".stripMargin

  // --------------------------------------------------------------- q225
  /** Cohen's kappa ([[graft.ops.EvalMetrics.cohensKappa]]) between two
    * heuristic quality raters — the q26 quality score at 0.5 and the
    * q216 Flesch score at 60 — the labeling-pipeline agreement gate.
    * All counts stay integer up to two exact-ratio divisions, so both
    * engines agree bit-for-bit; undefined-flesch rows rate 'bad' in
    * both engines (CASE NULL falls through).
    */
  def q225(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .filter(col("text").isNotNull && length(col("text")) > 0)
    val quality = graft.ops.TextAnalysis.qualityScore(col("text"))
    val flesch =
      graft.ops.TextAnalysis.readabilitySignals(col("text")).getField("flesch")
    EvalMetrics.cohensKappa(d,
      when(quality >= 0.5, "good").otherwise("bad"),
      when(flesch >= 60.0, "good").otherwise("bad"))
  }

  val q225Sql: String =
    s"""WITH $qualityToksSql,
       |sig AS (
       | SELECT doc_id,
       |  $qualitySql,
       |  CAST(len(toks) AS INT) AS n_words,
       |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS INT)
       |   AS n_sentences,
       |  CAST(greatest(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')),
       |   len(toks)) AS INT) AS n_syllables
       | FROM t),
       |r AS (
       | SELECT doc_id,
       |  CASE WHEN quality >= 0.5 THEN 'good' ELSE 'bad' END AS a,
       |  CASE WHEN (CASE WHEN n_words = 0 THEN NULL
       |   ELSE 206.835
       |    - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
       |    - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
       |   END) >= 60.0 THEN 'good' ELSE 'bad' END AS b
       | FROM sig),
       |cells AS (
       | SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1, 2),
       |tot AS (
       | SELECT CAST(SUM(c) AS BIGINT) AS n,
       |  CAST(SUM(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS agree
       | FROM cells),
       |ma AS (SELECT a, CAST(SUM(c) AS BIGINT) AS ca FROM cells GROUP BY 1),
       |mb AS (SELECT b AS a, CAST(SUM(c) AS BIGINT) AS cb
       |       FROM cells GROUP BY 1),
       |pe AS (
       | SELECT coalesce(SUM(CAST(ca AS DECIMAL(19,0))
       |   * CAST(cb AS DECIMAL(19,0))), 0) AS pe_num
       | FROM ma JOIN mb USING (a))
       |SELECT n, po, pe,
       | CASE WHEN pe < 1.0 THEN (po - pe) / (1.0 - pe) END AS kappa
       |FROM (
       | SELECT tot.n AS n,
       |  CAST(agree AS DOUBLE) / CAST(tot.n AS DOUBLE) AS po,
       |  CAST(pe_num AS DOUBLE)
       |   / (CAST(tot.n AS DOUBLE) * CAST(tot.n AS DOUBLE)) AS pe
       | FROM tot, pe)""".stripMargin

  // --------------------------------------------------------------- q226
  /** Tokenizer fertility ([[graft.ops.BpeOps.bpeFertility]], 3 BPE
    * merges): tokens/word and chars/token per language. The oracle
    * re-trains the 3 merges with q221's unrolled loop — here each
    * round CTE carries the WORD through the fold so the final merged
    * state joins back to the per-language word stream — and all
    * ratios are exact integer-sum divisions.
    */
  def q226(spark: SparkSession, dir: String): DataFrame =
    BpeOps.bpeFertility(Tables.documents(spark, dir), "text", "lang",
      numMerges = 3)

  val q226Sql: String =
    s"""WITH wds AS (
       | SELECT lang,
       |  unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
       | FROM documents),
       |v AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM wds GROUP BY 1),
       |s0 AS (
       | SELECT word, n,
       |  array_to_string(regexp_split_to_array(word, ''), ' ') AS s
       | FROM v),
       |${(1 to 3).map(bpeRoundSql(_, "word, ")).mkString(",\n")},
       |tk AS (
       | SELECT word, CAST(len(string_split(s, ' ')) AS BIGINT) AS n_tok,
       |  CAST(length(word) AS BIGINT) AS n_chr
       | FROM s3)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
       | CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       | CAST(SUM(n_chr) AS BIGINT) AS n_chars,
       | CAST(SUM(n_tok) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS fertility,
       | CAST(SUM(n_chr) AS DOUBLE) / CAST(SUM(n_tok) AS DOUBLE)
       |  AS chars_per_token
       |FROM wds JOIN tk USING (word)
       |GROUP BY 1""".stripMargin

  // --------------------------------------------------------------- q227
  /** Fairness audit ([[graft.ops.EvalMetrics.fairnessAudit]]) of the
    * q112-convention pseudo-classifier (pred: `doc_id·13 mod 7 < 3`,
    * label: `doc_id·29 mod 11 < 5`) sliced by `source`: selection
    * rate, TPR/FPR, demographic-parity and equal-opportunity gaps vs
    * the corpus-wide rates — all exact integer-count ratios.
    */
  def q227(spark: SparkSession, dir: String): DataFrame =
    EvalMetrics.fairnessAudit(Tables.documents(spark, dir), "source",
      (pmod(col("doc_id") * 13, lit(7)) < 3).cast("int"),
      (pmod(col("doc_id") * 29, lit(11)) < 5).cast("int"))

  val q227Sql: String =
    """WITH b AS (
      | SELECT source AS g,
      |  CASE WHEN (doc_id * 13) % 7 < 3 THEN 1 ELSE 0 END AS p,
      |  CASE WHEN (doc_id * 29) % 11 < 5 THEN 1 ELSE 0 END AS y
      | FROM documents),
      |per AS (
      | SELECT g, CAST(count(*) AS BIGINT) AS n,
      |  CAST(SUM(p) AS BIGINT) AS pp,
      |  CAST(SUM(CASE WHEN y = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |   AS tp,
      |  CAST(SUM(CASE WHEN y = 0 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |   AS fp,
      |  CAST(SUM(y) AS BIGINT) AS pos
      | FROM b GROUP BY 1),
      |tot AS (
      | SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(pp) AS BIGINT) AS tpp,
      |  CAST(SUM(tp) AS BIGINT) AS ttp, CAST(SUM(pos) AS BIGINT) AS tpos
      | FROM per)
      |SELECT g AS source, n,
      | CASE WHEN n > 0 THEN CAST(pp AS DOUBLE) / CAST(n AS DOUBLE) END
      |  AS pos_rate,
      | CASE WHEN pos > 0 THEN CAST(tp AS DOUBLE) / CAST(pos AS DOUBLE) END
      |  AS tpr,
      | CASE WHEN n - pos > 0
      |  THEN CAST(fp AS DOUBLE) / CAST(n - pos AS DOUBLE) END AS fpr,
      | (CASE WHEN n > 0 THEN CAST(pp AS DOUBLE) / CAST(n AS DOUBLE) END)
      |  - (CASE WHEN tn > 0 THEN CAST(tpp AS DOUBLE) / CAST(tn AS DOUBLE) END)
      |  AS dp_gap,
      | (CASE WHEN pos > 0 THEN CAST(tp AS DOUBLE) / CAST(pos AS DOUBLE) END)
      |  - (CASE WHEN tpos > 0
      |      THEN CAST(ttp AS DOUBLE) / CAST(tpos AS DOUBLE) END) AS eo_gap
      |FROM per, tot""".stripMargin

  // --------------------------------------------------------------- q228
  /** N-gram novelty rate ([[graft.ops.CurationOps.noveltyRate]], q53's
    * eval/train split and 3-gram string keys): per eval doc the share
    * of its distinct grams already verbatim in the training corpus.
    * The oracle replays the inverted probe — train grams against the
    * eval gram set, matched keys joined back per doc — and gram-less
    * docs emit `n_grams = 0` with NULL rate on both engines.
    */
  def q228(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    CurationOps.noveltyRate(
      d.filter(col("doc_id") % 20 =!= 0),
      d.filter(col("doc_id") % 20 === 0),
      "text", "doc_id", n = 3,
      gramKeys = (t, n) => array_distinct(CurationOps.ngramList(t, n)))
  }

  val q228Sql: String =
    s"""WITH $trigramsSql,
      |ev AS (
      | SELECT DISTINCT doc_id, g FROM (
      |  SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id % 20 = 0)),
      |evset AS (SELECT DISTINCT g FROM ev),
      |hit AS (
      | SELECT DISTINCT tr.g
      | FROM (SELECT unnest(gs) AS g FROM grams WHERE doc_id % 20 <> 0) tr
      |  JOIN evset USING (g)),
      |per AS (
      | SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |  CAST(SUM(CASE WHEN h.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_seen
      | FROM ev e LEFT JOIN hit h USING (g) GROUP BY 1)
      |SELECT d.doc_id,
      | coalesce(p.n_grams, 0) AS n_grams, coalesce(p.n_seen, 0) AS n_seen,
      | CASE WHEN coalesce(p.n_grams, 0) > 0
      |  THEN 1.0 - CAST(p.n_seen AS DOUBLE) / CAST(p.n_grams AS DOUBLE)
      | END AS novelty
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 20 = 0) d
      |LEFT JOIN per p USING (doc_id)""".stripMargin

  // --------------------------------------------------------------- q229
  /** `name`: the vectors of `from` as `emb` = `emb` (the full vector or
    * a slice) with its L2 norm `nrm`.
    */
  private def embNormSql(name: String, emb: String, from: String): String =
    s"""$name AS (
       | SELECT vec_id, $emb AS emb,
       |  sqrt(list_sum(list_transform($emb,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       | FROM $from)""".stripMargin

  /** `name`: the exact cosine of each (query, neighbor) pair of `src`
    * (an [[embNormSql]] relation) that the join condition `on` keeps.
    */
  private def cosinePairsSql(name: String, src: String, on: String): String =
    s"""$name AS (
       | SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |  list_sum(list_transform(generate_series(1, len(a.emb)),
       |    i -> CAST(a.emb[i] AS DOUBLE) * CAST(b.emb[i] AS DOUBLE)))
       |   / (a.nrm * b.nrm) AS cosine
       | FROM $src a JOIN $src b$on)""".stripMargin

  /** `name`: the `k` best neighbors of each query in `from` by (cosine
    * DESC, neighbor_id), as the columns `cols`.
    */
  private def topRankedSql(name: String, from: String, cols: String, k: Int): String =
    s"""$name AS (
       | SELECT $cols FROM (
       |  SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
       |   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
       |  FROM $from) WHERE rnk <= $k)""".stripMargin

  /** `out`: the exact top-5 of the query vectors (vec_id < 20) of
    * `src`, via the pair cosines `<out>c`.
    */
  private def top5Sql(src: String, out: String, cols: String): String =
    s"""${cosinePairsSql(out + "c", src, " ON a.vec_id < 20 AND b.vec_id <> a.vec_id")},
       |${topRankedSql(out, out + "c", cols, 5)}""".stripMargin

  /** Brute cosine top-5 of the query vectors (vec_id < 20) on the full
    * embeddings and on their first 16 dims — q229, q241 and q245.
    */
  private def fullAndTruncatedTop5(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = Tables.embeddings(spark, dir)
    val full = SimilarityOps.bruteCosineTopK(e.filter(col("vec_id") < 20), e, 5)
    val t = e.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
    (full, SimilarityOps.bruteCosineTopK(t.filter(col("vec_id") < 20), t, 5))
  }

  /** [[fullAndTruncatedTop5]] in DuckDB: the full-dim `f` and the
    * first-16-dim `t` rankings with the columns `cols`.
    */
  private def fullVsTruncatedSql(cols: String): String =
    s"""${embNormSql("ef", "embedding", "embeddings")},
       |${embNormSql("et", "embedding[1:16]", "embeddings")},
       |${top5Sql("ef", "f", cols)},
       |${top5Sql("et", "t", cols)}""".stripMargin

  /** Truncated-dimension retrieval recall (the Matryoshka-embedding
    * evaluation): brute top-5 on the first 16 of 64 dims, scored by
    * [[graft.ops.SimilarityOps.annRecall]] against the full-dim
    * top-5 — how much ranking quality a 4× cheaper vector buys away.
    * The oracle builds both rankings with q24's exact cosine algebra
    * and counts the overlap as integers.
    */
  def q229(spark: SparkSession, dir: String): DataFrame = {
    val (full, trunc) = fullAndTruncatedTop5(spark, dir)
    SimilarityOps.annRecall(full, trunc, k = 5)
  }

  val q229Sql: String =
    s"""WITH ${fullVsTruncatedSql("query_id, neighbor_id")},
       |ov AS (
       | SELECT f.query_id, CAST(count(*) AS BIGINT) AS n_kept
       | FROM f JOIN t USING (query_id, neighbor_id) GROUP BY 1)
       |SELECT q.query_id, coalesce(ov.n_kept, 0) AS n_kept,
       | CAST(coalesce(ov.n_kept, 0) AS DOUBLE) / 5.0 AS recall_at_k
       |FROM (SELECT DISTINCT query_id FROM f) q
       |LEFT JOIN ov USING (query_id)""".stripMargin

  // --------------------------------------------------------------- q230
  /** Content-defined chunking dup census
    * ([[graft.ops.DedupOps.cdcDupStats]], gear mask 2^6, hash window
    * 20): per doc, chunks shared verbatim with another document. The
    * oracle replays the closed-form trailing-window Horner fold, the
    * cut positions, the substring chunking AND the cross-doc census —
    * chunk strings as keys (the q53 oracle convention; production
    * defaults to xxhash64 keys).
    */
  def q230(spark: SparkSession, dir: String): DataFrame =
    DedupOps.cdcDupStats(
      Tables.documents(spark, dir)
        .filter(col("text").isNotNull && length(col("text")) > 0),
      "text", "doc_id", keyFn = c => c)

  val q230Sql: String =
    """WITH d AS (
      | SELECT doc_id, text FROM documents
      | WHERE text IS NOT NULL AND len(text) > 0),
      |co AS (
      | SELECT doc_id, text,
      |  list_transform(generate_series(1, length(text)),
      |    i -> (CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT)
      |          * 2654435761) % 1048576) AS codes
      | FROM d),
      |hh AS (
      | SELECT doc_id, text, len(codes) AS n,
      |  list_transform(generate_series(1, len(codes)), i ->
      |    list_reduce(codes[greatest(1, i - 19):i],
      |      (a, x) -> a * 2 + x) % 1048576) AS hs
      | FROM co),
      |cu AS (
      | SELECT doc_id, text, n,
      |  list_concat(list_concat([CAST(0 AS BIGINT)],
      |    list_filter(generate_series(1, n),
      |      i -> i < n AND hs[i] % 64 = 0)), [CAST(n AS BIGINT)]) AS cuts
      | FROM hh),
      |ch AS (
      | SELECT doc_id,
      |  unnest(list_transform(generate_series(1, len(cuts) - 1),
      |    k -> substr(text, CAST(cuts[k] + 1 AS INT),
      |      CAST(cuts[k + 1] - cuts[k] AS INT)))) AS chunk
      | FROM cu),
      |sh AS (
      | SELECT chunk FROM (
      |  SELECT chunk, count(DISTINCT doc_id) AS nd FROM ch GROUP BY 1)
      | WHERE nd > 1)
      |SELECT ch.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
      | CAST(SUM(CASE WHEN sh.chunk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |  AS n_shared,
      | CAST(SUM(CASE WHEN sh.chunk IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |  / CAST(count(*) AS DOUBLE) AS shared_frac
      |FROM ch LEFT JOIN sh USING (chunk)
      |GROUP BY 1""".stripMargin

  // --------------------------------------------------------------- q231
  /** Temporal embargo split
    * ([[graft.ops.SplitOps.temporalEmbargoSplit]]): cutoff at 70% of
    * the corpus time range, embargo 2% — both INTEGER micros
    * arithmetic (`lo + (hi−lo)·7/10`, exact in any engine), users
    * straddling the purge window dropped to `embargoed`. The bounds
    * collect is one 1-row aggregation (bounded by contract).
    */
  def q231(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("t"))
    val b = ev.agg(min(col("t")).as("lo"), max(col("t")).as("hi")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    SplitOps.temporalEmbargoSplit(ev, "user_id", col("t"),
      cutoffUs = lo + (hi - lo) * 7 / 10, embargoUs = (hi - lo) / 50)
  }

  val q231Sql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
      |p AS (
      | SELECT min(t) + (max(t) - min(t)) * 7 // 10 AS cutoff,
      |  (max(t) - min(t)) // 50 AS emb
      | FROM e),
      |u AS (
      | SELECT user_id, min(t) AS min_ts, max(t) AS max_ts,
      |  CAST(count(*) AS BIGINT) AS n_events
      | FROM e GROUP BY 1)
      |SELECT user_id, min_ts, max_ts, n_events,
      | CASE WHEN max_ts < cutoff THEN 'train'
      |      WHEN min_ts >= cutoff + emb THEN 'test'
      |      ELSE 'embargoed' END AS split
      |FROM u, p""".stripMargin

  // --------------------------------------------------------------- q232
  /** Poisson bootstrap CI
    * ([[graft.ops.StatsOps.poissonBootstrapCI]], B=40, α=0.05) for the
    * mean event value: the oracle replays every per-row per-replicate
    * Poisson(1) draw (inverse CDF of the md5 uniform against the
    * SHARED [[graft.ops.StatsOps.poisson1Cdf]] literals), the exact
    * DECIMAL replicate sums, the ascending-means order statistics and
    * the SE fold.
    */
  def q232(spark: SparkSession, dir: String): DataFrame =
    StatsOps.poissonBootstrapCI(Tables.events(spark, dir),
      "value", "event_id", reps = 40, seed = "boot", alpha = 0.05)

  /** A replicate weight: the Poisson(1) inverse CDF
    * ([[graft.ops.StatsOps.poisson1Cdf]]) at the md5 uniform `u`.
    */
  private val poissonWeightSql: String = StatsOps.poisson1Cdf.zipWithIndex
    .map { case (t, k) => s"WHEN u < $t THEN $k" }
    .mkString("CASE ", " ", " ELSE 6 END")

  /** The md5 key of row `k`'s draw in replicate `b` under `seed`. Like
    * [[bootstrapSql]] it keeps its margin for the caller's stripMargin:
    * its second line starts with `||`, which a second stripMargin
    * would cut.
    */
  private def bootstrapKeySql(seed: String): String =
    s"""k || '#' || CAST(b AS VARCHAR)
       |    || '#' || '$seed'"""

  /** The B = 40 Poisson bootstrap of the mean of `from` (k, v): the
    * count and exact sum `total`, the md5 draws `d` under `seed`, the
    * weights `w`, replicate sums `m`, the sorted replicate means `mm`
    * and the order-statistic inputs `st` — q232, q241 and
    * [[retrievalStackTailSql]]. Interpolate it into a stripMargin'd
    * string, which strips its margin once.
    */
  private def bootstrapSql(total: String, from: String, seed: String): String =
    s"""$total AS (
       | SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(SUM(CAST(round(v, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sv
       | FROM $from),
       |d AS (
       | SELECT b, v,
       |  ${md5LongSql(bootstrapKeySql(seed))}
       |   / 1152921504606846976.0 AS u
       | FROM $from, range(0, 40) r(b)),
       |w AS (SELECT b, v, $poissonWeightSql AS w FROM d),
       |m AS (
       | SELECT b,
       |  CAST(SUM(CAST(round(CAST(w AS DOUBLE) * v, 9) AS DECIMAL(38,9)))
       |   AS DOUBLE) AS s,
       |  CAST(SUM(w) AS BIGINT) AS c
       | FROM w GROUP BY b),
       |mm AS (SELECT list(s / c ORDER BY s / c) AS ms FROM m WHERE c > 0),
       |st AS (
       | SELECT ms, len(ms) AS nb,
       |  CAST(floor(0.025 * (len(ms) - 1)) AS INT) AS kk,
       |  list_sum(ms) / len(ms) AS mb
       | FROM mm)"""

  /** The percentile CI row over [[bootstrapSql]]'s `total` and `st`. */
  private def bootstrapCiSql(total: String): String =
    s"""SELECT $total.n, $total.sv / $total.n AS mean,
       | st.ms[st.kk + 1] AS boot_lo,
       | st.ms[st.nb - st.kk] AS boot_hi,
       | CASE WHEN st.nb > 1 THEN
       |  sqrt(list_sum(list_transform(st.ms, x -> (x - st.mb) * (x - st.mb)))
       |   / (st.nb - 1)) ELSE 0.0 END AS boot_se
       |FROM $total, st""".stripMargin

  val q232Sql: String =
    s"""WITH e AS (
       | SELECT CAST(event_id AS VARCHAR) AS k, value AS v FROM events
       | WHERE value IS NOT NULL),
       |${bootstrapSql("t", "e", "boot")}
       |${bootstrapCiSql("t")}""".stripMargin

  // --------------------------------------------------------------- q233
  /** Label-noise screen ([[graft.ops.EvalMetrics.labelDisagreement]]
    * over brute top-5 cosine neighborhoods, queries `vec_id < 30`):
    * per query the neighbor-label disagreement fraction and the
    * suspect flag at 0.8. The oracle rebuilds the q24-exact ranking
    * and counts disagreements as integers.
    */
  def q233(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val nn = SimilarityOps.bruteCosineTopK(e.filter(col("vec_id") < 30), e, 5)
    EvalMetrics.labelDisagreement(nn, e, "vec_id", "label", suspectAt = 0.8)
  }

  val q233Sql: String =
    s"""WITH e AS (SELECT vec_id, label, embedding,
      |  sqrt(list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      | FROM embeddings),
      |${bruteCosineSql(30)}),
      |${topRankedSql("r", "c", "query_id, neighbor_id", 5)}
      |SELECT r.query_id, ql.label,
      | CAST(count(*) AS BIGINT) AS n_neighbors,
      | CAST(SUM(CASE WHEN nl.label <> ql.label THEN 1 ELSE 0 END) AS BIGINT)
      |  AS n_disagree,
      | CAST(SUM(CASE WHEN nl.label <> ql.label THEN 1 ELSE 0 END) AS DOUBLE)
      |  / CAST(count(*) AS DOUBLE) AS disagree_frac,
      | (CAST(SUM(CASE WHEN nl.label <> ql.label THEN 1 ELSE 0 END) AS DOUBLE)
      |  / CAST(count(*) AS DOUBLE)) >= 0.8 AS suspect
      |FROM r
      |JOIN (SELECT vec_id, label FROM embeddings WHERE label IS NOT NULL) ql
      | ON ql.vec_id = r.query_id
      |JOIN (SELECT vec_id, label FROM embeddings WHERE label IS NOT NULL) nl
      | ON nl.vec_id = r.neighbor_id
      |GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q234
  /** ε-DP clipped mean per event type
    * ([[graft.ops.ProfileOps.dpMean]], ε=0.5, clip [0,100], ε/2+ε/2
    * budget): the oracle replays the clip, the exact DECIMAL sum, and
    * both Laplace draws (`b_sum = 100/0.25 = 400`, `b_cnt = 4`).
    */
  def q234(spark: SparkSession, dir: String): DataFrame =
    ProfileOps.dpMean(Tables.events(spark, dir), "event_type", "value",
      epsilon = 0.5, clipLo = 0.0, clipHi = 100.0, salt = "dpm")

  val q234Sql: String =
    """WITH g AS (
      | SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(round(greatest(0.0, least(100.0, value)), 9)
      |    AS DECIMAL(38,9))) AS DOUBLE) AS s
      | FROM events WHERE value IS NOT NULL GROUP BY 1),
      |u AS (
      | SELECT event_type, n, s,
      |  CAST('0x' || substr(md5(event_type || '#' || 'dpm#sum'), 1, 15)
      |    AS BIGINT) / 1152921504606846976.0 AS us,
      |  CAST('0x' || substr(md5(event_type || '#' || 'dpm#cnt'), 1, 15)
      |    AS BIGINT) / 1152921504606846976.0 AS uc
      | FROM g),
      |r AS (
      | SELECT event_type,
      |  s + (-400.0) * sign(us - 0.5) * ln(1.0 - 2.0 * abs(us - 0.5))
      |   AS noisy_sum,
      |  CAST(n AS DOUBLE)
      |   + (-4.0) * sign(uc - 0.5) * ln(1.0 - 2.0 * abs(uc - 0.5))
      |   AS noisy_count
      | FROM u)
      |SELECT event_type, noisy_sum, noisy_count,
      | noisy_sum / greatest(1.0, noisy_count) AS noisy_mean
      |FROM r""".stripMargin

  // --------------------------------------------------------------- q235
  /** Embedding-cluster MIX drift: q65's k-means assignment split into
    * even/odd `vec_id` halves (the two-corpus-snapshots convention),
    * PSI over the CLUSTER distribution via
    * [[graft.ops.DriftOps.categoricalDrift]] — the semantic-space
    * monitor that catches "the new crawl is topically different"
    * before any per-feature drift gate fires. Oracle: q65's unrolled
    * k-means prefix feeding q100's smoothed-PSI tail; both halves'
    * counts come from ONE scan of the assignment CTE (FILTER
    * aggregates) — a second reference would make DuckDB inline and
    * re-evaluate the whole unrolled k-means, which is what blew the
    * gate's 8 GB memory cap in the round-8 artifact (fits in 2 GB
    * single-scan). FULL JOIN vs single-scan is equivalence, not
    * approximation: every `af` row has an even or odd vec_id, so the
    * joined cluster set equals the grouped one.
    */
  def q235(spark: SparkSession, dir: String): DataFrame = {
    val assign = SimilarityOps.kmeansAssign(
      Tables.embeddings(spark, dir), "embedding", "vec_id",
      k = q65K, iters = q65Iters, dim = q65Dim)
    DriftOps.categoricalDrift(
      assign.filter(col("vec_id") % 2 === 0),
      assign.filter(col("vec_id") % 2 === 1), "cluster")
  }

  val q235Sql: String =
    s"""${kmeansPrefixSql("af")},
      |j AS (SELECT cl AS cluster,
      |  CAST(count(*) FILTER (WHERE vec_id % 2 = 0) AS BIGINT) AS n_old,
      |  CAST(count(*) FILTER (WHERE vec_id % 2 = 1) AS BIGINT) AS n_new
      | FROM af GROUP BY 1),
      |t AS (SELECT SUM(n_old) AS t_old, SUM(n_new) AS t_new, count(*) AS k
      |      FROM j),
      |w AS (SELECT cluster, n_old, n_new,
      |  (CAST(n_old AS DOUBLE) + 1.0) / (CAST(t_old AS DOUBLE) + CAST(k AS DOUBLE)) AS p_old,
      |  (CAST(n_new AS DOUBLE) + 1.0) / (CAST(t_new AS DOUBLE) + CAST(k AS DOUBLE)) AS p_new
      | FROM j CROSS JOIN t),
      |w2 AS (SELECT cluster, n_old, n_new, p_old, p_new,
      |  (p_new - p_old) * ln(p_new / p_old) AS psi_term FROM w),
      |tt AS (SELECT CAST(SUM(CAST(round(psi_term, 9) AS DECIMAL(38,9))) AS DOUBLE)
      |       AS psi_total FROM w2)
      |SELECT * FROM w2 CROSS JOIN tt""".stripMargin

  // --------------------------------------------------------------- q236
  /** DoReMi reweighting step ([[graft.ops.MixOps.doremiStep]], η=0.1)
    * from a per-source proxy loss (mean chars / 1000 — exact integer
    * ratios): the oracle replays the loss, the exp tilt, and the
    * sorted-domain normalizer fold.
    */
  def q236(spark: SparkSession, dir: String): DataFrame = {
    val loss = Tables.documents(spark, dir)
      .groupBy(col("source").as("domain"))
      .agg(sum(col("n_chars")).as("__sc"), count(lit(1)).as("__c"))
      .select(col("domain"),
        (col("__sc").cast("double") / col("__c").cast("double") / 1000.0)
          .as("loss"))
    MixOps.doremiStep(loss, "domain", "loss", eta = 0.1)
  }

  val q236Sql: String =
    """WITH per AS (
      | SELECT source AS domain, CAST(sum(n_chars) AS BIGINT) AS sc,
      |  CAST(count(*) AS BIGINT) AS c
      | FROM documents GROUP BY 1),
      |l AS (
      | SELECT domain,
      |  CAST(sc AS DOUBLE) / CAST(c AS DOUBLE) / 1000.0 AS loss
      | FROM per),
      |k AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM l),
      |s AS (
      | SELECT domain, loss, 1.0 / k AS w0,
      |  (1.0 / k) * exp(0.1 * loss) AS raw
      | FROM l, k),
      |t AS (SELECT list_sum(list(raw ORDER BY domain)) AS tw FROM s)
      |SELECT domain, loss, w0 AS weight_old, raw / tw AS weight_new
      |FROM s, t""".stripMargin

  // --------------------------------------------------------------- q237
  /** Per-event-type Poisson bootstrap CIs
    * ([[graft.ops.StatsOps.poissonBootstrapCIByGroup]], B=40, α=0.05)
    * — the fully-distributed per-slice form: CI + SE computed INSIDE
    * the engine per group (sorted 40-mean arrays, left folds), no
    * driver loop. Oracle replays draws, replicate means, order
    * statistics and folds per group.
    */
  def q237(spark: SparkSession, dir: String): DataFrame =
    StatsOps.poissonBootstrapCIByGroup(Tables.events(spark, dir),
      "event_type", "value", "event_id", reps = 40, seed = "boot",
      alpha = 0.05)

  val q237Sql: String =
    s"""WITH e AS (
       | SELECT event_type AS g, CAST(event_id AS VARCHAR) AS k, value AS v
       | FROM events WHERE value IS NOT NULL),
       |pt AS (
       | SELECT g, CAST(count(*) AS BIGINT) AS n,
       |  CAST(SUM(CAST(round(v, 9) AS DECIMAL(38,9))) AS DOUBLE)
       |   / CAST(count(*) AS DOUBLE) AS mean
       | FROM e GROUP BY 1),
       |d AS (
       | SELECT g, v, b,
       |  ${md5LongSql(bootstrapKeySql("boot"))}
       |   / 1152921504606846976.0 AS u
       | FROM e, range(0, 40) r(b)),
       |w AS (SELECT g, b, v, $poissonWeightSql AS w FROM d),
       |m AS (
       | SELECT g, b,
       |  CAST(SUM(CAST(round(CAST(w AS DOUBLE) * v, 9) AS DECIMAL(38,9)))
       |   AS DOUBLE) AS s,
       |  CAST(SUM(w) AS BIGINT) AS c
       | FROM w GROUP BY 1, 2),
       |ms AS (
       | SELECT g, list(s / c ORDER BY s / c) AS ms
       | FROM m WHERE c > 0 GROUP BY 1),
       |st AS (
       | SELECT g, ms, len(ms) AS nb,
       |  CAST(floor(0.025 * (len(ms) - 1)) AS INT) AS kk,
       |  list_sum(ms) / len(ms) AS mb
       | FROM ms)
       |SELECT pt.g AS event_type, pt.n, pt.mean,
       | st.ms[st.kk + 1] AS boot_lo, st.ms[st.nb - st.kk] AS boot_hi,
       | CASE WHEN st.nb > 1 THEN
       |  sqrt(list_sum(list_transform(st.ms, x -> (x - st.mb) * (x - st.mb)))
       |   / (st.nb - 1)) ELSE 0.0 END AS boot_se
       |FROM pt JOIN st ON pt.g = st.g""".stripMargin

  // --------------------------------------------------------------- q238
  /** Quantile normalization ([[graft.ops.StatsOps.quantileNormalize]])
    * of `n_chars` across sources: every doc's length replaced by the
    * pooled length at its within-source rank — integer rank mapping
    * `⌈rank·N / n_g⌉`, replayed exactly by the oracle's window ranks
    * and integer division.
    */
  def q238(spark: SparkSession, dir: String): DataFrame =
    StatsOps.quantileNormalize(
      Tables.documents(spark, dir), "source", "n_chars", "doc_id")

  val q238Sql: String =
    """WITH b AS (
      | SELECT doc_id, source AS g, CAST(n_chars AS DOUBLE) AS v
      | FROM documents WHERE n_chars IS NOT NULL),
      |r AS (
      | SELECT doc_id, g, v,
      |  ROW_NUMBER() OVER (PARTITION BY g ORDER BY v, doc_id) AS rk
      | FROM b),
      |c AS (SELECT g, CAST(count(*) AS BIGINT) AS ng FROM b GROUP BY 1),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM b),
      |p AS (
      | SELECT v AS pv, ROW_NUMBER() OVER (ORDER BY v, doc_id) AS pi
      | FROM b)
      |SELECT r.doc_id, r.g AS source, r.v AS value, p.pv AS normalized
      |FROM r JOIN c USING (g) CROSS JOIN t
      |JOIN p ON p.pi = (r.rk * t.nt + c.ng - 1) // c.ng""".stripMargin

  // --------------------------------------------------------------- q239
  /** Dedup threshold-tuning curve: ONE banded-candidate pass (q21's
    * machinery at floor 0.5) feeding cumulative pairs-at-threshold
    * counts for 0.5–0.9 — the table a dedup rollout is tuned from
    * (how many pairs each threshold setting would merge) without
    * re-running the pipeline per candidate setting. Jaccards are
    * exact integer ratios, so the threshold buckets agree bit-for-bit.
    */
  def q239(spark: SparkSession, dir: String): DataFrame = {
    val ts = Seq(0.5, 0.6, 0.7, 0.8, 0.9)
    val pairs = DedupOps.minHashDedupPortable(
      Tables.documents(spark, dir), "text", "doc_id", threshold = 0.5,
      bands = 4, rowsPerBand = 4)
    val aggs = ts.zipWithIndex.map { case (t, i) =>
      sum(when(col("jaccard") >= t, 1L).otherwise(0L)).as(s"__n$i") }
    val agg = pairs.agg(aggs.head, aggs.tail: _*)
    agg.select(explode(array(ts.zipWithIndex.map { case (t, i) =>
        struct(lit(t).as("threshold"), col(s"__n$i").as("n_pairs")) }: _*))
      .as("r")).select("r.*")
  }

  val q239Sql: String = {
    val curve = minhashPairCtes(0.5)
    val rows = Seq(0.5, 0.6, 0.7, 0.8, 0.9).map(t =>
      s"SELECT CAST($t AS DOUBLE) AS threshold, CAST(SUM(CASE WHEN" +
        s" jaccard >= $t THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs" +
        s" FROM vpairs")
      .mkString("\n UNION ALL ")
    s"""WITH $curve
      |$rows""".stripMargin
  }

  // --------------------------------------------------------------- q240
  /** Top-2 principal components by deflated power iteration
    * ([[graft.ops.VectorOps.powerComponents]], k=2, 3 passes each,
    * dim 64): q223's matrix-free chain extended with Hotelling
    * deflation — component 2 re-iterates against
    * `C − λ₁·w₁·w₁ᵀ`, where the deflation correction
    * `u −= (λ₁·(w₁·w))·w₁` is small driver/CTE arithmetic on the
    * final component-1 direction. The oracle unrolls all 6 passes;
    * every direction CTE is MATERIALIZED (each later pass references
    * earlier directions more than once, and DuckDB's default CTE
    * inlining would re-evaluate the whole upstream chain per
    * reference — the q192 lesson), and the deflation dot/subtract
    * use explicit left-to-right chains matching the driver fold.
    */
  def q240(spark: SparkSession, dir: String): DataFrame =
    VectorOps.powerComponents(
      Tables.embeddings(spark, dir), "embedding", dim = 64, iters = 3)

  val q240Sql: String = {
    // passes 4-6 deflate against the MATERIALIZED final component-1
    // direction w3
    def deflated(k: Int): String = {
      // dot as an explicit left-to-right chain (driver parity)
      val dotChain = (0 until powerDim)
        .map(j => if (k == 4) s"w3.w[${j + 1}] * 0.125" else s"w3.w[${j + 1}] * w${k - 1}.w[${j + 1}]")
        .mkString(" + ")
      val wFrom = if (k == 4) "" else s", w${k - 1}"
      s"""${powerPassSql(k, k == 4)},
         |d$k AS MATERIALIZED (
         | SELECT $dotChain AS dot FROM w3$wFrom),
         |w$k AS MATERIALIZED (
         | SELECT list_transform(ul, x -> round(x / lam, 6)) AS w, lam
         | FROM (SELECT list(ud ORDER BY i) AS ul,
         |        sqrt(list_sum(list(ud * ud ORDER BY i))) AS lam
         |       FROM (SELECT i,
         |              u / nn.n - (w3.lam * d$k.dot) * w3.w[i + 1]
         |               AS ud
         |             FROM u$k, nn, w3, d$k)))""".stripMargin
    }
    def outRow(c: Int, wk: String): String =
      s"""SELECT CAST($c AS INT) AS component, CAST(i AS INT) AS i,
         | $wk.w[i + 1] AS loading, $wk.lam AS eigenvalue,
         | $wk.lam / m.tv AS var_share
         |FROM (SELECT unnest(generate_series(0, ${powerDim - 1})) AS i), $wk, m"""
        .stripMargin
    val mat = " MATERIALIZED"
    s"""WITH ${powerStatsSql(mat)},
       |${(1 to 3).map(k => s"${powerPassSql(k, k == 1)},\n${powerNormSql(k, mat)}").mkString(",\n")},
       |${(4 to 6).map(deflated).mkString(",\n")}
       |${outRow(1, "w3")}
       |UNION ALL
       |${outRow(2, "w6")}""".stripMargin
  }

  // --------------------------------------------------------------- q242
  /** MMR diversified reranking
    * ([[graft.ops.SimilarityOps.mmrRerank]], k=5 from a top-10 pool,
    * λ=0.5): the post-retrieval diversity step — greedy
    * `argmax λ·rel − (1−λ)·max-sim-to-selected` over each query's
    * candidate pool. λ=0.5 keeps `1−λ` exactly representable so both
    * engines score with the identical double. The oracle unrolls all
    * 5 greedy steps: pool ranking with the q24 cosine algebra,
    * pairwise pool sims, per-step argmax windows with the
    * (score DESC, neighbor_id) tiebreak, MATERIALIZED selected-set
    * CTEs (the q192 inlining lesson).
    */
  def q242(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cands = SimilarityOps.bruteCosineTopK(e.filter(col("vec_id") < 20), e, 10)
    SimilarityOps.mmrRerank(cands, e, k = 5, lambdaRel = 0.5)
  }

  /** `ps`: the full-dim cosine (over `ef`) of each ordered pair of
    * distinct candidates in one query's `pool` — q242 and
    * [[retrievalStackTailSql]].
    */
  private val poolSimSql: String =
    """ps AS MATERIALIZED (
       | SELECT p1.query_id, p1.neighbor_id AS a, p2.neighbor_id AS b,
       |  list_sum(list_transform(generate_series(1, len(ea.emb)),
       |    i -> CAST(ea.emb[i] AS DOUBLE) * CAST(eb.emb[i] AS DOUBLE)))
       |   / (ea.nrm * eb.nrm) AS sim
       | FROM pool p1 JOIN pool p2 ON p2.query_id = p1.query_id
       |  AND p2.neighbor_id <> p1.neighbor_id
       | JOIN ef ea ON ea.vec_id = p1.neighbor_id
       | JOIN ef eb ON eb.vec_id = p2.neighbor_id)""".stripMargin

  /** MMR greedy step `i` (λ = 0.5) over `pool` and `ps`: each
    * unselected candidate's max similarity `msim` to the selected set
    * `sU<i-1>` (`m<i>`), the step's pick `sel<i>` (query, neighbor,
    * mmr_rank, then `scoreCols`), and the grown set `sU<i>`.
    */
  private def mmrStepSql(i: Int, scoreCols: String): String =
    s"""m$i AS (
       | SELECT p.query_id, p.neighbor_id, p.cosine, max(ps.sim) AS msim
       | FROM pool p
       | JOIN ps ON ps.query_id = p.query_id AND ps.a = p.neighbor_id
       | JOIN sU${i - 1} s ON s.query_id = ps.query_id
       |  AND s.neighbor_id = ps.b
       | WHERE NOT EXISTS (SELECT 1 FROM sU${i - 1} x
       |   WHERE x.query_id = p.query_id
       |    AND x.neighbor_id = p.neighbor_id)
       | GROUP BY 1, 2, 3),
       |sel$i AS MATERIALIZED (
       | SELECT query_id, neighbor_id, $i AS mmr_rank$scoreCols
       | FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |   ORDER BY 0.5 * cosine - 0.5 * msim DESC, neighbor_id) AS rnk
       |  FROM m$i) WHERE rnk = 1),
       |sU$i AS MATERIALIZED (
       | SELECT * FROM sU${i - 1}
       | UNION ALL SELECT query_id, neighbor_id FROM sel$i)""".stripMargin

  val q242Sql: String = {
    val scoreCols = ",\n  cosine AS relevance,\n  0.5 * cosine - 0.5 * msim AS mmr_score"
    s"""WITH ${embNormSql("ef", "embedding", "embeddings")},
       |${cosinePairsSql("fc", "ef", " ON a.vec_id < 20 AND b.vec_id <> a.vec_id")},
       |pool AS MATERIALIZED (
       | SELECT query_id, neighbor_id, cosine FROM (
       |  SELECT query_id, neighbor_id, cosine, ROW_NUMBER() OVER (
       |   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
       |  FROM fc) WHERE rnk <= 10),
       |$poolSimSql,
       |sel1 AS MATERIALIZED (
       | SELECT query_id, neighbor_id, 1 AS mmr_rank, cosine AS relevance,
       |  0.5 * cosine AS mmr_score
       | FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |   ORDER BY 0.5 * cosine DESC, neighbor_id) AS rnk
       |  FROM pool) WHERE rnk = 1),
       |sU1 AS MATERIALIZED (SELECT query_id, neighbor_id FROM sel1),
       |${(2 to 5).map(mmrStepSql(_, scoreCols)).mkString(",\n")}
       |SELECT query_id, neighbor_id, CAST(mmr_rank AS INT) AS mmr_rank,
       | relevance, mmr_score
       |FROM (SELECT * FROM sel1 UNION ALL SELECT * FROM sel2
       | UNION ALL SELECT * FROM sel3 UNION ALL SELECT * FROM sel4
       | UNION ALL SELECT * FROM sel5)""".stripMargin
  }

  // --------------------------------------------------------------- q243
  /** Positive-pair mining
    * ([[graft.ops.SimilarityOps.contrastivePairs]] with
    * `negatives = false`, anchors `vec_id < 30`, top-5 SAME-label
    * neighbors, self excluded): the anchor/positive sets a
    * contrastive fine-tune mines alongside q79's hard negatives. The
    * oracle rebuilds the q24-exact cosine ranking with the
    * label-match predicate on the same join.
    */
  def q243(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    SimilarityOps.contrastivePairs(
      e.filter(col("vec_id") < 30), e, k = 5, negatives = false)
  }

  val q243Sql: String =
    """WITH e AS (
      | SELECT vec_id, label, embedding AS emb,
      |  sqrt(list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      | FROM embeddings WHERE label IS NOT NULL),
      |c AS (
      | SELECT a.vec_id AS query_id, a.label AS q_label,
      |  b.vec_id AS neighbor_id, b.label AS n_label,
      |  list_sum(list_transform(generate_series(1, len(a.emb)),
      |    i -> CAST(a.emb[i] AS DOUBLE) * CAST(b.emb[i] AS DOUBLE)))
      |   / (a.nrm * b.nrm) AS cosine
      | FROM e a JOIN e b ON a.vec_id < 30 AND b.vec_id <> a.vec_id
      |  AND b.label = a.label)
      |SELECT query_id, q_label, neighbor_id, n_label, cosine, rank
      |FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |  ORDER BY cosine DESC, neighbor_id) AS INT) AS rank FROM c)
      |WHERE rank <= 5""".stripMargin

  // --------------------------------------------------------------- q244
  /** Per-document character entropy
    * ([[graft.ops.TextAnalysis.docCharEntropy]]): the gibberish /
    * binary-spill / repeated-char-spam quality gate. The oracle
    * replays the per-(doc, char) integer counts (q230's
    * substr-by-position convention), the `−p·log₂p` terms from the
    * same integer ratios (`ln(p)/ln(2)` — the algebra Spark's
    * `log(2, ·)` evaluates), and the order-free round-then-DECIMAL
    * term sum (the q107 entropy convention, per doc).
    */
  def q244(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.docCharEntropy(
      Tables.documents(spark, dir), "text", "doc_id")

  val q244Sql: String =
    """WITH d AS (
      | SELECT doc_id, text FROM documents
      | WHERE text IS NOT NULL AND len(text) > 0),
      |ci AS (
      | SELECT doc_id, text,
      |  unnest(generate_series(1, length(text))) AS i
      | FROM d),
      |cnt AS (
      | SELECT doc_id, substr(text, CAST(i AS INT), 1) AS ch,
      |  CAST(count(*) AS BIGINT) AS n
      | FROM ci GROUP BY 1, 2),
      |tt AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS tot
      |       FROM cnt GROUP BY 1),
      |s AS (
      | SELECT cnt.doc_id, tot,
      |  -(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))
      |   * (ln(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)) / ln(2.0)) AS term
      | FROM cnt JOIN tt USING (doc_id))
      |SELECT doc_id, CAST(min(tot) AS BIGINT) AS n_chars,
      | CAST(SUM(CAST(round(term, 9) AS DECIMAL(38,9))) AS DOUBLE)
      |  AS entropy_bits
      |FROM s GROUP BY 1""".stripMargin

  // --------------------------------------------------------------- q245
  /** Retrieval ranking metrics
    * ([[graft.ops.SimilarityOps.retrievalMetrics]]) for the q229
    * truncated-dimension search: per query recall@5, MRR and
    * binary-relevance nDCG@5 of the 16-dim ranking against the
    * full-dim top-5 — the order-aware half of the ANN acceptance
    * story (q229/q241 cover membership; this covers position). The
    * oracle rebuilds both rankings with the q24 cosine algebra and
    * replays the integer hit ranks, the exact-ratio MRR and the
    * round-then-DECIMAL log2-discount sums.
    */
  def q245(spark: SparkSession, dir: String): DataFrame = {
    val (full, trunc) = fullAndTruncatedTop5(spark, dir)
    SimilarityOps.retrievalMetrics(full, trunc, k = 5)
  }

  /** Over the hit ranks `hits` (query_id, r) and relevant counts
    * `nrel`: per query the hits, first hit rank and exact-DECIMAL DCG
    * (`perq`), and the ideal DCG at 5 (`ideal`) — q245 and
    * [[retrievalStackTailSql]].
    */
  private val ndcgSql: String = {
    def gain(x: String) = s"1.0 / (ln(CAST($x AS DOUBLE) + 1.0) / ln(2.0))"
    s"""perq AS (
       | SELECT query_id, CAST(count(*) AS BIGINT) AS n_kept,
       |  min(r) AS fr,
       |  CAST(SUM(CAST(round(${gain("r")}, 9) AS DECIMAL(38,9)))
       |   AS DOUBLE) AS dcg
       | FROM hits GROUP BY 1),
       |ideal AS (
       | SELECT query_id,
       |  CAST(SUM(CAST(round(${gain("i")}, 9) AS DECIMAL(38,9)))
       |   AS DOUBLE) AS idcg
       | FROM (SELECT query_id,
       |        unnest(generate_series(1, least(n_rel, 5))) AS i
       |       FROM nrel) GROUP BY 1)""".stripMargin
  }

  val q245Sql: String =
    s"""WITH ${fullVsTruncatedSql("query_id, neighbor_id, rnk")},
       |nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
       |         FROM f GROUP BY 1),
       |hits AS (
       | SELECT t.query_id, t.rnk AS r
       | FROM t JOIN f USING (query_id, neighbor_id)),
       |$ndcgSql
       |SELECT n.query_id, coalesce(p.n_kept, 0) AS n_kept,
       | CAST(coalesce(p.n_kept, 0) AS DOUBLE) / 5.0 AS recall_at_k,
       | coalesce(1.0 / CAST(p.fr AS DOUBLE), 0.0) AS mrr,
       | coalesce(p.dcg, 0.0) / i.idcg AS ndcg
       |FROM nrel n JOIN ideal i USING (query_id)
       |LEFT JOIN perq p USING (query_id)""".stripMargin

  // --------------------------------------------------------------- q246
  /** Per-dimension standardization
    * ([[graft.ops.VectorOps.standardizeVectors]]) of the embeddings
    * corpus, flattened to (vec_id, i, z) cells for hashing: exact
    * q178 sufficient-sum μ/σ per dimension, `z = (x−μ)/σ` doubles,
    * zero-variance dims NULL.
    */
  def q246(spark: SparkSession, dir: String): DataFrame =
    VectorOps.standardizeVectors(
      Tables.embeddings(spark, dir), "embedding", "vec_id")
      .select(col("vec_id"), posexplode(col("zvec")).as(Seq("i", "z")))

  val q246Sql: String =
    """WITH cells AS (
      | SELECT vec_id, CAST(u.i - 1 AS INT) AS i, CAST(u.x AS DOUBLE) AS x
      | FROM embeddings t, LATERAL (
      |  SELECT unnest(generate_series(1, len(embedding))) AS i,
      |   unnest(embedding) AS x) u),
      |st AS (
      | SELECT i, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(x, 9) AS DECIMAL(38, 9))) AS DOUBLE) AS sx,
      |  CAST(sum(CAST(round(x * x, 9) AS DECIMAL(38, 9))) AS DOUBLE)
      |   AS sxx
      | FROM cells GROUP BY 1),
      |m AS (
      | SELECT i, sx / CAST(n AS DOUBLE) AS mean,
      |  sqrt((sxx - sx * sx / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))
      |   AS std
      | FROM st)
      |SELECT c.vec_id, c.i,
      | CASE WHEN m.std > 0 THEN (c.x - m.mean) / m.std END AS z
      |FROM cells c JOIN m USING (i)""".stripMargin

  // --------------------------------------------------------------- q241
  /** ANN recall@5 with a bootstrap CI
    * ([[graft.ops.SimilarityOps.annRecallCI]], B=40, α=0.05) for the
    * q229 truncated-dimension retrieval: the uncertainty-aware form
    * of the acceptance metric — with 20 eval queries the point recall
    * alone can't separate two ANN configurations. The oracle chains
    * q229's exact-cosine double ranking into q232's replayed
    * bootstrap tail (md5 draws over `query_id#b#annci`, exact DECIMAL
    * replicate sums, ascending-means order statistics).
    */
  def q241(spark: SparkSession, dir: String): DataFrame = {
    val (full, trunc) = fullAndTruncatedTop5(spark, dir)
    SimilarityOps.annRecallCI(full, trunc, k = 5)
  }

  val q241Sql: String =
    s"""WITH ${fullVsTruncatedSql("query_id, neighbor_id")},
       |ov AS (
       | SELECT f.query_id, CAST(count(*) AS BIGINT) AS n_kept
       | FROM f JOIN t USING (query_id, neighbor_id) GROUP BY 1),
       |e AS (
       | SELECT CAST(q.query_id AS VARCHAR) AS k,
       |  CAST(coalesce(ov.n_kept, 0) AS DOUBLE) / 5.0 AS v
       | FROM (SELECT DISTINCT query_id FROM f) q
       | LEFT JOIN ov USING (query_id)),
       |${bootstrapSql("tt", "e", "annci")}
       |${bootstrapCiSql("tt")}""".stripMargin

  // --------------------------------------------------------------- q247
  /** END-TO-END RETRIEVAL-STACK ACCEPTANCE ROW — the composed pipeline
    * every RAG/curation deployment actually ships, validated as ONE
    * number instead of stage-by-stage (q214 pins the ADC search, q242
    * the MMR greedy, q245 the metrics, q241 the CI — this row pins
    * their COMPOSITION): PQ-ADC candidate search (q214's m=4/ksub=8/
    * 1-Lloyd configuration, top-10 pools, relevance = −adc6) →
    * [[graft.ops.SimilarityOps.mmrRerank]] (λ=0.5, k=5, redundancy
    * over the full-dim vectors) → [[graft.ops.SimilarityOps.retrievalMetrics]]
    * against the exact full-dim top-5 → one acceptance row: bootstrap
    * CI on recall@5 (B=40, the q241 tail, seed `stackci`) plus
    * exact-decimal mean MRR and nDCG. The oracle replays the whole
    * chain value-level: PQ training/encode/ADC CTEs, the 5-step MMR
    * greedy with MATERIALIZED selected sets, the q245 metric algebra,
    * and the q232 bootstrap tail.
    *
    * Scale shape: corpus-scale work is confined to the search stage
    * (PQ codes, O(m) per candidate); everything downstream operates on
    * query-set-bounded frames (pools of 10, metric rows of 20), so the
    * acceptance row costs one ANN search plus noise.
    */
  def q247(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 20)
    val cands = PqOps.pqSearchADC(q, e, k = 10,
        m = q214M, ksub = q214Ksub, dim = q214M * q214Sub)
      .select(col("query_id"), col("neighbor_id"),
        (-col("adc6")).as("cosine"))
    retrievalStackRow(cands, e, q)
  }

  /** The stack's shared Spark tail (MMR λ=0.5 k=5 → metrics vs the
    * exact full-dim top-5 → bootstrap recall CI + exact-decimal
    * MRR/nDCG means) over a candidate pool — q247 feeds it flat-PQ
    * candidates, q249 the standing residual IVF-PQ index's.
    */
  private def retrievalStackRow(
      cands: DataFrame, corpus: DataFrame, queries: DataFrame): DataFrame = {
    val exact = SimilarityOps.bruteCosineTopK(queries, corpus, 5)
    val reranked = SimilarityOps.mmrRerank(cands, corpus, k = 5, lambdaRel = 0.5)
      .select(col("query_id"), col("neighbor_id"),
        col("mmr_rank").as("rank"))
    val metrics = SimilarityOps.retrievalMetrics(exact, reranked, k = 5)
    val ci = StatsOps.poissonBootstrapCI(metrics, "recall_at_k", "query_id",
        reps = 40, seed = "stackci", alpha = 0.05)
      .select(col("n"), col("mean").as("recall_mean"),
        col("boot_lo").as("recall_lo"), col("boot_hi").as("recall_hi"),
        col("boot_se").as("recall_se"))
    def d9(c: org.apache.spark.sql.Column) =
      sum(round(c, 9).cast("decimal(38,9)")).cast("double")
    val means = metrics.agg(
      (d9(col("mrr")) / count(lit(1))).as("mrr_mean"),
      (d9(col("ndcg")) / count(lit(1))).as("ndcg_mean"))
    ci.crossJoin(means)
  }

  /** The retrieval-stack oracle's shared TAIL — everything downstream
    * of the candidate `pool` CTE (full-dim candidate↔candidate
    * cosines, the 5-step MATERIALIZED-selected-set MMR greedy at
    * λ=0.5, the exact full-dim top-5 baseline over the `vec_id < 20`
    * query set, the q245 metric algebra and the q232 bootstrap tail at
    * seed `stackci`) — verbatim-shared by q247 (flat-PQ candidates)
    * and q249 (standing residual IVF-PQ candidates), so the two
    * acceptance rows differ ONLY in the candidate stage, exactly like
    * the deployments they model.
    */
  private def retrievalStackTailSql: String = {
    s"""${embNormSql("ef", "embedding", "embeddings")},
       |$poolSimSql,
       |sel1 AS MATERIALIZED (
       | SELECT query_id, neighbor_id, 1 AS mmr_rank
       | FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |   ORDER BY 0.5 * cosine DESC, neighbor_id) AS rnk
       |  FROM pool) WHERE rnk = 1),
       |sU1 AS MATERIALIZED (SELECT query_id, neighbor_id FROM sel1),
       |${(2 to 5).map(mmrStepSql(_, "")).mkString(",\n")},
       |rr AS (
       | SELECT query_id, neighbor_id, mmr_rank AS r FROM (
       |  SELECT * FROM sel1 UNION ALL SELECT * FROM sel2
       |  UNION ALL SELECT * FROM sel3 UNION ALL SELECT * FROM sel4
       |  UNION ALL SELECT * FROM sel5)),
       |${top5Sql("ef", "f", "query_id, neighbor_id")},
       |nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
       |         FROM f GROUP BY 1),
       |hits AS (
       | SELECT rr.query_id, rr.r
       | FROM rr JOIN f USING (query_id, neighbor_id) WHERE rr.r <= 5),
       |$ndcgSql,
       |met AS (
       | SELECT n.query_id,
       |  CAST(coalesce(p.n_kept, 0) AS DOUBLE) / 5.0 AS recall,
       |  coalesce(1.0 / CAST(p.fr AS DOUBLE), 0.0) AS mrr,
       |  coalesce(p.dcg, 0.0) / i.idcg AS ndcg
       | FROM nrel n JOIN ideal i USING (query_id)
       | LEFT JOIN perq p USING (query_id)),
       |eb2 AS (SELECT CAST(query_id AS VARCHAR) AS k, recall AS v FROM met),
       |${bootstrapSql("tt", "eb2", "stackci")},
       |mz AS (
       | SELECT CAST(count(*) AS BIGINT) AS nq,
       |  CAST(SUM(CAST(round(mrr, 9) AS DECIMAL(38,9))) AS DOUBLE) AS smrr,
       |  CAST(SUM(CAST(round(ndcg, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sndcg
       | FROM met)
       |SELECT tt.n, tt.sv / tt.n AS recall_mean,
       | st.ms[st.kk + 1] AS recall_lo,
       | st.ms[st.nb - st.kk] AS recall_hi,
       | CASE WHEN st.nb > 1 THEN
       |  sqrt(list_sum(list_transform(st.ms, x -> (x - st.mb) * (x - st.mb)))
       |   / (st.nb - 1)) ELSE 0.0 END AS recall_se,
       | mz.smrr / mz.nq AS mrr_mean,
       | mz.sndcg / mz.nq AS ndcg_mean
       |FROM tt, st, mz""".stripMargin
  }

  val q247Sql: String =
    s"""WITH ${pqAdcSql("vec_id < 20")},
       |pool AS MATERIALIZED (
       | SELECT query_id, neighbor_id, -round(adc, 6) AS cosine FROM (
       |  SELECT query_id, neighbor_id, ((da + db) + dc) + dd AS adc,
       |   row_number() OVER (PARTITION BY query_id
       |    ORDER BY ((da + db) + dc) + dd ASC, neighbor_id) AS rank
       |  FROM padd) WHERE rank <= 10)""".stripMargin +
      ",\n" + retrievalStackTailSql

  // --------------------------------------------------------------- q248
  /** RESIDUAL IVF-PQ search, value-level
    * ([[graft.ops.PqOps.ivfPqSearchADC]] with `byResidual = true`,
    * nlist=4, nprobe=2, k=3, the q214 PQ configuration): q214 pins the
    * flat-PQ machinery and a differential spec pins the gated form
    * (`nprobe=nlist, byResidual=false` ≡ pqSearchADC), but the
    * RESIDUAL form — the FAISS IVFPQ default and the 100 TB deployment
    * shape — previously had no value-level oracle. This replays the
    * whole construction in SQL: the md5-ordered deterministic centroid
    * pick (engine index = position in ascending-id order of the
    * picked set), coarse assignment by the [[graft.functions.TopCentroids]]
    * cosine (q24 algebra; sim DESC, centroid ASC ties), float-IEEE
    * residuals (double subtraction of two floats rounded to REAL is
    * exactly float subtraction — binary64's 53 bits ≥ 2·24+2, so the
    * double rounding is innocuous), PQ training/encode on the residual
    * frame (q214's CTEs verbatim), per-(query, probe) residual LUTs,
    * and the pivoted ADC sum with the (adc ASC, neighbor_id) rank.
    */
  def q248(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    PqOps.ivfPqSearchADC(e.filter(col("vec_id") % 50 === 0), e, k = 3,
      nlist = 4, nprobe = 2, m = q214M, ksub = q214Ksub,
      dim = q214M * q214Sub, byResidual = true)
  }

  /** q248's residual IVF-PQ construction as a REUSABLE CTE chain —
    * deterministic md5-ordered centroid pick (nlist=4), cosine coarse
    * assignment, float-IEEE residuals, residual-frame PQ training
    * (q214's CTEs), per-(query, probe) residual LUTs and the pivoted
    * ADC sum — ending in `cand(query_id, neighbor_id, probe_rank,
    * adc)`, where `probe_rank` is the position of the neighbor's list
    * in the query's centroid ordering (unique per pair: a corpus
    * vector lives in exactly one list). `queryPred` picks the query
    * side; callers that narrow the corpus/training side (q250's split)
    * inline their own CTE instead. q248 ranks it to the top-3
    * value-level oracle, q249 pools the top-10 for the standing-index
    * acceptance stack, q251 sweeps probe_rank cuts into the
    * recall-vs-nprobe curve.
    */
  private def ivfPqCandSql(
      queryPred: String, nprobe: Int,
      prefix: String = "", corpusFrom: String = "embeddings",
      trainPred: String = "TRUE"): String = {
    val P = prefix
    val dim = q214M * q214Sub
    val avgList = (1 to q214Sub).map(j =>
      s"CAST(round(avg(CAST(v[$j] AS DOUBLE)), 6) AS REAL)").mkString(", ")
    // residual slice of a 64-float vector against its centroid: double
    // subtraction rounded to REAL == the engine's float `x - c`
    def resVec(vecFrom: String): String =
      s"""list_transform(generate_series(1, $dim),
         |   i -> CAST(CAST($vecFrom[i] AS DOUBLE)
         |         - CAST(c.c_vec[i] AS DOUBLE) AS REAL))""".stripMargin
    s"""${P}e AS (
       | SELECT vec_id, embedding FROM $corpusFrom
       | WHERE embedding IS NOT NULL AND len(embedding) = $dim
       |  AND len(list_filter(embedding, x -> x IS NULL)) = 0),
       |${P}cpick AS MATERIALIZED (
       | SELECT vec_id, embedding FROM $corpusFrom
       | WHERE embedding IS NOT NULL AND ($trainPred)
       | ORDER BY ${md5LongSql(s"CAST(vec_id AS VARCHAR) || '#' || 'ivf'")}, vec_id
       | LIMIT 4),
       |${P}cent AS MATERIALIZED (
       | SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid,
       |  embedding AS c_vec,
       |  sqrt(list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cnrm
       | FROM ${P}cpick),
       |${P}en AS (
       | SELECT vec_id, embedding,
       |  sqrt(list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       | FROM ${P}e),
       |${P}sims AS MATERIALIZED (
       | SELECT en.vec_id, c.centroid,
       |  list_sum(list_transform(generate_series(1, $dim),
       |    i -> CAST(en.embedding[i] AS DOUBLE) * CAST(c.c_vec[i] AS DOUBLE)))
       |   / (en.nrm * c.cnrm) AS sim
       | FROM ${P}en en CROSS JOIN ${P}cent c),
       |${P}asn AS MATERIALIZED (
       | SELECT vec_id, centroid FROM (
       |  SELECT vec_id, centroid,
       |   ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY sim DESC, centroid) AS rn
       |  FROM ${P}sims) WHERE rn = 1),
       |${P}rese AS MATERIALIZED (
       | SELECT e.vec_id, a.centroid,
       |  ${resVec("e.embedding")} AS rvec
       | FROM ${P}e e JOIN ${P}asn a USING (vec_id)
       | JOIN ${P}cent c USING (centroid)),
       |${P}sub AS (
       | SELECT r.vec_id, sp.s,
       |  r.rvec[(sp.s * $q214Sub + 1):(sp.s * $q214Sub + $q214Sub)] AS v
       | FROM ${P}rese r CROSS JOIN (SELECT unnest(range($q214M)) AS s) sp),
       |${P}tsub AS (
       | SELECT vec_id, s, v FROM ${P}sub WHERE ($trainPred)),
       |${P}seed AS (
       | SELECT s, CAST(code AS INT) AS code, v AS c FROM (
       |  SELECT s, row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1
       |    AS code, v
       |  FROM ${P}tsub) WHERE code < $q214Ksub),
       |${q214AssignSql(s"${P}seed", s"${P}a1", s"${P}tsub")},
       |${P}cb1m AS (
       | SELECT s, code, [$avgList] AS c FROM ${P}a1 GROUP BY s, code),
       |${P}cb1 AS (
       | SELECT sd.s, sd.code, coalesce(m.c, sd.c) AS c
       | FROM ${P}seed sd LEFT JOIN ${P}cb1m m
       |  ON m.s = sd.s AND m.code = sd.code),
       |${q214AssignSql(s"${P}cb1", s"${P}enc", s"${P}sub")},
       |${P}qprobe AS (
       | SELECT vec_id AS query_id, centroid, rn AS probe_rank FROM (
       |  SELECT vec_id, centroid,
       |   ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY sim DESC, centroid) AS rn
       |  FROM ${P}sims WHERE $queryPred) WHERE rn <= $nprobe),
       |${P}qres AS (
       | SELECT q.query_id, q.centroid, q.probe_rank,
       |  ${resVec("e.embedding")} AS rvec
       | FROM ${P}qprobe q JOIN ${P}e e ON e.vec_id = q.query_id
       | JOIN ${P}cent c USING (centroid)),
       |${P}qsub AS (
       | SELECT r.query_id, r.centroid, r.probe_rank, sp.s,
       |  r.rvec[(sp.s * $q214Sub + 1):(sp.s * $q214Sub + $q214Sub)] AS v
       | FROM ${P}qres r CROSS JOIN (SELECT unnest(range($q214M)) AS s) sp),
       |${P}lut AS (
       | SELECT q.query_id, q.centroid, q.probe_rank, cb.s, cb.code,
       |  (${q214D2("q.v", "0", "cb.c")}) AS d2
       | FROM ${P}qsub q JOIN ${P}cb1 cb ON cb.s = q.s),
       |${P}padd AS (
       | SELECT l.query_id, en2.vec_id AS neighbor_id,
       |  min(l.probe_rank) AS probe_rank,
       |  max(CASE WHEN l.s = 0 THEN l.d2 END) AS da,
       |  max(CASE WHEN l.s = 1 THEN l.d2 END) AS db,
       |  max(CASE WHEN l.s = 2 THEN l.d2 END) AS dc,
       |  max(CASE WHEN l.s = 3 THEN l.d2 END) AS dd
       | FROM (SELECT en0.vec_id, en0.s, en0.code, a.centroid
       |       FROM ${P}enc en0 JOIN ${P}asn a USING (vec_id)) en2
       | JOIN ${P}lut l ON l.centroid = en2.centroid AND l.s = en2.s
       |  AND l.code = en2.code
       | WHERE l.query_id <> en2.vec_id
       | GROUP BY 1, 2),
       |${P}cand AS (
       | SELECT query_id, neighbor_id, probe_rank,
       |  ((da + db) + dc) + dd AS adc
       | FROM ${P}padd)""".stripMargin
  }

  val q248Sql: String =
    s"""WITH ${ivfPqCandSql("vec_id % 50 = 0", 2)}
       |SELECT query_id, neighbor_id, round(adc, 6) AS adc6, rank FROM (
       | SELECT query_id, neighbor_id, adc,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |   ORDER BY adc ASC, neighbor_id) AS INT) AS rank
       | FROM cand) WHERE rank <= 3""".stripMargin

  // --------------------------------------------------------------- q249
  /** Once-per-(dir) standing IVF-PQ index builds for the q249/q250/
    * q251 rows — the deployment shape where training is the INGEST
    * pipeline's cost and the registry rows verify/time the SERVED
    * stack ([[graft.ops.PqOps.ivfPqIndex]]: nlist=4, the q214 PQ
    * configuration, residual encoding — the FAISS default), built once
    * per dir into the [[graft.core.Scratch]] store; the index content
    * is a pure deterministic function of the corpus, so Verify's dumps
    * are identical whatever the store holds. `q249Index` covers the
    * whole embeddings table (q249's search corpus, q251's curve
    * corpus); `q250Index` the `vec_id % 5 <> 0` key split (the
    * standing corpus q250's incoming batch is gauged against).
    */
  private def q249Index(spark: SparkSession, dir: String): String =
    Scratch.dir(s"q249_idx:$dir")(q248Index(Tables.embeddings(spark, dir), _))
  private def q250Index(spark: SparkSession, dir: String): String =
    Scratch.dir(s"q250_idx:$dir")(
      q248Index(Tables.embeddings(spark, dir).filter(col("vec_id") % 5 =!= 0), _))

  /** q248's construction (nlist=4, q214's PQ, residual) persisted at `out`. */
  private def q248Index(corpus: DataFrame, out: String): Unit =
    PqOps.ivfPqIndex(corpus, out, nlist = 4, m = q214M, ksub = q214Ksub,
      dim = q214M * q214Sub, byResidual = true)

  /** q252's drifted corpus: the raw embeddings plus a REVERSED-vector
    * replica (ids offset by 1e6). Reversal is the cheapest both-engine
    * drift transform with the right geometry: cosine is permutation-
    * equivariant, so the replica's INTERNAL neighbor structure mirrors
    * the corpus's exactly, while reversed-vs-raw similarities
    * decorrelate — a novel direction family the stale quantizer was
    * never trained for.
    */
  /** Once-per-dir guard (r12 advice): the drift replica offsets ids by
    * a fixed +1e6 in BOTH engines, so a fixture whose ids reach 1e6
    * would silently collide replica ids with real corpus ids and
    * corrupt both legs and the exact frame — fail loudly instead.
    */
  private val q252GuardOk = scala.collection.concurrent.TrieMap[String, Boolean]()
  private def q252Guard(spark: SparkSession, dir: String): Unit = {
    q252GuardOk.getOrElseUpdate(dir, {
      val maxId = Tables.embeddings(spark, dir)
        .agg(max(col("vec_id"))).head().getLong(0)
      require(maxId < 1000000L,
        s"q252: fixture max vec_id $maxId >= 1000000 collides with the " +
          "drift-replica id offset; regenerate with smaller ids or raise " +
          "the offset in q252Drift AND q252Sql together")
      true
    })
    ()
  }
  private def q252Drift(spark: SparkSession, dir: String): DataFrame = {
    q252Guard(spark, dir)
    Tables.embeddings(spark, dir)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
  }
  private def q252Corpus(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .unionByName(q252Drift(spark, dir))
  private def q252StaleIndex(spark: SparkSession, dir: String): String =
    Scratch.dir(s"q252_stale_idx:$dir") { out =>
      // train on the pre-drift corpus, then ingest the drifted batch
      // through the frozen quantizer — the stale-index path the gauge
      // warns against
      q248Index(Tables.embeddings(spark, dir), out)
      PqOps.ivfPqAppend(q252Drift(spark, dir), out)
    }
  private def q252RebuiltIndex(spark: SparkSession, dir: String): String =
    Scratch.dir(s"q252_rebuilt_idx:$dir")(q248Index(q252Corpus(spark, dir), _))

  /** STALE-vs-REBUILT serving parity — the VALUE-LEVEL oracle replay
    * of [[PqOps.ivfPqAppend]]'s frozen-quantizer contract (no prior
    * row replays a train ⊂ encode population split end-to-end; q250
    * gauges occupancy only): the drifted batch ([[q252Drift]]) is
    * ingested two ways — appended
    * through the STALE index's frozen quantizer vs a full REBUILD on
    * the post-drift corpus — and both standing indexes serve the same
    * drifted queries at nprobe=1 through [[PqOps.ivfPqNprobeCurve]].
    * One row per config: (config, n_queries, mean_candidates,
    * recall_mean vs the exact full-precision top-3). The oracle
    * replays BOTH chains via the [[ivfPqCandSql]] builder, with the
    * training side narrowed to the pre-drift ids for the stale leg —
    * the training-vs-encode population split is exactly what the
    * frozen-quantizer contract means, and a hash match here pins
    * centroid pick, coarse assignment, residual PQ training, frozen
    * encode and the served ranking for both index generations at
    * once. (The recall-RECOVERY consequence lives in PqSpec's
    * rebuild-loop differential on planted drift: the fixture
    * embeddings are unclustered noise — top cosine ≈ 0.33 — so
    * recall-vs-exact here is a parity pin, not a quality claim;
    * mean_candidates does carry signal, the drift-skewed stale list
    * occupancy.)
    */
  def q252(spark: SparkSession, dir: String): DataFrame = {
    val corpus = q252Corpus(spark, dir)
    val queries = q252Drift(spark, dir).filter(col("vec_id") < 1000010L)
    def leg(config: String, idx: String): DataFrame =
      PqOps.ivfPqNprobeCurve(queries, corpus, idx, k = 3, nprobes = Seq(1))
        .select(lit(config).as("config"), col("n_queries"),
          col("mean_candidates"), col("recall_mean"))
    leg("stale", q252StaleIndex(spark, dir))
      .unionByName(leg("rebuilt", q252RebuiltIndex(spark, dir)))
  }

  /** The SERVED retrieval stack, acceptance-rowed (VERDICT r10 #4):
    * q247 pins the stack over flat-PQ candidates, but the candidate
    * stage a 100 TB deployment actually runs is
    * [[graft.ops.PqOps.ivfPqSearchIndexed]] against the PERSISTED
    * residual IVF-PQ index ([[graft.ops.PqOps.ivfPqIndex]], built once
    * per corpus version — here at Verify warmup, cached per dir). This
    * row replays THAT stack end-to-end: standing-index search (nlist=4,
    * nprobe=2, top-10 pools, relevance = −adc6) → MMR λ=0.5 k=5 →
    * metrics vs the exact full-dim top-5 → bootstrap recall CI +
    * exact-decimal MRR/nDCG means. The oracle chains q248's
    * residual-IVF-PQ construction (the value-level twin of the stored
    * index + indexed search, which a differential spec pins equal to
    * the one-shot form) into q247's MMR/metrics/CI tail — shared
    * VERBATIM, so the only delta between the two acceptance rows is
    * the candidate stage, exactly like the deployments they model.
    * Recall here is measured against exact search, so the row also
    * witnesses what nprobe=2-of-4 pruning costs in quality (q251 makes
    * that trade-off a queryable curve).
    */
  def q249(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 20)
    val cands = PqOps.ivfPqSearchIndexed(q, q249Index(spark, dir),
        k = 10, nprobe = 2)
      .select(col("query_id"), col("neighbor_id"),
        (-col("adc6")).as("cosine"))
    retrievalStackRow(cands, e, q)
  }

  val q249Sql: String =
    s"""WITH ${ivfPqCandSql("vec_id < 20", 2)},
       |pool AS MATERIALIZED (
       | SELECT query_id, neighbor_id, -round(adc, 6) AS cosine FROM (
       |  SELECT query_id, neighbor_id, adc,
       |   row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc ASC, neighbor_id) AS rank
       |  FROM cand) WHERE rank <= 10)""".stripMargin +
      ",\n" + retrievalStackTailSql

  // --------------------------------------------------------------- q250
  /** Standing-index REBUILD-OR-KEEP gauge
    * ([[graft.ops.PqOps.ivfPqRebuildGauge]], PSI threshold 0.25, over
    * the base index on the `vec_id % 5 <> 0` split gauging the
    * `vec_id % 5 = 0` incoming batch): the decision procedure that
    * closes ivfPqAppend's "quantizer drift is a rebuild decision"
    * loop — q235's smoothed-PSI drift algebra applied to the coarse-
    * list occupancy distribution, base side read from the stored
    * codes' centroid column (no raw vectors), incoming side frozen-
    * assigned with the stored centroids. The oracle replays the
    * md5-ordered centroid pick over the base split, the cosine coarse
    * assignment of BOTH sides from one scan (q235's FILTER trick), the
    * q100 smoothed-PSI tail and the thresholded verdict. On the
    * key-split fixture the batch is corpus-like, so the committed
    * verdict is `keep`; the spec drives a drifted batch to `rebuild`.
    */
  def q250(spark: SparkSession, dir: String): DataFrame =
    PqOps.ivfPqRebuildGauge(
      Tables.embeddings(spark, dir).filter(col("vec_id") % 5 === 0),
      q250Index(spark, dir))

  val q250Sql: String = {
    val dim = q214M * q214Sub
    s"""WITH e AS (
       | SELECT vec_id, embedding FROM embeddings
       | WHERE embedding IS NOT NULL AND len(embedding) = $dim
       |  AND len(list_filter(embedding, x -> x IS NULL)) = 0),
       |cpick AS MATERIALIZED (
       | SELECT vec_id, embedding FROM embeddings
       | WHERE embedding IS NOT NULL AND vec_id % 5 <> 0
       | ORDER BY ${md5LongSql(s"CAST(vec_id AS VARCHAR) || '#' || 'ivf'")}, vec_id
       | LIMIT 4),
       |cent AS MATERIALIZED (
       | SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
       |   AS centroid,
       |  embedding AS c_vec,
       |  sqrt(list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cnrm
       | FROM cpick),
       |en AS (
       | SELECT vec_id, embedding,
       |  sqrt(list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       | FROM e),
       |sims AS (
       | SELECT en.vec_id, c.centroid,
       |  list_sum(list_transform(generate_series(1, $dim),
       |    i -> CAST(en.embedding[i] AS DOUBLE) * CAST(c.c_vec[i] AS DOUBLE)))
       |   / (en.nrm * c.cnrm) AS sim
       | FROM en CROSS JOIN cent c),
       |asn AS MATERIALIZED (
       | SELECT vec_id, centroid FROM (
       |  SELECT vec_id, centroid,
       |   ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY sim DESC, centroid) AS rn
       |  FROM sims) WHERE rn = 1),
       |j AS (
       | SELECT centroid,
       |  CAST(count(*) FILTER (WHERE vec_id % 5 <> 0) AS BIGINT) AS n_old,
       |  CAST(count(*) FILTER (WHERE vec_id % 5 = 0) AS BIGINT) AS n_new
       | FROM asn GROUP BY 1),
       |t AS (SELECT SUM(n_old) AS t_old, SUM(n_new) AS t_new, count(*) AS k
       |      FROM j),
       |w AS (SELECT centroid, n_old, n_new,
       |  (CAST(n_old AS DOUBLE) + 1.0)
       |   / (CAST(t_old AS DOUBLE) + CAST(k AS DOUBLE)) AS p_old,
       |  (CAST(n_new AS DOUBLE) + 1.0)
       |   / (CAST(t_new AS DOUBLE) + CAST(k AS DOUBLE)) AS p_new
       | FROM j CROSS JOIN t),
       |w2 AS (SELECT centroid, n_old, n_new, p_old, p_new,
       |  (p_new - p_old) * ln(p_new / p_old) AS psi_term FROM w),
       |tt AS (SELECT
       |  CAST(SUM(CAST(round(psi_term, 9) AS DECIMAL(38,9))) AS DOUBLE)
       |   AS psi_total FROM w2)
       |SELECT centroid, n_old, n_new, p_old, p_new, psi_term, psi_total,
       | CASE WHEN psi_total > 0.25 THEN 'rebuild' ELSE 'keep' END AS verdict
       |FROM w2 CROSS JOIN tt""".stripMargin
  }

  // --------------------------------------------------------------- q251
  /** RECALL-vs-nprobe tuning curve
    * ([[graft.ops.PqOps.ivfPqNprobeCurve]] over q249's standing index:
    * k=3, nprobe ∈ {1, 2, 4}, queries `vec_id % 50 = 0`): the ANN
    * operating point as a QUERYABLE TABLE — recall@3 against the exact
    * full-dim top-3 (quantization + pruning loss; the coarse q214
    * codebook pins it at 0 on this fixture), self-recall@3 against the
    * unpruned ADC ranking (the PRUNING loss alone — what the nprobe
    * knob actually trades; 1.0 at nprobe=nlist by construction), and
    * the mean probed-candidate count (the cost axis), all from ONE
    * search pass at nprobe=nlist with probe-rank cuts (the q239
    * threshold-curve pattern). The oracle extends
    * q248's construction with the probe rank threaded through the LUT
    * CTEs, sweeps the cuts against q241's exact-ranking recall
    * machinery, and replays the exact-decimal recall means.
    */
  def q251(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    PqOps.ivfPqNprobeCurve(e.filter(col("vec_id") % 50 === 0), e,
      q249Index(spark, dir), k = 3, nprobes = Seq(1, 2, 4))
  }

  val q251Sql: String =
    s"""WITH ${ivfPqCandSql("vec_id % 50 = 0", 4)},
       |pts AS (SELECT CAST(unnest([1, 2, 4]) AS INT) AS nprobe),
       |curve AS (
       | SELECT c.query_id, c.neighbor_id, c.adc, p.nprobe
       | FROM cand c JOIN pts p ON c.probe_rank <= p.nprobe),
       |topk AS (
       | SELECT nprobe, query_id, neighbor_id FROM (
       |  SELECT nprobe, query_id, neighbor_id,
       |   row_number() OVER (PARTITION BY nprobe, query_id
       |    ORDER BY adc ASC, neighbor_id) AS rnk
       |  FROM curve) WHERE rnk <= 3),
       |${embNormSql("ef2", "embedding", "embeddings")},
       |${cosinePairsSql("fc2", "ef2", "\n  ON a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id")},
       |${topRankedSql("f2", "fc2", "query_id, neighbor_id", 3)},
       |hits AS (
       | SELECT c.nprobe, c.query_id, CAST(count(*) AS BIGINT) AS h
       | FROM topk c JOIN f2 USING (query_id, neighbor_id) GROUP BY 1, 2),
       |fullk AS (
       | SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |   row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc ASC, neighbor_id) AS rnk
       |  FROM cand) WHERE rnk <= 3),
       |shits AS (
       | SELECT c.nprobe, c.query_id, CAST(count(*) AS BIGINT) AS h
       | FROM topk c JOIN fullk USING (query_id, neighbor_id)
       | GROUP BY 1, 2),
       |cq AS (
       | SELECT nprobe, query_id, CAST(count(*) AS BIGINT) AS nc
       | FROM curve GROUP BY 1, 2),
       |grid AS (
       | SELECT q.query_id, p.nprobe
       | FROM (SELECT vec_id AS query_id FROM e WHERE vec_id % 50 = 0) q
       | CROSS JOIN pts p),
       |perq AS (
       | SELECT g.nprobe, g.query_id,
       |  CAST(coalesce(h.h, 0) AS DOUBLE) / 3.0 AS recall,
       |  CAST(coalesce(s.h, 0) AS DOUBLE) / 3.0 AS self_recall,
       |  coalesce(cq.nc, 0) AS n_cand
       | FROM grid g
       | LEFT JOIN hits h ON h.nprobe = g.nprobe AND h.query_id = g.query_id
       | LEFT JOIN shits s ON s.nprobe = g.nprobe AND s.query_id = g.query_id
       | LEFT JOIN cq ON cq.nprobe = g.nprobe AND cq.query_id = g.query_id)
       |SELECT nprobe, CAST(count(*) AS BIGINT) AS n_queries,
       | CAST(sum(n_cand) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |  AS mean_candidates,
       | CAST(SUM(CAST(round(recall, 9) AS DECIMAL(38,9))) AS DOUBLE)
       |  / CAST(count(*) AS DOUBLE) AS recall_mean,
       | CAST(SUM(CAST(round(self_recall, 9) AS DECIMAL(38,9))) AS DOUBLE)
       |  / CAST(count(*) AS DOUBLE) AS self_recall_mean
       |FROM perq GROUP BY 1""".stripMargin

  val q252Sql: String = {
    val qpred = "vec_id >= 1000000 AND vec_id < 1000010"
    def leg(p: String, trainPred: String) =
      ivfPqCandSql(qpred, 1, prefix = p, corpusFrom = "corpus252",
        trainPred = trainPred)
    // per-leg recall tail (q251's tail without the nprobe dimension —
    // one cut at nprobe=1, recall vs the SHARED exact frame f2)
    def tail(p: String) =
      s"""${p}topk AS (
         | SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |   row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc ASC, neighbor_id) AS rnk
         |  FROM ${p}cand) WHERE rnk <= 3),
         |${p}hits AS (
         | SELECT t.query_id, CAST(count(*) AS BIGINT) AS h
         | FROM ${p}topk t JOIN f2 USING (query_id, neighbor_id)
         | GROUP BY 1),
         |${p}cq AS (
         | SELECT query_id, CAST(count(*) AS BIGINT) AS nc
         | FROM ${p}cand GROUP BY 1),
         |${p}perq AS (
         | SELECT q.query_id,
         |  CAST(coalesce(h.h, 0) AS DOUBLE) / 3.0 AS recall,
         |  coalesce(c.nc, 0) AS n_cand
         | FROM qv q
         | LEFT JOIN ${p}hits h USING (query_id)
         | LEFT JOIN ${p}cq c USING (query_id))""".stripMargin
    def sel(p: String, config: String) =
      s"""SELECT '$config' AS config,
         | CAST(count(*) AS BIGINT) AS n_queries,
         | CAST(sum(n_cand) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |  AS mean_candidates,
         | CAST(SUM(CAST(round(recall, 9) AS DECIMAL(38,9))) AS DOUBLE)
         |  / CAST(count(*) AS DOUBLE) AS recall_mean
         |FROM ${p}perq""".stripMargin
    s"""WITH corpus252 AS (
       | SELECT vec_id, embedding FROM embeddings
       | UNION ALL
       | SELECT vec_id + 1000000 AS vec_id,
       |  list_reverse(embedding) AS embedding
       | FROM embeddings),
       |${leg("s2", "vec_id < 1000000")},
       |${leg("r2", "TRUE")},
       |qv AS (SELECT vec_id AS query_id FROM s2e WHERE $qpred),
       |${embNormSql("ef2", "embedding", "corpus252")},
       |${cosinePairsSql("fc2", "ef2", "\n  ON a.vec_id >= 1000000 AND a.vec_id < 1000010\n   AND b.vec_id <> a.vec_id")},
       |${topRankedSql("f2", "fc2", "query_id, neighbor_id", 3)},
       |${tail("s2")},
       |${tail("r2")}
       |${sel("s2", "stale")}
       |UNION ALL
       |${sel("r2", "rebuilt")}""".stripMargin
  }

  // --------------------------------------------------------------- q253
  /** DELETE-AWARE served search — the VALUE-LEVEL oracle row for
    * [[PqOps.ivfPqDelete]]'s tombstone contract (the q252
    * parameterization pattern: same [[ivfPqCandSql]] builder, the
    * delete expressed as a predicate on the ENCODE/serving side): the
    * standing index is built on the FULL corpus — training saw the
    * soon-deleted rows, exactly the standing-index reality where
    * removal arrives after build — then `vec_id % 10 = 3` is
    * tombstoned and the drifted-free query batch (`vec_id % 50 = 0`,
    * never in the deleted set) is served at nprobe=2, k=3. The oracle
    * replays q248's full residual IVF-PQ construction UNCHANGED
    * (centroid pick, training and encode all keep the deleted rows —
    * delete must NOT perturb frozen artifacts) and excludes the
    * deleted ids from the candidate frame BEFORE ranking, so a hash
    * match pins all three tombstone semantics at the value level:
    * deleted ids never served, survivor order untouched, ranks
    * re-closed over survivors. PqSpec carries the physical-removal
    * and crash-state halves; this row is the SERVING contract.
    */
  private def q253Index(spark: SparkSession, dir: String): String =
    Scratch.dir(s"q253_idx:$dir") { out =>
      q248Index(Tables.embeddings(spark, dir), out)
      PqOps.ivfPqDelete(
        Tables.embeddings(spark, dir)
          .filter(col("vec_id") % 10 === 3).select("vec_id"),
        out)
    }

  def q253(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    PqOps.ivfPqSearchIndexed(e.filter(col("vec_id") % 50 === 0),
      q253Index(spark, dir), k = 3, nprobe = 2)
  }

  val q253Sql: String =
    s"""WITH ${ivfPqCandSql("vec_id % 50 = 0", 2)}
       |SELECT query_id, neighbor_id, round(adc, 6) AS adc6, rank FROM (
       | SELECT query_id, neighbor_id, adc,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |   ORDER BY adc ASC, neighbor_id) AS INT) AS rank
       | FROM cand WHERE neighbor_id % 10 <> 3) WHERE rank <= 3""".stripMargin

  // --------------------------------------------------------------- q254
  /** REPS-REMOVAL ≡ RECOMPUTE, cross-engine — the VALUE-LEVEL oracle
    * row for [[DedupOps.removedBucketReps]]'s spec equality, via the
    * portable md5-family twin of the reps pair (q44's hash family):
    * documents key-split by the portable id hash into an 80% corpus
    * (part ≠ 0); the standing corpus reps are built, then the part = 1
    * slice (a quarter of the corpus — dense enough that removed reps,
    * sole-member buckets and untouched rows all occur at every SF)
    * plus the part = 0 ids (absent from the corpus — the no-op branch)
    * are removed. Spark runs the REMOVAL plan (keep-side broadcast
    * anti-join + affected-bucket recompute + union); the oracle
    * recomputes the reps over the shrunk corpus from scratch — a hash
    * match pins removal ≡ recompute ACROSS engines at the value level
    * (the production spec pins it within Spark). One output row per
    * occupied bucket: rep id, verify-set size, and an md5 digest of
    * the sorted verify token set (tokens are space-split so the
    * space-joined digest is injective; arrays themselves don't cross
    * the driver compare).
    */
  def q254(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val part = pmod(PortableHash.md5Long(col("doc_id")), lit(5))
    val corpus = docs.filter(part =!= 0)
    val reps = DedupOps.corpusBucketRepsPortable(
      corpus, "text", "doc_id", bands = 4, rowsPerBand = 4)
    val removed = docs.filter(part === 1 || part === 0).select("doc_id")
    DedupOps.removedBucketRepsPortable(
      reps, corpus, removed, "text", "doc_id",
      bands = 4, rowsPerBand = 4)
      .select(col("band"), col("band_hash"), col("rep"), col("rep_n"),
        md5(array_join(array_sort(col("rep_toks")), " ")).as("rep_toks_md5"))
  }

  val q254Sql: String =
    s"""WITH doc AS (
      | SELECT doc_id, text,
      |   ${md5LongSql("CAST(doc_id AS VARCHAR)")} % 5 AS part
      | FROM documents),
      |${tokenSetSql("doc WHERE part >= 2")},
      |$minhashBandSql,
      |$minhashRepSql
      |SELECT CAST(r.band AS INT) AS band, r.bh AS band_hash, r.rep,
      |       CAST(t.n AS INT) AS rep_n,
      |       md5(array_to_string(list_sort(t.toks), ' ')) AS rep_toks_md5
      |FROM rep r JOIN t ON t.doc_id = r.rep""".stripMargin

  // --------------------------------------------------------------- q255
  /** The streaming opt-out dedup's BATCH TWIN, oracle-checked — the
    * pattern every streaming operator here follows (q12/q19/q40/q74/
    * q156: state contract in the spec, batch semantics in an oracle
    * row). [[graft.streaming.StreamingOps.streamingExactDedupOptOut]]
    * runs its general order-fold in batch mode over a THREE-PHASE
    * construction whose ord ranges are disjoint — phase A ingests every
    * document (ord = doc_id), phase B opt-outs the part-0 md5 slice
    * (ord + 1e9), phase C re-ingests the part-1-of-3 slice under fresh
    * ids (+2e6, ord + 2e9) — so every fold branch fires: first-winner
    * keep, dup drop, winner-removal free, non-winner/absent no-op,
    * post-free re-admission, still-live suppression. The phase
    * structure is what makes the oracle CLOSED-FORM (no recursive
    * state machine): phase-A keeps are the min id per normalized
    * content; a phase-B removal frees iff it removed that winner;
    * phase-C keeps are the min re-ingest id per freed content. A hash
    * match pins the general fold against that closed form — the fold
    * is the code deployments run, the closed form is the semantics.
    */
  /** The q252 guard discipline for q255's id/ord offsets: the phase-C
    * re-ingest ids are `doc_id + 2e6` and the phase ord ranges are
    * separated by 1e9 in BOTH engines — a fixture whose doc_ids reach
    * 2e6 would silently collide re-ingest ids with real ids (and 1e9
    * would interleave the phases), corrupting the fold and the oracle
    * identically. Fail loudly instead.
    */
  private val q255GuardOk = scala.collection.concurrent.TrieMap[String, Boolean]()
  private def q255Guard(spark: SparkSession, dir: String): Unit = {
    q255GuardOk.getOrElseUpdate(dir, {
      val maxId = Tables.documents(spark, dir)
        .agg(max(col("doc_id"))).head().getLong(0)
      require(maxId < 2000000L,
        s"q255: fixture max doc_id $maxId >= 2000000 collides with the " +
          "phase-C re-ingest id offset; regenerate with smaller ids or " +
          "raise the offsets in q255 AND q255Sql together")
      true
    })
    ()
  }

  def q255(spark: SparkSession, dir: String): DataFrame = {
    q255Guard(spark, dir)
    val docs = Tables.documents(spark, dir)
    val ingest = docs.select(col("doc_id"), col("text"),
      col("doc_id").cast("long").as("ord"))
    val removals = docs
      .filter(pmod(PortableHash.md5Long(col("doc_id")), lit(5)) === 0)
      .select(col("doc_id"), col("text"),
        (col("doc_id") + lit(1000000000L)).cast("long").as("ord"))
    val reingest = docs
      .filter(pmod(PortableHash.md5Long(col("doc_id")), lit(3)) === 1)
      .select((col("doc_id") + lit(2000000L)).as("doc_id"), col("text"),
        (col("doc_id") + lit(2000000000L)).cast("long").as("ord"))
    graft.streaming.StreamingOps.streamingExactDedupOptOut(
      ingest.unionByName(reingest), removals, "text", "doc_id", "ord")
      .select(col("doc_id"), col("ord"))
  }

  val q255Sql: String =
    s"""WITH doc AS (
      | SELECT doc_id, lower(trim(text)) AS t,
      |   ${md5LongSql("CAST(doc_id AS VARCHAR)")} AS h
      | FROM documents),
      |win AS (
      | SELECT t, min(doc_id) AS w FROM doc GROUP BY t),
      |freed AS (
      | SELECT r.t FROM doc r JOIN win ON win.t = r.t AND win.w = r.doc_id
      | WHERE r.h % 5 = 0),
      |ckept AS (
      | SELECT c.t, min(c.doc_id + 2000000) AS cid,
      |        min(c.doc_id + 2000000000) AS cord
      | FROM doc c
      | WHERE c.h % 3 = 1 AND c.t IN (SELECT t FROM freed)
      | GROUP BY c.t)
      |SELECT w AS doc_id, w AS ord FROM win
      |UNION ALL
      |SELECT cid AS doc_id, cord AS ord FROM ckept""".stripMargin

  /** name → (spark impl, oracle sql). */
  val all: Seq[(String, ((SparkSession, String) => DataFrame, String))] = Seq(
    "q21_dedup_minhash" -> ((q21 _, q21Sql)),
    "q22_dedup_ngram" -> ((q22 _, q22Sql)),
    "q23_dedup_cosine" -> ((q23 _, q23Sql)),
    "q24_sim_topk" -> ((q24 _, q24Sql)),
    "q25_langid" -> ((q25 _, q25Sql)),
    "q26_quality_score" -> ((q26 _, q26Sql)),
    "q27_token_stats" -> ((q27 _, q27Sql)),
    "q28_fingerprint" -> ((q28 _, q28Sql)),
    "q29_simhash" -> ((q29 _, q29Sql)),
    "q30_multimodal_bundle" -> ((q30 _, q30Sql)),
    "q38_asof_join" -> ((q38 _, q38Sql)),
    "q39_cube" -> ((q39 _, q39Sql)),
    "q40_ema" -> ((q40 _, q40Sql)),
    "q41_exact_keepers" -> ((q41 _, q41Sql)),
    "q42_dedup_keepers" -> ((q42 _, q42Sql)),
    "q43_simhash_keepers" -> ((q43 _, q43Sql)),
    "q44_dedup_incremental" -> ((q44 _, q44Sql)),
    "q45_cosine_keepers" -> ((q45 _, q45Sql)),
    "q46_ngram_keepers" -> ((q46 _, q46Sql)),
    "q52_repetition" -> ((q52 _, q52Sql)),
    "q53_decontaminate" -> ((q53 _, q53Sql)),
    "q54_span_scrub" -> ((q54 _, q54Sql)),
    "q55_pii_scrub" -> ((q55 _, q55Sql)),
    "q56_cap_buckets" -> ((q56 _, q56Sql)),
    "q57_pack_sequences" -> ((q57 _, q57Sql)),
    "q58_weighted_sample" -> ((q58 _, q58Sql)),
    "q59_curation_chain" -> ((q59 _, q59Sql)),
    "q60_bm25" -> ((q60 _, q60Sql)),
    "q61_build_vocab" -> ((q61 _, q61Sql)),
    "q62_quantize_int8" -> ((q62 _, q62Sql)),
    "q63_span_dedup" -> ((q63 _, q63Sql)),
    "q64_perplexity" -> ((q64 _, q64Sql)),
    "q65_kmeans" -> ((q65 _, q65Sql)),
    "q66_semdedup" -> ((q66 _, q66Sql)),
    "q67_ppl_buckets" -> ((q67 _, q67Sql)),
    "q68_cluster_sample" -> ((q68 _, q68Sql)),
    "q69_dup_components" -> ((q69 _, q69Sql)),
    "q70_hashed_tfidf" -> ((q70 _, q70Sql)),
    "q71_nb_classifier" -> ((q71 _, q71Sql)),
    "q72_dsir_weights" -> ((q72 _, q72Sql)),
    "q73_sample_exact_k" -> ((q73 _, q73Sql)),
    "q74_sliding_window" -> ((q74 _, q74Sql)),
    "q75_blocklist" -> ((q75 _, q75Sql)),
    "q76_edit_dedup" -> ((q76 _, q76Sql)),
    "q77_hybrid_rrf" -> ((q77 _, q77Sql)),
    "q78_stratified_k" -> ((q78 _, q78Sql)),
    "q79_hard_negatives" -> ((q79 _, q79Sql)),
    "q80_temperature_mix" -> ((q80 _, q80Sql)),
    "q81_snapshot_diff" -> ((q81 _, q81Sql)),
    "q82_rouge2" -> ((q82 _, q82Sql)),
    "q83_range_join" -> ((q83 _, q83Sql)),
    "q84_cms_counts" -> ((q84 _, q84Sql)),
    "q85_hll_registers" -> ((q85 _, q85Sql)),
    "q86_funnel" -> ((q86 _, q86Sql)),
    "q87_cohort_retention" -> ((q87 _, q87Sql)),
    "q88_bloom_probe" -> ((q88 _, q88Sql)),
    "q89_pivot" -> ((q89 _, q89Sql)),
    "q90_percentiles" -> ((q90 _, q90Sql)),
    "q91_corr" -> ((q91 _, q91Sql)),
    "q92_hll_by_group" -> ((q92 _, q92Sql)),
    "q93_asof_forward" -> ((q93 _, q93Sql)),
    "q94_window_funnel" -> ((q94 _, q94Sql)),
    "q95_profile" -> ((q95 _, q95Sql)),
    "q96_islands" -> ((q96 _, q96Sql)),
    "q97_rolling" -> ((q97 _, q97Sql)),
    "q98_market_basket" -> ((q98 _, q98Sql)),
    "q99_anomaly" -> ((q99 _, q99Sql)),
    "q100_drift_psi" -> ((q100 _, q100Sql)),
    "q101_numeric_drift" -> ((q101 _, q101Sql)),
    "q102_transitions" -> ((q102 _, q102Sql)),
    "q103_inverted_index" -> ((q103 _, q103Sql)),
    "q104_twap" -> ((q104 _, q104Sql)),
    "q105_seq_pattern" -> ((q105 _, q105Sql)),
    "q106_chi2" -> ((q106 _, q106Sql)),
    "q107_entropy" -> ((q107 _, q107Sql)),
    "q108_seeded_sample" -> ((q108 _, q108Sql)),
    "q109_c4_line_filter" -> ((q109 _, q109Sql)),
    "q110_gopher_quality" -> ((q110 _, q110Sql)),
    "q111_ranking_metrics" -> ((q111 _, q111Sql)),
    "q112_auc" -> ((q112 _, q112Sql)),
    "q113_calibration" -> ((q113 _, q113Sql)),
    "q114_prefix_jaccard" -> ((q114 _, q114Sql)),
    "q115_containment" -> ((q115 _, q115Sql)),
    "q116_jsd_drift" -> ((q116 _, q116Sql)),
    "q117_pmi" -> ((q117 _, q117Sql)),
    "q118_pagerank" -> ((q118 _, q118Sql)),
    "q119_triangles" -> ((q119 _, q119Sql)),
    "q120_bpe_pairs" -> ((q120 _, q120Sql)),
    "q121_rank_normalize" -> ((q121 _, q121Sql)),
    "q122_shot_boundaries" -> ((q122 _, q122Sql)),
    "q123_negative_samples" -> ((q123 _, q123Sql)),
    "q124_hdr_quantiles" -> ((q124 _, q124Sql)),
    "q125_key_histogram" -> ((q125 _, q125Sql)),
    "q126_salted_join" -> ((q126 _, q126Sql)),
    "q127_stupid_backoff" -> ((q127 _, q127Sql)),
    "q128_ks_drift" -> ((q128 _, q128Sql)),
    "q129_random_project" -> ((q129 _, q129Sql)),
    "q130_span_corrupt" -> ((q130 _, q130Sql)),
    "q131_gini" -> ((q131 _, q131Sql)),
    "q132_covariance" -> ((q132 _, q132Sql)),
    "q133_logistic_gradient" -> ((q133 _, q133Sql)),
    "q134_star_contraction" -> ((q134 _, q134Sql)),
    "q135_unigram_seed" -> ((q135 _, q135Sql)),
    "q136_topk_per_group" -> ((q136 _, q136Sql)),
    "q137_interval_union" -> ((q137 _, q137Sql)),
    "q138_resize_bilinear" -> ((q138 _, q138Sql)),
    "q139_frame_features" -> ((q139 _, q139Sql)),
    "q140_label_projection" -> ((q140 _, q140Sql)),
    "q141_validation_join" -> ((q141 _, q141Sql)),
    "q142_bleu" -> ((q142 _, q142Sql)),
    "q143_kmv_overlap" -> ((q143 _, q143Sql)),
    "q144_join_size_est" -> ((q144 _, q144Sql)),
    "q145_scd2" -> ((q145 _, q145Sql)),
    "q146_k_anonymity" -> ((q146 _, q146Sql)),
    "q147_k_anon_summary" -> ((q147 _, q147Sql)),
    "q148_mmd_drift" -> ((q148 _, q148Sql)),
    "q149_grouping_sets" -> ((q149 _, q149Sql)),
    "q150_attribution" -> ((q150 _, q150Sql)),
    "q151_resample" -> ((q151 _, q151Sql)),
    "q152_markov_attribution" -> ((q152 _, q152Sql)),
    "q153_unpivot" -> ((q153 _, q153Sql)),
    "q154_mutual_info" -> ((q154 _, q154Sql)),
    "q155_jaro_linkage" -> ((q155 _, q155Sql)),
    "q156_heavy_hitters" -> ((q156 _, q156Sql)),
    "q157_rfm" -> ((q157 _, q157Sql)),
    "q158_weighted_median" -> ((q158 _, q158Sql)),
    "q159_ab_ztest" -> ((q159 _, q159Sql)),
    "q160_item_neighbors" -> ((q160 _, q160Sql)),
    "q161_cdc_apply" -> ((q161 _, q161Sql)),
    "q162_groupwise_ols" -> ((q162 _, q162Sql)),
    "q163_unicode_norm" -> ((q163 _, q163Sql)),
    "q164_benford" -> ((q164 _, q164Sql)),
    "q165_welch_ttest" -> ((q165 _, q165Sql)),
    "q166_kaplan_meier" -> ((q166 _, q166Sql)),
    "q167_cohort_ltv" -> ((q167 _, q167Sql)),
    "q168_fill_forward" -> ((q168 _, q168Sql)),
    "q169_contribution" -> ((q169 _, q169Sql)),
    "q170_winsorize" -> ((q170 _, q170Sql)),
    "q171_mann_whitney" -> ((q171 _, q171Sql)),
    "q172_mad_outliers" -> ((q172 _, q172Sql)),
    "q173_acf" -> ((q173 _, q173Sql)),
    "q174_cusum" -> ((q174 _, q174Sql)),
    "q175_adamic_adar" -> ((q175 _, q175Sql)),
    "q176_clustering_coef" -> ((q176 _, q176Sql)),
    "q177_l_diversity" -> ((q177 _, q177Sql)),
    "q178_dim_stats" -> ((q178 _, q178Sql)),
    "q179_cuped" -> ((q179 _, q179Sql)),
    "q180_recommend" -> ((q180 _, q180Sql)),
    "q181_image_neardup" -> ((q181 _, q181Sql)),
    "q182_seasonal" -> ((q182 _, q182Sql)),
    "q183_theil_sen" -> ((q183 _, q183Sql)),
    "q184_keywords" -> ((q184 _, q184Sql)),
    "q185_conversion_latency" -> ((q185 _, q185Sql)),
    "q186_freq_spectrum" -> ((q186 _, q186Sql)),
    "q187_zipf" -> ((q187 _, q187Sql)),
    "q188_jackknife" -> ((q188 _, q188Sql)),
    "q189_mantel_haenszel" -> ((q189 _, q189Sql)),
    "q190_win_matrix" -> ((q190 _, q190Sql)),
    "q191_decayed_sum" -> ((q191 _, q191Sql)),
    "q192_bradley_terry" -> ((q192 _, q192Sql)),
    "q193_top_paths" -> ((q193 _, q193Sql)),
    "q194_abc" -> ((q194 _, q194Sql)),
    "q195_trimmed_mean" -> ((q195 _, q195Sql)),
    "q196_gains" -> ((q196 _, q196Sql)),
    "q197_leakproof_split" -> ((q197 _, q197Sql)),
    "q198_cross_source_dups" -> ((q198 _, q198Sql)),
    "q199_equal_freq_bins" -> ((q199 _, q199Sql)),
    "q200_corr_matrix" -> ((q200 _, q200Sql)),
    "q201_spearman" -> ((q201 _, q201Sql)),
    "q202_target_encoding" -> ((q202 _, q202Sql)),
    "q203_importance_weights" -> ((q203 _, q203Sql)),
    "q204_hhi" -> ((q204 _, q204Sql)),
    "q205_length_profile" -> ((q205 _, q205Sql)),
    "q206_vocab_coverage" -> ((q206 _, q206Sql)),
    "q207_oov_rate" -> ((q207 _, q207Sql)),
    "q208_huber_mean" -> ((q208 _, q208Sql)),
    "q209_source_scorecard" -> ((q209 _, q209Sql)),
    "q210_funnel_ab" -> ((q210 _, q210Sql)),
    "q211_session_report" -> ((q211 _, q211Sql)),
    "q212_interarrival" -> ((q212 _, q212Sql)),
    "q213_neg_samples_capped" -> ((q213 _, q213Sql)),
    "q214_pq_adc" -> ((q214 _, q214Sql)),
    "q215_soft_dedup" -> ((q215 _, q215Sql)),
    "q216_readability" -> ((q216 _, q216Sql)),
    "q217_phash" -> ((q217 _, q217Sql)),
    "q218_semantic_decontam" -> ((q218 _, q218Sql)),
    "q219_epoch_plan" -> ((q219 _, q219Sql)),
    "q220_epoch_apply" -> ((q220 _, q220Sql)),
    "q221_bpe_merges" -> ((q221 _, q221Sql)),
    "q222_curriculum" -> ((q222 _, q222Sql)),
    "q223_pca_power" -> ((q223 _, q223Sql)),
    "q224_dp_counts" -> ((q224 _, q224Sql)),
    "q225_cohens_kappa" -> ((q225 _, q225Sql)),
    "q226_bpe_fertility" -> ((q226 _, q226Sql)),
    "q227_fairness" -> ((q227 _, q227Sql)),
    "q228_novelty" -> ((q228 _, q228Sql)),
    "q229_truncated_recall" -> ((q229 _, q229Sql)),
    "q230_cdc_chunks" -> ((q230 _, q230Sql)),
    "q231_embargo_split" -> ((q231 _, q231Sql)),
    "q232_poisson_bootstrap" -> ((q232 _, q232Sql)),
    "q233_label_noise" -> ((q233 _, q233Sql)),
    "q234_dp_mean" -> ((q234 _, q234Sql)),
    "q235_cluster_drift" -> ((q235 _, q235Sql)),
    "q236_doremi_step" -> ((q236 _, q236Sql)),
    "q237_group_bootstrap" -> ((q237 _, q237Sql)),
    "q238_quantile_norm" -> ((q238 _, q238Sql)),
    "q239_dedup_curve" -> ((q239 _, q239Sql)),
    "q240_pca_deflate" -> ((q240 _, q240Sql)),
    "q241_ann_recall_ci" -> ((q241 _, q241Sql)),
    "q242_mmr_rerank" -> ((q242 _, q242Sql)),
    "q243_positive_pairs" -> ((q243 _, q243Sql)),
    "q244_char_entropy" -> ((q244 _, q244Sql)),
    "q245_retrieval_metrics" -> ((q245 _, q245Sql)),
    "q246_standardize" -> ((q246 _, q246Sql)),
    "q247_retrieval_stack" -> ((q247 _, q247Sql)),
    "q248_ivf_pq_residual" -> ((q248 _, q248Sql)),
    "q249_indexed_stack" -> ((q249 _, q249Sql)),
    "q250_index_rebuild" -> ((q250 _, q250Sql)),
    "q251_nprobe_curve" -> ((q251 _, q251Sql)),
    "q252_stale_vs_rebuilt" -> ((q252 _, q252Sql)),
    "q253_delete_served" -> ((q253 _, q253Sql)),
    "q254_reps_removal" -> ((q254 _, q254Sql)),
    "q255_stream_optout_twin" -> ((q255 _, q255Sql)))
}
