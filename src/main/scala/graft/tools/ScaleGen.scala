package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.GraftSession

/** Synthetic ≥10× scale-point generator for the documents/embeddings/
  * events fixture (VERDICT r8 task #4, extended to events by r10 #3):
  * writes `factor`× replicas of `srcDir`'s documents, embeddings and
  * events to `outDir` so the headline bench rows (dedup keepers,
  * curation chain, ETL, ANN search, streaming state/throughput) can
  * be measured one decade apart — the cheapest strong evidence that
  * the linear-scaling claims argued from plan shape actually hold.
  *
  * Replication must not distort the WORKLOAD, only its size:
  * - documents: replica 0 is the original corpus; replica r > 0 keeps
  *   every row's word MULTISET (so length, vocabulary, token-count
  *   and quality-score distributions are unchanged) but applies a
  *   deterministic per-(doc, replica) Fisher–Yates shuffle to the
  *   word order — shingle/MinHash signatures decorrelate across
  *   replicas, so the near-dup rate per doc stays the base corpus's
  *   instead of every doc gaining 9 planted near-duplicates (naive
  *   text replication would turn the dedup benches into a measure of
  *   a 10-way-clique graph that real 10× data doesn't have).
  * - embeddings: replica r > 0 flips each component's sign by a
  *   deterministic per-(replica, dim) pattern — norms and per-dim
  *   magnitude stats are preserved, cosine structure across replicas
  *   decorrelates.
  * - events: replica r > 0 is a fresh user population carrying the
  *   SAME per-user event-time histories (ts byte-identical, ids
  *   offset) — sessions/windows per user, type mix and value
  *   distribution preserved; keys and rows grow by `factor`.
  * - ids: `id + r·10_000_000` — disjoint per replica, and
  *   `pmod(doc_id, k)`-style bucket joins keep their distribution
  *   because the offset is a multiple of every modulus the bench uses.
  * All other tables are copied verbatim (they only feed the bench's
  * untimed warmup at this dir). Determinism end-to-end: re-running
  * produces byte-identical rows (seeded per-row shuffles, no
  * partition-dependent randomness).
  *
  * Usage: ScaleGen <srcDir> <outDir> [factor=10]
  */
object ScaleGen {

  /** Deterministic word-order shuffle: Fisher–Yates seeded by
    * (docId, replica). The text splits into alternating word /
    * whitespace RUNS and only the words are permuted — whitespace
    * stays in place, so length, n_chars and the full CHARACTER
    * multiset are invariant, not just the word multiset (a
    * single-space rejoin would silently collapse tabs/newlines/runs
    * and shift the char-level distributions the scale benches
    * compare). On strictly single-spaced text this reduces to the
    * plain word shuffle, same draws, byte-identical output.
    */
  def shuffleWords(text: String, docId: Long, replica: Int): String = {
    if (text == null || text.isEmpty) return text
    val runs = text.split("(?<=\\s)(?=\\S)|(?<=\\S)(?=\\s)")
    val wordIdx = runs.indices.filter(i => !runs(i).charAt(0).isWhitespace)
    val words = wordIdx.map(runs).toArray
    val rnd = new scala.util.Random(docId * 1000003L + replica * 7919L)
    var i = words.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = words(i); words(i) = words(j); words(j) = t
      i -= 1
    }
    val out = runs.clone()
    wordIdx.zipWithIndex.foreach { case (ri, wi) => out(ri) = words(wi) }
    out.mkString
  }

  /** Deterministic ±1 per (replica, dim). */
  def signFlip(replica: Int, dim: Int): Float = {
    val h = replica.toLong * 1315423911L + dim.toLong * 2654435761L
    if (((h >>> 7) & 1L) == 0L) 1.0f else -1.0f
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleGen <srcDir> <outDir> [factor]")
    val srcDir = args(0)
    val outDir = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = GraftSession.build(appName = "graft-scalegen")
    import spark.implicits._

    new java.io.File(outDir).mkdirs()
    val offset = 10000000L

    // replica ids are id + r*offset: disjointness REQUIRES every source
    // id below the offset (a larger fixture would silently collide
    // replica r with replica r+1 of a smaller id)
    def requireIdsBelowOffset(df: DataFrame, idCol: String, table: String): Unit = {
      // max over an empty table is NULL: read it as an Option so the
      // failure is this guard's message, not a bare NPE from getLong
      val row = df.agg(max(col(idCol))).head
      require(!row.isNullAt(0),
        s"ScaleGen: source table $table is empty - nothing to scale")
      val mx = row.getLong(0)
      require(mx < offset,
        s"ScaleGen: max $table.$idCol = $mx >= replica offset $offset - ids would collide across replicas")
    }

    // documents ----------------------------------------------------
    val docsDf = graft.core.Tables.documents(spark, srcDir)
    requireIdsBelowOffset(docsDf, "doc_id", "documents")
    val docs = docsDf
      .select("doc_id", "text", "lang", "source")
      .as[(Long, String, String, String)]
    val scaledDocs = docs.mapPartitions { it =>
      it.flatMap { case (id, text, lang, source) =>
        (0 until factor).iterator.map { r =>
          val t = if (r == 0) text else shuffleWords(text, id, r)
          (id + r * offset, t, lang, source,
            if (t == null) 0L else t.length.toLong)
        }
      }
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      // spread replicas across files so downstream scans parallelize
      .repartition(32, col("doc_id"))
    scaledDocs.write.mode("overwrite")
      .parquet(new java.io.File(outDir, "documents.parquet").toString)

    // embeddings ---------------------------------------------------
    val embsDf = graft.core.Tables.embeddings(spark, srcDir)
    requireIdsBelowOffset(embsDf, "vec_id", "embeddings")
    // label decoded nullable: the schema (and q243's NULL-label
    // exclusion contract) allows NULL labels, and a non-nullable Int
    // decode would throw at runtime on the first one
    val embs = embsDf
      .select("vec_id", "embedding", "label")
      .as[(Long, Seq[Float], Option[Int])]
    val scaledEmbs = embs.mapPartitions { it =>
      it.flatMap { case (id, v, label) =>
        (0 until factor).iterator.map { r =>
          val vv =
            if (r == 0 || v == null) v
            else v.zipWithIndex.map { case (x, j) => x * signFlip(r, j) }
          (id + r * offset, vv, label)
        }
      }
    }.toDF("vec_id", "embedding", "label")
      .repartition(16, col("vec_id"))
    scaledEmbs.write.mode("overwrite")
      .parquet(new java.io.File(outDir, "embeddings.parquet").toString)

    // events (VERDICT r10 #3: the streaming decade) -----------------
    // Workload-preserving: replicas are NEW USERS carrying the original
    // users' exact event-time histories (event_id/user_id offset by
    // r·10M, ts byte-identical). Per-user session structure, window
    // membership, event_type mix and value distribution are all
    // invariant — only the key population grows — so a streaming decade
    // measures "10× keys, 10× input rows" against the state claim
    // (state ∝ keys/open windows for keyed ops; ∝ windows×types —
    // UNCHANGED — for the tumbling aggs), never a distorted workload.
    val eventsDf = graft.core.Tables.events(spark, srcDir)
    requireIdsBelowOffset(eventsDf, "event_id", "events")
    requireIdsBelowOffset(eventsDf, "user_id", "events")
    val events = eventsDf
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[(Long, java.sql.Timestamp, Long, String, Option[Double], String)]
    val scaledEvents = events.mapPartitions { it =>
      it.flatMap { case (id, ts, uid, typ, v, props) =>
        (0 until factor).iterator.map { r =>
          (id + r * offset, ts, uid + r * offset, typ, v, props)
        }
      }
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(32, col("event_id"))
    scaledEvents.write.mode("overwrite")
      .parquet(new java.io.File(outDir, "events.parquet").toString)

    // everything else verbatim (bench warmup reads lineitem) ---------
    val copied = new java.io.File(srcDir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") &&
        f.getName != "documents.parquet" && f.getName != "embeddings.parquet" &&
        f.getName != "events.parquet")
    copied.foreach { f =>
      val dst = new java.io.File(outDir, f.getName)
      if (f.isDirectory) {
        dst.mkdirs()
        f.listFiles().foreach(p => java.nio.file.Files.copy(p.toPath,
          new java.io.File(dst, p.getName).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING))
      } else {
        java.nio.file.Files.copy(f.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    val nd = spark.read.parquet(
      new java.io.File(outDir, "documents.parquet").toString).count()
    val ne = spark.read.parquet(
      new java.io.File(outDir, "embeddings.parquet").toString).count()
    val nv = spark.read.parquet(
      new java.io.File(outDir, "events.parquet").toString).count()
    println(s"""{"scaled":"$outDir","factor":$factor,"documents":$nd,"embeddings":$ne,"events":$nv}""")
    spark.stop()
  }
}
