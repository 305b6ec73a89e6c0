package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The (band, bucket) occupancy cap in the hyperplane-LSH search
  * family (VERDICT r6 #1): a hot bucket — collapsed signatures from
  * near-dup clusters or low-entropy vectors — must NOT cost
  * |bucket|² cosines in one straggler task. The cap bounds the join
  * output at |banded queries| × maxBucket, deterministically.
  */
class LshBucketCapSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  private val Dim = 8
  private val Bands = 8

  /** n vectors all pointing the SAME direction (tiny jitter in a
    * single coordinate keeps ids distinguishable without moving the
    * sign pattern): every vector lands in the same bucket of every
    * band — the planted hot bucket.
    */
  private def hotCorpus(n: Int) =
    (0L until n.toLong).map { i =>
      (i, Array.tabulate(Dim)(d => if (d == 0) 1.0f else 0.01f + (i % 7) * 1e-5f).toSeq)
    }.toDF("vec_id", "embedding")

  test("planted hot bucket: candidate pair count is bounded by n x bands x cap") {
    val n = 400
    val cap = 16
    val df = hotCorpus(n)
    val pairs = SimilarityOps.lshScoredPairs(
      df, df, bands = Bands, planesPerBand = 8, dim = Dim, maxBucket = cap)
    val cnt = pairs.count()
    // uncapped this corpus yields n*(n-1) = 159,600 unique pairs; the
    // cap bounds candidates at (banded query rows) x cap = n*bands*cap
    // occurrences, and dedup only shrinks that.
    assert(cnt <= n.toLong * Bands * cap,
      s"capped candidate count $cnt exceeds n*bands*cap = ${n.toLong * Bands * cap}")
    assert(cnt > 0, "cap must not empty the candidate set")
    // pairs are unique after the adjacent-dup drop
    assert(pairs.groupBy("query_id", "neighbor_id").count()
      .filter(col("count") > 1).isEmpty)
  }

  test("every query still gets k neighbors from a capped hot bucket") {
    val n = 100
    val got = SimilarityOps.lshCosineTopK(
      hotCorpus(n), k = 3, dim = Dim, maxBucket = 8)
    // capped survivors are shared bucket reps, so every query finds >= k
    // candidates (n >> cap >= k); ranks are exactly 1..3 per query.
    assert(got.groupBy("query_id").count().filter(col("count") =!= 3).isEmpty)
    assert(got.select(countDistinct("query_id")).as[Long].head() == n.toLong)
  }

  test("capped equals uncapped when no bucket exceeds the cap") {
    // well-spread vectors: key-derived pseudo-random signs, buckets far
    // below the cap at n=60 over 8x8-bit bands.
    val df = (0L until 60L).map { i =>
      (i, Array.tabulate(Dim) { d =>
        val z = (i * 31 + d * 7 + 13) % 17
        (z - 8).toFloat / 8f
      }.toSeq)
    }.toDF("vec_id", "embedding")
    val capped = SimilarityOps.lshCosineTopK(df, k = 5, dim = Dim, maxBucket = 1000)
      .orderBy("query_id", "rank")
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect()
    val uncapped = SimilarityOps.lshCosineTopK(df, k = 5, dim = Dim, maxBucket = 0)
      .orderBy("query_id", "rank")
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect()
    assert(capped.sameElements(uncapped))
  }

  test("ivfCosineSearch maxList bounds a hot cell; equals uncapped when lists fit") {
    val n = 200
    val df = hotCorpus(n) // identical directions -> ONE centroid cell
    val capped = SimilarityOps.ivfCosineSearch(df, df, k = 3,
      nlist = 4, nprobe = 2, maxList = 8)
    // every query still ranks k of the <= 8 cell reps; nothing blows up
    assert(capped.groupBy("query_id").count().filter(col("count") =!= 3).isEmpty)
    // corpus-wide candidate pool is bounded by nlist x maxList reps
    // (near-identical vectors can still split across cells on jitter)
    assert(capped.select(countDistinct("neighbor_id")).as[Long].head() <= 32L)
    val wide = SimilarityOps.ivfCosineSearch(df, df, k = 3,
      nlist = 4, nprobe = 2, maxList = 100000)
    val plain = SimilarityOps.ivfCosineSearch(df, df, k = 3, nlist = 4, nprobe = 2)
    val a = wide.orderBy("query_id", "rank")
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    val b = plain.orderBy("query_id", "rank")
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(a.sameElements(b), "an oversized cap must not change results")
  }

  test("persisted LSH index: search == capped in-memory search, corpus side shuffle-free") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.sql("DROP TABLE IF EXISTS lsh_idx_spec")
    val corpus = (0L until 60L).map { i =>
      (i, Array.tabulate(Dim) { d =>
        val z = (i * 31 + d * 7 + 13) % 17
        (z - 8).toFloat / 8f
      }.toSeq)
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
    SimilarityOps.writeLshIndex(corpus, "lsh_idx_spec", dim = Dim, maxBucket = 8)
    val viaIndex = SimilarityOps.lshSearchIndexed(
      queries, "lsh_idx_spec", k = 3, dim = Dim)
    val direct = SimilarityOps.lshCosineSearch(
      queries, corpus, k = 3, dim = Dim, maxBucket = 8)
    val a = viaIndex.orderBy("query_id", "rank")
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect()
    val b = direct.orderBy("query_id", "rank")
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect()
    assert(a.nonEmpty && a.sameElements(b),
      "indexed search must reproduce the capped in-memory search exactly")
    // the standing-deployment claim: with broadcast off (the at-scale
    // regime) the indexed plan saves exactly the corpus-side exchange —
    // the bucketed scan already satisfies the join's distribution
    def physical(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan match {
        case x: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          x.initialPlan
        case p => p
      }
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      physical(df).collect { case e: ShuffleExchangeExec => e }.size
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val idx = SimilarityOps.lshSearchIndexed(queries, "lsh_idx_spec", k = 3, dim = Dim)
      val dir = SimilarityOps.lshCosineSearch(queries, corpus, k = 3, dim = Dim, maxBucket = 8)
      assert(shuffles(idx) == shuffles(dir) - 1,
        s"indexed ${shuffles(idx)} vs direct ${shuffles(dir)}: bucketed corpus side must drop its exchange")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE IF EXISTS lsh_idx_spec")
  }

  test("deleteFromLshIndex: deleted ids never served, survivors re-rank, " +
      "zero-exchange corpus side preserved") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    for (t <- Seq("lsh_idx_del", "lsh_idx_del__tombstones"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    val corpus = (0L until 60L).map { i =>
      (i, Array.tabulate(Dim) { d =>
        val z = (i * 31 + d * 7 + 13) % 17
        (z - 8).toFloat / 8f
      }.toSeq)
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
    SimilarityOps.writeLshIndex(corpus, "lsh_idx_del", dim = Dim, maxBucket = 1000)
    def search(k: Int) = SimilarityOps
      .lshSearchIndexed(queries, "lsh_idx_del", k = k, dim = Dim)
      .orderBy("query_id", "rank")
      .select("query_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val before = search(60)
    val dead = (0L until 60L by 6L).toSet
    assert(before.exists(t => dead(t._2)), "fixture must serve dead ids pre-delete")
    SimilarityOps.deleteFromLshIndex(dead.toSeq.toDF("vec_id"), "lsh_idx_del")
    val after = search(60)
    assert(after.forall(t => !dead(t._2)), s"deleted ids served: ${after.filter(t => dead(t._2))}")
    // the anti-join runs before the rank window: served == pre-delete
    // results minus dead ids, re-ranked per query
    val expect = before.filter(t => !dead(t._2)).groupBy(_._1).toSeq
      .flatMap { case (q, ts) =>
        ts.sortBy(_._4).zipWithIndex.map { case ((_, n, c, _), i) => (q, n, c, i + 1) }
      }.sortBy(t => (t._1, t._4))
    assert(after == expect, "survivor re-rank mismatch")
    // absent ids are a no-op; deletes accumulate
    SimilarityOps.deleteFromLshIndex(Seq(9999L).toDF("vec_id"), "lsh_idx_del")
    assert(search(60) == after)
    // the corpus side keeps its zero-exchange property with tombstones
    // pending: the broadcast anti-join preserves the bucketed scan's
    // output partitioning
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      (df.queryExecution.executedPlan match {
        case x: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          x.initialPlan
        case p => p
      }).collect { case e: ShuffleExchangeExec => e }.size
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("DROP TABLE IF EXISTS lsh_idx_del_ref")
      SimilarityOps.writeLshIndex(corpus, "lsh_idx_del_ref", dim = Dim,
        maxBucket = 1000)
      val tombstoned = SimilarityOps.lshSearchIndexed(
        queries, "lsh_idx_del", k = 3, dim = Dim)
      val clean = SimilarityOps.lshSearchIndexed(
        queries, "lsh_idx_del_ref", k = 3, dim = Dim)
      assert(shuffles(tombstoned) == shuffles(clean),
        s"tombstone anti-join added an exchange: ${shuffles(tombstoned)} vs ${shuffles(clean)}")
      spark.sql("DROP TABLE IF EXISTS lsh_idx_del_ref")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE IF EXISTS lsh_idx_del")
    spark.sql("DROP TABLE IF EXISTS lsh_idx_del__tombstones")
  }

  test("hardNegativesLsh under a capped hot bucket keeps only cross-label pairs") {
    val n = 120
    val df = hotCorpus(n).withColumn("label",
      (col("vec_id") % 3).cast("int"))
    val got = SimilarityOps.hardNegativesLsh(df, k = 2, dim = Dim, maxBucket = 8)
    val joined = got.join(
        df.select(col("vec_id").as("query_id"), col("label").as("q_lbl")), "query_id")
      .join(df.select(col("vec_id").as("neighbor_id"), col("label").as("c_lbl")), "neighbor_id")
    assert(joined.filter(col("q_lbl") === col("c_lbl")).isEmpty,
      "hard negatives must never share the anchor's label")
    assert(got.count() > 0)
  }
}
