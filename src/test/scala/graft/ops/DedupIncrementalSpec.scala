package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.TempDirs.tempDir

/** Incremental (corpus vs new-batch) near-dedup
  * ([[DedupOps.dedupIncremental]]) — the daily-ingest contract: the
  * corpus is immutable and always wins, the batch dedups against it and
  * then within itself.
  */
class DedupIncrementalSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val corpus = Seq(
    (100L, "alpha beta gamma delta epsilon zeta eta theta"),
    (101L, "one two three four five six seven eight")
  ).toDF("doc_id", "text")

  private def keptIds(c: DataFrame, b: DataFrame): Set[Long] =
    DedupOps.dedupIncremental(c, b, "text", "doc_id", 0.6)
      .select("doc_id").as[Long].collect().toSet

  test("batch docs that near-dup the corpus are dropped; fresh docs survive") {
    val batch = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),  // exact corpus dup
      (2L, "one two three four five six seven NINE"),         // J=7/9 vs corpus 101
      (3L, "totally new content nothing shared at all")
    ).toDF("doc_id", "text")
    assert(keptIds(corpus, batch) == Set(3L))
  }

  test("survivors still dedup within the batch (min id wins)") {
    val batch = Seq(
      (11L, "fresh words only here today friends"),
      (12L, "fresh words only here today friends"),
      (13L, "other novel material entirely different")
    ).toDF("doc_id", "text")
    assert(keptIds(corpus, batch) == Set(11L, 13L))
  }

  test("corpus ids never appear in the output; id spaces may overlap") {
    // batch reuses corpus id 100 with DIFFERENT text: must be judged by
    // content only, and the returned rows are batch rows.
    val batch = Seq(
      (100L, "totally unrelated text zzz yyy xxx www")
    ).toDF("doc_id", "text")
    val out = DedupOps.dedupIncremental(corpus, batch, "text", "doc_id", 0.6)
    assert(out.select("text").as[String].collect().toSet ==
      Set("totally unrelated text zzz yyy xxx www"))
  }

  test("empty corpus reduces to dedupKeepers on the batch") {
    val batch = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g x"),
      (9L, "p q r s t u v w")
    ).toDF("doc_id", "text")
    val inc = keptIds(corpus.limit(0), batch)
    val keep = DedupOps.dedupKeepers(batch, "text", "doc_id", 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(inc == keep)
  }

  test("precomputed corpusBucketReps through parquet == raw-corpus form") {
    // the standing-deployment contract: reps computed once, persisted,
    // read back — the batch path must decide identically to the
    // recompute-every-call form, with the corpus never read again.
    val batch = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // corpus dup
      (2L, "one two three four five six seven NINE"),        // J=7/9 near-dup
      (3L, "totally new content nothing shared at all"),
      (4L, "totally new content nothing shared at all")      // in-batch dup of 3
    ).toDF("doc_id", "text")
    val dir = tempDir().toString
    DedupOps.corpusBucketReps(corpus, "text", "doc_id")
      .write.mode("overwrite").parquet(dir)
    val reps = DedupOps.CorpusReps(spark.read.parquet(dir))
    val pre = DedupOps.dedupIncremental(reps, batch, "text", "doc_id", 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(pre == keptIds(corpus, batch))
    assert(pre == Set(3L))
  }

  test("corpusBucketReps carries the documented persistable schema") {
    val reps = DedupOps.corpusBucketReps(corpus, "text", "doc_id")
    assert(reps.columns.toSeq ==
      Seq("band", "band_hash", "rep", "rep_toks", "rep_n"))
    // every bucket's rep is a corpus id; bands default to 16 per doc
    val rows = reps.collect()
    assert(rows.nonEmpty && rows.length <= 2 * 16)
    assert(rows.map(_.getAs[Long]("rep")).toSet.subsetOf(Set(100L, 101L)))
  }

  test("removedBucketReps == corpusBucketReps over the shrunk corpus: " +
      "rep promotion, sole-member bucket removal, non-rep no-op, absent-id " +
      "no-op — all against the full recompute") {
    // a 4-doc corpus with a planted near-dup PAIR (110 dups 100, so they
    // share buckets and 100 is those buckets' rep) plus two singletons
    val corpus4 = corpus.unionByName(Seq(
      (110L, "alpha beta gamma delta epsilon zeta eta THETA"), // near-dup of 100
      (120L, "standalone material unlike anything else here")
    ).toDF("doc_id", "text"))
    def canon(df: DataFrame): Set[(Int, Long, Long, Seq[Long], Int)] =
      df.select("band", "band_hash", "rep", "rep_toks", "rep_n")
        .as[(Int, Long, Long, Seq[Long], Int)].collect().toSet
    val reps4 = DedupOps.CorpusReps(
      DedupOps.corpusBucketReps(corpus4, "text", "doc_id"))
    // doc 100 is the rep of every bucket it shares with 110 (min id)
    assert(canon(reps4.df).exists(_._3 == 100L))
    for (removed <- Seq(
        Seq(100L),        // rep removed, 110 must take over shared buckets
        Seq(120L),        // sole-member buckets vanish
        Seq(110L),        // non-rep member: reps frame unchanged
        Seq(9999L),       // absent id: no-op
        Seq(100L, 120L))) // mixed
    {
      val got = DedupOps.removedBucketReps(reps4,
        corpus4, removed.toDF("doc_id"), "text", "doc_id")
      val want = DedupOps.corpusBucketReps(
        corpus4.filter(!col("doc_id").isin(removed.map(Long.box): _*)),
        "text", "doc_id")
      assert(canon(got) == canon(want),
        s"removedBucketReps(removed=$removed) must equal the full recompute")
    }
    // the non-rep and absent cases leave the frame literally identical
    assert(canon(DedupOps.removedBucketReps(reps4, corpus4,
      Seq(9999L).toDF("doc_id"), "text", "doc_id")) == canon(reps4.df))
  }

  test("portable reps pair: removal plan == full recompute in the " +
      "md5-family twin too (the q254 cross-engine construction)") {
    val corpus4 = corpus.unionByName(Seq(
      (110L, "alpha beta gamma delta epsilon zeta eta THETA"),
      (120L, "standalone material unlike anything else here")
    ).toDF("doc_id", "text"))
    def canonP(df: DataFrame): Set[(Int, String, Long, Seq[String], Int)] =
      df.select("band", "band_hash", "rep", "rep_toks", "rep_n")
        .as[(Int, String, Long, Seq[String], Int)].collect()
        .map(r => (r._1, r._2, r._3, r._4.sorted, r._5)).toSet
    val reps = DedupOps.corpusBucketRepsPortable(
      corpus4, "text", "doc_id", bands = 4, rowsPerBand = 4)
    for (removed <- Seq(Seq(100L), Seq(120L), Seq(110L), Seq(9999L),
        Seq(100L, 120L, 9999L))) {
      val got = DedupOps.removedBucketRepsPortable(reps, corpus4,
        removed.toDF("doc_id"), "text", "doc_id", 4, 4)
      val want = DedupOps.corpusBucketRepsPortable(
        corpus4.filter(!col("doc_id").isin(removed.map(Long.box): _*)),
        "text", "doc_id", 4, 4)
      assert(canonP(got) == canonP(want),
        s"portable removedBucketReps(removed=$removed) must equal the recompute")
    }
  }

  test("removal frees the content: a batch near-dup of a REMOVED doc is " +
      "kept, while dups of surviving docs keep being dropped") {
    val removed = Seq(101L).toDF("doc_id")
    val shrunk = DedupOps.CorpusReps(DedupOps.removedBucketReps(
      DedupOps.CorpusReps(DedupOps.corpusBucketReps(corpus, "text", "doc_id")),
      corpus, removed, "text", "doc_id"))
    val batch = Seq(
      (1L, "one two three four five six seven eight"),        // dup of REMOVED 101
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),  // dup of surviving 100
      (3L, "fresh material with no overlap anywhere")
    ).toDF("doc_id", "text")
    val kept = DedupOps.dedupIncremental(shrunk, batch, "text", "doc_id", 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L),
      s"removed content must stop suppressing (got $kept): the opt-out's " +
        "whole point is that tomorrow's ingest may re-introduce it")
  }

  test("chained daily loop: interleaved merge/remove days == one recompute " +
      "over the surviving corpus (the composition, not just each verb)") {
    // day 0: standing corpus + reps. Each day boundary checkpoints both
    // frames — the deployment persists the reps (and owns the corpus)
    // between days, and WITHOUT the boundary the lazy plan tree nests
    // every prior day's banding pass (the b_curation_full planning-tax
    // mechanism, here to the point of a driver OOM by day 4).
    var corpusDf = corpus.localCheckpoint()
    var reps = DedupOps.CorpusReps(
      DedupOps.corpusBucketReps(corpusDf, "text", "doc_id").localCheckpoint())
    // an ingest day re-derives the reps over the grown corpus; the
    // removal days fold removedBucketReps into the standing frame
    def serveAndMerge(batch: DataFrame): Unit = {
      val accepted = DedupOps.dedupIncremental(reps, batch, "text", "doc_id", 0.6)
      corpusDf = corpusDf.unionByName(accepted).localCheckpoint()
      reps = DedupOps.CorpusReps(
        DedupOps.corpusBucketReps(corpusDf, "text", "doc_id").localCheckpoint())
    }
    def remove(ids: Seq[Long]): Unit = {
      reps = DedupOps.CorpusReps(DedupOps.removedBucketReps(
        reps, corpusDf, ids.toDF("doc_id"), "text", "doc_id").localCheckpoint())
      corpusDf = corpusDf.filter(!col("doc_id").isin(ids.map(Long.box): _*))
        .localCheckpoint()
    }
    // day 1: ingest — 201 dups corpus 100 (dropped), 202/203 fresh (202 wins its dup)
    serveAndMerge(Seq(
      (201L, "alpha beta gamma delta epsilon zeta eta theta"),
      (202L, "brand new daily content for the standing corpus"),
      (203L, "brand new daily content for the standing corpus")
    ).toDF("doc_id", "text"))
    // day 2: opt-out removes a day-1 accepted REP and an absent id
    remove(Seq(202L, 77777L))
    // day 3: a dup of the REMOVED 202 content must now be accepted again
    serveAndMerge(Seq(
      (301L, "brand new daily content for the standing corpus"),
      (302L, "one two three four five six seven eight") // dup of corpus 101: dropped
    ).toDF("doc_id", "text"))
    // day 4: remove an ORIGINAL corpus doc whose buckets day-1/3 content shares
    remove(Seq(100L))
    def canon(df: DataFrame): Set[(Int, Long, Long, Seq[Long], Int)] =
      df.select("band", "band_hash", "rep", "rep_toks", "rep_n")
        .as[(Int, Long, Long, Seq[Long], Int)].collect().toSet
    val recomputed = DedupOps.corpusBucketReps(corpusDf, "text", "doc_id")
    assert(canon(reps.df) == canon(recomputed),
      "four interleaved merge/remove days must leave the standing reps " +
        "exactly equal to one recompute over the surviving corpus")
    // and the loop's surviving corpus is what the story says it is
    assert(corpusDf.select("doc_id").as[Long].collect().toSet ==
      Set(101L, 301L),
      "survivors: original 101 and the re-admitted 301 (100/202 removed, " +
        "201/203/302 dropped as dups)")
  }

  test("removedBucketReps plan shape: the keep/affected sides are broadcast " +
      "joins on the removed-id set — removal never shuffles the reps frame " +
      "or the corpus by id") {
    val reps = DedupOps.CorpusReps(DedupOps.corpusBucketReps(corpus, "text", "doc_id"))
    val plan = DedupOps.removedBucketReps(
      reps, corpus, Seq(100L).toDF("doc_id"), "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"keep-side anti-join is not a broadcast:\n$plan")
    assert(plan.contains("LeftSemi"),
      s"affected-bucket semi-join missing:\n$plan")
    assert(!plan.contains("SortMergeJoin ") ||
      !plan.split("SortMergeJoin").exists(_.startsWith(" [__rid")),
      s"a removed-id join degraded to sort-merge:\n$plan")
  }

  test("deterministic under repartitioning (key-derived, no order dependence)") {
    val batch = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "mixed bag of new and old words here"),
      (3L, "mixed bag of new and old words here"),
      (4L, "completely fresh unseen vocabulary items")
    ).toDF("doc_id", "text")
    val a = keptIds(corpus, batch)
    val b = keptIds(corpus.repartition(7), batch.repartition(5))
    assert(a == b)
  }
}
