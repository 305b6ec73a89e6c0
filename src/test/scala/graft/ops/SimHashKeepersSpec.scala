package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The SimHash dedup DECISION path ([[DedupOps.simHashKeepers]]):
  * keep/drop invariants mirrored from `DedupKeepersSpec`, plus
  * soundness against the pair-level oracle form — every drop must be
  * backed by a [[DedupOps.simHashPairs]] edge from a smaller id.
  */
class SimHashKeepersSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def keeperIds(df: org.apache.spark.sql.DataFrame, h: Int = 3): Set[Long] =
    DedupOps.simHashKeepers(df, "text", "doc_id", h)
      .select("doc_id").as[Long].collect().toSet

  test("identical docs collapse to the min id; distinct-vocab docs are all kept") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (7L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "omicron pi rho sigma tau upsilon phi chi"),
      (4L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    assert(keeperIds(docs) == Set(1L, 3L, 4L))
  }

  test("schema is unchanged and kept rows are original rows") {
    val docs = Seq(
      (1L, "a b c d e f g h", "m1"),
      (2L, "a b c d e f g h", "m2")
    ).toDF("doc_id", "text", "extra")
    val out = DedupOps.simHashKeepers(docs, "text", "doc_id", 3)
    assert(out.schema == docs.schema)
    assert(out.collect().map(r => (r.getLong(0), r.getString(2))).toSet == Set((1L, "m1")))
  }

  /** Same corpus generator as DedupKeepersSpec (planted near-dup
    * clusters over a small vocab), different seed.
    */
  private def syntheticCorpus() = {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 40).map(i => s"w$i")
    val rows = Seq.newBuilder[(Long, String)]
    var id = 0L
    for (_ <- 0 until 30) {
      val base = Seq.fill(20)(vocab(rnd.nextInt(vocab.size)))
      rows += ((id, base.mkString(" "))); id += 1
      for (_ <- 0 until rnd.nextInt(4)) {
        val mut = base.updated(rnd.nextInt(base.size), vocab(rnd.nextInt(vocab.size)))
        rows += ((id, mut.mkString(" "))); id += 1
      }
    }
    rows.result().toDF("doc_id", "text")
  }

  test("drops are never unfounded: every dropped id has a simHashPairs edge from a smaller id") {
    val docs = syntheticCorpus()
    val kept = keeperIds(docs)
    val dropped = docs.select("doc_id").as[Long].collect().toSet -- kept
    val backedDrops = DedupOps.simHashPairs(docs, "text", "doc_id", 3)
      .select("id_b").as[Long].collect().toSet
    assert(dropped.subsetOf(backedDrops),
      s"unfounded drops: ${dropped -- backedDrops}")
    assert(dropped.nonEmpty, "corpus has planted near-dups; some must drop")
  }

  test("re-running on the keepers only shrinks or fixes the set") {
    val docs = syntheticCorpus()
    val once = DedupOps.simHashKeepers(docs, "text", "doc_id", 3)
    val onceIds = once.select("doc_id").as[Long].collect().toSet
    val twiceIds = DedupOps.simHashKeepers(once, "text", "doc_id", 3)
      .select("doc_id").as[Long].collect().toSet
    assert(twiceIds.subsetOf(onceIds))
  }
}
