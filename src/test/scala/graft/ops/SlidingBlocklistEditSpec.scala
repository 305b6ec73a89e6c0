package graft.ops

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** slidingCounts / blocklistFilter / editKeepers contracts (part-7
  * additions). Engine-vs-DuckDB parity is pinned by q74-q76; these pin
  * the semantics on planted fixtures.
  */
class SlidingBlocklistEditSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  // ---------------------------------------------------- slidingCounts

  test("slidingCounts: every event lands in window/slide hops, sums split correctly") {
    // 1-hour window, 30-min slide; events at :10 and :40 of hour h
    val h = 1700000000L / 3600 * 3600 // epoch-aligned hour
    val df = Seq(
      (new Timestamp((h + 600) * 1000L), "a", 1.0),   // h:10
      (new Timestamp((h + 2400) * 1000L), "a", 10.0)  // h:40
    ).toDF("ts", "event_type", "value")
    val out = SessionOps.slidingCounts(df, "ts", "event_type", "value", 3600L, 1800L)
      .collect().map(r => r.getString(1) -> (r.getLong(2), r.getDouble(3))).toMap
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    def b(sec: Long) = fmt.format(new java.util.Date(sec * 1000L))
    // h:10 -> windows starting h-1800 and h; h:40 -> h and h+1800
    assert(out == Map(
      b(h - 1800) -> ((1L, 1.0)),
      b(h) -> ((2L, 11.0)),
      b(h + 1800) -> ((1L, 10.0))))
  }

  test("slidingCounts rejects a non-divisible slide") {
    val df = Seq((new Timestamp(0L), "a", 1.0)).toDF("ts", "event_type", "value")
    intercept[IllegalArgumentException] {
      SessionOps.slidingCounts(df, "ts", "event_type", "value", 3600L, 1000L)
    }
  }

  // --------------------------------------------------- blocklistFilter

  test("blocklistFilter drops exactly the docs containing a listed word") {
    val df = Seq(
      (1L, "clean words only here"),
      (2L, "this has badword inside"),
      (3L, "badword"),
      (4L, "badwords is a DIFFERENT token"),
      (5L, "")
    ).toDF("doc_id", "text")
    val kept = CurationOps.blocklistFilter(df, "text", Seq("badword", "verboten"))
      .select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(1L, 4L, 5L)),
      "substring matches must NOT count; empty doc survives")
  }

  test("blocklistFilter production decisions == portable twin on the fixture") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val words = Seq("dup", "spark", "nosuchword")
    val prod = CurationOps.blocklistFilter(docs, "text", words)
      .select("doc_id").as[Long].collect().sorted
    val port = CurationOps.blocklistFilterPortable(docs, "text", words)
      .select("doc_id").as[Long].collect().sorted
    assert(prod.sameElements(port))
    assert(prod.length < docs.count(), "the filter must actually drop something")
  }

  // ------------------------------------------------------- editKeepers

  private val base =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"

  test("editKeepers drops near-twins within maxDist, keeps far docs") {
    // docs 2/3 share doc 1's token MULTISET (identical signature, same
    // buckets — SimHash is whitespace- and order-invariant under the
    // engine tokenizer) but differ at the character level: the doubled
    // space is a 1-edit near-twin, the reordering is a far rewrite the
    // exact Levenshtein verify must REJECT despite the colliding
    // signature. A single-TOKEN swap on a short doc can flip > 3
    // signature bits (the documented banding recall contract), so the
    // planted candidates collide exactly rather than approximately.
    val reordered = base.split(" ").reverse.mkString(" ")
    val df = Seq(
      (1L, base),                        // rep of its cluster
      (2L, base),                        // exact twin -> dist 0, dropped
      (3L, base.replace("beta gamma", "beta  gamma")), // 1 edit, same toks
      (4L, "totally different words entirely unrelated content here now ok"),
      (5L, reordered)                    // same sig, big edit -> kept
    ).toDF("doc_id", "text")
    val kept = DedupOps.editKeepers(df, "text", "doc_id", maxDist = 5)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.contains(1L) && kept.contains(4L))
    assert(!kept.contains(2L) && !kept.contains(3L),
      "exact and 1-edit twins must drop against the min-id rep")
    assert(kept.contains(5L),
      "a reordered rewrite must survive maxDist=5 despite the signature collision")
  }

  test("editKeepers portable twin: every dropped doc is within maxDist of a kept smaller id") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val kept = DedupOps.editKeepersPortable(docs, "text", "doc_id", maxDist = 40)
      .select("doc_id").as[Long].collect().toSet
    val all = docs.select("doc_id", "text").as[(Long, String)].collect()
    assert(kept.nonEmpty && kept.size < all.length, "decision must be non-trivial")
    val textOf = all.toMap
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = d(0); d(0) = i
        for (j <- 1 to b.length) {
          val t = d(j)
          d(j) = math.min(math.min(d(j) + 1, d(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      d(b.length)
    }
    val dropped = all.map(_._1).filterNot(kept.contains)
    dropped.foreach { id =>
      val ok = all.exists { case (oid, otxt) =>
        oid < id && lev(textOf(id), otxt) <= 40
      }
      assert(ok, s"doc $id dropped with no ≤40-edit smaller-id witness")
    }
  }

  test("editKeepers is deterministic under repartition") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val a = DedupOps.editKeepers(docs, "text", "doc_id", maxDist = 40)
      .select("doc_id").as[Long].collect().sorted
    val b = DedupOps.editKeepers(docs.repartition(7), "text", "doc_id", maxDist = 40)
      .select("doc_id").as[Long].collect().sorted
    assert(a.sameElements(b))
  }
}
