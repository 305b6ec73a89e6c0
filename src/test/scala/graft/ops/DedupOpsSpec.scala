package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class DedupOpsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),     // exact dup of 1
    (3L, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG  "),   // normalized dup of 1
    (4L, "the quick brown fox jumps over the lazy cat"),     // near dup (8/10 tokens)
    (5L, "completely different words here nothing shared")
  ).toDF("doc_id", "text")

  test("exactDupGroups finds normalized duplicates with deterministic winner") {
    val g = DedupOps.exactDupGroups(docs, "text", "doc_id").collect()
    assert(g.length == 1)
    assert(g.head.getAs[Long]("n") == 3)
    assert(g.head.getAs[Long]("keep_id") == 1L)
  }

  test("jaccardPairs finds exact and near duplicates above threshold") {
    val pairs = DedupOps.jaccardPairs(docs, "text", "doc_id", 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 4L))) // J = 7/9 ≈ 0.78 on token sets
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("minHashDedup finds identical docs (J=1 always collides) and verifies exactly") {
    val pairs = DedupOps.minHashDedup(docs, "text", "doc_id", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "identical docs must share every band")
    assert(!pairs.exists(p => p._2 == 5L), "unrelated doc must not pass exact verify")
  }

  test("hashed verify path finds exactly the same pairs as string-set verify") {
    // production minHashDedup == the string-set jaccardPairs oracle
    // restricted to the LSH candidate set, pairs AND jaccard values
    val got = DedupOps.minHashDedup(docs, "text", "doc_id", 0.6)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val cands = DedupOps.minHashCandidates(docs, "text", "doc_id", 16, 4)
      .as[(Long, Long)].collect().toSet
    val want = DedupOps.jaccardPairs(docs, "text", "doc_id", 0.6)
      .as[(Long, Long, Double)].collect()
      .filter(p => cands((p._1, p._2))).toSet
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("first-collision-wins candidates equal the distinct() construction") {
    val fast = DedupOps.minHashCandidates(docs, "text", "doc_id", 16, 4)
      .as[(Long, Long)].collect()
    // the reference: every colliding (band, band_hash) pair, distinct()
    val banded = docs
      .select(col("doc_id").as("id"), posexplode(
        graft.functions.MinHashBandHashes.minHashBandHashes(
          DedupOps.hashedTokenSet(col("text")), 16, 4)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
    val slow = banded.select(col("band"), col("band_hash"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("band_hash"), col("id").as("id_b")),
        Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .as[(Long, Long)].collect()
    assert(fast.length == fast.distinct.length, "fast path must emit unique pairs")
    assert(fast.toSet == slow.toSet, "same candidate set either way")
  }

  test("portable (oracle) candidates find the same exact-dup cluster") {
    val port = DedupOps.minHashDedupPortable(docs, "text", "doc_id", 0.9, 16, 4)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(port.contains((1L, 2L)), "identical docs must collide in the md5 family too")
    assert(port.length == port.distinct.length,
      "first-collision-wins emits each pair once over md5 band hashes too")
  }

  test("minHashDedup: empty/whitespace-only docs verify at J(∅,∅)=1, no 0/0") {
    val df = Seq((1L, ""), (2L, "   "), (3L, "a b c"), (4L, "a b c"))
      .toDF("doc_id", "text")
    val got = DedupOps.minHashDedup(df, "text", "doc_id", 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 1.0), (3L, 4L, 1.0)))
  }

  test("minHash LSH candidates are a superset of verified pairs (recall structure)") {
    val cands = DedupOps.minHashCandidates(docs, "text", "doc_id", 16, 4)
      .as[(Long, Long)].collect().toSet
    val verified = DedupOps.minHashDedup(docs, "text", "doc_id", 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(verified.subsetOf(cands))
  }

  test("simHash: identical docs have distance 0; unrelated docs are far") {
    val sigs = docs.select(col("doc_id"),
        DedupOps.simHash(TextOps.whitespaceTokenize(col("text"))).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    val d15 = java.lang.Long.bitCount(sigs(1L) ^ sigs(5L))
    assert(d15 > 10, s"unrelated docs should differ in many bits, got $d15")
    val d14 = java.lang.Long.bitCount(sigs(1L) ^ sigs(4L))
    assert(d14 < d15, "near-dup should be closer than unrelated")
  }

  test("simHashPairs banding finds hamming<=3 pairs") {
    val pairs = DedupOps.simHashPairs(docs, "text", "doc_id", 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("ngramSet: counts and shorter-than-n behavior") {
    val df = Seq("a b c d", "a b").toDF("text")
    val got = df.select(DedupOps.ngramSet(col("text"), 3).as("g")).as[Seq[String]].collect()
    assert(got(0).toSet == Set("a b c", "b c d"))
    assert(got(1).isEmpty)
  }

  test("cosinePairs picks out the planted duplicate vector") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = DedupOps.cosinePairs(vecs, "embedding", "vec_id", 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("cosineKeepers: exact-dup vectors collapse to min id; drops are never unfounded") {
    val r = new scala.util.Random(11)
    // 40 random unit-ish vectors + 3 planted copies of vector 100
    val base = (0L until 40L).map(i => (i, Seq.fill(8)(r.nextFloat() * 2 - 1)))
    val planted = Seq(100L, 101L, 102L).map(i =>
      (i, Seq(0.9f, 0.1f, 0.2f, 0.3f, 0.4f, 0.5f, 0.6f, 0.7f)))
    val vecs = (base ++ planted).toDF("vec_id", "embedding")
    val kept = DedupOps.cosineKeepers(vecs, "embedding", "vec_id", 0.999, dim = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(kept.contains(100L) && !kept.contains(101L) && !kept.contains(102L),
      "identical vectors share every band signature, min id must win")
    // soundness vs the exact pairwise form: every dropped id has a true
    // >= threshold cosine pair with a smaller id
    val truePairs = DedupOps.cosinePairs(vecs, "embedding", "vec_id", 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val dropped = (base ++ planted).map(_._1).toSet -- kept
    assert(dropped.forall(i => truePairs.exists { case (a, b) => b == i && a < i }))
    // schema unchanged; re-running only shrinks or fixes
    val out = DedupOps.cosineKeepers(vecs, "embedding", "vec_id", 0.999, dim = 8)
    assert(out.schema == vecs.schema)
    val again = DedupOps.cosineKeepers(out, "embedding", "vec_id", 0.999, dim = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(again.subsetOf(kept))
  }

  test("crossSourceDupMatrix: pair counts by source pair, canonical order") {
    // "dup" appears in s1 twice and s2 once -> pairs: (s1,s1)=1,
    // (s1,s2)=2; "solo" texts contribute nothing
    val docs = Seq(
      (1L, "Dup ", "s1"), (2L, "dup", "s1"), (3L, " DUP", "s2"),
      (4L, "solo a", "s1"), (5L, "solo b", "s2")
    ).toDF("doc_id", "text", "source")
    val r = DedupOps.crossSourceDupMatrix(docs, "text", "doc_id", "source")
      .as[(String, String, Long)].collect().toSeq.sortBy(p => (p._1, p._2))
    assert(r == Seq(("s1", "s1", 1L), ("s1", "s2", 2L)), s"got $r")
  }

  test("crossSourceDupMatrix: NULL texts never form a phantom dup group") {
    // under the xxhash64 default NULL used to hash to the seed, so all
    // NULL-text rows collided as one giant "duplicate" group; both
    // keyFn options must now agree: NULLs contribute no pairs
    val docs = Seq(
      (1L, null.asInstanceOf[String], "s1"), (2L, null.asInstanceOf[String], "s2"),
      (3L, null.asInstanceOf[String], "s2"), (4L, "real dup", "s1"),
      (5L, "real dup", "s2")
    ).toDF("doc_id", "text", "source")
    val xx = DedupOps.crossSourceDupMatrix(docs, "text", "doc_id", "source")
      .as[(String, String, Long)].collect().toSeq.sorted
    val md = DedupOps.crossSourceDupMatrix(docs, "text", "doc_id", "source",
        keyFn = c => graft.core.PortableHash.md5Long(c))
      .as[(String, String, Long)].collect().toSeq.sorted
    assert(xx == Seq(("s1", "s2", 1L)), s"got $xx")
    assert(md == xx, "xxhash64 and md5Long paths must share NULL semantics")
  }

  test("softDedupWeights: weights sum to 1 per component, singletons weigh 1, " +
      "total mass == component count") {
    val labeled = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), // cluster of 3
      (4L, 4L), (5L, 5L) // singletons
    ).toDF("doc_id", "component")
    val w = DedupOps.softDedupWeights(labeled)
      .as[(Long, Long, Double)].collect().map { case (id, _, wt) => id -> wt }.toMap
    assert(w(1L) == 1.0 / 3 && w(2L) == 1.0 / 3 && w(3L) == 1.0 / 3)
    assert(w(4L) == 1.0 && w(5L) == 1.0)
    assert(math.abs(w.values.sum - 3.0) < 1e-12, "mass must equal #components")
  }

  test("softDedupWeightsFromReps: planted dup cluster shares one unit of " +
      "mass; unrelated docs keep weight 1") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then naps"),
      (2L, "the quick brown fox jumps over the lazy dog and then naps"),
      (3L, "the quick brown fox jumps over the lazy dog and then rests"),
      (10L, "completely different words appear here nothing shared at all"),
      (11L, "yet another unrelated document with its own private tokens")
    ).toDF("doc_id", "text")
    val w = DedupOps.softDedupWeightsFromReps(corpus, "text", "doc_id", 0.6)
      .as[(Long, Long, Double)].collect()
      .map { case (id, comp, wt) => id -> ((comp, wt)) }.toMap
    assert(w(1L)._1 == 1L && w(2L)._1 == 1L && w(3L)._1 == 1L,
      s"planted cluster must share component 1, got $w")
    assert(w(1L)._2 == 1.0 / 3 && w(2L)._2 == 1.0 / 3 && w(3L)._2 == 1.0 / 3)
    assert(w(10L) == ((10L, 1.0)) && w(11L) == ((11L, 1.0)))
  }

  test("cdcChunks fused expression is bit-identical to the composable " +
      "fold on random texts") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(97)
    val alphabet = ('a' to 'z') ++ Seq(' ', ' ', ' ', '.', ',', 'é', '中')
    val rows = (1L to 60L).map { i =>
      val len = rnd.nextInt(400)
      (i, (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length)))
        .mkString)
    }
    val df = rows.toDF("id", "text")
    val both = df.select(col("id"),
        DedupOps.cdcChunks(col("text")).as("fused"),
        DedupOps.cdcChunksComposable(col("text")).as("hof"))
      .as[(Long, Seq[String], Seq[String])].collect()
    both.foreach { case (id, f, h) =>
      assert(f == h, s"row $id: fused $f vs composable $h")
    }
  }

  test("cdcChunks: chunks concatenate back; boundaries are " +
      "content-defined (prefix insertion re-syncs); empty/NULL contracts") {
    import org.apache.spark.sql.functions.{col, concat_ws}
    val rnd = new scala.util.Random(41)
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "fox")
    val base = (0 until 120).map(_ => words(rnd.nextInt(words.length)))
      .mkString(" ")
    val df = Seq((1L, base), (2L, "PREFIX INSERTED " + base),
      (3L, ""), (4L, null: String)).toDF("id", "text")
    val got = df.select(col("id"),
        DedupOps.cdcChunks(col("text")).as("ch"),
        concat_ws("", DedupOps.cdcChunks(col("text"))).as("rejoined"))
      .as[(Long, Option[Seq[String]], String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L)._3 == base, "chunks must concatenate back losslessly")
    assert(got(3L)._2.contains(Seq.empty), "empty text -> empty chunk list")
    assert(got(4L)._2.isEmpty, "NULL text -> NULL")
    // content-defined: after the hash window ages the insertion out,
    // boundaries re-sync — the two docs share a long common chunk tail
    val c1 = got(1L)._2.get
    val c2 = got(2L)._2.get
    val common = c1.reverse.zip(c2.reverse).takeWhile { case (a, b) => a == b }
    assert(common.length >= math.max(1, c1.length - 3),
      s"tails must re-sync: ${c1.length} chunks, ${common.length} common")
    assert(c1.length >= 4, s"fixture long enough to chunk: ${c1.length}")
  }

  test("cdcDupStats: planted shared span is census'd; differential vs a " +
      "plain-Scala fold replay; hashed keys agree with string keys") {
    import org.apache.spark.sql.functions.col
    // plain-Scala replay of the gear fold (the independent reference)
    def gear(c: Char): Long = (c.toLong * 2654435761L) % 1048576L
    def chunkRef(t: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var h = 0L
      var start = 0
      for (i <- 0 until t.length) {
        h = (2 * h + gear(t(i))) % 1048576L
        if (i < t.length - 1 && h % 64 == 0) {
          out += t.substring(start, i + 1); start = i + 1
        }
      }
      out += t.substring(start)
      out.toSeq
    }
    // a 20-char marker whose trailing-window hash forces a cut at the
    // end of EVERY occurrence (contributions older than 20 shifts
    // vanish mod 2^20) — so any two docs containing the marker-fenced
    // span chunk its interior identically
    def winHash(s: String): Long =
      s.foldLeft(0L)((a, c) => (2 * a + gear(c)) % 1048576L)
    val rnd = new scala.util.Random(13)
    def rndStr(n: Int) =
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val marker = Iterator.continually(rndStr(20))
      .find(m => winHash(m) % 64 == 0).get
    val shared = marker + rndStr(100) + marker
    val docs = Seq((1L, rndStr(50) + shared), (2L, shared + rndStr(60)),
      (3L, rndStr(150)))
    val df = docs.toDF("doc_id", "text")
    val s = DedupOps.cdcDupStats(df, "text", "doc_id")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(s(1L)._3 > 0 && s(2L)._3 > 0,
      s"marker-fenced span must share chunks: $s")
    // independent census from the reference chunker
    val refChunks = docs.map { case (id, t) => id -> chunkRef(t) }.toMap
    val sharedSet = refChunks.toSeq.flatMap { case (id, cs) =>
      cs.distinct.map(_ -> id) }
      .groupBy(_._1).filter(_._2.map(_._2).distinct.length > 1).keySet
    refChunks.foreach { case (id, cs) =>
      val exp = (id, cs.length.toLong, cs.count(sharedSet).toLong,
        cs.count(sharedSet).toDouble / cs.length)
      assert(s(id) == exp, s"doc $id: ${s(id)} vs reference $exp")
    }
    val str = DedupOps.cdcDupStats(df, "text", "doc_id", keyFn = c => c)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(str == s, "xxhash64 keys and string keys census identically")
  }

  test("portable family: two empty docs divide 0/0 to NULL and never pair (DuckDB semantics)") {
    val d = Seq((1L, ""), (2L, "   "), (3L, "a b c"), (4L, "a b c")).toDF("doc_id", "text")
    val pairs = DedupOps.minHashDedupPortable(d, "text", "doc_id", 0.5, 4, 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((3L, 4L)))
    val keep = DedupOps.dedupKeepersPortable(d, "text", "doc_id", 0.5, 4, 2)
      .select("doc_id").as[Long].collect().toSet
    assert(keep == Set(1L, 2L, 3L))
    val exact = DedupOps.jaccardPairs(d, "text", "doc_id", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact == Set((3L, 4L)))
  }
}
