package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.ops.{DedupOps, TextOps}

/** The fused SimHash expression must be bit-identical to the
  * composable HOF formulation it replaces in the production dedup path.
  */
class SimHash64Spec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("fused expression is bit-identical to the HOF formulation") {
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 60).map(i => s"tok$i")
    val docs = (0 until 200).map { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val toks = TextOps.whitespaceTokenize(col("text"))
    val both = docs.select(
      SimHash64.simHash64(toks).as("fused"),
      DedupOps.simHash(toks).as("hof"))
    assert(both.filter(col("fused") =!= col("hof")).count() == 0)
    // and the signatures are non-trivial (not all equal/zero)
    assert(both.select(countDistinct(col("fused"))).as[Long].head() > 100)
  }

  test("empty array, null elements, and null array") {
    val df = Seq(
      (1L, Some(Seq[Option[String]]())),
      (2L, Some(Seq[Option[String]](None))),
      (3L, Some(Seq[Option[String]](Some("a"), None, Some("b")))),
      (4L, Option.empty[Seq[Option[String]]])
    ).toDF("id", "toks")
    val got = df.select(col("id"), SimHash64.simHash64(col("toks")).as("sig"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got(1L) == Some(0L), "empty array folds to signature 0")
    assert(got(2L) == Some(0L), "all-null elements are skipped")
    assert(got(4L) == None, "null array is null")
    // null elements are skipped, not hashed: (a, null, b) == (a, b)
    val ab = df.filter(col("id") === 3L)
      .select(SimHash64.simHash64(col("toks"))).as[Long].head()
    val abDirect = Seq(Tuple1(Seq("a", "b"))).toDF("toks")
      .select(SimHash64.simHash64(col("toks"))).as[Long].head()
    assert(ab == abDirect)
  }

  test("SimHashMd5 is bit-identical to the md5-family HOF formulation (q29 oracle form)") {
    val rnd = new scala.util.Random(13)
    val vocab = (0 until 40).map(i => s"t$i")
    val docs = (0 until 150).map { i =>
      // raw split semantics: include empty tokens like q29's split(text, " ")
      (i.toLong, (Seq.fill(1 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))) ++
        (if (rnd.nextBoolean()) Seq("") else Nil)).mkString(" "))
    }.toDF("doc_id", "text")
    val toks = split(col("text"), " ")
    val both = docs.select(
      SimHashMd5.simHashMd5(toks, 48).as("fused"),
      graft.ops.DedupOps.simHash(toks, 48,
        t => graft.core.PortableHash.md5Long48(t)).as("hof"))
    assert(both.filter(col("fused") =!= col("hof")).count() == 0)
  }

  test("SQL registration evaluates via the extension") {
    // generated code over a range row (nothing to fold) against the
    // interpreted eval the optimizer runs over a local Seq
    val got = spark.range(1)
      .select(SimHash64.simHash64(when(col("id") === 0, array(lit("x"), lit("y"), lit("z")))))
      .as[Long].head()
    val direct = Seq(Tuple1(Seq("x", "y", "z"))).toDF("toks")
      .select(SimHash64.simHash64(col("toks"))).as[Long].head()
    assert(got == direct)
  }
}
