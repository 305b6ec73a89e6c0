package graft.io

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.TempDirs.tempDir

/** Ingest hygiene: malformed JSONL lines route to the quarantine frame
  * instead of killing the job or becoming silent all-null rows.
  */
class QuarantineSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("readJsonlWithQuarantine splits good rows from malformed lines") {
    val dir = tempDir().toString
    val lines = Seq(
      """{"id": 1, "text": "hello"}""",
      """{"id": 2, "text": "world"}""",
      """{"id": 3 "text": "missing comma"}""", // malformed
      """not json at all""", // malformed
      """{"id": 4, "text": "ok"}""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-0.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val (good, quarantine) =
      Sources.readJsonlWithQuarantine(spark, dir, schema)
    val g = good.as[(Long, String)].collect().sortBy(_._1)
    assert(g.toSeq == Seq((1L, "hello"), (2L, "world"), (4L, "ok")))
    val q = quarantine.as[String].collect().toSet
    assert(q == Set(lines(2), lines(3)))
    // every input line is accounted for exactly once
    assert(good.count() + quarantine.count() == lines.size)
  }
}
