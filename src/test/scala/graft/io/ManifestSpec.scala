package graft.io

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.core.Tables

class ManifestSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("manifest round-trips; content hash is order- and partitioning-free") {
    val out = Files.createTempDirectory("manifest").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    Sources.writeWithManifest(docs, out)
    assert(Sources.verifyManifest(spark, out).isEmpty)

    // the same rows under any order/partitioning hash identically
    val (n1, h1, _) = Sources.contentManifest(docs)
    val (n2, h2, _) = Sources.contentManifest(
      docs.repartition(7).sortWithinPartitions(col("lang").desc))
    assert(n1 == n2 && h1 == h2, "content hash must be order-free")
  }

  test("tampering surfaces: dropped rows and changed values both mismatch") {
    val out = Files.createTempDirectory("manifest-tamper").toString
    val df = (1L to 500L).map(i => (i, s"v$i")).toDF("id", "v")
    Sources.writeWithManifest(df, out)
    assert(Sources.verifyManifest(spark, out).isEmpty)

    // overwrite the data (keeping the stale sidecar) -> count drift
    val manifest = new java.io.File(out, "_graft_manifest.json")
    val saved = java.nio.file.Files.readAllBytes(manifest.toPath)
    df.filter(col("id") =!= 250L).write.mode("overwrite").parquet(out)
    java.nio.file.Files.write(manifest.toPath, saved)
    val err = Sources.verifyManifest(spark, out)
    assert(err.exists(_.contains("row count drifted")), s"got $err")

    // same count, different values -> content drift
    df.withColumn("v", when(col("id") === 250L, lit("changed")).otherwise(col("v")))
      .write.mode("overwrite").parquet(out)
    java.nio.file.Files.write(manifest.toPath, saved)
    val err2 = Sources.verifyManifest(spark, out)
    assert(err2.exists(_.contains("content hash drifted")), s"got $err2")

    assert(Sources.verifyManifest(spark,
      Files.createTempDirectory("no-manifest").toString).isDefined)
  }

  test("manifest stays valid JSON when the schema DDL holds control characters") {
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val commented = base.withColumn("v", col("v").as("v",
      new MetadataBuilder().putString("comment", "line1\nline2\ttab").build()))
    val tabName = base.withColumnRenamed("v", "a\tb")
    val cases = Seq("comment with \\n and \\t" -> commented, "column name with \\t" -> tabName)
    val errs = cases.flatMap { case (label, df) =>
      val out = Files.createTempDirectory("manifest-ctrl").toString
      Sources.writeWithManifest(df, out)
      Sources.verifyManifest(spark, out).map(e => s"$label: $e")
    }
    assert(errs.isEmpty, errs.mkString("\n"))
  }

  test("compactParquet merges small files, verifies content, swaps in place") {
    val dir = Files.createTempDirectory("compact").toString + "/t"
    val tmp = Files.createTempDirectory("compact_tmp").toString + "/t"
    val df = (0 until 5000).map(i => (i.toLong, s"row-$i")).toDF("id", "v")
    df.repartition(40).write.parquet(dir)
    val beforeRows = spark.read.parquet(dir).collect().map(_.getLong(0)).sorted
    val (nBefore, nAfter) =
      Sources.compactParquet(spark, dir, tmp, targetBytes = 64L * 1024 * 1024)
    assert(nBefore == 40, s"expected 40 input files, got $nBefore")
    assert(nAfter < 5, s"compaction must merge to a few files, got $nAfter")
    val afterRows = spark.read.parquet(dir).collect().map(_.getLong(0)).sorted
    assert(afterRows.sameElements(beforeRows), "rows must survive exactly")
  }
}
