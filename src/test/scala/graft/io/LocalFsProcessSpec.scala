package graft.io

import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.TempDirs.tempDir

/** The engine session's `file:` writes start no process: a stateful
  * streaming query with a file checkpoint (offset/commit logs and
  * state-store deltas through FileContext) and both parquet sinks
  * (FileSystem), watched by an in-process JFR recording of
  * `jdk.ProcessStart`.
  */
class LocalFsProcessSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("the session binds both Hadoop APIs for file: to the no-fork classes") {
    val conf = spark.sparkContext.hadoopConfiguration
    val local = URI.create("file:///")
    assert(FileSystem.get(local, conf).getClass == classOf[NoForkLocalFileSystem])
    assert(AbstractFileSystem.get(local, conf).getClass == classOf[NoForkLocalFs])
  }

  test("checkpointed streaming and the parquet sinks start no chmod / readlink process") {
    val tmp = tempDir()
    val in = Files.createDirectory(tmp.resolve("in"))
    Files.write(in.resolve("a.json"), "{\"k\":1}\n{\"k\":2}\n".getBytes)
    Files.write(in.resolve("b.json"), "{\"k\":2}\n{\"k\":3}\n".getBytes)
    val df = (1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    spark.sparkContext.hadoopConfiguration // session up before recording

    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val progress = try {
      val q = spark.readStream.schema("k INT").option("maxFilesPerTrigger", 1)
        .json(in.toString)
        .groupBy("k").count()
        .writeStream.format("memory").queryName("localfs_proc").outputMode("complete")
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Sources.writeSharded(df, "id", 10, tmp.resolve("shards").toString)
      q.recentProgress
    } finally rec.stop()
    val jfr = tmp.resolve("proc.jfr")
    rec.dump(jfr)
    rec.close()

    assert(progress.count(_.numInputRows > 0) == 2, "two data micro-batches")
    assert(spark.table("localfs_proc").as[(Int, Long)].collect().toSet ==
      Set((1, 1L), (2, 2L), (3, 1L)))
    val forks = RecordingFile.readAllEvents(jfr).asScala
      .map(_.getString("command"))
      .filter(c => c.contains("chmod") || c.contains("readlink"))
    assert(forks.isEmpty, s"${forks.size} subprocesses, e.g. ${forks.take(3)}")
  }
}
