package graft

import java.nio.file.Path

import org.apache.spark.sql.graftbridge.TempDirBridge

/** Spec scratch directories: each call makes a fresh `graft-<uuid>`
  * directory under `java.io.tmpdir` that Spark deletes at JVM exit, so
  * a test run leaves nothing behind in /tmp.
  */
object TempDirs {
  def tempDir(): Path = TempDirBridge.createTempDir().toPath
}
