package graft.core

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The precomputed-artifact store: one build per key, one directory per
  * key, and every directory gone once the JVM exits.
  */
class ScratchSpec extends AnyFunSuite {
  test("build runs once per key; the second call returns the first directory") {
    var builds = 0
    val build = (d: String) => {
      builds += 1
      Files.writeString(new File(d, "part").toPath, "x")
      ()
    }
    val a = Scratch.dir("scratch-spec:once")(build)
    val b = Scratch.dir("scratch-spec:once")(build)
    assert(a == b)
    assert(builds == 1)
    assert(new File(a, "part").isFile)
  }

  test("distinct keys give distinct directories") {
    val dirs = Seq("scratch-spec:a", "scratch-spec:b", "scratch-spec:c")
      .map(k => Scratch.dir(k)(_ => ()))
    assert(dirs.distinct.size == 3)
    assert(dirs.forall(d => new File(d).isDirectory))
  }

  test("a failed build memoises nothing: the next call builds again") {
    intercept[IllegalStateException] {
      Scratch.dir("scratch-spec:fails")(_ => throw new IllegalStateException("boom"))
    }
    var built = false
    val d = Scratch.dir("scratch-spec:fails") { _ => built = true }
    assert(built)
    assert(new File(d).isDirectory)
  }

  test("the directory is deleted when its JVM exits") {
    val java = new File(System.getProperty("java.home"), "bin/java").getPath
    val proc = new ProcessBuilder(java, "-cp", System.getProperty("java.class.path"),
        "graft.core.ScratchSpecChild")
      .redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() == 0, out)
    val dir = out.linesIterator.collectFirst {
      case l if l.startsWith("dir=") => l.stripPrefix("dir=")
    }
    assert(dir.isDefined, out)
    assert(!new File(dir.get).exists(), s"${dir.get} survived its JVM")
  }
}

/** Builds one non-empty directory, prints its path and exits. */
object ScratchSpecChild {
  def main(args: Array[String]): Unit = {
    val d = Scratch.dir("child") { d =>
      new File(d, "nested").mkdirs()
      Files.writeString(new File(d, "nested/part").toPath, "x")
      ()
    }
    println(s"dir=$d")
  }
}
