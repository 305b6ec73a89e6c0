package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs.tempDir

/** [[NoForkRawLocalFileSystem]] against stock [[RawLocalFileSystem]] on
  * the same files: the stock class (which forks `chmod` / `readlink`
  * without libhadoop) is the reference for every observable result.
  */
class LocalFsSpec extends AnyFunSuite {

  private def fs(raw: RawLocalFileSystem, umask: String): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    raw.initialize(URI.create("file:///"), conf)
    raw
  }

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** Modes left by create, nested mkdirs and explicit setPermission,
    * relative to `root`.
    */
  private def modesAfterWrites(fs: FileSystem, root: java.nio.file.Path): Map[String, String] = {
    val r = new Path(root.toString)
    fs.create(new Path(r, "a/b/f.bin")).close()
    fs.mkdirs(new Path(r, "x/y/z"))
    fs.create(new Path(r, "g.bin")).close()
    fs.setPermission(new Path(r, "g.bin"), new FsPermission("640"))
    fs.setPermission(new Path(r, "x/y"), new FsPermission("751"))
    Seq("a", "a/b", "a/b/f.bin", "x", "x/y", "x/y/z", "g.bin")
      .map(rel => rel -> mode(root.resolve(rel))).toMap
  }

  for ((umask, file, dir) <- Seq(("022", "rw-r--r--", "rwxr-xr-x"), ("077", "rw-------", "rwx------")))
    test(s"create / mkdirs / setPermission leave stock modes under umask $umask") {
      val tmp = tempDir()
      val stock = modesAfterWrites(fs(new RawLocalFileSystem, umask),
        Files.createDirectory(tmp.resolve("stock")))
      val ours = modesAfterWrites(fs(new NoForkRawLocalFileSystem, umask),
        Files.createDirectory(tmp.resolve("ours")))
      assert(ours == stock)
      assert(ours("a/b/f.bin") == file && ours("x/y/z") == dir)
      assert(ours("g.bin") == "rw-r-----" && ours("x/y") == "rwxr-x--x")
    }

  test("a sticky-bit setPermission still yields mode 1755") {
    val d = tempDir()
    fs(new NoForkRawLocalFileSystem, "022")
      .setPermission(new Path(d.toString), new FsPermission("1755"))
    assert((Files.getAttribute(d, "unix:mode").asInstanceOf[Int] & 0x0fff) == Integer.parseInt("1755", 8))
  }

  test("getFileLinkStatus / getLinkTarget match stock on links, missing and qualified paths") {
    val d = tempDir().toRealPath()
    val file = Files.write(d.resolve("f.txt"), "hello".getBytes)
    val sub = Files.createDirectory(d.resolve("sub"))
    Files.createSymbolicLink(d.resolve("ln"), file)
    Files.createSymbolicLink(d.resolve("dirln"), sub)
    Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    val names = Seq("f.txt", "sub", "ln", "dirln", "dangling", "missing")
    val stock = fs(new RawLocalFileSystem, "022")
    val ours = fs(new NoForkRawLocalFileSystem, "022")
    def observe(fs: FileSystem, p: Path) = (
      Try(fs.getFileLinkStatus(p)).map(s => (s.isSymlink,
        if (s.isSymlink) s.getSymlink.toString else "", s.getLen, s.isDirectory,
        s.getPath.toString, s.getPermission.toString, s.getOwner, s.getGroup))
        .toEither.left.map(_.getClass),
      Try(fs.getLinkTarget(p).toString).toEither.left.map(_.getClass))
    for (n <- names; p <- Seq(new Path(d.resolve(n).toString),
        stock.makeQualified(new Path(d.resolve(n).toString)))) {
      val want = observe(stock, p)
      assert(observe(ours, p) == want, s"on $p")
    }
    // the unqualified path sees the links; the qualified one, as in stock
    // Hadoop, never does
    assert(ours.getFileLinkStatus(new Path(d.resolve("ln").toString)).isSymlink)
    assert(ours.getLinkTarget(new Path(d.resolve("dangling").toString)) ==
      new Path(d.resolve("gone").toString))
    assert(!ours.getFileLinkStatus(ours.makeQualified(new Path(d.resolve("ln").toString))).isSymlink)
  }

  test("the FileSystem binding renames like the Hive ProxyLocalFileSystem it replaces") {
    def outcome(fs: FileSystem): (Boolean, Boolean, String) = {
      val d = tempDir()
      Files.write(d.resolve("src"), "new".getBytes)
      Files.write(d.resolve("dst"), "old".getBytes)
      Files.write(d.resolve("moved"), "x".getBytes)
      fs.initialize(URI.create("file:///"), new Configuration())
      val p = (n: String) => new Path(d.resolve(n).toString)
      (fs.rename(p("src"), p("dst")), fs.rename(p("moved"), p("fresh")),
        new String(Files.readAllBytes(d.resolve("dst"))))
    }
    val want = outcome(new org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem)
    assert(want == ((false, true, "old")))
    assert(outcome(new NoForkLocalFileSystem) == want)
  }
}
