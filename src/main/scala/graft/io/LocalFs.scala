package graft.io

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermissions}

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver,
  FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `file:` filesystem that keeps metadata calls inside the JVM.
  *
  * Without libhadoop, stock [[RawLocalFileSystem]] runs `chmod` for
  * every file create and mkdir (`setPermission`) and `readlink` for
  * every FileContext rename (`getFileLinkStatus`): ~5 ms of process
  * start each, dozens per streaming micro-batch. This subclass makes
  * the same changes through `java.nio`; everything else is stock.
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through `PosixFilePermissions`. NIO has no sticky bit, so
    * a sticky mode keeps the stock path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
        permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))

  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    // the stock contract: a symlink target comes back qualified
    if (st.isSymlink)
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** The stock non-native link status, with `readlink` replaced by NIO
    * on the same argument, `new File(f.toString)`. For a qualified
    * `file:/...` path that is a relative name that never exists, so —
    * as in stock Hadoop — only unqualified paths can report a link. A
    * live link reports its target's size, times, owner and mode, as the
    * stock status does; a dangling one gets the stock defaults.
    */
  private def linkStatus(f: Path): FileStatus =
    Try(new File(f.toString).toPath).toOption.filter(Files.isSymbolicLink(_)) match {
      case None => getFileStatus(f)
      case Some(link) =>
        val target = new Path(Files.readSymbolicLink(link).toString)
        try {
          val t = getFileStatus(f) // follows the link
          val a = Files.readAttributes(link, classOf[PosixFileAttributes])
          new FileStatus(t.getLen, false, t.getReplication, t.getBlockSize,
            t.getModificationTime, t.getAccessTime,
            FsPermission.valueOf("-" + PosixFilePermissions.toString(a.permissions)),
            a.owner.getName, a.group.getName, target, f)
        } catch {
          case _: FileNotFoundException =>
            new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault,
              "", "", target, f)
        }
    }
}

/** `fs.file.impl`: stock checksummed [[LocalFileSystem]] over
  * [[NoForkRawLocalFileSystem]]. Without this binding the Hive jar's
  * service entry makes `file:` its `ProxyLocalFileSystem`, whose one
  * change is kept: `rename` onto an existing file returns false (the
  * HDFS rule) instead of replacing it.
  */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

/** `fs.AbstractFileSystem.file.impl` (FileContext, used by streaming
  * checkpoints and the state store): stock `LocalFs` — checksums over a
  * raw delegate — with [[NoForkRawLocalFileSystem]] underneath. Hadoop
  * instantiates it by the (URI, Configuration) constructor.
  */
class NoForkLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NoForkRawLocalFs(conf))

/** Stock `RawLocalFs` with its four overrides, over the no-fork raw FS. */
private class NoForkRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new NoForkRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
