package graft.sources

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` filesystem with its two forking calls done in
  * process. Without the Hadoop native library, stock
  * `RawLocalFileSystem` runs a `chmod` child process for every
  * `setPermission` — and so for every `mkdirs` and every `create` with
  * a permission — and a `readlink` child for every `getFileLinkStatus`,
  * which FileContext's rename (Spark's checkpoint commit) calls on
  * both ends. Both become one NIO call here; every case the NIO call
  * cannot reproduce exactly goes to the stock code.
  */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem.{hasSetId, posix}

  /** The nine rwx bits through `Files.setPosixFilePermissions`. A
    * sticky bit asked for, or a set-id bit already on the target
    * (numeric `chmod` keeps those on directories), takes the stock
    * `chmod` path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val bits = permission.toShort & 0xfff // octal 7777
    if (bits > 0x1ff /* 0777 */ || hasSetId(file))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, posix(bits))
  }

  /** A path that is not a symlink gets its plain status: what the
    * stock code returns after an empty `readlink`. Symlinks take the
    * stock path.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  /** The `PosixFilePermission` set of the low nine mode bits. */
  private def posix(bits: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // values() runs OWNER_READ .. OTHERS_EXECUTE: mode bits 8 .. 0
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((bits & (0x100 >> i)) != 0) s.add(p)
    }
    s
  }

  private def hasSetId(file: JPath): Boolean = // octal 6000
    (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xc00) != 0
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]].
  */
final class NioLocalFileSystem
    extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (the FileContext API): a
  * `ChecksumFs` over [[NioRawLocalFileSystem]], built the way Hadoop's
  * `LocalFs` builds over `RawLocalFs` (which ignores the URI too).
  */
final class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(conf))

private final class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
      false) {
  override def getUriDefaultPort: Int = -1
  override def isValidName(src: String): Boolean = true
}
