package graft.sources

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.annotation.unused

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.hadoop.util.Shell

/** Fork-free `file://` I/O, registered by `GraftSession.get` through
  * [[NioLocalFileSystem]] and [[NioLocalFs]].
  *
  * Without libhadoop (`NativeIO.isAvailable` false) Hadoop's pure-Java
  * local filesystem starts a child process in two places:
  * `setPermission` runs `chmod` for every file, `.crc` file and
  * directory it creates, and `getFileLinkStatus` runs `readlink`, twice
  * per `rename(src, dst, OVERWRITE)`: the rename behind every streaming
  * checkpoint and file-sink log entry. This class does both in-process;
  * everything else, modes, checksums, rename and error types included,
  * is the stock code. Each override falls back to the stock method for
  * what NIO cannot express: a mode beyond the 9 rwx bits (the sticky
  * bit), and a path that really is a symlink. With libhadoop the stock
  * `setPermission` is already a native call, and on Windows it goes
  * through `winutils`; both keep it.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0 || NativeIO.isAvailable || Shell.WINDOWS) super.setPermission(p, permission)
    else {
      // OWNER_READ … OTHERS_EXECUTE are bits 8 … 0
      val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.foreach(b => if ((mode & (0x100 >> b.ordinal)) != 0) set.add(b))
      Files.setPosixFilePermissions(pathToFile(p).toPath, set)
    }
  }

  /** The stock method reads the link of `new File(f.toString)` first,
    * and a path that is not a link gets `getFileStatus(f)`.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file://` `FileSystem` over [[NioRawLocalFileSystem]].
  * Spark's classpath resolves `file` to Hive's `ProxyLocalFileSystem`
  * through hive-exec's service file; it differs from `LocalFileSystem`
  * only in that `rename` onto an existing file returns `false`, and
  * that rule is kept here.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

/** The raw `file://` `AbstractFileSystem` over [[NioRawLocalFileSystem]],
  * with the overrides of `org.apache.hadoop.fs.local.RawLocalFs`.
  */
class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local filesystems differ in what they accept; the OS decides
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `file://` `AbstractFileSystem` (the `FileContext`
  * face that streaming checkpoints and file-sink logs write through),
  * as `org.apache.hadoop.fs.local.LocalFs` over [[NioRawLocalFs]].
  * `AbstractFileSystem.get` calls this `(URI, Configuration)`
  * constructor; like the stock class it always serves `file:///`.
  */
class NioLocalFs(@unused uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))
