package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of every graft session, pinned for both Hadoop
  * APIs in [[GraftSession.configure]].
  *
  * Without libhadoop, the stock RawLocalFileSystem starts a process for
  * two small operations: a `chmod` after every file and directory it
  * creates, and a `readlink` in every link-status check that FileContext
  * makes (rename makes several). Each costs milliseconds, against about
  * 0.1 ms for the syscall, and every micro-batch pays dozens of them in
  * its offset and commit logs, sink commit and state-store files. This
  * subclass does those two operations in-process through java.nio and
  * inherits everything else; the two wrappers below add Hadoop's CRC
  * checksums exactly as stock `file:` does, so checksums, FileContext's
  * atomic no-overwrite rename, umask handling and the resulting modes
  * are unchanged.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** Sets the mode Hadoop computed (umask already applied) with chmod(2).
    * The sticky bit and stores without POSIX attributes keep the stock
    * path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
  }

  /** The permission bits of an octal mode: `PosixFilePermission`'s
    * declaration order is owner rwx, group rwx, others rwx, bit 8 down
    * to bit 0. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((mode >> (8 - p.ordinal) & 1) == 1) set.add(p)
    }
    set
  }

  /** Stock answers a path that is not a link with `getFileStatus(f)`
    * (including its FileNotFoundException) once `readlink` has found no
    * link; links, dangling ones included, keep the stock path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the FileSystem API's checksummed `file:`. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the FileContext API's checksummed
  * `file:`, mirroring `org.apache.hadoop.fs.local.LocalFs` over
  * `RawLocalFs`. Hadoop builds it by reflection from (URI, Configuration)
  * and, like LocalFs, ignores the URI. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeLocalFs.Raw(conf))

object ForkFreeLocalFs {
  private[graft] final class Raw(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
        new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
        false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
