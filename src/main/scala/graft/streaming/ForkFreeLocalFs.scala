package graft.streaming

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` scheme's `FileContext` file system with Hadoop's
  * `LocalFs` layout (`.crc` checksums, same permissions, same files) but
  * without its process forks. Without libhadoop, `RawLocalFileSystem`
  * runs `chmod` for every file or directory it creates and `readlink`
  * for every link-status lookup (several per rename), which costs a
  * streaming checkpoint tens of milliseconds per file. Installed by
  * [[UniqueStreams.useRocksDBStateStore]] as
  * `fs.AbstractFileSystem.file.impl`; `AbstractFileSystem` instantiates it
  * through this `(URI, Configuration)` constructor.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeLocalFs.Raw(conf))

object ForkFreeLocalFs {

  /** Hadoop's `RawLocalFs` over [[ForkFreeRawLocalFileSystem]]. */
  private class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}

/** `RawLocalFileSystem` whose permission change and link-status lookup
  * use `java.nio` in the common case; a sticky bit, a store without a
  * POSIX view and a real symlink take Hadoop's own path.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  import ForkFreeRawLocalFileSystem.{bits, posix}

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !posix) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      bits.foreach { case (perm, bit) => if ((mode & bit) != 0) perms.add(perm) }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
  // PosixFilePermission's declaration order is the mode's bit order: 0400 … 0001
  private val bits = PosixFilePermission.values.toSeq.zipWithIndex
    .map { case (p, i) => (p, 0x100 >> i) }
}
