package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` FileSystem without the forked helpers. With no
  * native Hadoop library, `RawLocalFileSystem` runs `chmod` as a child
  * process for every file, `.crc` file and directory it creates, and
  * `readlink` for every `getFileLinkStatus`. Here both are `java.nio`
  * calls: the same `chmod` syscall, and a symlink test. Modes with bits
  * above 0777 (sticky, setuid) and real symlinks still take Hadoop's own
  * path, so every result is the stock one. [[Sessions.local]] installs
  * this through [[NoForkLocalFileSystem]] and [[NoForkLocalFs]]. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val bits = PosixFilePermission.values() // owner r,w,x .. others r,w,x
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      for (i <- bits.indices if (mode & (0x100 >> i)) != 0) perms.add(bits(i))
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }

  // Hadoop returns getFileStatus for a path `readlink` prints nothing for
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `LocalFileSystem` (checksummed, `.crc` files kept) over
  * [[NoForkRawLocalFileSystem]]: the `fs.file.impl` of local sessions. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** `LocalFs`, the `file:` FileContext that streaming checkpoints write
  * through, over [[NoForkRawLocalFileSystem]]: the
  * `fs.AbstractFileSystem.file.impl` of local sessions. Hadoop builds it
  * through this `(URI, Configuration)` constructor; like `LocalFs` it
  * serves `file:///` whatever the URI. */
class NoForkLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NoForkLocalFs.Raw(conf))

object NoForkLocalFs {
  /** `RawLocalFs` with its four overrides. */
  private class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new NoForkRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
