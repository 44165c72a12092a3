package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Shell

/** Hadoop's `RawLocalFileSystem` without the two calls that start a
  * process when native libhadoop is absent: `setPermission` (a `chmod`
  * for every file and directory created) and `getFileLinkStatus` (a
  * `readlink` for every `FileContext` rename). A plain rwx permission is
  * set through `java.nio`, and a path that is not a symlink gets
  * `getFileStatus`, which is what the `readlink` path returns for it —
  * `FileNotFoundException` for a missing path included. Everything else
  * (a symlink, the sticky bit, Windows) takes Hadoop's own path. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    // anything above 0777 is the sticky bit: leave it to chmod
    if (Shell.WINDOWS || (bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      ForkFreeRawLocalFileSystem.posix(bits))
  }

  override def getFileLinkStatus(p: Path): FileStatus =
    if (Shell.WINDOWS || Files.isSymbolicLink(pathToFile(p).toPath))
      super.getFileLinkStatus(p)
    else getFileStatus(p)
}

object ForkFreeRawLocalFileSystem {
  // PosixFilePermission's declaration order is owner rwx, group rwx,
  // others rwx: bit 8 (0400) down to bit 0 (0001)
  private def posix(bits: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((bits & (0x100 >> i)) != 0) set.add(perm)
    }
    set
  }
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` (`.crc`
  * sidecars and all) over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` face of [[ForkFreeRawLocalFileSystem]]: Hadoop's
  * `RawLocalFs` with the raw filesystem swapped. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // no name check, as in RawLocalFileSystem: the OS has the last word
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl` — the `FileContext` filesystem that
  * streaming checkpoints and RocksDB changelogs commit through: Hadoop's
  * `LocalFs` (a `ChecksumFs`) over [[ForkFreeRawLocalFs]]. Like `LocalFs`
  * it ignores `uri` and serves `file:///`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
