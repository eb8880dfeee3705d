package graft.ingest

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without the per-call process forks.
  *
  * Without the native libhadoop, `RawLocalFileSystem.setPermission` runs
  * `chmod` in a child process (~5 ms each), and Spark sets the mode of
  * every file and directory it creates; `getFileLinkStatus` likewise runs
  * `readlink` on every call. This subclass sets the rwx bits through
  * `java.nio` — the same mode `chmod` would set — and hands only modes
  * with the sticky bit to the parent. A link status lookup forks only for
  * a path that really is a symlink.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, ForkFreeLocalFs.rwx(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `file` scheme's checksummed `FileSystem` over the fork-free raw one. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `file` scheme's raw `AbstractFileSystem` (what `FileContext` uses),
  * mirroring Hadoop's `RawLocalFs` over the fork-free raw file system. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The `file` scheme's checksummed `AbstractFileSystem`, as Hadoop's
  * `LocalFs`: the streaming checkpoint writes through this one. Like
  * `LocalFs`, it serves `file:///` whatever URI it is created for. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(FsConstants.LOCAL_FS_URI, conf))

object ForkFreeLocalFs {
  /** The rwx bits of `mode` (`0644` → `rw-r--r--`). */
  private[ingest] def rwx(mode: Int): java.util.Set[java.nio.file.attribute.PosixFilePermission] =
    PosixFilePermissions.fromString(
      (8 to 0 by -1).map(i => if ((mode >> i & 1) == 1) "rwx"(2 - i % 3) else '-').mkString)

  /** Route the `file` scheme of `conf` through the fork-free classes. The
    * `FileSystem` cache is turned off for the scheme because the forking
    * instance is usually cached already by the time a store opens; an
    * uncached local `FileSystem.get` costs microseconds. A deployment
    * that set its own `fs.file.impl` is left alone, and other schemes
    * (HDFS, S3) are never touched. Idempotent. */
  def install(conf: Configuration): Unit = conf.synchronized {
    if (conf.get("fs.file.impl") == null) {
      conf.set("fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      conf.set("fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
      conf.setBoolean("fs.file.impl.disable.cache", true)
    }
  }
}
