package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` filesystem with its two per-write process
  * starts done in-process through `java.nio`.
  *
  * Without the native Hadoop library, `RawLocalFileSystem` forks a
  * `chmod` for every file or directory it creates with a permission
  * (`setPermission`) and a `readlink` for every link-status check
  * (`getFileLinkStatus`); a `FileContext.rename` makes four such
  * checks. Spark's offset and commit logs, the state store's delta and
  * checksum files, parquet writes and their committer, and TableLog's
  * stage markers and zone-map sidecars all pay them. Measured on a
  * 4-vCPU host, 200 warm operations in a 4 GB JVM: a checksummed 1 KB
  * `create` cost 7.8 ms and a `FileContext.rename` 28 ms with the
  * forks, against 0.5 ms and 0.3 ms here.
  *
  * Only the common cases are taken over; everything else is Hadoop's:
  *  - `setPermission` sets the nine rwx bits with
  *    `Files.setPosixFilePermissions` (following links, as `chmod`
  *    does); a mode with sticky, setuid or setgid bits goes to `super`;
  *  - `getFileLinkStatus` of a path that is not a symbolic link is its
  *    `getFileStatus` (a missing path throws `FileNotFoundException`,
  *    as it does in Hadoop); a real link goes to `super`. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.posix(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  /** The nine rwx bits of `mode` as a POSIX permission set: the enum
    * lists owner, group, others read/write/execute from bit 8 down. */
  private[sources] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values().foreach(p => if ((mode & (1 << (8 - p.ordinal))) != 0) set.add(p))
    set
  }
}

/** The `file:` FileSystem (`fs.file.impl`): Hadoop's checksummed
  * `LocalFileSystem` over [[NioRawLocalFileSystem]].
  *
  * Registered in graft's `core-site.xml`, a default resource Hadoop
  * reads into every `Configuration`, so every session gets it, also
  * one built without `GraftSession` (a plain builder with
  * `GraftExtensions` only). An explicit `fs.file.impl` (or
  * `spark.hadoop.fs.file.impl`) still wins, and a deployment whose own
  * `core-site.xml` comes first on the classpath keeps stock Hadoop. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `file:` AbstractFileSystem (`fs.AbstractFileSystem.file.impl`)
  * behind `FileContext`, which Spark's checkpoint files (offset and
  * commit logs, state-store files) are written and renamed through:
  * Hadoop's `LocalFs` (a `ChecksumFs` over `RawLocalFs`) with
  * [[NioRawLocalFileSystem]] underneath. Registered beside
  * [[NioLocalFileSystem]], for the same reasons. Hadoop builds it
  * through its `(URI, Configuration)` constructor; like `LocalFs`, it
  * serves `file:///` whatever the URI. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[NioRawLocalFileSystem]], with its three overrides. */
private class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  @deprecated("as AbstractFileSystem.getServerDefaults()", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
