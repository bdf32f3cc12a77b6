package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its per-call subprocesses.
  *
  * Without libhadoop (`NativeIO.isAvailable` false), `RawLocalFileSystem`
  * runs every `setPermission` — which every file create and mkdir calls —
  * as a `chmod` process, and every `getFileLinkStatus` — which every
  * `FileContext` rename calls on both paths — as a `readlink` process.
  * The streaming checkpoint logs (offset WAL, source log, commit log),
  * the table commits and every task's part, `.crc` and attempt files pay
  * that fork on each micro-batch. Here both calls go through java.nio:
  *   - `setPermission` sets the same nine bits with
  *     `Files.setPosixFilePermissions` (which follows a link, as `chmod`
  *     does); a sticky bit or a store without POSIX attributes goes to
  *     the stock call;
  *   - `getFileLinkStatus` of a path that is not a symlink is
  *     `getFileStatus`, exactly what the stock call returns (and the same
  *     `FileNotFoundException` for a missing path); a symlink goes to the
  *     stock call.
  *
  * [[SparkSessionFactory.LocalFsConf]] installs the `FileSystem`
  * ([[NioLocalFileSystem]]) and `FileContext` ([[NioLocalFs]]) faces for
  * the `file://` scheme only. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  /** The nine rwx bits: `PosixFilePermission`'s declaration order runs
    * from the owner's read bit (0400) down to the others' execute bit
    * (0001). */
  private def posix(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val bits = p.toShort
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { q =>
      if ((bits & (1 << (8 - q.ordinal))) != 0) out.add(q)
    }
    out
  }
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over the raw one
  * above. It must be a `LocalFileSystem`: `FileSystem.getLocal` casts. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (a `ChecksumFs`
  * over `RawLocalFs`) with the raw filesystem above. `RawLocalFs` has
  * only package-private constructors, so its overrides are mirrored.
  * Hadoop instantiates it by reflection with `(URI, Configuration)`; like
  * `LocalFs` it ignores the URI and serves `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(conf))

private[core] class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  // the OS validates local names, as RawLocalFileSystem leaves it to
  override def isValidName(src: String): Boolean = true
}
