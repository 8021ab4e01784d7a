package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem without child processes.
  *
  * Without libhadoop, Hadoop's [[RawLocalFileSystem]] runs `chmod` for
  * every file and directory it creates with a permission, and `readlink`
  * for every `getFileLinkStatus` (twice per `FileContext.rename`, on a
  * `file:`-prefixed path that never resolves). Checkpoint, WAL, state-store
  * and parquet writes do all of these once or more per micro-batch, and
  * each forks the JVM. The two overrides below do the same through
  * `java.nio.file`; everything else, including rename, is the parent's.
  *
  * Registered for both Hadoop APIs in `core-site.xml` (`fs.file.impl` →
  * [[NioLocalFileSystem]], `fs.AbstractFileSystem.file.impl` →
  * [[NioLocalFs]]), each the checksummed wrapper Hadoop itself uses for
  * `file:`. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** chmod through NIO. The sticky bit has no NIO form; such a permission
    * goes to the parent. Without it `toString` is the 9-letter `rwxr-x---`
    * form NIO parses. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(permission.toString))

  /** Only a real symlink needs the parent's `readlink`; for anything else
    * the parent's answer is `getFileStatus` (and its not-found error). */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `FileSystem` API: checksummed, as Hadoop's default `LocalFileSystem`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `AbstractFileSystem` (FileContext) API: checksummed, as Hadoop's
  * default `LocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]; its overrides
  * are the same as `RawLocalFs`'s. */
private[sources] class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
