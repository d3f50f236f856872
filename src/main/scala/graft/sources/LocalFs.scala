package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of a graft JVM: Hadoop's local filesystem with
  * its two per-call process forks answered through `java.nio` instead.
  *
  * Without libhadoop (no native build ships with the Spark jars),
  * `RawLocalFileSystem` shells out for two calls that every local write
  * makes:
  *
  *  - `setPermission` runs `chmod`. Every file create and every directory
  *    create sets its mode this way (parquet writers, the commit protocol,
  *    checkpoint temp files).
  *  - `getFileLinkStatus` runs `readlink`, whatever the path is.
  *    `FileContext.rename`, which streaming checkpoints use, asks for the
  *    link status of both its source and its target.
  *
  * A fork costs milliseconds where the `java.nio` call costs microseconds,
  * and q254's three stream starts would make 116 of them per run. Only those two
  * calls change. The classes below are Hadoop's own wrappers around this
  * raw filesystem, so checksums, the umask, rename and symlinks keep
  * Hadoop's semantics.
  *
  * `src/main/resources/core-site.xml` registers them, so every
  * `Configuration` in a JVM with this library on its class path resolves
  * `file:` to them: `fs.file.impl` ([[NioLocalFileSystem]], what
  * `FileSystem.get` returns) and `fs.AbstractFileSystem.file.impl`
  * ([[NioLocalFs]], what `FileContext` uses).
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through `java.nio`. The sticky bit has no `java.nio` form,
    * and neither has a filesystem without POSIX modes; both stay on
    * Hadoop's path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = Seq(permission.getUserAction, permission.getGroupAction,
        permission.getOtherAction).map(_.SYMBOL).mkString
      try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(mode))
      catch {
        case e: NoSuchFileException => throw new FileNotFoundException(e.getFile)
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
    }

  /** A path that is not a symlink has its plain status, as in Hadoop,
    * which found that out by running `readlink`. A symlink, dangling or
    * not, goes to Hadoop's path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: Hadoop's checksummed local filesystem over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `AbstractFileSystem` over [[NioRawLocalFileSystem]]: Hadoop's
  * `RawLocalFs` with the raw filesystem swapped (its constructors are
  * package-private). */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (checksums over
  * the raw filesystem) over [[NioRawLocalFs]]. `AbstractFileSystem`
  * constructs it reflectively from `(URI, Configuration)`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
