package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystemException, FileSystems, Files}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem for the `file` scheme, without the
  * process forks.
  *
  * Spark ships Hadoop without `libhadoop`, so the stock
  * `RawLocalFileSystem` shells out for three metadata calls: every
  * `setPermission` (each create and mkdir) forks `chmod`, every
  * `getFileLinkStatus` (FileContext checks both ends of each rename)
  * forks `readlink`, and the first `getPermission`/`getOwner` on a
  * status forks `ls -ld`. A Structured Streaming checkpoint commits
  * each file through FileContext create+rename, so one drain of the
  * benchmark's `ingest` workload started about 1,900 processes.
  *
  * [[NioRawLocalFileSystem]] answers those three calls through
  * `java.nio` and inherits everything else. The two checksummed entry
  * points wrap it exactly as Hadoop wraps its own raw filesystem:
  * [[NioLocalFileSystem]] (FileSystem API, as `LocalFileSystem`) and
  * [[NioLocalFs]] (FileContext API, as `LocalFs`), so `.crc` sidecars
  * and rename-with-overwrite behave as before. [[GraftSession]]
  * registers both through [[LocalFs.sparkConf]]; other schemes
  * (`hdfs://`, `s3a://`) are untouched. On a default filesystem that is
  * not POSIX every call takes Hadoop's own path. */
object LocalFs {

  /** The session settings that route `file:` through this package:
    * `fs.file.impl` (FileSystem API: sinks, scans, state stores) and
    * `fs.AbstractFileSystem.file.impl` (FileContext API: the streaming
    * checkpoint's offset/commit logs and state-store deltas). */
  val sparkConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  private[sources] val posix: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  // PosixFilePermission's declaration order is OWNER_READ .. OTHERS_EXECUTE,
  // so ordinal i is mode bit 0400 >> i
  private val perms = PosixFilePermission.values

  private[sources] def toPosix(mode: Short): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    perms.foreach(p => if ((mode & (0x100 >> p.ordinal)) != 0) s.add(p))
    s
  }

  private[sources] def toFs(ps: java.util.Set[PosixFilePermission]): FsPermission = {
    var mode = 0
    ps.forEach(p => mode |= 0x100 >> p.ordinal)
    new FsPermission(mode.toShort)
  }
}

/** `RawLocalFileSystem` with its forking metadata calls done in-process.
  * Statuses carry owner, group and the nine mode bits read eagerly
  * through `PosixFileAttributes`; a sticky bit is not reported, and
  * setting one still takes Hadoop's `chmod` path. Real symlinks take
  * Hadoop's path too. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import LocalFs._

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!posix || permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, toPosix(permission.toShort))

  override def getFileStatus(f: Path): FileStatus =
    if (!posix) super.getFileStatus(f)
    else {
      val file = pathToFile(f)
      val a = try Files.readAttributes(file.toPath, classOf[PosixFileAttributes]) catch {
        // Hadoop's contract (FileSystem.exists relies on it)
        case _: FileSystemException if !file.exists =>
          throw new FileNotFoundException(s"File $f does not exist")
      }
      new FileStatus(a.size, a.isDirectory, 1, getDefaultBlockSize(f),
        a.lastModifiedTime.toMillis, a.lastAccessTime.toMillis, toFs(a.permissions),
        a.owner.getName, a.group.getName,
        new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
    }

  /** A directory lists through Hadoop, which stats each child with
    * [[getFileStatus]]; a file would get Hadoop's lazily-forking status. */
  override def listStatus(f: Path): Array[FileStatus] =
    if (posix && !pathToFile(f).isDirectory) Array(getFileStatus(f))
    else super.listStatus(f)

  override def getFileLinkStatus(f: Path): FileStatus =
    if (posix && !Files.isSymbolicLink(pathToFile(f).toPath)) getFileStatus(f)
    else super.getFileLinkStatus(f)
}

/** FileSystem API entry point for `file:` (`fs.file.impl`): the
  * checksummed `LocalFileSystem` over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** FileContext view of [[NioRawLocalFileSystem]]; mirrors Hadoop's
  * `RawLocalFs`. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** FileContext API entry point for `file:`
  * (`fs.AbstractFileSystem.file.impl`): the checksummed `ChecksumFs`
  * over [[NioRawLocalFs]]; mirrors Hadoop's `LocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
