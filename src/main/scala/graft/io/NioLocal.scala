package graft.io

import java.io.IOException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{FileTime, GroupPrincipal, PosixFilePermission, UserPrincipal}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's checksummed local filesystem (`file:`) with its forked
  * processes replaced by java.nio calls.
  *
  * Without the native libhadoop, the stock local filesystem runs a
  * process for every permission set (`chmod`), every symlink probe
  * (`readlink`, on each side of every `FileContext.rename`) and every
  * permission read (`ls -ld`), at 5–8 ms each. A streaming epoch writes
  * its offsets, commits and state-store deltas through `FileContext`,
  * so the forks, not the writes, set its fixed cost.
  *
  * [[NioRawLocalFileSystem]] changes only those three calls; every
  * other operation, Hadoop's `.crc` checksums (kept by the
  * [[NioLocalFileSystem]] and [[NioLocalFs]] wrappers), Spark's state
  * checksum files and the atomic renames are the stock code. Where the
  * java.nio call cannot give Hadoop's answer (a sticky bit, a symlink, a
  * filesystem without POSIX attributes, an I/O error) the stock call
  * runs instead, so results and exceptions are the stock ones. */
object NioLocal {

  private val FileContextKey = "fs.AbstractFileSystem.file.impl"

  /** Routes the session's `FileContext` access to `file:` paths (the
    * streaming offsets and commits logs and the state store, which all
    * copy the session conf through `newHadoopConf`) through
    * [[NioLocalFs]]. Touches only the `file` scheme, and only the
    * forking calls; a session that already names a `file` FileContext
    * implementation keeps it. Idempotent; a stream picks the conf up
    * when it starts. */
  def ensureInstalled(spark: SparkSession): Unit = synchronized {
    if (spark.conf.getOption(FileContextKey).isEmpty)
      spark.conf.set(FileContextKey, classOf[NioLocalFs].getName)
  }

  /** `conf` (a private copy, changed in place) with its `FileSystem`
    * lookups of `file:` paths served by a new [[NioLocalFileSystem]].
    * The FileSystem cache is keyed on the scheme, not the conf, so the
    * cache is bypassed for this conf only. */
  def withFileSystem(conf: Configuration): Configuration = {
    conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    conf
  }
}

/** `RawLocalFileSystem` with `setPermission`, `getFileLinkStatus` and
  * the permission, owner and group of `getFileStatus`/`listStatus` done
  * through java.nio instead of a forked `chmod`, `readlink` or `ls -ld`.
  * A status carries its permission, owner and group from the one
  * attribute read that also gives its length and times. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    try {
      val a = Files.readAttributes(file.toPath,
        "unix:mode,size,isDirectory,lastModifiedTime,lastAccessTime,owner,group")
      new FileStatus(a.get("size").asInstanceOf[Long], a.get("isDirectory").asInstanceOf[Boolean],
        1, getDefaultBlockSize(f),
        a.get("lastModifiedTime").asInstanceOf[FileTime].toMillis,
        a.get("lastAccessTime").asInstanceOf[FileTime].toMillis,
        // the bits Hadoop reads from `ls -ld`: rwx and the sticky bit
        // (`FsPermission.valueOf` drops setuid and setgid)
        new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort),
        a.get("owner").asInstanceOf[UserPrincipal].getName,
        a.get("group").asInstanceOf[GroupPrincipal].getName,
        new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
    } catch {
      // a missing path, or a filesystem without unix attributes: the
      // stock call throws its own FileNotFoundException (before any
      // fork) or answers as it always did
      case _: IOException | _: UnsupportedOperationException | _: IllegalArgumentException =>
        super.getFileStatus(f)
    }
  }

  /** The stock listing builds a file's own status without
    * [[getFileStatus]]; a directory's entries go through it. */
  override def listStatus(f: Path): Array[FileStatus] =
    if (pathToFile(f).isDirectory) super.listStatus(f) else Array(getFileStatus(f))

  /** Only a symlink needs the stock `readlink`; for anything else the
    * stock answer is [[getFileStatus]]. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  /** rwx bits through java.nio (following a symlink, as `chmod` does);
    * a sticky bit, which java.nio cannot set, takes the stock call. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    val set = (mode & ~0x1ff) == 0 && (try {
      // PosixFilePermission lists owner rwx, group rwx, others rwx: bits 8 to 0
      Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermission.values.zipWithIndex
        .collect { case (b, i) if (mode & (1 << (8 - i))) != 0 => b }.toSet.asJava)
      true
    } catch { case _: IOException | _: UnsupportedOperationException => false })
    if (!set) super.setPermission(p, permission)
  }
}

/** `LocalFileSystem` (Hadoop's checksummed `file:` FileSystem) over
  * [[NioRawLocalFileSystem]]: `.crc` files are written and verified as
  * by the stock one. Selected per conf by [[NioLocal.withFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `RawLocalFs` (the raw `file:` AbstractFileSystem, whose
  * constructor is package-private) over [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's `LocalFs` (the checksummed `file:` AbstractFileSystem that
  * `FileContext` uses) over [[NioRawLocalFs]]; like `LocalFs`, it
  * ignores the URI it is created for and serves `file:///`. Selected by
  * [[NioLocal.ensureInstalled]]. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
