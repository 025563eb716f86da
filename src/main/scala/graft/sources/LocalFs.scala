package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystemException, Files, LinkOption}
import java.nio.file.attribute.{FileTime, GroupPrincipal, PosixFilePermission, UserPrincipal}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` FileSystem with its permission calls answered
  * through java.nio. Without the native-hadoop library, stock
  * [[RawLocalFileSystem]] starts an OS process for every chmod (each
  * `create` and `mkdirs` sets the new file's mode), every permission or
  * owner read (`ls -ld`) and every link-status read (`readlink`): a few
  * ms each, paid on every index write, fimi commit and streaming
  * checkpoint. Every answer here carries the same fields as stock:
  * length (directories included), replication 1, the configured block
  * size, mtime, atime, permission, owner, group and the qualified path.
  * Symlinks, and modes java.nio cannot set (sticky bit), go to `super`. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      NioRawLocalFileSystem.posix(permission.toShort).asJava)

  override def getFileStatus(f: Path): FileStatus =
    nioStatus(f).getOrElse(super.getFileStatus(f))

  override def getFileLinkStatus(f: Path): FileStatus =
    nioStatus(f).getOrElse(super.getFileLinkStatus(f))

  /** A directory's entries go through [[getFileStatus]] in `super`; a
    * plain file lists as its own status. */
  override def listStatus(f: Path): Array[FileStatus] =
    if (pathToFile(f).isDirectory) super.listStatus(f) else Array(getFileStatus(f))

  /** One `lstat` of `f`; None when `f` is a symlink. Any failure to stat
    * reads as a missing file, as `File.exists` does in `super`. */
  private def nioStatus(f: Path): Option[FileStatus] = {
    val file = pathToFile(f)
    val a = try Files.readAttributes(file.toPath, "unix:*", LinkOption.NOFOLLOW_LINKS)
      catch { case _: FileSystemException =>
        throw new FileNotFoundException(s"File $f does not exist") }
    if (a.get("isSymbolicLink") == java.lang.Boolean.TRUE) None
    else Some(new FileStatus(
      a.get("size").asInstanceOf[java.lang.Long],
      a.get("isDirectory") == java.lang.Boolean.TRUE,
      1, getDefaultBlockSize(f),
      a.get("lastModifiedTime").asInstanceOf[FileTime].toMillis,
      a.get("lastAccessTime").asInstanceOf[FileTime].toMillis,
      // permission bits plus the sticky bit, as `ls -ld` reads them
      new FsPermission((a.get("mode").asInstanceOf[Integer] & 0x3ff).toShort),
      a.get("owner").asInstanceOf[UserPrincipal].getName,
      a.get("group").asInstanceOf[GroupPrincipal].getName,
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory)))
  }
}

object NioRawLocalFileSystem {
  /** The rwx bits of `mode`; `PosixFilePermission` lists them from the
    * owner's read bit (0400) down to the others' execute bit (0001). */
  private def posix(mode: Int): Set[PosixFilePermission] =
    PosixFilePermission.values.zipWithIndex.collect {
      case (p, i) if (mode & (0x100 >> i)) != 0 => p
    }.toSet
}

/** The `file:` FileSystem the engine runs on (`fs.file.impl`): the
  * checksummed [[LocalFileSystem]] over [[NioRawLocalFileSystem]], so
  * `.crc` files are written and verified as before. */
class LocalFs extends LocalFileSystem(new NioRawLocalFileSystem)

/** FileContext twin of [[NioRawLocalFileSystem]]
  * (`fs.AbstractFileSystem.file.impl`, via [[LocalChecksumFs]]), with the
  * overrides of `org.apache.hadoop.fs.local.RawLocalFs`. Structured
  * Streaming's offsets and commits logs write through FileContext. */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Checksummed FileContext `file:` filesystem, as
  * `org.apache.hadoop.fs.local.LocalFs` over [[NioRawLocalFs]]. */
class LocalChecksumFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
