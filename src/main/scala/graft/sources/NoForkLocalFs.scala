package graft.sources

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.{GroupPrincipal, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BlockLocation, ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, LocatedFileStatus, Path, PathFilter, RawLocalFileSystem,
  RemoteIterator}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `file:` without child processes. Lacking the Hadoop native library,
  * stock [[RawLocalFileSystem]] forks `chmod` for every `setPermission`
  * (each file and directory it creates, `.crc` files included) and
  * `readlink` for every `getFileLinkStatus` (each `FileContext` rename,
  * so each offset- and commit-log write), and `ls -ld` for every entry
  * of a `listFiles`/`listLocatedStatus` listing. This subclass does all
  * three through `java.nio` and keeps the stock path where `java.nio`
  * cannot say the same thing: a filesystem without unix attributes, a
  * real symlink. Checksums, `.crc` files, file modes and rename
  * semantics are the stock ones. [[GraftSession.configure]]
  * binds the `file:` scheme to [[NoForkLocalFileSystem]] and
  * [[NoForkLocalFs]]. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  import NoForkRawLocalFileSystem._

  // stock runs `chmod %04o`: rwx and sticky bits as given, and, as GNU
  // chmod does with a numeric mode, a directory keeps its setuid/setgid
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!Unix) super.setPermission(p, permission)
    else {
      val f = pathToFile(p).toPath
      val kept =
        if (Files.isDirectory(f)) Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & SetIds
        else 0
      Files.setAttribute(f, "unix:mode", Int.box(permission.toShort & RwxAndSticky | kept))
    }

  // stock runs `readlink` first and, when it prints nothing, returns
  // exactly getFileStatus(f)
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  // stock wraps each listed status in `new LocatedFileStatus(status,
  // locations)`, whose permission/owner/group reads parse `ls -ld`
  override protected def listLocatedStatus(f: Path,
      filter: PathFilter): RemoteIterator[LocatedFileStatus] =
    if (!Unix) super.listLocatedStatus(f, filter)
    else new RemoteIterator[LocatedFileStatus] {
      private val stats = listStatus(f, filter)
      private var i = 0
      override def hasNext: Boolean = i < stats.length
      override def next(): LocatedFileStatus = {
        if (!hasNext) throw new java.util.NoSuchElementException(s"No more entries in $f")
        val s = stats(i); i += 1
        located(s, if (s.isFile) getFileBlockLocations(s, 0, s.getLen) else null)
      }
    }

  private def located(s: FileStatus, locations: Array[BlockLocation]): LocatedFileStatus = {
    val (permission, owner, group) = modeOwnerGroup(pathToFile(s.getPath).toPath)
    val l = new LocatedFileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getAccessTime, permission, owner, group, null, s.getPath,
      s.hasAcl, s.isEncrypted, s.isErasureCoded, locations)
    if (s.isSymlink) l.setSymlink(s.getSymlink)
    l
  }
}

object NoForkRawLocalFileSystem {
  private val Unix = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
  private val RwxAndSticky = Integer.parseInt("1777", 8)
  private val SetIds = Integer.parseInt("6000", 8)

  /** What stock parses from `ls -ld` of the canonical path: the rwx
    * and sticky bits, owner and group, links followed. A path deleted
    * since the listing fails here, as stock's `ls` does. */
  private def modeOwnerGroup(p: java.nio.file.Path): (FsPermission, String, String) = {
    val a = Files.readAttributes(p, "unix:mode,owner,group")
    (new FsPermission((a.get("mode").asInstanceOf[Int] & RwxAndSticky).toShort),
      a.get("owner").asInstanceOf[UserPrincipal].getName,
      a.get("group").asInstanceOf[GroupPrincipal].getName)
  }
}

/** `fs.file.impl`: stock [[LocalFileSystem]] (checksummed) over
  * [[NoForkRawLocalFileSystem]]. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` binding Spark's
  * checkpoint manager renames through: stock `LocalFs` (a `ChecksumFs`
  * over `RawLocalFs`) with [[NoForkRawLocalFileSystem]] as the delegate.
  * The overrides mirror `RawLocalFs`. */
class NoForkLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })
