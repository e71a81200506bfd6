package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FSLinkResolver, FsConstants, FsServerDefaults, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** The stock raw local filesystem with two changes, each a syscall
  * through NIO instead of a forked process:
  *
  *  - `setPermission`. Without the native Hadoop library,
  *    `RawLocalFileSystem` sets a mode by running `chmod` in a child
  *    process — for every file, `.crc` side file and directory it
  *    creates with an explicit permission. That fork costs about 4 ms,
  *    a hundred times the syscall, and a store commit creates hundreds
  *    of files and dirs. The bits set are the same: user/group/other
  *    read-write-execute. A sticky-bit mode, which NIO cannot express,
  *    still goes through the stock path.
  *  - `getFileLinkStatus`. Stock reads a link target by running
  *    `readlink`, and `FileSystem.rename(src, dst, options)` asks for
  *    both sides' link status: the streaming checkpoint manager renames
  *    every `offsets/` and `commits/` file (and its `.crc`) that way.
  *    The status returned is the stock one.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val f = pathToFile(p)
      try Files.setPosixFilePermissions(f.toPath,
        NioRawLocalFileSystem.posixBits(permission))
      catch {
        case _: NoSuchFileException =>
          throw new FileNotFoundException(s"File $f does not exist")
      }
    }

  override def getFileLinkStatus(f: Path): FileStatus = {
    // the file stock hands `readlink`: a scheme-qualified path names no
    // file there, so stock never reads one as a link
    val nio = new java.io.File(f.toString).toPath
    // a file, a directory, or a missing path (which throws)
    if (!Files.isSymbolicLink(nio)) return getFileStatus(f)
    val target = new Path(Files.readSymbolicLink(nio).toString)
    val link =
      try {
        val s = getFileStatus(f) // the link's target
        new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize,
          s.getModificationTime, s.getAccessTime, s.getPermission,
          s.getOwner, s.getGroup, target, f)
      } catch {
        case _: FileNotFoundException => // a dangling link
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault,
            "", "", target, f)
      }
    link.setSymlink(
      FSLinkResolver.qualifySymlinkTarget(getUri, link.getPath, link.getSymlink))
    link
  }
}

object NioRawLocalFileSystem {
  private def add(s: java.util.Set[PosixFilePermission], a: FsAction,
      r: PosixFilePermission, w: PosixFilePermission,
      x: PosixFilePermission): Unit = {
    if (a.implies(FsAction.READ)) s.add(r)
    if (a.implies(FsAction.WRITE)) s.add(w)
    if (a.implies(FsAction.EXECUTE)) s.add(x)
  }

  /** `permission`'s user/group/other actions as a POSIX bit set. */
  def posixBits(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    add(s, permission.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE)
    add(s, permission.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE)
    add(s, permission.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
    s
  }
}

/** `file://` for `FileSystem` callers (Spark's writers and readers):
  * the stock checksummed local FS over [[NioRawLocalFileSystem]], so
  * `.crc` side files are still written and still verified on read.
  * Installed by `spark.hadoop.fs.file.impl` in
  * [[graft.Tables.sessionConfigs]].
  */
class GraftLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `file://` for `FileContext` callers, raw layer: what the stock
  * `org.apache.hadoop.fs.local.RawLocalFs` is (its constructors are
  * package-private), over [[NioRawLocalFileSystem]].
  */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort(): Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `file://` for `FileContext` callers — Spark's streaming checkpoint
  * manager writes `offsets/` and `commits/` through it: the stock
  * checksummed layer over [[GraftRawLocalFs]]. Installed by
  * `spark.hadoop.fs.AbstractFileSystem.file.impl`.
  */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(uri, conf)) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
}
