package graft.io

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{FileSystems, Files, InvalidPathException, Path => NioPath}
import java.nio.file.attribute.PosixFilePermission
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` filesystem with its two per-call process forks
  * done in-process.
  *
  * Without the native `libhadoop`, the stock class forks `chmod` (and a
  * reader thread) in `setPermission`, which every `mkdirs` and `create`
  * calls, and forks `readlink` in `getFileLinkStatus`, which every
  * `FileContext` rename calls twice. A write-heavy path pays about 2.5 ms
  * per fork: one ingest event made about 30 of them.
  *
  * Here `setPermission` applies the mode with
  * `Files.setPosixFilePermissions`, and `getFileLinkStatus` reads the
  * link with `Files.readSymbolicLink`. Every file and directory keeps
  * the mode the `chmod` call gives it; the cases NIO cannot express fall
  * back to that call:
  *  - a mode with the sticky bit;
  *  - a directory that carries setuid or setgid (`chmod 0755` keeps them
  *    on a directory, `chmod(2)` through NIO clears them);
  *  - a platform without the `unix` attribute view.
  *
  * `fs.file.impl` in `core-site.xml` routes `file:` to [[NioLocalFileSystem]],
  * and `fs.AbstractFileSystem.file.impl` routes `FileContext` to [[NioLocalFs]].
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (NioRawLocalFileSystem.chmodOnly(file, permission)) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, NioRawLocalFileSystem.posix(permission))
  }

  /** The stock call's symlink-aware status (its default, `java.io.File`
    * based path), with the link read in-process. Like the stock call it
    * reads the link at `f.toString`, so a qualified `file:/…` path is
    * never seen as a link.
    */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val target = NioRawLocalFileSystem.readLink(new File(f.toString))
    if (target.isEmpty) getFileStatus(f)
    else {
      val link =
        try {
          val s = getFileStatus(f)
          new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize,
            s.getModificationTime, s.getAccessTime, s.getPermission, s.getOwner,
            s.getGroup, new Path(target), f)
        } catch {
          // `File.exists` is false for a dangling link
          case _: FileNotFoundException =>
            new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
              new Path(target), f)
        }
      link.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, link.getPath, link.getSymlink))
      link
    }
  }
}

object NioRawLocalFileSystem {

  private val S_IFMT = 0xf000
  private val S_IFDIR = 0x4000
  private val SetIdBits = 0xc00 // 06000: setuid | setgid

  private val unixView = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  /** Whether `permission` on `file` needs the stock `chmod` call. */
  private def chmodOnly(file: NioPath, permission: FsPermission): Boolean =
    !unixView || permission.getStickyBit || {
      val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      (mode & S_IFMT) == S_IFDIR && (mode & SetIdBits) != 0
    }

  /** The rwx bits of `permission`; `PosixFilePermission` lists them from
    * owner read (0400) down to others execute (0001).
    */
  private def posix(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort.toInt
    val perms = EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((mode & (0x100 >> p.ordinal)) != 0) perms.add(p)
    }
    perms
  }

  /** What `readlink <f>` prints: the target of a symlink, else "". */
  private def readLink(f: File): String =
    try Files.readSymbolicLink(f.toPath).toString
    catch { case _: IOException | _: InvalidPathException | _: UnsupportedOperationException => "" }
}

/** `file:` through [[NioRawLocalFileSystem]], with `.crc` checksums as
  * Hadoop's `LocalFileSystem` writes them.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` twin of [[NioLocalFileSystem]]: what Hadoop's
  * `LocalFs` is, a `ChecksumFs` over the raw filesystem, with the raw
  * filesystem swapped. Structured Streaming writes its offsets, commits
  * and state files through it.
  */
class NioLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]] (its own
  * constructors are package-private and hard-code the stock class).
  */
private[io] class NioRawLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {

  override def getUriDefaultPort: Int = -1

  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults

  @deprecated("as in Hadoop's AbstractFileSystem", "")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults

  override def isValidName(src: String): Boolean = true
}
