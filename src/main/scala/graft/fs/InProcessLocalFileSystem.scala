package graft.fs

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem, with the two calls that fork a process
  * on a host without `libhadoop` done in the JVM instead.
  *
  * Without the native library, the stock class runs `chmod` for every
  * [[setPermission]] (every file create, the `.crc` beside it, every new
  * dir) and `readlink` for every [[getFileLinkStatus]] (twice per
  * `FileContext` rename: every streaming offset, commit, metadata and
  * state-delta file). One fork costs about 1.2 ms in a 2 GB JVM, and a
  * catch-up stream run paid about 90 of them.
  *
  *  - [[setPermission]] calls `Files.setPosixFilePermissions`, which sets
  *    the nine rwx bits as the stock `chmod <4-digit mode>` does. Two
  *    cases stay on the stock path, because `setPosixFilePermissions`
  *    cannot express them: a sticky bit, and a directory carrying
  *    setuid/setgid (`chmod` keeps those on a directory; a plain
  *    `chmod(2)` of the rwx bits would clear them). So does a JDK
  *    without the `unix` attribute view.
  *  - [[getFileLinkStatus]] returns [[getFileStatus]] unless the path is
  *    a symbolic link, which is what the stock method returns when
  *    `readlink` prints nothing; a real link goes to the stock method.
  *
  * `LocalFileSystemParitySpec` pins both against a stock instance: all
  * 512 rwx modes on files and `mkdirs` under a `027` umask, the link
  * status of a file, a dir, a symlink and a missing path, and a
  * `FileContext` overwrite-rename carrying its `.crc`.
  */
class InProcessRawLocalFileSystem extends RawLocalFileSystem {
  import InProcessRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (!unixView || permission.getStickyBit || keepsSpecialBits(file))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, rwx(permission))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

private object InProcessRawLocalFileSystem {
  private val unixView =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  /** A directory whose setuid or setgid bit `chmod` would keep. */
  private def keepsSpecialBits(file: java.nio.file.Path): Boolean = {
    val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
    (mode & 0xf000) == 0x4000 && (mode & 0xc00) != 0 // S_IFDIR, 06000
  }

  private def rwx(p: FsPermission) = PosixFilePermissions.fromString(
    p.getUserAction.SYMBOL + p.getGroupAction.SYMBOL +
      p.getOtherAction.SYMBOL)
}

/** `fs.file.impl` (the `FileSystem` API): Hadoop's checksummed
  * `LocalFileSystem` over [[InProcessRawLocalFileSystem]], so a create
  * forks no `chmod` for the file or its `.crc`. Set in the classpath
  * `core-site.xml`, which Hadoop loads into every `Configuration`;
  * `LocalFileSystemParitySpec` and `NoForkSpec` pin the routing. */
class InProcessLocalFileSystem
  extends LocalFileSystem(new InProcessRawLocalFileSystem)

/** The raw `AbstractFileSystem` for `file:` over
  * [[InProcessRawLocalFileSystem]], with the three overrides of Hadoop's
  * `RawLocalFs` (whose constructor is package-private). */
class InProcessRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
  FsConstants.LOCAL_FS_URI, new InProcessRawLocalFileSystem, conf,
  FsConstants.LOCAL_FS_URI.getScheme, false) {

  override def getUriDefaultPort: Int = -1 // no default port for file:///

  @deprecated("use getServerDefaults(Path)", "")
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults

  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults

  // the OS validates local names, as RawLocalFileSystem leaves it to
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl` (the `FileContext` API, which
  * Spark's default streaming checkpoint manager uses): Hadoop's
  * checksummed `ChecksumFs` over [[InProcessRawLocalFs]], as Hadoop's
  * `LocalFs` is over `RawLocalFs`, so a checkpoint rename forks no
  * `readlink` and its `.crc` still follows it (pinned by
  * `LocalFileSystemParitySpec`). Hadoop builds it by reflection through
  * the (URI, Configuration) constructor; like `LocalFs`, it ignores the
  * URI. Spark's `CheckpointFileManager.isLocal` reads false for it (it
  * matches Hadoop's two classes by type); no Spark code path reads it. */
class InProcessLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new InProcessRawLocalFs(conf))
