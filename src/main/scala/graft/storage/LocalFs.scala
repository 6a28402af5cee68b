package graft.storage

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` file system without shell commands, registered for both
  * Hadoop APIs by `core-site.xml` (`fs.file.impl`,
  * `fs.AbstractFileSystem.file.impl`).
  *
  * Without the native Hadoop library the stock `RawLocalFileSystem` runs
  * `chmod` as a child process for every file or directory it creates, and
  * `readlink` for every `getFileLinkStatus`, which each `FileContext`
  * rename makes. Every checkpoint-log write, state-store delta and sink
  * commit pays several of those forks, which dominated a micro-batch's
  * fixed cost. This class does both in-process and returns what the stock
  * class returns; only the cases NIO cannot reproduce take the stock path.
  */
class ShellFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** Sets the mode with one `chmod(2)`. A sticky mode, or a directory that
    * carries setuid/setgid (shell `chmod` keeps those on directories, NIO
    * clears them), takes the stock path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (permission.getStickyBit || isSetIdDirectory(file))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, rwx(permission.toShort))
  }

  /** A path that is not a symlink has its link status equal to its status
    * (the stock class learns that from a `readlink` that, given a
    * `file:` URI string, always fails); a real symlink takes the stock path.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  private def isSetIdDirectory(file: NioPath): Boolean = {
    val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
    (mode & 0xF000) == 0x4000 && (mode & 0xC00) != 0 // S_IFDIR, S_ISUID|S_ISGID
  }

  /** The nine rwx bits of `mode`; `PosixFilePermission.values` runs from
    * OWNER_READ (0400) down to OTHERS_EXECUTE (0001).
    */
  private def rwx(mode: Int): java.util.Set[PosixFilePermission] = {
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for ((p, i) <- PosixFilePermission.values.zipWithIndex
         if (mode >> (8 - i) & 1) == 1) perms.add(p)
    perms
  }
}

/** `FileSystem` API: the checksummed wrapper over the shell-free raw FS. */
class ShellFreeLocalFileSystem
    extends LocalFileSystem(new ShellFreeRawLocalFileSystem)

/** `AbstractFileSystem` (`FileContext`) API, which Spark's checkpoint file
  * manager uses for offsets, commits and state-store deltas: the
  * checksummed layer over [[ShellFreeRawLocalFs]], as the stock `LocalFs`
  * is over `RawLocalFs`. Hadoop constructs it reflectively with
  * `(URI, Configuration)`; like `LocalFs`, it serves `file:///` whatever
  * the URI.
  */
class ShellFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ShellFreeRawLocalFs(conf))

/** The stock `RawLocalFs` over [[ShellFreeRawLocalFileSystem]], with its
  * four overrides.
  */
private[storage] class ShellFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new ShellFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  @deprecated("as AbstractFileSystem.getServerDefaults()", "")
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
