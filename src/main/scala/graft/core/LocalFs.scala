package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `file:` FileSystem that sets permissions and reads symlinks in-process.
  * Without the Hadoop native library, the stock `RawLocalFileSystem`
  * forks `chmod 0NNN` in `setPermission` (every `create` and `mkdirs`) and
  * `readlink` in `getFileLinkStatus` (twice per `FileContext` rename).
  *
  * `setPermission` makes the same chmod(2) call through java.nio's
  * `unix:mode`. Like `chmod 0NNN`, it keeps a directory's set-user-ID and
  * set-group-ID bits (a directory made under a set-group-ID parent inherits
  * that bit). It defers to the stock path on a file system with no `unix`
  * attribute view. The link status reads the link with
  * `Files.readSymbolicLink`; for anything that is not a symlink it is
  * `getFileStatus`, as in the stock path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, perm: FsPermission): Unit =
    try {
      val f = pathToFile(p).toPath
      // S_ISUID | S_ISGID (06000)
      val keep = if (Files.isDirectory(f)) Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & 0xc00 else 0
      Files.setAttribute(f, "unix:mode", Int.box(perm.toShort | keep))
    } catch { case _: UnsupportedOperationException => super.setPermission(p, perm) }

  /** Like the stock method, a symlink's target comes back qualified. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink) st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  /** The unqualified target; throws if `f` is not a symlink. */
  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  private def linkStatus(f: Path): FileStatus = {
    val p = pathToFile(f).toPath
    if (!Files.isSymbolicLink(p)) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(p).toString)
      try {
        val s = getFileStatus(f)
        new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize, s.getModificationTime,
          s.getAccessTime, s.getPermission, s.getOwner, s.getGroup, target, f)
      } catch {
        // a dangling link
        case _: FileNotFoundException => new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
    }
  }
}

/** The checksummed `file:` FileSystem over [[NioRawLocalFileSystem]]: every
  * `.crc` side file is still written. `graft.Sessions.build` registers it as
  * `fs.file.impl`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `RawLocalFs` (the `FileContext` view of `file:`) over
  * [[NioRawLocalFileSystem]] instead of the stock `RawLocalFileSystem`.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's `LocalFs` over [[NioRawLocalFs]]: the checksummed `FileContext`
  * `file:` file system, which Structured Streaming's checkpoint and sink
  * metadata go through. `graft.Sessions.build` registers it as
  * `fs.AbstractFileSystem.file.impl`.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
