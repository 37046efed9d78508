package graft.core

import java.nio.file.Files

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file:` FileSystem that sets permissions in-process. Without the Hadoop
  * native library, the stock `RawLocalFileSystem.setPermission` forks
  * `chmod 0NNN` for every `create` and `mkdirs`; this makes the same
  * chmod(2) call through java.nio's `unix:mode`. Like `chmod 0NNN`, it
  * keeps a directory's set-user-ID and set-group-ID bits (a directory made
  * under a set-group-ID parent inherits that bit). It defers to the stock
  * path on a file system with no `unix` attribute view.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, perm: FsPermission): Unit =
    try {
      val f = pathToFile(p).toPath
      // S_ISUID | S_ISGID (06000)
      val keep = if (Files.isDirectory(f)) Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & 0xc00 else 0
      Files.setAttribute(f, "unix:mode", Int.box(perm.toShort | keep))
    } catch { case _: UnsupportedOperationException => super.setPermission(p, perm) }
}

/** The checksummed `file:` FileSystem over [[NioRawLocalFileSystem]]: every
  * `.crc` side file is still written. `graft.Sessions.build` registers it as
  * `fs.file.impl`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)
