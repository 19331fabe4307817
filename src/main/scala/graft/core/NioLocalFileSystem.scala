package graft.core

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` filesystem with its two shell-outs done in process.
 *
 *  Spark ships without `libhadoop.so`, so stock [[RawLocalFileSystem]]
 *  forks `chmod` for every `setPermission` (called by every `create` and
 *  every `mkdirs`) and `readlink` for every `getFileLinkStatus` (called
 *  by every `rename` with options, i.e. every checkpoint-log and state
 *  snapshot commit). Both are replaced by the system calls the forked
 *  programs make; results are the same, see each method. Installed by
 *  [[Engine.configure]] through [[NioLocalFileSystem]] and [[NioLocalFs]]. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod(2)` with the mode `chmod %04o` gives: sticky bit as asked,
   *  and, as GNU chmod does for a four-digit octal mode, a directory
   *  keeps its setuid/setgid bits (`FsPermission` cannot express them).
   *  Where the platform's filesystem provider has no `unix` attribute
   *  view (not POSIX), the stock method runs. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    try {
      // octal: S_IFMT 0170000, S_IFDIR 0040000, setuid|setgid 06000,
      // sticky + rwx bits 01777
      val old = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
      val keep = if ((old & 0xf000) == 0x4000) old & 0xc00 else 0
      Files.setAttribute(f, "unix:mode", Int.box((permission.toShort & 0x3ff) | keep))
    } catch {
      case _: UnsupportedOperationException => super.setPermission(p, permission)
    }
  }

  /** The stock method reads the link target with `readlink` and, for a
   *  non-link, returns `getFileStatus`; only real links still take it. */
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** `fs.file.impl`: the checksummed local filesystem over
 *  [[NioRawLocalFileSystem]]. It is a [[LocalFileSystem]] because
 *  `FileSystem.getLocal` casts to one. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (the `FileContext` API, used by
 *  Spark's checkpoint and state-store file managers): Hadoop's `LocalFs`
 *  with [[NioRawLocalFileSystem]] underneath. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` (package-private constructors) over
 *  [[NioRawLocalFileSystem]], with its three overrides. */
private[core] class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local filesystems differ in what names they accept: let the OS decide
  override def isValidName(src: String): Boolean = true
}
