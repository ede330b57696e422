package graft.io

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` filesystem with permissions set and links checked
  * in-process.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` starts a `chmod`
  * process for every file and directory it creates (`setPermission`), and
  * a `readlink` process for every FileContext rename, which asks for the
  * link status of source and destination (`getFileLinkStatus`). A streaming
  * micro-batch writes its offset and commit logs through FileContext and
  * its parquet files, their `.crc` sidecars and directories through
  * FileSystem: 65–92 processes per `cdc_stream` batch, more as bucket
  * files pile up. These two overrides do the same work with
  * `java.nio.file`; everything else is Hadoop's.
  *
  * Invariant: every result equals the stock class's. A sticky mode (the
  * one bit an `FsPermission` holds beyond rwx), a path whose mode has the
  * setuid or setgid bit, or a store without POSIX permissions goes to
  * `super`, and so does the link status of a real symlink. */
class LocalFiles extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    // `chmod` keeps a directory's setuid and setgid bits, which NIO would
    // clear; a store without the unix view has no POSIX modes to set.
    val keepsSpecialBits =
      try (Files.getAttribute(path, "unix:mode").asInstanceOf[Int] & 0xc00) != 0
      catch { case _: UnsupportedOperationException => true }
    if (permission.getStickyBit || keepsSpecialBits) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(path, PosixFilePermissions.fromString(
      permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
        permission.getOtherAction.SYMBOL))
  }

  /** `super` reads the link with `readlink` on `new File(f.toString)` and,
    * when that is no symlink, returns `getFileStatus(f)`; the check here
    * is on the same file, so the result is `super`'s. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(Paths.get(f.toString))) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object LocalFiles {

  /** The `file:` FileSystem (`fs.file.impl`): Hadoop's checksummed
    * `LocalFileSystem`, `.crc` sidecars included, over [[LocalFiles]]. A
    * `LocalFileSystem` subclass, so `FileSystem.getLocal`'s cast holds. */
  final class Checksummed extends LocalFileSystem(new LocalFiles)

  /** The `file:` AbstractFileSystem (`fs.AbstractFileSystem.file.impl`),
    * which FileContext uses: Hadoop's `LocalFs` (a `ChecksumFs` over
    * `RawLocalFs`) with [[LocalFiles]] as the delegate. Hadoop constructs
    * it with (URI, Configuration); like `LocalFs`, it ignores the URI and
    * serves `file:///`. */
  final class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(conf))

  /** Hadoop's `RawLocalFs`, whose constructors are package-private and
    * fix the delegate to `RawLocalFileSystem`. */
  private final class RawFs(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new LocalFiles, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    @deprecated("as AbstractFileSystem.getServerDefaults()", "")
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
