package graft.io

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its per-file shell-outs.
  *
  * When libhadoop is not installed, `RawLocalFileSystem` forks a
  * `chmod` for every `setPermission` (each file create and mkdir) and a
  * `readlink` for every `getFileLinkStatus` (each FileContext rename
  * and exists check). A streaming checkpoint writes and renames a
  * handful of files per micro-batch (offset log, commit log, state
  * deltas and their checksums), so these forks are most of the fixed
  * per-batch cost at small batch sizes. The two calls are answered here
  * through java.nio instead; everything else is Hadoop's.
  *
  * Cases the NIO form does not cover defer to Hadoop's own path: a
  * sticky bit (no POSIX permission bit for it), a file store without
  * POSIX attributes, and a path that really is a symlink. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      // from the three actions, not toString: FileContext passes an
      // FsCreateModes, which prints both its masked and unmasked modes
      Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
        .map(_.SYMBOL).mkString))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  /** Hadoop resolves the link with `readlink` on `new File(f.toString)`;
    * the same path is tested here, so a non-link answers exactly as
    * Hadoop's non-link branch does: with `getFileStatus(f)`. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `file:` for the FileSystem API (`fs.file.impl`): Hadoop's checksummed
  * `LocalFileSystem` over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The raw `file:` AbstractFileSystem: `org.apache.hadoop.fs.local.RawLocalFs`
  * (whose constructors are package-private) over [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `file:` for the FileContext API (`fs.AbstractFileSystem.file.impl`),
  * which carries Spark's streaming offset log, commit log and state
  * store files: `org.apache.hadoop.fs.local.LocalFs` over [[NioRawLocalFs]]. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
