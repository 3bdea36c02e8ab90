package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without a forked process per metadata
  * call. Without libhadoop, Hadoop 3.4's `RawLocalFileSystem` runs `chmod`
  * in a child process after every mkdir and every file create that passes a
  * permission, and `getFileLinkStatus` (called by every `FileContext`
  * rename: streaming offsets, commits, source and metadata logs) runs
  * `readlink`. A forked `chmod` costs about 1.5 ms, NIO's about 0.01 ms.
  *
  * Two overrides, each falling back to Hadoop's own path where it differs:
  *  - `setPermission` of a plain 9-bit mode goes through NIO, which follows
  *    a symlink as `chmod` does; a sticky mode takes Hadoop's path.
  *  - `getFileLinkStatus` of a path that is not a symlink is its
  *    `getFileStatus`, which is what Hadoop returns after an empty
  *    `readlink`; a symlink takes Hadoop's path.
  *
  * `GraftSession.builder` installs it for the `file` scheme through
  * [[GraftLocalFileSystem]] and [[GraftLocalFs]].
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString)) // "rwxr-x---"

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** Hadoop's `LocalFileSystem` (checksums and `.crc` sidecars) over
  * [[NioRawLocalFileSystem]]: graft's `fs.file.impl`.
  */
class GraftLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `LocalFs` (`FileContext`'s checksummed local file system) over
  * [[NioRawLocalFileSystem]]: graft's `fs.AbstractFileSystem.file.impl`, so
  * streaming checkpoints write and rename through it too.
  */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]. */
private class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
