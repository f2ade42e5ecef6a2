package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` binding of Hadoop's FileContext
  * (`fs.AbstractFileSystem.file.impl`) that Structured Streaming's
  * checkpoint file manager writes offset/commit logs and state-store
  * deltas through. It is Hadoop's stock `LocalFs` stack — `ChecksumFs`
  * (the `.crc` sidecars) over a delegate to `RawLocalFileSystem` —
  * except that the raw filesystem is [[NioRawLocalFileSystem]].
  *
  * Without the native libhadoop, the stock raw filesystem runs a child
  * process for every `setPermission` (`chmod`, once per created file)
  * and every `getFileLinkStatus` (`readlink`, which each FileContext
  * rename calls on both of its paths). Every checkpoint write does
  * both, so the per-trigger WAL and state commits cost fork/exec
  * rather than disk. On-disk bytes and permissions are identical to
  * `LocalFs` (CheckpointFsSpec pins the parity), so checkpoints move
  * between the two bindings freely.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** `org.apache.hadoop.fs.local.RawLocalFs` (whose constructors are
  * package-private) over [[NioRawLocalFileSystem]]. */
private[sources] class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort(): Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `RawLocalFileSystem` answering its two forking calls with
  * `java.nio`. The cases `java.nio` cannot reproduce exactly keep the
  * stock code: a sticky bit, and directories (numeric `chmod` keeps a
  * directory's setgid bit, which a POSIX permission set cannot
  * express); symlinks, whose status the stock code builds from
  * `readlink`. Checkpoint directories are created once per checkpoint
  * or state partition and files on every commit, so the fallbacks stay
  * off the per-trigger path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    if (permission.getStickyBit || Files.isDirectory(path))
      super.setPermission(p, permission)
    else
      Files.setPosixFilePermissions(path,
        PosixFilePermissions.fromString(permission.toString))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}
