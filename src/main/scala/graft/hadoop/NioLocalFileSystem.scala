package graft.hadoop

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` without subprocesses on its common paths.
  *
  * Without libhadoop (any vanilla-JRE deployment), Hadoop's local
  * filesystem forks a shell command in two places that every
  * streaming micro-batch hits:
  *
  *  - `setPermission` forks `chmod`, and the create path applies a
  *    permission to EVERY file and directory it makes (state-store
  *    deltas, offset and commit logs, checkpoint dirs). Stack sampling
  *    the stream-join bench showed executor threads queued on
  *    `StateStore.getStateStoreProvider`'s global lock while the holder
  *    sat inside that fork (provider init = mkdirs under the lock).
  *    Here it is `Files.setPosixFilePermissions`: the same chmod
  *    syscall libhadoop's NativeIO would issue.
  *  - `getFileLinkStatus` forks `readlink` to learn whether a path is
  *    a symlink, and every `FileContext.rename` calls it for source
  *    and destination — every atomic checkpoint-file commit of Spark's
  *    default `FileContextBasedCheckpointFileManager`. Here a
  *    path that `Files.isSymbolicLink` says is not a link resolves
  *    through `getFileStatus`, which is what Hadoop returns for it
  *    after the fork; real symlinks still take Hadoop's own code.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val m: Int = permission.toShort.toInt
    val perms = EnumSet.noneOf(classOf[PosixFilePermission])
    if ((m & 0x100) != 0) perms.add(PosixFilePermission.OWNER_READ)
    if ((m & 0x080) != 0) perms.add(PosixFilePermission.OWNER_WRITE)
    if ((m & 0x040) != 0) perms.add(PosixFilePermission.OWNER_EXECUTE)
    if ((m & 0x020) != 0) perms.add(PosixFilePermission.GROUP_READ)
    if ((m & 0x010) != 0) perms.add(PosixFilePermission.GROUP_WRITE)
    if ((m & 0x008) != 0) perms.add(PosixFilePermission.GROUP_EXECUTE)
    if ((m & 0x004) != 0) perms.add(PosixFilePermission.OTHERS_READ)
    if ((m & 0x002) != 0) perms.add(PosixFilePermission.OTHERS_WRITE)
    if ((m & 0x001) != 0) perms.add(PosixFilePermission.OTHERS_EXECUTE)
    Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** Checksummed local `file:` FileSystem over [[NioRawLocalFileSystem]]:
  * Hadoop's stock [[LocalFileSystem]] (`.crc` twins written and
  * verified) minus the forks. Several Hadoop/Spark code paths cast the
  * `file:` scheme to `LocalFileSystem` (e.g. `FileSystem.getLocal`
  * inside the RocksDB state file manager), hence the subclass. Bound to
  * `file:` by [[graft.GraftSession.engine]].
  */
class NioChecksumLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** [[NioChecksumLocalFileSystem]] with per-file CRC twins off in both
  * directions, for the harness sessions of [[graft.GraftSession.builder]]:
  * the durability story for throwaway local scratch (checkpoints,
  * staged fixtures, sink work dirs) is the atomic-rename commit
  * protocol, not `.crc` twins that double every metadata operation.
  */
class NioLocalFileSystem extends NioChecksumLocalFileSystem {

  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    setWriteChecksum(false)
    setVerifyChecksum(false)
  }
}

/** `FileContext`'s raw `file:` binding over [[NioRawLocalFileSystem]]:
  * Hadoop's `RawLocalFs` with the NIO raw filesystem, keeping its four
  * overrides.
  */
class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {

  override def getUriDefaultPort: Int = -1

  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults

  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults

  // the OS validates local names, as in RawLocalFileSystem
  override def isValidName(src: String): Boolean = true
}

/** Checksummed `FileContext` binding for `file:`: Hadoop's `LocalFs`
  * (a `ChecksumFs`: `.crc` twins written on create, moved on rename,
  * verified by `open(path, bufferSize)`) over [[NioRawLocalFs]]. This
  * is what Spark's default `FileContextBasedCheckpointFileManager`
  * writes checkpoints through in the deployed app. Bound to `file:` by
  * [[graft.GraftSession.engine]].
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))
