package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** graft's binding for the `file:` scheme: Hadoop's local filesystem
  * with the same semantics, minus the OS processes.
  *
  * Without `libhadoop.so` (a stock Spark install has none) Hadoop's
  * [[RawLocalFileSystem]] forks `chmod` for every file and directory it
  * creates and `readlink` for every `getFileLinkStatus`, which
  * `FileContext.rename` calls on source, destination and parent. A
  * spawn costs ~3 ms; a streaming drain makes ~1,400 of them (state
  * store files and checksums, offset/commit logs, parquet parts and
  * their `.crc`s). The two overrides below answer the same questions
  * through `java.nio`. HDFS, S3 and every other scheme are untouched.
  *
  * [[GraftSession.configure]] installs [[ForkFreeLocalFileSystem]] as
  * `fs.file.impl` (FileSystem API) and [[ForkFreeLocalFs]] as
  * `fs.AbstractFileSystem.file.impl` (FileContext, which Spark's
  * checkpoint manager uses). Guarded by LocalFsSpec.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** chmod through `java.nio`; sticky/setuid/setgid bits and
    * non-POSIX filesystems keep the stock path. A missing path fails
    * with `NoSuchFileException` where chmod's exit fails with
    * `ExitCodeException`; both are `IOException`s.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission.values is OWNER_READ .. OTHERS_EXECUTE, i.e.
      // mode bits 0400 .. 0001 in order
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((mode & (0x100 >> i)) != 0) perms.add(perm)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  /** Stock `readlink` only finds a target for a real symlink (and for a
    * qualified `file:` path never, falling back to `getFileStatus`), so
    * a non-link answers with `getFileStatus` directly.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** Checksummed wrapper (`.crc` sidecars) for `fs.file.impl`. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: stock `LocalFs` over the fork-free
  * raw filesystem. `AbstractFileSystem.createFileSystem` calls the
  * (URI, Configuration) constructor; like `LocalFs` it binds `file:///`.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Mirrors Hadoop's (package-private) `RawLocalFs` around
  * [[ForkFreeRawLocalFileSystem]].
  */
class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
