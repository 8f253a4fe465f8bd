package graft

import java.net.URI
import java.nio.file.{Files, attribute}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** Hadoop's raw local file system without its two process spawns.
  * Without libhadoop, Hadoop 3.4 runs `chmod` for every file and
  * directory a write creates ([[setPermission]]), and `readlink` for
  * every `FileContext` rename ([[getFileLinkStatus]]; Spark's streaming
  * offset and commit logs and its state-store deltas rename that way).
  * Both are answered here through `java.nio`, with identical results. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  // The nine rwx bits, high to low, in PosixFilePermission's order.
  private val rwx = attribute.PosixFilePermission.values.toSeq

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    // The sticky bit has no nio form; Hadoop's own path handles it.
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      rwx.zipWithIndex.collect { case (b, i) if (mode & (0x100 >> i)) != 0 => b }
        .toSet.asJava)
  }

  // Hadoop passes `f.toString` to `readlink`; for a qualified `file:/…`
  // path that never names a file, so it falls back to `getFileStatus(f)`.
  // Only a real symlink still takes Hadoop's path.
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: `LocalFileSystem` (with its `.crc` sidecars) over
  * [[NioRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, for `FileContext`, which does not
  * read `fs.file.impl`: Hadoop's `LocalFs` builds its own
  * `RawLocalFileSystem`. This is `LocalFs` over [[NioRawLocalFileSystem]];
  * like `LocalFs`, it ignores `uri` (Hadoop constructs it with one). */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftLocalFs.Raw(conf))

object GraftLocalFs {
  /** Hadoop's `RawLocalFs` (whose constructors are package-private). */
  class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
