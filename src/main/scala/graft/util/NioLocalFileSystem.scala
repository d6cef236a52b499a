package graft.util

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local connector without a child process per file.
  *
  * Without `libhadoop.so` (Spark's jars ship none), `RawLocalFileSystem`
  * runs `chmod` through `org.apache.hadoop.util.Shell` after every file
  * create and every mkdir, and its `getFileLinkStatus` runs `readlink`
  * before every `FileContext.rename`. The word count's per-trigger files
  * (offset log, state deltas and their checksums, commit log), the
  * parquet writers, the commit protocol and [[graft.table.TableIO]] all
  * pay those forks: a 16 s perfbench word-count run on a 4-vCPU VM
  * started ~2,200 of them, and they were most of a trigger's
  * state-commit, offset-log and commit-log time.
  *
  * Two methods change, and only where the answer is plain:
  *  - `setPermission` with rwx bits only (≤ 0777) sets them through
  *    `java.nio`, the same bits `chmod` would set (callers pass them with
  *    the umask already applied). Setuid, setgid and sticky bits keep
  *    Hadoop's path.
  *  - `getFileLinkStatus` of a path that is not a symbolic link is its
  *    `getFileStatus`, which is what Hadoop returns for it. A real
  *    symlink keeps Hadoop's path and reports its target.
  *
  * Everything else is Hadoop's: the checksummed wrappers below write
  * the same `.crc` files (the `FileSystem` one verifies them on read;
  * the `FileContext` one, like Hadoop's `LocalFs`, does not), and
  * rename keeps its `Rename.NONE`/`OVERWRITE` rules. `src/main/resources/core-site.xml`
  * registers the wrappers for the `file` scheme of both Hadoop APIs;
  * a deployment's own `core-site.xml`, earlier on the classpath, wins. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort & 0xffff
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(bits))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  /** `PosixFilePermission` is declared owner→others, read→execute: the
    * constant at ordinal i is mode bit 8 - i */
  private def posix(bits: Int): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((bits & (1 << (8 - p.ordinal))) != 0) out.add(p)
    }
    out
  }
}

/** `fs.file.impl`: the checksummed `FileSystem`, as Hadoop's own
  * `LocalFileSystem` wraps `RawLocalFileSystem`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext`
  * connector, as Hadoop's `LocalFs` wraps `RawLocalFs`. Hadoop builds it
  * through the `(URI, Configuration)` constructor and ignores the URI. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]. */
private class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
