package graft.engine

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without a forked process per operation.
  *
  * Without the Hadoop native library, `RawLocalFileSystem` sets every
  * permission by running `chmod` (each `create`, each `mkdirs`) and answers
  * every `getFileLinkStatus` by running `readlink`, which `FileContext`
  * renames call twice (`AbstractFileSystem.renameInternal` checks source
  * and destination). A stream's checkpoint and state-store commits are
  * such creates and renames, so one small micro-batch query started ~260
  * processes. This subclass does both in the JVM:
  *   - `setPermission` goes through `Files.setPosixFilePermissions`; a mode
  *     with the sticky bit, which that API cannot express, still goes to
  *     Hadoop's own code.
  *   - `getFileLinkStatus` of a path that is not a symlink is its
  *     `getFileStatus` — exactly what Hadoop returns once `readlink` has
  *     failed on it. Only a real symlink goes to Hadoop's own code. The
  *     check reads the same `File(path.toString)` Hadoop hands `readlink`.
  * Checksums (the `LocalFileSystem` and `ChecksumFs` wrappers below),
  * rename and every path are Hadoop's unchanged.
  *
  * `Context.session` registers [[ForkFreeLocalFileSystem]] for the
  * FileSystem API and [[ForkFreeLocalFs]] for `FileContext` on the `file`
  * scheme. Limit: Hadoop caches FileSystem instances JVM-wide by scheme,
  * authority and user, not by configuration, so a stock `LocalFileSystem`
  * fetched before the process's first session (say, through
  * `FileSystem.getLocal(new Configuration())`) stays the one every later
  * `FileSystem.get` of `file:` returns. `FileContext` has no such cache and
  * always follows the session's setting. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      ForkFreeRawLocalFileSystem.posix(permission.toShort))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath))
      super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  // PosixFilePermission's order is rwx for owner, group, others: the
  // mode's bits from 0400 down to 0001
  private val bits = PosixFilePermission.values.toSeq

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for ((p, i) <- bits.zipWithIndex if (mode & (0x100 >> i)) != 0) set.add(p)
    set
  }
}

/** The FileSystem API's `file:` filesystem (`fs.file.impl`): Hadoop's
  * checksummed `LocalFileSystem` over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem
  extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `FileContext`'s `file:` filesystem (`fs.AbstractFileSystem.file.impl`):
  * Hadoop's `LocalFs` shape — `ChecksumFs` over a `DelegateToFileSystem` —
  * with [[ForkFreeRawLocalFileSystem]] underneath. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[ForkFreeRawLocalFileSystem]], with its overrides. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
    "file", false) {
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  // like RawLocalFileSystem, leave name validation to the OS
  override def isValidName(src: String): Boolean = true
}
