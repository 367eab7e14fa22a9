package graft.streaming

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without the child processes. Without the
  * native libhadoop, stock `RawLocalFileSystem` forks `chmod` from
  * `setPermission`, which it calls for every file and directory it
  * creates (`.crc` sidecars included), and forks `readlink` from
  * `getFileLinkStatus`, which `FileContext.rename` calls for both of its
  * paths. The feed pipeline's stream batches, store swaps, pointer flips
  * and Spark's streaming checkpoint logs paid one fork-and-wait for each.
  *
  * Both overrides answer from `java.nio` instead:
  *   - `setPermission` sets `FsPermission.toShort` through the
  *     `unix:mode` attribute, so the sticky bit of a mode like `01777`
  *     lands as `chmod 1777` sets it (`Files.setPosixFilePermissions`
  *     carries only the nine rwx bits). Like `chmod` with a four-digit
  *     mode, it keeps a directory's set-uid and set-gid bits, which
  *     `FsPermission` cannot express.
  *   - `getFileLinkStatus` of a path that is not a symlink is its
  *     `getFileStatus`, which is what Hadoop returns for one; a missing
  *     path still throws `FileNotFoundException`. A symlink goes to
  *     Hadoop's own code.
  *
  * POSIX platforms only (the `unix` attribute view). Registered by
  * [[graft.GraftSession.local]] (the checksummed [[ForkFreeLocalFileSystem]]
  * and [[ForkFreeLocalFs]]) and by [[StoreFs]] (the raw
  * [[ForkFreeRawLocalFs]]); `ForkFreeLocalFsSpec` holds the parity with
  * the stock classes. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    val old = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
    // octal 0170000 (file type), 0040000 (directory), 06000 (set-uid, set-gid)
    val keep = if ((old & 0xf000) == 0x4000) old & 0xc00 else 0
    Files.setAttribute(f, "unix:mode", (permission.toShort & 0xfff) | keep)
  }

  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** `fs.file.impl`: the checksummed local [[org.apache.hadoop.fs.FileSystem]]
  * (what Hadoop's `LocalFileSystem` is) over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The raw `FileContext` form: Hadoop's `RawLocalFs` over
  * [[ForkFreeRawLocalFileSystem]]. `RawLocalFs`'s constructors are
  * package-private, so its overrides are repeated here. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext` form
  * (what Hadoop's `LocalFs` is) over [[ForkFreeRawLocalFs]]. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))
