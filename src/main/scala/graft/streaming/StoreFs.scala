package graft.streaming

import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The store plane's filesystem boundary: every metadata operation the
  * versioned-store protocols need ([[VersionedStore]]'s pointer flip and
  * version GC, [[IvfStore]]'s per-epoch partition commit, [[Ingest]]'s
  * snapshot swap) goes through the Hadoop `FileContext` API instead of
  * `java.nio.file` — `java.nio` only speaks POSIX, so a store rooted on
  * HDFS (`hdfs://nn/...`), the only place a 100 TB deployment's indexes
  * live, could not run the protocols at all. The store dir string carries
  * its scheme; a schemeless path resolves against `fs.defaultFS` exactly
  * like every Spark read/write beside it, so local harness runs and specs
  * exercise the IDENTICAL code path (Hadoop's local FS) that HDFS takes.
  *
  * Its conf is its own, not the session's: a plain `Configuration` (so
  * every other scheme resolves as `core-site.xml` says) that maps `file:`
  * to the raw [[ForkFreeRawLocalFs]] — no `.crc` sidecars on control
  * files, and no `chmod` or `readlink` child process per create, mkdir
  * or rename, so a pointer flip or a version swap forks nothing.
  *
  * Atomicity contract, by backend:
  *   - HDFS: `rename` (both flavors used here — no-overwrite for version
  *     and epoch-partition commits, OVERWRITE for the `_current` pointer
  *     flip) is a single atomic namespace op. The protocols are sound.
  *   - Local FS (`file:`, the test/harness backend): rename is POSIX
  *     rename(2) — same guarantees the pre-port `java.nio` build relied
  *     on.
  *   - S3A and friends: there IS no rename — Hadoop emulates it as
  *     copy+delete, so the pointer flip and partition commits are not
  *     atomic and this layout must not be deployed raw on an object
  *     store. The production answer there is a table format whose commit
  *     is a transaction log entry (Delta/Iceberg — the same swap
  *     choreography, with the manifest playing the `_current` pointer;
  *     see [[VersionedStore]]'s scaladoc).
  */
private[graft] object StoreFs {

  // One shared Configuration: store paths carry their scheme, and these
  // are driver-side control-plane ops (tiny pointer files, directory
  // renames), never data-plane reads — so the default resolver is right
  // and nothing here needs the SparkSession's per-job hadoop conf.
  // `file:` resolves to a raw form, not a checksummed one: control files
  // (version pointer, lease) must not grow `.crc` sidecars — a POSIX
  // rename of the pointer would leave the sidecar stale and fail every
  // subsequent checksummed read.
  private val conf = new Configuration()
  conf.set("fs.AbstractFileSystem.file.impl", classOf[ForkFreeRawLocalFs].getName)

  private def fc(p: Path): FileContext = {
    val uri = p.toUri
    if (uri.getScheme == null) FileContext.getFileContext(conf)
    else FileContext.getFileContext(uri, conf)
  }

  def path(dir: String, children: String*): Path =
    children.foldLeft(new Path(dir))((p, c) => new Path(p, c))

  def exists(p: Path): Boolean = fc(p).util.exists(p)

  def isDirectory(p: Path): Boolean =
    try fc(p).getFileStatus(p).isDirectory
    catch { case _: java.io.FileNotFoundException => false }

  def mkdirs(p: Path): Unit =
    fc(p).mkdir(p, FsPermission.getDirDefault, true)

  /** Child names of `p` (empty for a missing dir) — the version-GC and
    * epoch-commit listings. One namespace call; never recursive. */
  def listNames(p: Path): Seq[String] = {
    if (!exists(p)) return Seq.empty
    val it = fc(p).listStatus(p)
    val b = Seq.newBuilder[String]
    while (it.hasNext) b += it.next().getPath.getName
    b.result()
  }

  def deleteRecursively(p: Path): Unit =
    if (exists(p)) { fc(p).delete(p, true); () }

  /** `rename(src, dst)`: atomic on HDFS (single namespace op, both
    * flavors) and on the local FS. The overwrite flavor needs care
    * locally: `FileContext`'s generic OVERWRITE is delete-dst-then-rename
    * — a reader between the two ops sees NO dst, which broke the pointer
    * flip's snapshot guarantee under a hammering reader — so local
    * overwrite renames go straight to POSIX rename(2), which replaces dst
    * atomically. See the object scaladoc for the object-store caveat. */
  def rename(src: Path, dst: Path, overwrite: Boolean = false): Unit =
    if (overwrite && isLocal(src)) {
      if (!localFile(src).renameTo(localFile(dst)))
        throw new java.io.IOException(s"rename $src -> $dst failed")
    } else fc(src).rename(src, dst,
      if (overwrite) Options.Rename.OVERWRITE else Options.Rename.NONE)

  def readString(p: Path): String = {
    val in = fc(p).open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Overwrite `p` with `s` (non-atomic — callers that need an atomic
    * publish write a sibling tmp and [[rename]] it into place). */
  def writeString(p: Path, s: String, createNew: Boolean = false): Unit = {
    val flags =
      if (createNew) EnumSet.of(CreateFlag.CREATE)
      else EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)
    val out = fc(p).create(p, flags,
      Options.CreateOpts.createParent())
    try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Create `p` with content `s`, failing if it already exists — the
    * atomic arbitration primitive the epoch-lease protocol is built on
    * ([[VersionedStore.acquireLease]]): of N racers targeting one name,
    * exactly one must win. On HDFS `create` without OVERWRITE is a single
    * atomic namespace op. On the LOCAL FS, Hadoop's RawLocalFs `create`
    * is exists-check-then-open — NOT atomic — so local paths go straight
    * to `O_CREAT|O_EXCL` via java.nio `CREATE_NEW` (the loser gets
    * `FileAlreadyExistsException`, an IOException, same as the HDFS
    * flavor). Schemes that cannot provide an exclusive create (raw object
    * stores without conditional writes) are already refused by
    * [[requireAtomicRename]]'s store gate. */
  def createExclusive(p: Path, s: String): Unit =
    if (isLocal(p)) {
      val f = localFile(p)
      Option(f.getParentFile).foreach(_.mkdirs())
      val ch = java.nio.channels.FileChannel.open(f.toPath,
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
      try ch.write(java.nio.ByteBuffer.wrap(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      finally ch.close()
    } else writeString(p, s, createNew = true)

  /** THE atomic-publish primitive every pointer-class publish in the
    * store plane goes through: write `content` to a staging sibling
    * (`stagingName`, same directory so the rename never crosses a mount
    * or bucket boundary), then [[rename]] it over `dst` with overwrite.
    * A reader concurrent with the publish sees the WHOLE old file or the
    * WHOLE new one — never a partial write — and a crash at any point
    * leaves at worst one staging file (swept by the owning protocol's
    * startup/GC pass) with `dst` intact.
    *
    * That guarantee is exactly as strong as the backend's rename (the
    * object scaladoc's contract): atomic on HDFS and POSIX, NOT on raw
    * object stores, where the emulated copy+delete exposes a window with
    * `dst` missing or partial — [[requireAtomicRename]] refuses those
    * schemes at store open, and `NonAtomicRenameSpec` drives this exact
    * primitive over a simulated copy+delete FS to prove both the torn
    * window and each caller's degrade path. Callers: the versioned
    * store's `_current` pointer flip, [[CycleManifest]]'s counter
    * manifest, [[SemanticDedupStream]]'s screen-verdict marker. */
  def publishString(dst: Path, content: String, stagingName: String): Unit = {
    val tmp = new Path(dst.getParent, stagingName)
    writeString(tmp, content)
    rename(tmp, dst, overwrite = true)
  }

  def modificationTime(p: Path): Long = fc(p).getFileStatus(p).getModificationTime

  /** (modification time ms, byte length) for a change-detection stat, or
    * None when the file does not exist — one namespace RPC, no read. */
  def statOf(p: Path): Option[(Long, Long)] =
    try {
      val st = fc(p).getFileStatus(p)
      Some((st.getModificationTime, st.getLen))
    } catch { case _: java.io.FileNotFoundException => None }

  /** Schemes whose Hadoop `rename` is copy+delete emulation, not an
    * atomic namespace op — the pointer flip and version/epoch commits are
    * UNSOUND there (see the atomicity contract in the object scaladoc). */
  private val NonAtomicRenameSchemes =
    Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "swift", "oss", "cos")

  /** Deployment-extensible additions to [[NonAtomicRenameSchemes]]
    * (`-Dgraft.store.extraNonAtomicSchemes=scheme1,scheme2`): the
    * built-in list names the schemes Hadoop ships copy+delete rename
    * for, but a site mounting a different object-store connector (or a
    * FUSE layer with the same weakness) must be able to put its scheme
    * behind the same store-open gate without a code change. Read per
    * call — it's a startup-path check, not a hot path. */
  private def extraNonAtomicSchemes: Set[String] =
    sys.props.get("graft.store.extraNonAtomicSchemes")
      .map(_.split(',').map(_.trim.toLowerCase).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  /** Enforce the atomicity contract at store-open time instead of letting
    * a raw-object-store deployment corrupt itself slowly: refuse any
    * store rooted on a scheme in [[NonAtomicRenameSchemes]]. A deliberate
    * run (e.g. S3 with a consistency layer that does provide atomic
    * rename) overrides with `-Dgraft.store.allowNonAtomicRename=true`;
    * the supported object-store answer remains a table format whose
    * commit is a transaction-log entry (Delta/Iceberg). */
  def requireAtomicRename(dir: String): Unit = {
    val scheme = Option(new Path(dir).toUri.getScheme).map(_.toLowerCase)
    val blocked = NonAtomicRenameSchemes ++ extraNonAtomicSchemes
    if (scheme.exists(blocked.contains) &&
        !sys.props.get("graft.store.allowNonAtomicRename").contains("true"))
      throw new IllegalArgumentException(
        s"store '$dir' is rooted on ${scheme.get}://, whose rename is non-atomic " +
          "copy+delete — the versioned-store pointer flip and version commits are " +
          "unsound there. Use HDFS (or any FS with atomic rename), or a table " +
          "format (Delta/Iceberg) for object stores; override for a deliberate " +
          "run with -Dgraft.store.allowNonAtomicRename=true")
  }

  /** Is `p` on the machine-local filesystem (where OS advisory file locks
    * exist)? */
  def isLocal(p: Path): Boolean = {
    val s = p.toUri.getScheme
    s == null || s == "file"
  }

  /** The `java.io.File` of a [[isLocal]] path — the OS-lock handle. */
  def localFile(p: Path): java.io.File = {
    val uri = p.toUri
    if (uri.getScheme == null) new java.io.File(uri.getPath)
    else new java.io.File(uri)
  }

  /** One canonical string per store directory — the JVM-wide lock-map
    * key. Local paths canonicalize through the OS (trailing slash, `..`,
    * symlinks); scheme'd URIs normalize syntactically. */
  def qualifiedKey(dir: String): String = {
    val p = new Path(dir)
    if (isLocal(p))
      try localFile(p).getCanonicalPath
      catch { case _: java.io.IOException => localFile(p).getAbsolutePath }
    else p.toUri.normalize.toString.stripSuffix("/")
  }
}
