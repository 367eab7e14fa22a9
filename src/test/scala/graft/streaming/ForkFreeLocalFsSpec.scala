package graft.streaming

import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.domain.Fixtures._
import graft.model.PostView
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** [[ForkFreeLocalFileSystem]] and its `FileContext` forms behave as
  * Hadoop's stock local filesystems do — modes, renames, link status —
  * and the feed pipeline's writes through them start no child process. */
class ForkFreeLocalFsSpec extends SparkSpec {

  private def tmp(prefix: String): JPath = Files.createTempDirectory(prefix)
  private def oct(s: String): Int = Integer.parseInt(s, 8)
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** The filesystem operations the parity scenarios drive. */
  private trait Ops {
    def mkdir(p: Path): Unit
    def create(p: Path): Unit
    def chmod(p: Path, m: Int): Unit
  }

  private def fsOps(fs: FileSystem): Ops = new Ops {
    def mkdir(p: Path): Unit = { fs.mkdirs(p); () }
    def create(p: Path): Unit = { val o = fs.create(p); o.write(1); o.close() }
    def chmod(p: Path, m: Int): Unit = fs.setPermission(p, new FsPermission(m.toShort))
  }

  private def fcOps(fc: FileContext): Ops = new Ops {
    def mkdir(p: Path): Unit = fc.mkdir(p, FsPermission.getDirDefault, true)
    def create(p: Path): Unit = {
      val o = fc.create(p, EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
      o.write(1); o.close()
    }
    def chmod(p: Path, m: Int): Unit = fc.setPermission(p, new FsPermission(m.toShort))
  }

  private def fileSystem(fs: FileSystem, c: Configuration): FileSystem = {
    fs.initialize(URI.create("file:///"), c)
    fs
  }

  private def fileContext(afs: String, c: Configuration): FileContext = {
    val cc = new Configuration(c)
    cc.set("fs.AbstractFileSystem.file.impl", afs)
    FileContext.getFileContext(cc)
  }

  /** (stock, fork-free) operations for one umask, by API and form. */
  private def pairs(umask: String): Seq[(String, Ops, Ops)] = {
    val c = conf(umask)
    Seq(
      ("FileSystem, checksummed",
        fsOps(fileSystem(new LocalFileSystem, c)),
        fsOps(fileSystem(new ForkFreeLocalFileSystem, c))),
      ("FileSystem, raw",
        fsOps(fileSystem(new RawLocalFileSystem, c)),
        fsOps(fileSystem(new ForkFreeRawLocalFileSystem, c))),
      ("FileContext, checksummed",
        fcOps(fileContext("org.apache.hadoop.fs.local.LocalFs", c)),
        fcOps(fileContext(classOf[ForkFreeLocalFs].getName, c))),
      ("FileContext, raw",
        fcOps(fileContext("org.apache.hadoop.fs.local.RawLocalFs", c)),
        fcOps(fileContext(classOf[ForkFreeRawLocalFs].getName, c))))
  }

  /** Creates files and directories, sets modes (a sticky one among
    * them) and creates under a set-gid directory; returns every entry's
    * full mode (type bits included) by relative path. */
  private def modesAfterScenario(ops: Ops): Map[String, Int] = {
    val root = tmp("graft-fs-modes")
    def p(rel: String) = new Path(root.resolve(rel).toString)
    ops.mkdir(p("a/b"))
    ops.create(p("a/b/f"))
    ops.chmod(p("a/b/f"), oct("750"))
    ops.mkdir(p("t"))
    ops.chmod(p("t"), oct("1777"))
    ops.create(p("t/g"))
    ops.chmod(p("t/g"), oct("640"))
    Files.createDirectory(root.resolve("s"))
    Files.setAttribute(root.resolve("s"), "unix:mode", oct("2775"))
    ops.mkdir(p("s/c"))
    ops.create(p("s/c/h"))
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_ != root)
      .map(f => root.relativize(f).toString -> mode(f)).toMap
    finally walk.close()
  }

  test("files, dirs and .crc sidecars get the stock local filesystem's mode bits") {
    for (umask <- Seq("022", "077"); (form, stock, forkFree) <- pairs(umask)) {
      val want = modesAfterScenario(stock)
      val got = modesAfterScenario(forkFree)
      assert(got == want, s"$form, umask $umask")
      assert((got("t") & oct("7777")) == oct("1777"), s"$form: sticky bit")
      assert((got("a/b/f") & oct("7777")) == oct("750"), form)
      assert((got("s/c") & oct("2000")) != 0, s"$form: set-gid dir keeps its bit")
      assert(got.keys.exists(_.endsWith(".crc")) == form.endsWith("checksummed"), form)
    }
  }

  /** Outcome of each rename: "ok" or the exception's class, then the
    * tree's files with their bytes. */
  private def renameScenario(fc: FileContext): (Seq[String], Map[String, String]) = {
    val root = tmp("graft-fs-rename")
    def p(rel: String) = new Path(root.resolve(rel).toString)
    def write(rel: String, s: String): Unit = {
      val o = fc.create(p(rel), EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
      o.write(s.getBytes(StandardCharsets.UTF_8)); o.close()
    }
    write("x", "x"); write("y", "y"); write("z", "z"); write("d/in", "in")
    def attempt(a: String, b: String, flags: Options.Rename*): String =
      try { fc.rename(p(a), p(b), flags: _*); "ok" }
      catch { case e: java.io.IOException => e.getClass.getName }
    val outcomes = Seq(
      attempt("x", "x2"),
      attempt("y", "z"),
      attempt("y", "z", Options.Rename.OVERWRITE),
      attempt("missing", "w"),
      attempt("d", "d2"),
      attempt("x2", "d2", Options.Rename.OVERWRITE))
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => root.relativize(f).toString -> new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
      .toMap
    finally walk.close()
    (outcomes, files)
  }

  test("FileContext.rename with and without OVERWRITE behaves as on the stock local filesystem") {
    val c = conf("022")
    for ((stock, forkFree) <- Seq(
        "org.apache.hadoop.fs.local.LocalFs" -> classOf[ForkFreeLocalFs].getName,
        "org.apache.hadoop.fs.local.RawLocalFs" -> classOf[ForkFreeRawLocalFs].getName)) {
      val want = renameScenario(fileContext(stock, c))
      val got = renameScenario(fileContext(forkFree, c))
      assert(got == want, forkFree)
      assert(got._1.take(3) == Seq("ok", classOf[org.apache.hadoop.fs.FileAlreadyExistsException].getName, "ok"))
      assert(got._2("z") == "y")
    }
  }

  /** What a link-status call shows, or the exception it throws. */
  private def linkView(st: => FileStatus): String =
    try {
      val s = st
      s"symlink=${s.isSymlink} target=${if (s.isSymlink) s.getSymlink else "-"} " +
        s"dir=${s.isDirectory} len=${s.getLen}"
    } catch { case e: java.io.IOException => e.getClass.getName }

  test("a symlinked path gets Hadoop's own link status; other paths their file status") {
    val root = tmp("graft-fs-links")
    val target = Files.write(root.resolve("target"), "abc".getBytes(StandardCharsets.UTF_8))
    val link = Files.createSymbolicLink(root.resolve("link"), target)
    val dirLink = Files.createSymbolicLink(root.resolve("dirlink"), root)
    val paths = Seq(link, dirLink, target, root, root.resolve("missing"))
      .flatMap(f => Seq(new Path(f.toString), new Path(f.toUri)))
    val c = conf("022")
    val stock = fileSystem(new RawLocalFileSystem, c)
    val forkFree = fileSystem(new ForkFreeRawLocalFileSystem, c)
    for (p <- paths)
      assert(linkView(forkFree.getFileLinkStatus(p)) == linkView(stock.getFileLinkStatus(p)), p)
    // the fallback is live: the unqualified link reads as a link
    assert(forkFree.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(linkView(forkFree.getFileLinkStatus(new Path(root.resolve("missing").toString))) ==
      classOf[java.io.FileNotFoundException].getName)
    val stockFc = fileContext("org.apache.hadoop.fs.local.LocalFs", c)
    val forkFreeFc = fileContext(classOf[ForkFreeLocalFs].getName, c)
    for (p <- paths)
      assert(linkView(forkFreeFc.getFileLinkStatus(p)) == linkView(stockFc.getFileLinkStatus(p)), p)
  }

  test("StoreFs control files grow no .crc sidecars") {
    val root = tmp("graft-fs-store")
    val dir = root.toString
    StoreFs.mkdirs(StoreFs.path(dir, "v1"))
    StoreFs.writeString(StoreFs.path(dir, "v1", "part"), "rows")
    StoreFs.publishString(StoreFs.path(dir, "_current"), "v1", "_current.staging")
    StoreFs.publishString(StoreFs.path(dir, "_current"), "v2", "_current.staging")
    StoreFs.rename(StoreFs.path(dir, "v1"), StoreFs.path(dir, "v2"))
    assert(StoreFs.readString(StoreFs.path(dir, "_current")) == "v2")
    val walk = Files.walk(root)
    val names = try walk.iterator().asScala.map(_.getFileName.toString).toList finally walk.close()
    assert(names.contains("part"))
    assert(!names.exists(_.endsWith(".crc")), names)
  }

  test("in the shared test JVM, the session's file: filesystem is the fork-free one") {
    val hc = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), hc).isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileSystem.getLocal(hc).isInstanceOf[ForkFreeLocalFileSystem])
    assert(new Path(tmp("graft-fs-cache").toString).getFileSystem(spark.sessionState.newHadoopConf())
      .isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(hc).getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
  }

  /** The commands of the processes `body` started whose stack passes
    * through Hadoop. Other forks (Spark's own `rm -rf` cleanup) are left
    * out by stack, not by count. */
  private def hadoopForks(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val out = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.hadoop."))))
        .map(e => s"${e.getString("command")} [${Option(e.getThread).map(_.getJavaName).orNull}]")
    } finally { rec.close(); Files.deleteIfExists(out); () }
  }

  test("the recorder sees the stock local filesystem's chmod and readlink forks") {
    val root = tmp("graft-fs-control")
    val c = conf("022")
    val forks = hadoopForks {
      val stock = fileSystem(new RawLocalFileSystem, c)
      val f = new Path(root.resolve("f").toString)
      stock.create(f).close()
      stock.setPermission(f, new FsPermission(oct("600").toShort))
      fileContext("org.apache.hadoop.fs.local.RawLocalFs", c)
        .rename(f, new Path(root.resolve("g").toString))
    }
    assert(forks.exists(_.startsWith("chmod")), forks)
    assert(forks.exists(_.startsWith("readlink")), forks)
  }

  test("a stream batch, a retention compaction and a manifest persist fork no process from Hadoop") {
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext
    val store = tmp("graft-nofork-store").toString
    val ckpt = tmp("graft-nofork-ckpt").toString
    val conditions = Seq(cond(key = "f1"), cond(key = "f2", replyDisable = true))
    val profileDf = profiles.toDF()
    assert(spark.range(3).count() == 3) // session start-up probes stay outside the recording
    var versions = Seq.empty[String]
    val forks = hadoopForks {
      val stream = MemoryStream[PostView]
      val q = Ingest.start(spark, stream.toDF(), conditions, Some(profileDf), store, ckpt)
      try {
        stream.addData(posts.take(4))
        q.processAllAvailable()
        stream.addData(posts)
        q.processAllAvailable()
      } finally q.stop()
      versions :+= Ingest.versionDir(store)
      Ingest.retentionCompact(spark, store, conditions)
      versions :+= Ingest.versionDir(store)
      new CycleManifest.Writer(store).persist(1L, Map("f1" -> 1L))
    }
    assert(versions.distinct.size == 2, "the compaction swapped in a new version")
    assert(Ingest.readStore(spark, store).count() > 0)
    assert(CycleManifest.read(store).exists(_._2 == Map("f1" -> 1L)))
    assert(forks.isEmpty, forks)
  }
}
