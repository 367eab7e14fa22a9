package graft

import com.fasterxml.jackson.databind.ObjectMapper

import graft.domain.Fixtures
import graft.serving.FeedServer
import graft.sources.{SubscribeReposStub, WireFixtures}
import graft.streaming.Ingest

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

/** The durable deployment contract (T4 + T8) end-to-end: a process is
  * KILLED between two phases and a fresh process over the same data dir
  * must resume the wire cursor AND the post store with no lost and no
  * duplicated posts — the at-least-once wire + idempotent upsert story,
  * the reference's SQLite persistence re-expressed as cursor file +
  * FileStreamSource checkpoint + key-partitioned parquet store.
  */
class DurablePipelineSpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private val http = HttpClient.newHttpClient()

  test("kill and restart resumes cursor and store; no lost or duplicated posts") {
    val dir = Files.createTempDirectory("graft-durable").toString
    val all = (1L to 10L).map(i => i -> WireFixtures.commitFrame(i, s"spark durable $i"))
    val conditions = Seq(Fixtures.cond(key = "dur1", inputRegex = "spark"))
    val cfg = FeedServer.Config("did:web:d.example.com", "d.example.com", "did:plc:pub")

    // ---- phase 1: only events 1..6 exist upstream. cursorEvery=4 means
    // the persisted cursor trails at 4, so events 5,6 WILL be replayed
    // after the restart — the dedup path must eat them.
    val stub1 = new SubscribeReposStub(all.take(6))
    val p1 = new DurablePipeline(spark, conditions, cfg,
      s"ws://127.0.0.1:${stub1.port}", dir, cursorEvery = 4)
    try {
      p1.start(reconnectDelayMs = 100, maxRestarts = 3, idleTimeoutMs = 5000)
      assert(p1.client.awaitStopped(120000), "phase-1 subscription did not finish")
      // the cursor write at seq 4 already flushed frames 1..4 (cursor
      // never outruns the spool); only 5,6 are still buffered here
      assert(p1.flushSpool() == 2)
      p1.query.processAllAvailable()
      assert(p1.storedRows == 6L)
      assert(p1.storedCursor == 4L) // seq 4 is the last %4 commit seen
    } finally { p1.stop(); stub1.stop() } // the kill

    // ---- phase 2: upstream now has all 10 events; a NEW pipeline over
    // the SAME data dir must dial with the persisted cursor (server
    // replays seq > 4) and end with exactly the 10 unique posts.
    val stub2 = new SubscribeReposStub(all)
    // cursorEvery past the replay: phase 2 must not auto-flush the spool
    // mid-stream (seq 8 % 4 == 0 would), or the early 6-row snapshot
    // request below races a concurrent drain — frames publish only at
    // the explicit flushSpool() after the subscription settles
    val p2 = new DurablePipeline(spark, conditions, cfg,
      s"ws://127.0.0.1:${stub2.port}", dir, cursorEvery = 1000)
    try {
      val port = p2.start(reconnectDelayMs = 100, maxRestarts = 3, idleTimeoutMs = 5000)
      assert(p2.storedRows == 6L, "restart must see the phase-1 store immediately")
      // serve BEFORE the drain: this populates the head cache with the
      // 6-row snapshot — the post-drain request below then proves a
      // recorded micro-batch invalidates cached heads (the pointer does
      // not flip on appends; the metrics cycle counter is the token)
      val feedUri = java.net.URLEncoder.encode(
        s"at://${cfg.publisherDid}/app.bsky.feed.generator/dur1", "UTF-8")
      val early = http.send(HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/xrpc/app.bsky.feed.getFeedSkeleton?feed=$feedUri&limit=50"))
        .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(early.statusCode() == 200)
      assert(mapper.readTree(early.body()).get("feed").size() == 6, early.body())
      assert(p2.headCache.stats._2 >= 1, "the early page must have built a head")
      assert(p2.client.awaitStopped(120000), "phase-2 subscription did not finish")
      assert(stub2.connections.head.contains(4L), "redial must carry the persisted cursor")
      p2.flushSpool()
      p2.query.processAllAvailable()

      // replayed 5,6 fall out of the anti-join; 7..10 are new
      assert(p2.storedRows == 10L)
      val store = Ingest.readStore(spark, s"$dir/store")
      assert(store.select("uri").distinct().count() == 10L, "no duplicated posts")

      // the streaming checkpoint skipped the phase-1 spool file: this
      // incarnation read only the 6 replayed/new frames off its spool
      val inputRows = p2.query.recentProgress.map(_.numInputRows).sum
      assert(inputRows == 6L, s"checkpoint resume must not re-read old spool files (read $inputRows)")

      // and the feed serves all 10 over real XRPC from the durable store
      // — through the head cache, whose 6-row snapshot the drain above
      // must have invalidated
      val resp = http.send(HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/xrpc/app.bsky.feed.getFeedSkeleton?feed=$feedUri&limit=50"))
        .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      assert(mapper.readTree(resp.body()).get("feed").size() == 10, resp.body())

      // r19: the REAL streaming drain persisted the per-feed cycle
      // manifest next to the store pointer (ConditionMetrics persist
      // hook -> CycleManifest.Writer), with the generation resumed
      // monotone across the phase-1 -> phase-2 process boundary — and a
      // NON-INGEST replica cache over the same dataDir serves the full
      // feed through it, zero shared process state
      import graft.streaming.CycleManifest
      // the manifest write rides the async publisher (off the record()
      // lock) — barrier on it before asserting store-side visibility
      assert(p2.flushCycleManifest(), "manifest publisher must drain")
      val manifest = CycleManifest.read(s"$dir/store")
      assert(manifest.exists(_._2.getOrElse("dur1", 0L) > 0L),
        s"the drain must persist dur1's landed-batch counter, got $manifest")
      assert(manifest.exists(_._1 >= 1L),
        "the restarted drain's generation must have resumed past phase 1's")
      val replica = new graft.serving.FeedHeadCache(spark,
        key => Ingest.readStoreKey(spark, s"$dir/store", key),
        // interval 0: the assertion right below wants the just-flushed
        // manifest visible NOW, not within the deployment default's 250 ms
        CycleManifest.replicaVersion(s"$dir/store", statIntervalMs = 0L))
      val (rRows, _) = replica.page(conditions.head, 50, None)
      assert(rRows.size == 10 && replica.stats._2 == 1,
        "a replica over the same store must cache-serve the full feed")
    } finally { p2.stop(); stub2.stop() }
  }

  test("hard kill with frames buffered past a cursor write loses nothing") {
    // THE crash window: cursorEvery=2 < spoolFlushEvery(default 100), so
    // after 5 frames the cursor sits at 4 with frame 5 only in memory. A
    // hard kill (crash() discards the buffer — no manual flush anywhere)
    // must not lose frame 5: the restart redials ?cursor=4 and the server
    // replays it. Before the flush-before-cursor fix, frames 1..4 were
    // ALSO memory-only at kill time and were gone for good.
    val dir = Files.createTempDirectory("graft-durable3").toString
    val all = (1L to 5L).map(i => i -> WireFixtures.commitFrame(i, s"spark crash $i"))
    val conditions = Seq(Fixtures.cond(key = "dur3", inputRegex = "spark"))
    val cfg = FeedServer.Config("did:web:d3.example.com", "d3.example.com", "did:plc:pub")

    val stub1 = new SubscribeReposStub(all)
    val p1 = new DurablePipeline(spark, conditions, cfg,
      s"ws://127.0.0.1:${stub1.port}", dir, cursorEvery = 2)
    try {
      p1.start(reconnectDelayMs = 100, maxRestarts = 3, idleTimeoutMs = 5000)
      assert(p1.client.awaitStopped(120000), "phase-1 subscription did not finish")
      assert(p1.storedCursor == 4L)
    } finally { p1.crash(); stub1.stop() } // the kill — frame 5 evaporates

    val stub2 = new SubscribeReposStub(all)
    val p2 = new DurablePipeline(spark, conditions, cfg,
      s"ws://127.0.0.1:${stub2.port}", dir, cursorEvery = 2)
    try {
      p2.start(reconnectDelayMs = 100, maxRestarts = 3, idleTimeoutMs = 5000)
      assert(p2.client.awaitStopped(120000), "phase-2 subscription did not finish")
      assert(stub2.connections.head.contains(4L), "redial must carry the persisted cursor")
      p2.flushSpool()
      p2.query.processAllAvailable()
      assert(p2.storedRows == 5L, "every frame must survive the hard kill")
      val store = Ingest.readStore(spark, s"$dir/store")
      assert(store.select("uri").distinct().count() == 5L, "no duplicated posts")
    } finally { p2.stop(); stub2.stop() }
  }

  test("kill-point fuzz: every crash window converges with zero loss, zero double-count") {
    // Deterministic sweep over the enumerable kill windows instead of one
    // blessed phase boundary: for each (frames, cursorEvery, window) the
    // pipeline is killed hard at that window and a fresh process over the
    // same dataDir must end with exactly `total` unique posts.
    //   window 0 — frames buffered past a cursor write, buffer DISCARDED
    //              (the cursor-vs-spool race; nothing manually flushed)
    //   window 1 — spool flushed but the streaming query never ran (files
    //              on disk, checkpoint knows nothing of them)
    //   window 2 — everything processed into the store, kill after commit
    val cases = Seq((7, 3, 0), (5, 2, 1), (6, 4, 2), (8, 1, 0))
    cases.foreach { case (total, cursorEvery, window) =>
      val dir = Files.createTempDirectory(s"graft-fuzz-$total-$cursorEvery-$window").toString
      val all = (1L to total.toLong).map(i =>
        i -> WireFixtures.commitFrame(i, s"spark fuzz $i"))
      val conditions = Seq(Fixtures.cond(key = "fz", inputRegex = "spark"))
      val cfg = FeedServer.Config("did:web:fz.example.com", "fz.example.com", "did:plc:pub")

      val stub1 = new SubscribeReposStub(all)
      val p1 = new DurablePipeline(spark, conditions, cfg,
        s"ws://127.0.0.1:${stub1.port}", dir, cursorEvery = cursorEvery)
      try {
        p1.start(reconnectDelayMs = 100, maxRestarts = 3, idleTimeoutMs = 5000)
        assert(p1.client.awaitStopped(120000), s"case ($total,$cursorEvery,$window): phase 1 hung")
        window match {
          case 0 => // buffer dies with the process
          case 1 => p1.flushSpool()
          case _ => p1.flushSpool(); p1.query.processAllAvailable()
        }
      } finally { p1.crash(); stub1.stop() }

      val stub2 = new SubscribeReposStub(all)
      val p2 = new DurablePipeline(spark, conditions, cfg,
        s"ws://127.0.0.1:${stub2.port}", dir, cursorEvery = cursorEvery)
      try {
        p2.start(reconnectDelayMs = 100, maxRestarts = 3, idleTimeoutMs = 5000)
        assert(p2.client.awaitStopped(120000), s"case ($total,$cursorEvery,$window): phase 2 hung")
        p2.flushSpool()
        p2.query.processAllAvailable()
        val store = Ingest.readStore(spark, s"$dir/store")
        assert(store.count() == total.toLong,
          s"case ($total,$cursorEvery,$window): lost rows")
        assert(store.select("uri").distinct().count() == total.toLong,
          s"case ($total,$cursorEvery,$window): duplicated rows")
      } finally { p2.stop(); stub2.stop() }
    }
  }

  test("durable ingest re-reads the control plane every micro-batch (live CRUD)") {
    val dir = Files.createTempDirectory("graft-livecrud").toString
    val first = (1L to 3L).map(i => i -> WireFixtures.commitFrame(i, s"spark crud $i"))
    val conditions = Seq(Fixtures.cond(key = "base", inputRegex = "spark"))
    val cfg = FeedServer.Config("did:web:lc.example.com", "lc.example.com", "did:plc:pub")
    val stub = new SubscribeReposStub(first)
    val p = new DurablePipeline(spark, conditions, cfg,
      s"ws://127.0.0.1:${stub.port}", dir, cursorEvery = 1)
    try {
      p.start(reconnectDelayMs = 100, maxRestarts = 3, idleTimeoutMs = 5000)
      assert(p.client.awaitStopped(120000))
      p.flushSpool()
      p.query.processAllAvailable()
      assert(p.storedRows == 3L)

      // console edit at runtime: the NEXT micro-batch must cascade with
      // the new feed. Late frames land via the spool seam (what a still-
      // connected socket would have flushed).
      p.control.setQuery(Fixtures.cond(key = "vec", inputRegex = "vector"))
      val late = (4L to 6L).map(i => WireFixtures.commitFrame(i, s"vector crud $i"))
      val lines = late.map(java.util.Base64.getEncoder.encodeToString).mkString("\n")
      val tmp = java.nio.file.Paths.get(dir, "late.tmp")
      Files.write(tmp, lines.getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(dir, "spool", "frames-late-0.txt"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      p.query.processAllAvailable()
      assert(p.storedRows == 6L, "the new condition must capture the late frames")
      val store = Ingest.readStore(spark, s"$dir/store")
      assert(store.filter(org.apache.spark.sql.functions.col("key") === "vec")
        .count() == 3L)
    } finally { p.stop(); stub.stop() }
  }

  test("the ingest path only creates files: nothing under the data dir is overwritten") {
    // Renaming over an existing name or truncating and rewriting a file
    // waits on the disk's flush (ext4 auto_da_alloc), so no file between
    // the socket and the store may be replaced: every path, once seen,
    // keeps its inode, size and mtime until it is deleted. The one
    // exemption is the cycle manifest, a pointer whose atomic replace is
    // its contract (CycleManifest, off the drain's thread).
    val dir = Files.createTempDirectory("graft-nooverwrite")
    val all = (1L to 9L).map(i => i -> WireFixtures.commitFrame(i, s"spark create-only $i"))
    val conditions = Seq(Fixtures.cond(key = "co", inputRegex = "spark"))
    val cfg = FeedServer.Config("did:web:co.example.com", "co.example.com", "did:plc:pub")
    val exempt = Set("store/_graft_cycles")
    val seen = scala.collection.mutable.Map.empty[String, Seq[Any]]
    val rewritten = scala.collection.mutable.ArrayBuffer.empty[String]
    def record(step: String): Unit = {
      val files = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        files.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
          val rel = dir.relativize(f).toString
          val a = Files.readAttributes(f, "unix:ino,size,lastModifiedTime").asScala
          val stat = Seq(a("ino"), a("size"), a("lastModifiedTime"))
          if (!exempt(rel) && seen.get(rel).exists(_ != stat))
            rewritten += s"$step: $rel ${seen(rel)} -> $stat"
          seen(rel) = stat
        }
      } finally files.close()
    }
    // three incarnations over one data dir, each dialing with the last
    // one's cursor: 3 cursor writes and one stream batch apiece
    (1 to 3).foreach { step =>
      val stub = new SubscribeReposStub(all.take(3 * step))
      val p = new DurablePipeline(spark, conditions, cfg,
        s"ws://127.0.0.1:${stub.port}", dir.toString, cursorEvery = 1, retentionEvery = 0)
      try {
        p.start(reconnectDelayMs = 100, maxRestarts = 3, idleTimeoutMs = 5000)
        assert(p.client.awaitStopped(120000), s"step $step: subscription did not finish")
        assert(p.storedCursor == 3L * step)
        record(s"step $step cursor writes")
        p.query.processAllAvailable()
        assert(p.flushCycleManifest())
        assert(p.storedRows == 3L * step)
        record(s"step $step stream batch")
      } finally { p.stop(); stub.stop() }
    }
    assert(rewritten.isEmpty, rewritten.mkString("files rewritten in place:\n", "\n", ""))
  }

  test("a legacy single cursor file resumes the redial and is gone after the first new write") {
    val dir = Files.createTempDirectory("graft-legacycursor")
    Files.write(dir.resolve("cursor"), "4".getBytes("UTF-8"))
    val all = (1L to 6L).map(i => i -> WireFixtures.commitFrame(i, s"spark legacy $i"))
    val conditions = Seq(Fixtures.cond(key = "lg", inputRegex = "spark"))
    val cfg = FeedServer.Config("did:web:lg.example.com", "lg.example.com", "did:plc:pub")
    val stub = new SubscribeReposStub(all)
    val p = new DurablePipeline(spark, conditions, cfg,
      s"ws://127.0.0.1:${stub.port}", dir.toString, cursorEvery = 1)
    try {
      assert(p.storedCursor == 4L)
      p.start(reconnectDelayMs = 100, maxRestarts = 3, idleTimeoutMs = 5000)
      assert(p.client.awaitStopped(120000))
      assert(stub.connections.last.contains(4L), "the first dial must carry the legacy cursor")
      assert(!Files.exists(dir.resolve("cursor")), "the legacy cursor must go with the first new write")
      assert(p.storedCursor == 6L)
      p.query.processAllAvailable()
      assert(p.storedRows == 2L, "only the frames after the legacy cursor are new")
    } finally { p.stop(); stub.stop() }
  }

  test("an empty or mismatched newest cursor file is skipped for the previous one") {
    val dir = Files.createTempDirectory("graft-badcursor")
    val all = (1L to 10L).map(i => i -> WireFixtures.commitFrame(i, s"spark badcursor $i"))
    val conditions = Seq(Fixtures.cond(key = "bc", inputRegex = "spark"))
    val cfg = FeedServer.Config("did:web:bc.example.com", "bc.example.com", "did:plc:pub")
    // each phase: frames 1..upTo upstream; the newest cursor file is then
    // damaged, so the next phase must redial from the one before it
    def phase(upTo: Int, expectDial: Option[Long], damage: Option[String]): Unit = {
      val stub = new SubscribeReposStub(all.take(upTo))
      val p = new DurablePipeline(spark, conditions, cfg,
        s"ws://127.0.0.1:${stub.port}", dir.toString, cursorEvery = 2)
      try {
        p.start(reconnectDelayMs = 100, maxRestarts = 3, idleTimeoutMs = 5000)
        assert(p.client.awaitStopped(120000))
        assert(stub.connections.last == expectDial, s"phase $upTo dialed ${stub.connections}")
        assert(p.storedCursor == upTo.toLong)
        p.flushSpool()
        p.query.processAllAvailable()
        val store = Ingest.readStore(spark, s"$dir/store")
        assert(store.count() == upTo.toLong, s"phase $upTo: lost or duplicated rows")
        assert(store.select("uri").distinct().count() == upTo.toLong, s"phase $upTo: duplicated rows")
      } finally { p.stop(); stub.stop() }
      damage.foreach(d => Files.write(dir.resolve(s"cursor-$upTo"), d.getBytes("UTF-8")))
    }
    phase(6, None, damage = Some(""))    // cursor-6 empty: back to 4
    phase(8, Some(4L), damage = Some("99")) // cursor-8 names another seq: back to 6
    phase(10, Some(6L), damage = None)
  }

  test("cursor file survives a torn write; spool files publish atomically") {
    val dir = Files.createTempDirectory("graft-durable2").toString
    val conditions = Seq(Fixtures.cond(key = "dur2", inputRegex = "spark"))
    val cfg = FeedServer.Config("did:web:d2.example.com", "d2.example.com", "did:plc:pub")
    val stub = new SubscribeReposStub((1L to 3L).map(i =>
      i -> WireFixtures.commitFrame(i, s"spark atomic $i")))
    // a kill mid-write leaves a cursor file holding a prefix of its seq:
    // it never shadows the cursor, and the next write removes it
    val torn = java.nio.file.Paths.get(dir, "cursor-999")
    java.nio.file.Files.write(torn, "99".getBytes)
    val p = new DurablePipeline(spark, conditions, cfg,
      s"ws://127.0.0.1:${stub.port}", dir, cursorEvery = 1)
    try {
      assert(p.storedCursor == -1L)
      p.start(reconnectDelayMs = 100, maxRestarts = 3, idleTimeoutMs = 5000)
      assert(p.client.awaitStopped(120000))
      assert(stub.connections.head.isEmpty, "the first dial must carry no cursor")
      assert(p.storedCursor == 3L)
      assert(!java.nio.file.Files.exists(torn), "the next cursor write must remove the torn file")
      java.nio.file.Files.write(torn, "".getBytes)
      assert(p.storedCursor == 3L)
      // the spool dir only ever contains complete .txt files
      p.flushSpool()
      val spooled = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "spool"))
      try {
        import scala.jdk.CollectionConverters._
        val names = spooled.iterator().asScala.map(_.getFileName.toString).toList
        assert(names.nonEmpty && names.forall(n => n.startsWith("frames-") && n.endsWith(".txt")))
      } finally spooled.close()
      p.query.processAllAvailable()
      assert(p.storedRows == 3L)
    } finally { p.stop(); stub.stop() }
  }
}
