package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.model.Condition
import graft.operators.{FeedPage, FilterCascade, Upsert}
import graft.serving.Auth
import graft.sources.Firehose
import graft.streaming.{CycleManifest, Ingest}

/** `feed`: the product's durable pipeline (subscribeRepos client → spool →
  * FilterCascade fan-out → Upsert → versioned store → FeedServer with its
  * head cache) at `Width` standing feeds, over a prebuilt key-partitioned
  * store (the ServeSmoke recipe). Set-up ends when the pipeline has
  * ingested two smaller backlogs, one after the other: the first stream
  * batch pays the cold start and the compaction, and the next few still run
  * slow while the JIT warms up. Then two measured phases:
  *
  *  - catch-up: `Backlog` frames arrive at once, as a backlog behind the
  *    cursor does when the client redials (the write path alone);
  *  - live: frames go out open-loop at `Rate` frames/s for `--seconds`;
  *    tracer posts are stamped when due and a probe polls the tracer feed
  *    through the server and its head cache, so a stale head shows as lost
  *    freshness.
  */
object FeedRun {
  val Width = 200 // standing feeds, the tracer and firehose-wide feeds included (see README)
  val StorePosts = 4000
  val Warmup = 200 // frames in each of the set-up's two backlogs
  val Backlog = 1000
  val Rate = 50.0 // frames/s; half the ~100 frames/s saturation knee of a 4-core box (see README)
  // one tracer per 0.1 s of live stream: over a 15 s window, p90 has 15
  // tracers beyond it
  val TracerEvery = 5
  // compaction runs in every 16th stream batch, batch 0 included: in the
  // set-up, clear of the measured phases (a run has about fifteen batches),
  // where one compaction batch, twice a plain one, would decide the
  // figures by where it lands
  val RetentionEvery = 16
  val PrivateEvery = 10 // feeds rfeed1, rfeed11, ... are private
  val CheckFeeds = 6 // feeds whose first pages are compared with pageCollected
  val CheckPages = 2

  def run(a: Args, r: Report): Unit = {
    val loadStart = Stamp.loadavg()
    val keys = Feed.keyPairs(4)
    val conds = Feed.conditions(Width, keys.map(_._1), PrivateEvery)
    val tokens = keys.map { case (did, priv, _) =>
      did -> Auth.signEs256k(did, Feed.ServiceDid, System.currentTimeMillis() / 1000 + 3600, priv)
    }.toMap
    val storeGen = new FeedGen(a.seed, zipfTopics = true)
    val storePosts = (1 to StorePosts).map(_ => storeGen.post())
    val heap = new HeapPeak
    heap.start()

    // set-up: product session (three starts, median), the store prebuild,
    // then the pipeline start
    var spark: SparkSession = null
    val starts = (1 to 3).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Session.start()
      Stats.secs(t0)
    }
    val tBuild = System.nanoTime()
    FilterCascade.fanOutScreened(spark, Feed.postViews(spark, storePosts), conds, None)
      .repartition(col("key")).write.mode("overwrite").partitionBy("key")
      .parquet(a.work.resolve("site").resolve("store").toString)
    val buildS = Stats.secs(tBuild)
    val gen = new FeedGen(a.seed + 1, startSeq = StorePosts) // stream posts are newer
    val stub = new WsStub
    val frames = ArrayBuffer.empty[Array[Byte]] // the warm-up's and the backlog's
    // `n` frames, every `TracerEvery`-th and the last a tracer post: the
    // frames with their seq, and the last one's uri
    def burst(n: Int): (Seq[(Long, Array[Byte])], String) = {
      val fs = (1 until n).map { i => val (s, b, _) = gen.next(tracer = i % TracerEvery == 0); (s, b) }
      val (s, b, last) = gen.next(tracer = true)
      frames ++= fs.map(_._2) :+ b
      (fs :+ (s -> b), last.get.uri)
    }
    val warmups = Seq.fill(2)(burst(Warmup))
    stub.appendAll(warmups.head._1)

    val sched = new SchedulerTotals
    spark.sparkContext.addSparkListener(sched)
    val plans = new PlanTotals
    plans.detail = a.trace
    spark.listenerManager.register(plans)
    val stream = new Feed.StreamStats
    spark.streams.addListener(stream)
    val tracer = new Tracer(a.trace)
    val tr = new Feed.Tracers

    val tPipe = System.nanoTime()
    val site = new Feed.Site(spark, a.work.resolve("site"), conds, stub.url, RetentionEvery,
      keys.map { case (did, _, pub) => did -> pub }.toMap)
    site.start()
    val client = new Feed.Client(site.port)
    r.check(client.page("tracer", 30, None)._1 == 200, "tracer feed not served")
    val probe = new Feed.Probe(site.port, tr, tracer)
    probe.start()
    warmups.zipWithIndex.foreach { case ((warm, warmLast), i) =>
      if (i > 0) stub.appendAll(warm)
      r.check(Feed.awaitSeen(tr, warmLast, 90), s"warm-up $i: last tracer never served")
    }
    r.put("setup_s", Stats.median(starts) + buildS + Stats.secs(tPipe), "s")

    // catch-up: the backlog's arrival (t0) until its last tracer is served
    val (backlog, last) = burst(Backlog)
    val lastSeq = backlog.last._1
    val s0 = sched.snap(spark)
    val t0 = System.nanoTime()
    stub.appendAll(backlog)
    r.check(Feed.awaitSeen(tr, last, 90), "catch-up: last backlog tracer never served")
    val catchupS = Stats.secs(t0)
    r.put("batch_s", catchupS, "s")

    // live: open-loop frames for the measured time, lag and cycle samples on
    // the side
    val loop = new Feed.OpenLoop(gen, stub, Rate, a.seconds, TracerEvery, tr)
    val lag = ArrayBuffer.empty[Double]
    val cycle = ArrayBuffer.empty[Double]
    System.gc() // the live window starts from a collected heap
    loop.start()
    while (loop.isAlive) {
      lag += (stub.lastSeq - site.pipeline.storedCursor).toDouble
      site.pipeline.metrics.lastExecTime("tracer").foreach(t => cycle += t.stripSuffix("ms").toDouble)
      Thread.sleep(100)
    }
    val tDrain = System.nanoTime()
    val (closing, closingSeq) = Feed.closeStream(gen, stub, tr)
    r.check(Feed.awaitSeen(tr, closing, 90), "live: closing tracer never served")
    // the closing filler's last spool flush (the client flushes at every
    // 20th commit) may start one more batch: wait for that flush, then until
    // the stream has ingested it and is idle
    val lastFlush = (closingSeq + Feed.ClosingFiller) / 20 * 20
    val tIdle = System.nanoTime()
    while (site.pipeline.storedCursor < lastFlush && Stats.secs(tIdle) < 30) Thread.sleep(10)
    site.pipeline.query.processAllAvailable()
    val drainS = Stats.secs(tDrain)
    probe.finish()
    val s1 = sched.snap(spark)
    val windowS = Stats.secs(t0)
    plans.detail = false
    heap.running = false

    val fresh = tr.freshness(loop.liveTracers)
    loop.liveTracers.foreach(u => r.check(tr.seen.containsKey(u), s"tracer $u never served"))
    r.put("latency_p50_ms", Stats.median(fresh) * 1e3, "ms")
    r.put("latency_p90_ms", Stats.pct(fresh, 0.9) * 1e3, "ms")

    if (a.trace) {
      // Spark and plan totals over the measured phases (catch-up start → drained)
      sched.report(r, s0, s1, windowS, Map(
        "spark.jobs" -> "latency_p50_ms", "spark.stages" -> "latency_p50_ms",
        "spark.tasks" -> "latency_p50_ms", "spark.job_mean_ms" -> "latency_p50_ms")
        .withDefaultValue("batch_s"))
      plans.report(r, _ => "batch_s,latency_p50_ms")
      val moves = "latency_p50_ms"
      r.put("sources.frames", stub.sent.get.toDouble, "count", moves)
      r.put("sources.cursor_lag_frames", if (lag.isEmpty) 0.0 else Stats.median(lag.toSeq), "frames", moves)
      stream.report(r, moves)
      r.put("model.cycle_ms", if (cycle.isEmpty) 0.0 else Stats.median(cycle.toSeq), "ms", moves)
      val rows = Ingest.readStore(spark, site.storeDir).count()
      val (files, bpr) = Feed.storeStats(site.storeDir, rows)
      r.put("streaming.store_files", files.toDouble, "count", "latency_p90_ms")
      r.put("streaming.store_bytes_per_row", bpr, "bytes", "latency_p90_ms")
      r.put("jvm.heap_peak_mb", heap.peakMb, "MB", "batch_s")
      val hc = site.pipeline.headCache
      val (hits, builds, fallbacks) = hc.stats
      val cacheMoves = "latency_p50_ms"
      r.put("FeedHeadCache.hit_ratio",
        hits.toDouble / math.max(1L, hits + builds + hc.extensions + fallbacks), "ratio", cacheMoves)
      r.put("FeedHeadCache.builds", builds.toDouble, "count", cacheMoves)
      r.put("FeedHeadCache.extensions", hc.extensions.toDouble, "count", cacheMoves)
      r.put("FeedHeadCache.fallbacks", fallbacks.toDouble, "count", cacheMoves)
      r.put("FeedHeadCache.coalesced", hc.coalesced.toDouble, "count", cacheMoves)
      r.put("FeedHeadCache.evictions", hc.evictions.toDouble, "count", cacheMoves)
      writeLayers(spark, a, r, tracer, site, conds, frames.toSeq)
      readLayers(spark, r, tracer, site, conds, tokens.head)
      r.put("trace.overhead_s", tracer.spans.size * Tracer.spanCostS(), "s", "latency_p50_ms")
      r.info("span_self_s") = tracer.selfSecondsJson
      tracer.write(a.work.resolve("spans.jsonl"))
    }

    val tCheck = System.nanoTime()
    checkPages(spark, r, site, conds, a.seed, tokens)
    stub.stop() // first: the client's close then needs no answer from the stub
    site.stop()
    checkStore(spark, a, r, site, conds, storePosts ++ gen.posts.filter(_.seq <= closingSeq))
    FrameGen.check(spark, r, frames.toSeq, gen.posts.filter(_.seq <= lastSeq).toSeq)
    r.info("phase_s") = Json.obj("session_start" -> Json.num(Stats.median(starts)),
      "store_build" -> Json.num(buildS), "catchup" -> Json.num(catchupS),
      "live" -> Json.num(a.seconds.toDouble), "drain" -> Json.num(drainS),
      "checks" -> Json.num(Stats.secs(tCheck)))
    // (batch id, input rows, ms) of every batch, the warm-ups' first: live
    // batch time that grows with its size would mean the live rate saturates
    // ingest
    r.info("batches") = stream.all.map(p =>
      s"[${p.batchId},${p.rows},${p.durations.getOrElse("triggerExecution", 0L)}]").mkString("[", ",", "]")
    r.info("tracers_live") = loop.liveTracers.size.toString
    r.info("open_loop_late_frames") = loop.late.toString
    r.info("redelivered") = gen.redelivered.get.toString
    Stamp.fill(r, spark, loadStart)
    spark.stop()
  }

  /** Once the stream is drained and idle, the first `CheckPages` cursor
    * pages of the tracer feed, the `all` feed and a seeded sample of feeds
    * (private ones with their JWT) over HTTP equal FeedPage.pageCollected
    * on that same snapshot. */
  private def checkPages(spark: SparkSession, r: Report, site: Feed.Site, conds: Seq[Condition],
      seed: Long, tokens: Map[String, String]): Unit = {
    val client = new Feed.Client(site.port)
    val sample = conds.filter(c => c.key == "tracer" || c.key == "all") ++
      new scala.util.Random(seed).shuffle(conds.filterNot(c => c.key == "tracer" || c.key == "all"))
        .take(CheckFeeds)
    var pages = 0
    sample.foreach { c =>
      val did = c.privateFeed.headOption
      val store = Ingest.readStoreKey(spark, site.storeDir, c.key)
      var cursor: Option[String] = None
      var p = 0
      while (p < CheckPages && (p == 0 || cursor.isDefined)) {
        val (status, uris, next) = client.page(c.recordName, 30, cursor, did.map(tokens))
        val (rows, want) = FeedPage.pageCollected(spark, store, c, 30, cursor, did)
        r.check(status == 200 && rows.sortBy(_._1).map(_._2) == uris && want == next,
          s"${c.key} page (cursor $cursor) differs from pageCollected")
        cursor = next
        p += 1
        pages += 1
      }
    }
    r.info("pages_compared") = pages.toString
  }

  /** No post lost or duplicated per feed: the store against an independent
    * recomputation (unscreened FilterCascade.apply + the retention cap) on
    * the tracer feed and a seeded sample of 8 feeds, plus a store-wide
    * duplicate scan. `posts`: the prebuilt store's posts and every post sent
    * up to the closing tracer. */
  private def checkStore(spark: SparkSession, a: Args, r: Report, site: Feed.Site,
      conds: Seq[Condition], posts: Seq[GenPost]): Unit = {
    import spark.implicits._
    val store = Ingest.readStore(spark, site.storeDir)
    val dups = store.groupBy("key", "uri").count().filter(col("count") > 1).count()
    r.check(dups == 0, s"$dups duplicated (key, uri) rows in the store")
    val sample = conds.last +: new scala.util.Random(a.seed).shuffle(conds.init).take(8)
    val want = Feed.expected(spark, Feed.postViews(spark, posts), sample).collect()
      .map(x => (x.getString(0), x.getString(1))).groupBy(_._1)
    // the stored side gets the same cap: between compactions a feed may
    // hold more than its limit
    val limits = sample.map(c => (c.key, c.limitCount)).toDF("key", "__limit")
    val rn = row_number().over(org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
      .orderBy(col("indexedAt").desc, col("cid").desc))
    val got = store.join(broadcast(limits), "key").withColumn("__rn", rn)
      .filter(col("__rn") <= col("__limit")).select("key", "uri").collect()
      .map(x => (x.getString(0), x.getString(1))).groupBy(_._1)
    sample.foreach { c =>
      val w = want.getOrElse(c.key, Array.empty).map(_._2).toSet
      val g = got.getOrElse(c.key, Array.empty).map(_._2).toSet
      r.check(w == g, s"feed ${c.key}: ${(w -- g).size} lost, ${(g -- w).size} unexpected")
    }
    r.info("checked_feed_rows") = want.values.map(_.length).sum.toString
  }

  private def timed(tracer: Tracer, name: String, n: Int = 3)(body: => Long): (Double, Long) = {
    val runs = (1 to n).map { _ =>
      val t0 = System.nanoTime()
      val out = tracer.span(name)(body)
      (Stats.ms(t0), out)
    }
    (Stats.median(runs.map(_._1)), runs.head._2)
  }

  /** Traced run only: the write-path layer functions called directly on
    * this run's backlog frames, timed from the benchmark. */
  private def writeLayers(spark: SparkSession, a: Args, r: Report, tracer: Tracer, site: Feed.Site,
      conds: Seq[Condition], frames: Seq[Array[Byte]]): Unit = {
    import spark.implicits._
    val df = frames.toDF("frame").cache()
    df.count()
    val (decodeMs, nPosts) = timed(tracer, "sources.decodeCborFrames+postViews") {
      Firehose.postViews(Firehose.decodeCborFrames(df)).count()
    }
    r.put("sources.decode_ms_per_kframe", decodeMs * 1000 / frames.size, "ms", "batch_s")
    r.put("sources.posts_per_frame", nPosts.toDouble / frames.size, "ratio", "batch_s")

    val posts = Firehose.postViews(Firehose.decodeCborFrames(df)).cache()
    posts.count()
    val (fanMs, nCand) = timed(tracer, "FilterCascade.fanOutScreened") {
      FilterCascade.fanOutScreened(spark, posts, conds, None).count()
    }
    val fanMoves = "batch_s,latency_p50_ms"
    r.put("FilterCascade.fanout_ms_per_kpost", fanMs * 1000 / math.max(1L, nPosts), "ms", fanMoves)
    r.put("FilterCascade.matches_per_post", nCand.toDouble / math.max(1L, nPosts), "ratio", fanMoves)

    // dedup: the second half of the backlog against the first half's rows
    val half = frames.size / 2
    def cands(fs: Seq[Array[Byte]]) = FilterCascade.fanOutScreened(spark,
      Firehose.postViews(Firehose.decodeCborFrames(fs.toDF("frame"))), conds, None).cache()
    val existing = cands(frames.take(half))
    val incoming = cands(frames.drop(half))
    val nIn = incoming.count()
    existing.count()
    val (upMs, nNew) = timed(tracer, "Upsert.newRows") {
      Upsert.newRows(existing, incoming, Seq("uri", "key")).count()
    }
    r.put("Upsert.ms_per_kcandidate", upMs * 1000 / math.max(1L, nIn), "ms", "batch_s")
    r.put("Upsert.new_ratio", nNew.toDouble / math.max(1L, nIn), "ratio", "batch_s")

    // one retention compaction of the run's store, under the store lock
    // the stream batches take
    val (compactMs, _) = timed(tracer, "Ingest.retentionCompact", 1) {
      Ingest.retentionCompact(spark, site.storeDir, conds); 1L
    }
    r.put("streaming.compaction_batch_ms", compactMs, "ms", "batch_s")

    val (gen, counts) = site.pipeline.metrics.keyCyclesSnapshot
    val tmp = a.work.resolve("manifest-probe")
    java.nio.file.Files.createDirectories(tmp)
    val w = new CycleManifest.Writer(tmp.toString)
    val (pubMs, _) = timed(tracer, "CycleManifest.persist", 5) { w.persist(gen, counts); 1L }
    r.put("CycleManifest.publish_ms", pubMs, "ms", "latency_p50_ms")
    Seq(df, posts, existing, incoming).foreach(_.unpersist())
  }

  /** Traced run only: direct, timed calls into the serving layers. */
  private def readLayers(spark: SparkSession, r: Report, tracer: Tracer, site: Feed.Site,
      feeds: Seq[Condition], token: (String, String)): Unit = {
    val hc = site.pipeline.headCache
    val hot = feeds.filter(_.privateFeed.isEmpty).take(20)
    hot.foreach(c => hc.page(c, 30, None)) // in head from here on
    val pageUs = (1 to 400).map { i =>
      val t0 = System.nanoTime()
      tracer.span("FeedHeadCache.page")(hc.page(hot(i % hot.size), 30, None))
      (System.nanoTime() - t0) / 1e3
    }
    r.put("FeedHeadCache.page_us", Stats.median(pageUs), "us", "latency_p50_ms")
    val client = new Feed.Client(site.port)
    val httpMs = (1 to 200).map { i =>
      val t0 = System.nanoTime()
      tracer.span("http.headHit")(client.page(hot(i % hot.size).recordName, 30, None))
      Stats.ms(t0)
    }
    r.put("http.overhead_ms", Stats.median(httpMs) - Stats.median(pageUs) / 1e3, "ms", "latency_p50_ms")
    val (collectedMs, _) = timed(tracer, "FeedPage.pageCollected", 20) {
      val c = hot(scala.util.Random.nextInt(hot.size))
      FeedPage.pageCollected(spark, Ingest.readStoreKey(spark, site.storeDir, c.key), c, 30, None)._1.size
    }
    r.put("FeedPage.collected_ms", collectedMs, "ms", "latency_p90_ms")
    val (readKeyMs, _) = timed(tracer, "Ingest.readStoreKey", 20) {
      Ingest.readStoreKey(spark, site.storeDir, hot(scala.util.Random.nextInt(hot.size)).key); 1L
    }
    r.put("Ingest.readStoreKey_ms", readKeyMs, "ms", "latency_p90_ms")
    val resolver = Auth.StaticKeyResolver(Feed.keyPairs(4).map { case (d, _, p) => d -> p }.toMap)
    val (authMs, _) = timed(tracer, "Auth.validateAuth", 50) {
      Auth.validateAuth(Some(s"Bearer ${token._2}"), Feed.ServiceDid, resolver); 1L
    }
    r.put("Auth.validate_ms", authMs, "ms", "latency_p50_ms")
  }
}
