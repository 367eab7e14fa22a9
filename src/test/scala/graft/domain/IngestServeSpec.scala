package graft.domain

import java.nio.file.Files

import graft.SparkSpec
import graft.model._
import graft.operators.FeedPage
import graft.streaming.Ingest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class IngestServeSpec extends SparkSpec {

  import Fixtures._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("streaming ingest: micro-batches accumulate, redelivery is idempotent, late data lands by event time") {
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext
    val store = tmpDir("graft-store")
    val ckpt = tmpDir("graft-ckpt")
    val conditions = Seq(cond(key = "f1"), cond(key = "f2", replyDisable = true))

    val stream = MemoryStream[PostView]
    val metrics = new ConditionMetrics
    val q = Ingest.start(spark, stream.toDF(), conditions,
      Some(profiles.toDF()), store, ckpt, metrics = Some(metrics))

    stream.addData(posts.take(7))
    q.processAllAvailable()
    val afterB1 = Ingest.readStore(spark, store).count()
    assert(afterB1 > 0)

    // S12/F9: the cycle recorded a positive lastExecTime ("<ms>ms" wire
    // shape) and the captured counts for every standing condition
    assert(metrics.lastExecTime("f1").exists(_.matches("[1-9][0-9]*ms")))
    assert(metrics.recordCount("f1").exists(_ > 0L))
    val exec1 = metrics.lastExecTime("f1").get
    assert(metrics.toDf(spark).columns.toSeq ==
      Seq("key", "lastExecTime", "recordCount"))

    // redeliver batch 1 + the rest (overlap) → no duplicates
    stream.addData(posts)
    q.processAllAvailable()
    val all = Ingest.readStore(spark, store)
    val n = all.count()
    assert(all.select("uri", "key").distinct().count() == n)

    // a third identical delivery changes nothing
    stream.addData(posts)
    q.processAllAvailable()
    assert(Ingest.readStore(spark, store).count() == n)
    q.stop()

    // metrics kept pace across cycles: recordCount converged on the
    // feed's actual stored rows (dedup'd redelivery added nothing) and
    // stayed under the cap; lastExecTime still has the wire shape
    val f1Rows = Ingest.readStore(spark, store).filter(col("key") === "f1").count()
    assert(metrics.recordCount("f1").contains(f1Rows))
    assert(metrics.recordCount("f1").exists(_ <= conditions.head.limitCount.toLong))
    assert(metrics.lastExecTime("f1").exists(_.matches("[1-9][0-9]*ms")))
    assert(exec1.nonEmpty)

    // late event (2024-02-29) is present and sorts by event time at serve
    val (page, _) = FeedPage.pageWithCursor(spark, Ingest.readStore(spark, store),
      conditions.head, 100, None)
    val served = page.orderBy(col("ord")).select("post").collect().map(_.getString(0))
    assert(served.last == "at://a/11") // oldest event time serves last
    assert(served.nonEmpty)
  }

  test("a micro-batch over a store of more than 32 feeds lists it on the driver and caches nothing") {
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext
    val store = tmpDir("graft-wide-store")
    val ckpt = tmpDir("graft-wide-ckpt")
    // every fixture match lands in all 40 feeds: 40 key= dirs, above
    // Spark's default parallel-listing threshold of 32
    val conditions = (0 until 40).map(i => cond(key = f"w$i%02d"))
    val stream = MemoryStream[PostView]
    val metrics = new ConditionMetrics
    val q = Ingest.start(spark, stream.toDF(), conditions,
      Some(profiles.toDF()), store, ckpt, metrics = Some(metrics))
    // the batch that creates the feed dirs reads an empty store
    stream.addData(posts.take(5))
    q.processAllAvailable()
    def perFeed(): Map[String, Long] = Ingest.readStore(spark, store)
      .groupBy("key").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def files(): Map[String, Int] = new java.io.File(store).listFiles()
      .filter(_.getName.startsWith("key=")).map(d =>
        d.getName.stripPrefix("key=") -> d.list().count(_.endsWith(".parquet"))).toMap
    assert(perFeed().size == 40)

    val streamJobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val marker = s"marker-${q.id}"
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          val desc = Option(p.getProperty("spark.job.description")).getOrElse("")
          if (p.getProperty("sql.streaming.queryId") == q.id.toString) streamJobs.add(desc)
          if (desc == marker) markerSeen.countDown()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.catalog.clearCache()
    try {
      // batch 1 redelivers posts 4-5; batch 2 redelivers post 1
      for (batch <- Seq(posts.slice(3, 9), posts.drop(9) :+ posts.head)) {
        val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
        val (storedBefore, recordedBefore, filesBefore) =
          (perFeed(), conditions.map(c => c.key -> metrics.recordCount(c.key).getOrElse(0L)).toMap,
            files())
        stream.addData(batch)
        q.processAllAvailable()
        assert(spark.sharedState.cacheManager.isEmpty, "a batch left a cached plan behind")
        assert((spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore).isEmpty,
          "a batch left a persisted RDD behind")
        val storedAfter = perFeed()
        conditions.foreach { c =>
          assert(metrics.recordCount(c.key).getOrElse(0L) - recordedBefore(c.key) ==
            storedAfter.getOrElse(c.key, 0L) - storedBefore.getOrElse(c.key, 0L), c.key)
        }
        // the new rows were written from one coalesced checkpoint partition
        val filesAfter = files()
        assert(filesAfter.forall { case (k, n) => n - filesBefore.getOrElse(k, 0) <= 1 },
          s"more than one new file in a feed: $filesBefore -> $filesAfter")
      }
      q.stop()
      // listener events arrive asynchronously but in order: once a job
      // started after the batches is seen, every batch job has been
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1)).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(streamJobs.size > 0, "the listener saw none of the stream's jobs")
      val listings = streamJobs.toArray.map(_.toString).filter(_.startsWith("Listing leaf files"))
      assert(listings.isEmpty, s"a batch ran a listing job: ${listings.mkString("; ")}")
    } finally spark.sparkContext.removeSparkListener(listener)

    val all = Ingest.readStore(spark, store)
    assert(all.filter(col("uri") === "at://a/1").count() == 40L,
      "the redelivered post must land once per feed")
    assert(all.select("uri", "key").distinct().count() == all.count())
  }

  test("initial backfill honors initPost, skips non-empty feeds, idempotent (T2)") {
    val s = spark
    import s.implicits._
    import graft.sources.Firehose
    import graft.operators.FilterCascade
    // a real batch read of the searchPosts DSv2 source, bridged to the
    // PostView wire shape the cascade consumes
    val search = Firehose.searchHitsAsPostViews(
      spark.read.format("graft-search").option("totalPosts", 300).load())
    val old = cond(key = "old")
    val neu = cond(key = "neu", initPost = 3)
    // "old" already holds rows (seeded through the real ingest path)
    val store0 = Ingest.processBatch(spark, Ingest.emptyStore(spark),
      posts.toDF(), Seq(old), Some(profiles.toDF()))
    assert(store0.filter(col("key") === "old").count() > 0)

    val fresh = Ingest.backfill(spark, store0, search, Seq(old, neu), None)
    assert(fresh.filter(col("key") === "old").count() == 0,
      "a feed with stored rows must not backfill")
    val neuRows = fresh.filter(col("key") === "neu")
    val n = neuRows.count()
    assert(n == 3, s"initPost must cap the backfill (got $n)")
    // the capped rows are the NEWEST matches, not an arbitrary subset
    val all = FilterCascade.fanOut(search,
      FilterCascade.conditionsDf(spark, Seq(neu)), None)
    val cut = neuRows.agg(min(col("indexedAt"))).head().getTimestamp(0)
    assert(all.filter(col("indexedAt") > cut).count() <= 3)

    // idempotent: with the backfill applied, a second run adds nothing
    val store1 = store0.unionByName(fresh)
    assert(Ingest.backfill(spark, store1, search, Seq(old, neu), None).count() == 0)
  }

  test("streaming ingest with in-loop retention never exceeds the cap") {
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext
    val store = tmpDir("graft-stream-ret")
    val ckpt = tmpDir("graft-stream-ret-ckpt")
    val conditions = Seq(cond(key = "f1", limitCount = 3))
    val stream = MemoryStream[PostView]
    val q = Ingest.start(spark, stream.toDF(), conditions,
      Some(profiles.toDF()), store, ckpt, retentionEvery = 1)
    stream.addData(posts.take(6))
    q.processAllAvailable()
    stream.addData(posts)
    q.processAllAvailable()
    q.stop()
    val kept = Ingest.readStore(spark, store)
    assert(kept.count() <= 3)
    assert(kept.count() > 0)
  }

  test("density gate arms through the REAL streaming ingest path (tiny first drain)") {
    // End-to-end variant of FilterCascadeSpec's arming test: the
    // counters must flow through foreachBatch → processBatch →
    // fanOutScreened → MatchedConditionsFolded on the actual streaming
    // source, not just direct batch calls — and the ingest must never
    // re-execute the source for the gate (numInputRows stays exact).
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext
    val store = tmpDir("graft-gate-arm")
    val ckpt = tmpDir("graft-gate-arm-ckpt")
    // unique regexes: the gate memo is keyed by condition-set identity
    val conditions = Seq(
      cond(key = "sgbroad", inputRegex = "omnitok"), // in every post
      cond(key = "sgnarrow", inputRegex = "seldomtok"))
    def pv(i: Int) = Fixtures.pv(s"at://sg/$i", s"c$i",
      if (i % 97 == 1) s"omnitok seldomtok post $i" else s"omnitok post $i",
      "2024-03-01T10:00:00.000Z")
    val stream = MemoryStream[PostView]
    val q = Ingest.start(spark, stream.toDF(), conditions, None, store, ckpt)
    // drain 1: 40 rows — bootstrap-tiny, gate must start counting
    stream.addData((0 until 40).map(pv))
    q.processAllAvailable()
    // drain 2: 300 rows — cumulative scanned rows cross the floor
    stream.addData((40 until 340).map(pv))
    q.processAllAvailable()
    // drain 3: any drain after the floor arms the memo
    stream.addData((340 until 350).map(pv))
    q.processAllAvailable()
    // source-metrics contract, pinned EXACTLY: 350 data rows, + 40 for
    // the ONE-TIME first-sighting sample probe (re-reads drain 1 once —
    // the documented r17 trade; the accumulator counting on drains 2-3
    // adds NOTHING, where a per-drain probe would re-read every drain),
    // + 10 for drain 3's second branch (once armed, the demoted
    // condition rides the full-stream crossJoin branch, so the mixed
    // split scans that drain twice — the "one extra full-stream branch"
    // cost fanOutScreened documents)
    val inputRows = q.recentProgress.map(_.numInputRows).sum
    assert(inputRows == 350L + 40L + 10L,
      s"gate source-metrics contract drifted: read $inputRows (expect 400)")
    q.stop()
    // the memo (same set, same session) must now hold an ARMED verdict
    // demoting the universal literal — no probe handed back
    val parsed = conditions.map(c =>
      c -> graft.operators.FilterCascade.requiredLiterals(c.inputRegex).get)
    val probeDf = Seq(pv(9999)).toDF()
    val (verdict, probe) =
      graft.operators.FilterCascade.densityDemoted(spark, probeDf, parsed)
    assert(verdict == Set("sgbroad"),
      s"streaming drains must arm the gate: $verdict")
    assert(probe.isEmpty, "armed verdicts carry no probe")
    // and the store is exactly right (the gate is plan routing only)
    val stored = Ingest.readStore(spark, store)
    assert(stored.filter(col("key") === "sgbroad").count() == 350L)
    assert(stored.filter(col("key") === "sgnarrow").count() == 4L)
  }

  test("supervised stream auto-restarts from the checkpoint after a failure (T5 reconnect)") {
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext
    val store = tmpDir("graft-supervised")
    val ckpt = tmpDir("graft-supervised-ckpt")
    val conditions = Seq(cond(key = "f1"))

    // injected fault: the first batch containing the poison uri blows up
    // the query; the replayed batch after restart passes (armed once)
    IngestServeSpec.faultArmed.set(true)
    val boom = org.apache.spark.sql.functions.udf((uri: String) => {
      if (uri.endsWith("/11") && IngestServeSpec.faultArmed.getAndSet(false))
        throw new RuntimeException("injected stream fault")
      uri
    })
    val stream = MemoryStream[PostView]
    val supervised = graft.streaming.Supervision.startSupervised(
      () => Ingest.start(spark,
        stream.toDF().withColumn("uri", boom(col("uri"))),
        conditions, Some(profiles.toDF()), store, ckpt),
      reconnectDelayMs = 200)

    stream.addData(posts) // includes at://a/11 → first attempt fails
    supervised.processAllAvailable(timeoutMs = 120000)
    supervised.stop()

    assert(supervised.restarts == 1, s"expected exactly one restart, got ${supervised.restarts}")
    assert(supervised.error.exists(_.getMessage != null))
    // the replayed batch landed exactly once: no loss, no duplicates
    val stored = Ingest.readStore(spark, store)
    assert(stored.filter(col("uri") === "at://a/11").count() == 1)
    assert(stored.select("uri", "key").distinct().count() == stored.count())
  }

  test("end-to-end: streamed DSv2 source converges to the batch formulation's exact store") {
    // The full ingest plane over the REAL micro-batch source: graft-search
    // pages → PostView wire shape → cascade fan-out → anti-join upsert →
    // in-loop retention after EVERY batch — then the same pipeline stated
    // as one batch dataflow (dq10 + dq13 composed). Count-based retention
    // commutes with batching (a row evicted mid-stream is strictly older
    // than cap-many survivors that outlive it), so the two stores must be
    // IDENTICAL row sets, and the serving page + cursor built from them
    // must match byte-for-byte.
    val store = tmpDir("graft-e2e-stream")
    val ckpt = tmpDir("graft-e2e-ckpt")
    val conditions = Seq(
      cond(key = "s1", inputRegex = "spark|vector", limitCount = 40),
      cond(key = "s2", inputRegex = "merge|join", lang = Some("en"), limitCount = 25))

    val streamHits = spark.readStream.format("graft-search")
      .option("totalPosts", 2000).option("pageSize", 100)
      .option("pagesPerTrigger", 4).load()
    val q = Ingest.start(spark,
      graft.sources.Firehose.searchHitsAsPostViews(streamHits),
      conditions, None, store, ckpt, retentionEvery = 1)
    q.processAllAvailable()
    q.stop()
    val streamed = Ingest.readStore(spark, store)
    assert(streamed.count() > 0)

    // batch formulation over the identical source rows
    val batchHits = spark.read.format("graft-search").option("totalPosts", 2000).load()
    val ingested = Ingest.processBatch(spark, Ingest.emptyStore(spark),
      graft.sources.Firehose.searchHitsAsPostViews(batchHits), conditions, None)
    val bdir = tmpDir("graft-e2e-batch")
    ingested.write.mode("overwrite").partitionBy("key").parquet(bdir)
    Ingest.retentionCompact(spark, bdir, conditions)
    val batch = Ingest.readStore(spark, bdir)

    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streamed and batch stores must converge to identical row sets")
    // both feeds hit their caps — retention actually exercised
    val perKey = batch.groupBy(col("key")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perKey("s1") == 40 && perKey("s2") == 25, perKey.toString)

    // serving equivalence: same first page, same cursor
    val (pageA, curA) = FeedPage.pageWithCursor(spark, streamed, conditions.head, 15, None)
    val (pageB, curB) = FeedPage.pageWithCursor(spark, batch, conditions.head, 15, None)
    assert(curA == curB && curA.isDefined)
    assert(pageA.orderBy(col("ord")).collect().toSeq ==
      pageB.orderBy(col("ord")).collect().toSeq)
  }

  test("pageCollected ≡ pageWithCursor: rows, ordinals, cursor chain (serving hot path)") {
    // the single-action serving path must be indistinguishable from the
    // two-action DataFrame path across a full cursor walk, including the
    // first-page pinned prepend and the private-feed gate
    val c = cond(key = "f1", pinnedPost = Seq("at://pin/1", "at://pin/2"))
    val stored = FilterCascadeFixtureStore.build(spark, Seq(c))
    var cur: Option[String] = None
    var pages = 0
    var done = false
    while (!done && pages < 10) {
      val (dfPage, nA) = FeedPage.pageWithCursor(spark, stored, c, 3, cur)
      val a = dfPage.orderBy(col("ord")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      val (b, nB) = FeedPage.pageCollected(spark, stored, c, 3, cur)
      assert(a == b, s"page $pages rows diverge: df=$a collected=$b")
      assert(nA == nB, s"page $pages cursor diverges: $nA vs $nB")
      pages += 1
      if (nA.isEmpty || a.isEmpty) done = true else cur = nA
    }
    assert(pages >= 2, "fixture too small to exercise the cursor chain")
    // private gate parity
    val priv = cond(key = "f1", privateFeed = Seq("did:plc:ok"))
    assert(FeedPage.pageCollected(spark, stored, priv, 3, None, None) ==
      ((Nil, None)))
  }

  test("pageCollected cid tie-break matches Spark's UTF-8 byte order on non-ASCII cids") {
    val s = spark
    import s.implicits._
    // same ts; cids where UTF-16 and UTF-8 orders DISAGREE: U+F000
    // (private use, 3 UTF-8 bytes EF.. but UTF-16 unit 0xF000) vs
    // U+1F9F6 (supplementary, 4 bytes F0.., UTF-16 lead 0xD83E).
    // Java String '>' puts U+F000 first under DESC; UTF8String (and the
    // Spark-side sort + keyset predicate) puts U+1F9F6 first.
    val t = java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T10:00:00Z"))
    val stored = Seq(
      ("f1", "at://u/bmp", "a", t),
      ("f1", "at://u/supp", "🧶a", t),
      ("f1", "at://u/plain", "aa", t))
      .toDF("key", "uri", "cid", "indexedAt")
    val c = cond(key = "f1")
    // full-walk parity with the DataFrame path at page size 1: any
    // comparator divergence reorders rows or derails the cursor chain
    var cur: Option[String] = None
    val seen = Seq.newBuilder[String]
    for (_ <- 0 until 3) {
      val (dfPage, nA) = FeedPage.pageWithCursor(spark, stored, c, 1, cur)
      val a = dfPage.orderBy(col("ord")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      val (b, nB) = FeedPage.pageCollected(spark, stored, c, 1, cur)
      assert(a == b, s"rows diverge at cursor $cur: df=$a collected=$b")
      assert(nA == nB, s"cursor diverges at $cur: $nA vs $nB")
      seen ++= b.map(_._2)
      cur = nA
    }
    // DESC UTF-8 byte order: supplementary > private-use BMP > ascii
    assert(seen.result() == Seq("at://u/supp", "at://u/bmp", "at://u/plain"),
      s"walk order drifted: ${seen.result()}")
  }

  test("retention compact keeps each feed's newest limitCount rows") {
    val s = spark
    import s.implicits._
    val store = tmpDir("graft-ret")
    val conditions = Seq(cond(key = "f1", limitCount = 3))
    val stored = FilterCascadeFixtureStore.build(spark, conditions)
    stored.write.mode("overwrite").partitionBy("key").parquet(store)
    Ingest.retentionCompact(spark, store, conditions)
    val kept = Ingest.readStore(spark, store)
    assert(kept.count() == 3)
    // survivors are the newest by (indexedAt, cid)
    val uris = kept.select("uri").collect().map(_.getString(0)).toSet
    assert(!uris.contains("at://a/11")) // the late/oldest row evicted
  }

  test("refresh: -1 deletes the feed, N>0 deletes the N newest") {
    val s = spark
    import s.implicits._
    val store = tmpDir("graft-refresh")
    val conditions = Seq(cond(key = "f1"))
    FilterCascadeFixtureStore.build(spark, conditions)
      .write.mode("overwrite").partitionBy("key").parquet(store)
    val before = Ingest.readStore(spark, store).count()

    Ingest.applyRefresh(spark, store, cond(key = "f1", refresh = 2))
    val after = Ingest.readStore(spark, store)
    assert(after.count() == before - 2)

    Ingest.applyRefresh(spark, store, cond(key = "f1", refresh = -1))
    assert(Ingest.readStore(spark, store).isEmpty)
  }

  test("recordCounts clamps to limitCount (A4)") {
    val store = tmpDir("graft-counts")
    val conditions = Seq(cond(key = "f1", limitCount = 2), cond(key = "zz", limitCount = 5))
    FilterCascadeFixtureStore.build(spark, Seq(cond(key = "f1", limitCount = 2)))
      .write.mode("overwrite").partitionBy("key").parquet(store)
    val counts = Ingest.recordCounts(spark, store, conditions)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("f1") == 2L) // clamped
    assert(counts("zz") == 0L) // feed with no rows reports 0
  }

  test("feed page: pinned prepend on first page only, private gate, cursor walk") {
    val s = spark
    import s.implicits._
    val conditions = Seq(cond(key = "f1",
      pinnedPost = Seq("at://pin/1", "at://pin/2"),
      privateFeed = Seq("did:plc:alice")))
    val c = conditions.head
    val store = FilterCascadeFixtureStore.build(spark, conditions).cache()

    // private feed: unknown DID → empty page
    assert(FeedPage.page(spark, store, c, 5, None, None).isEmpty)
    assert(FeedPage.page(spark, store, c, 5, None, Some("did:plc:eve")).isEmpty)

    // allowed DID: page 1 = pinned then newest-first
    val (p1, cur1) = FeedPage.pageWithCursor(spark, store, c, 3, None, Some("did:plc:alice"))
    val rows1 = p1.collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows1.take(2).map(_._2).toSeq == Seq("at://pin/1", "at://pin/2"))
    assert(rows1.map(_._1).toSeq == rows1.map(_._1).sorted.toSeq)
    assert(cur1.isDefined)

    // page 2: no pinned, continues strictly after page 1
    val (p2, _) = FeedPage.pageWithCursor(spark, store, c, 3, cur1, Some("did:plc:alice"))
    val rows2 = p2.collect().map(_.getString(1))
    assert(rows2.nonEmpty)
    assert(rows1.map(_._2).toSet.intersect(rows2.toSet).isEmpty)

    // full walk = full ordered scan (minus pins)
    var cursor: Option[String] = cur1
    var seen = rows1.drop(2).map(_._2).toVector
    var guard = 0
    while (cursor.isDefined && guard < 100) {
      guard += 1
      val (p, nc) = FeedPage.pageWithCursor(spark, store, c, 3, cursor, Some("did:plc:alice"))
      seen ++= p.collect().map(_.getString(1))
      cursor = nc
    }
    val full = store.filter(col("key") === "f1")
      .orderBy(col("indexedAt").desc, col("cid").desc)
      .select("uri").collect().map(_.getString(0)).toVector
    assert(seen == full)
  }

  test("cursor walk interleaved with compaction pointer flips: zero dup, zero loss (snapshot isolation)") {
    // retentionCompactLocked rewrites the whole store and flips the
    // version pointer WHILE FeedServer pages concurrently from the same
    // store. Isolation mechanism under test: every page request resolves
    // the pointer once and reads ONE immutable version dir; superseded
    // versions survive a GraceVersions window for in-flight readers; the
    // keyset cursor is position-based (ts, cid), so a pointer flip
    // between pages can never re-serve rows above the cursor (no dups)
    // nor skip surviving rows below it (no loss).
    val s = spark
    import s.implicits._
    val store = tmpDir("graft-race")
    def post(i: Int) = graft.model.Post(s"at://r/$i", "f1", f"c$i%03d",
      None, None, java.sql.Timestamp.from(
        java.time.Instant.parse("2024-03-01T00:00:00Z").plusSeconds(i * 60L)))
    val all = (1 to 24).map(post) // newest = r/24, oldest = r/1
    all.toDF().write.mode("overwrite").partitionBy("key").parquet(store)
    val noCap = Seq(cond(key = "f1", limitCount = 100000))
    val c = noCap.head

    // phase 1: pure-rewrite compaction (cap keeps everything) AFTER EVERY
    // page — six pointer flips inside one cursor walk
    var cur: Option[String] = None
    val seen = Seq.newBuilder[String]
    for (_ <- 0 until 6) {
      val (rows, next) = FeedPage.pageCollected(
        spark, Ingest.readStore(spark, store), c, 4, cur)
      seen ++= rows.map(_._2)
      cur = next
      Ingest.retentionCompact(spark, store, noCap) // rewrite + pointer flip
    }
    assert(seen.result() == (24 to 1 by -1).map(i => s"at://r/$i"),
      s"walk across 6 compactions lost or duplicated rows: ${seen.result()}")

    // phase 2: a RETENTION compaction (cap 12) lands after page 1 of a
    // fresh walk, plus an APPEND of a newer row mid-walk. Keyset
    // contract: no duplicates ever; the walk sees exactly the newest 12
    // (deleted tail rows rank below the final cursor; the appended row
    // ranks ABOVE the cursor so it is next-first-page material, never a
    // mid-walk dup)
    val cap12 = Seq(cond(key = "f1", limitCount = 12))
    var cur2: Option[String] = None
    val seen2 = Seq.newBuilder[String]
    def page2(): Boolean = {
      val (rows, next) = FeedPage.pageCollected(
        spark, Ingest.readStore(spark, store), cap12.head, 4, cur2)
      seen2 ++= rows.map(_._2)
      cur2 = next
      rows.nonEmpty && next.isDefined
    }
    page2() // rows 24..21 from the full store
    Ingest.retentionCompact(spark, store, cap12) // keep newest 12 (24..13)
    page2() // rows 20..17
    Seq(post(99)).toDF().write.mode("append").partitionBy("key")
      .parquet(graft.streaming.VersionedStore.versionDir(store)) // newer row lands mid-walk
    var pages = 2
    while (page2() && pages < 10) pages += 1
    val walked = seen2.result()
    assert(walked == (24 to 13 by -1).map(i => s"at://r/$i"),
      s"retention mid-walk broke the keyset contract: $walked")
    assert(walked.distinct == walked, "a pointer flip re-served rows")
    // the appended row is first-page material for the NEXT walk
    val (fresh, _) = FeedPage.pageCollected(
      spark, Ingest.readStore(spark, store), cap12.head, 1, None)
    assert(fresh.map(_._2) == Seq("at://r/99"))

    // phase 3: the grace window — a reader that resolved the pointer
    // BEFORE a compaction still collects its snapshot afterwards
    val snapshot = Ingest.readStore(spark, store)
    val before = snapshot.count()
    Ingest.retentionCompact(spark, store, cap12)
    assert(snapshot.count() == before,
      "an in-flight snapshot must survive the swap (GraceVersions window)")
  }

  test("head-cached walk interleaved with drains AND compactions: zero dup, zero loss, " +
      "both serving paths exercised") {
    // All three actors at once (the r18 race spec covered walks vs
    // compaction on the DIRECT path only): a cursor walk served partly
    // from the head cache and partly from the fallback query, while
    // drains bump the feed's keyCycle (token flip without a pointer
    // flip) and a retention compaction flips the pointer itself.
    // Contract: the position-based keyset makes the walk exact — rows
    // landed mid-walk rank ABOVE the cursor (next-walk material, never
    // a mid-walk dup), retention-deleted tail rows rank below the final
    // cursor, and every token flip rebuilds an internally-consistent
    // head snapshot.
    val s = spark
    import s.implicits._
    val store = tmpDir("graft-race3")
    def post(i: Int) = graft.model.Post(s"at://r/$i", "f1", f"c$i%03d",
      None, None, java.sql.Timestamp.from(
        java.time.Instant.parse("2024-03-01T00:00:00Z").plusSeconds(i * 60L)))
    (1 to 24).map(post).toDF().write.mode("overwrite")
      .partitionBy("key").parquet(store)
    val c = cond(key = "f1", limitCount = 100000)

    // production token wiring, exactly like DurablePipeline: pointer +
    // in-process keyCycle (the cross-process manifest variant is pinned
    // in FeedHeadCacheSpec)
    val metrics = new ConditionMetrics
    val root = new org.apache.hadoop.fs.Path(store)
    val hc = new graft.serving.FeedHeadCache(spark,
      key => Ingest.readStoreKey(spark, store, key),
      key => Some(graft.streaming.VersionedStore.currentVersion(root)
        .getOrElse("_root") + ":" + metrics.keyCycle(key)),
      // maxBlocks=1 pins the fallback path INTO the interleave: with
      // chaining on, the whole walk stays in-head (FeedHeadCacheSpec
      // covers chained walks) and the fallback leg would go untested
      headSize = 10, maxBlocks = 1)
    def drain(i: Int): Unit = {
      Seq(post(i)).toDF().write.mode("append").partitionBy("key")
        .parquet(graft.streaming.VersionedStore.versionDir(store))
      metrics.record(Seq(c), Map("f1" -> 1L), 1L)
    }

    val seen = Seq.newBuilder[String]
    var cur: Option[String] = None
    def page(): Boolean = {
      val (rows, next) = hc.page(c, 4, cur)
      seen ++= rows.map(_._2)
      cur = next
      rows.nonEmpty && next.isDefined
    }

    page() // 24..21 in-head
    drain(25) // token flip WITHOUT a pointer flip
    page() // 20..17 from the rebuilt head
    // pointer flip: keep the newest 16 (25, 24..10)
    Ingest.retentionCompact(spark, store, Seq(cond(key = "f1", limitCount = 16)))
    page() // cursor at 17: in-head remainder too thin -> fallback, 16..13
    drain(26) // second drain lands mid-deep-walk
    var pages = 3
    while (page() && pages < 10) pages += 1

    val walked = seen.result()
    assert(walked == (24 to 10 by -1).map(i => s"at://r/$i"),
      s"three-actor interleave broke the keyset contract: $walked")
    assert(walked.distinct == walked, "a token/pointer flip re-served rows")
    val (hits, builds, fallbacks) = hc.stats
    assert(hits > 0, "part of the walk must have served from the head")
    assert(fallbacks > 0, "part of the walk must have taken the fallback")
    assert(builds >= 3, s"each token flip must rebuild, got builds=$builds")
    // the mid-walk rows are exactly the next walk's first-page material
    assert(hc.page(c, 2, None)._1.map(_._2) == Seq("at://r/26", "at://r/25"))
  }

  test("condition normalization: string-bools, defaults, splits (B3)") {
    val raw = ConditionRaw("k1", "my-feed", "q", "spark", Some(""), None,
      Some(""), Some("true"), Some("false"), Some("imageOnly"), None,
      None, Some("at://p/1,at://p/2"), None, Some("did:a,did:b"),
      Some("vector::spark"))
    val c = Condition.normalize(raw)
    assert(c.labelDisable && !c.replyDisable && !c.includeAltText)
    assert(c.initPost == 100 && c.limitCount == 2000)
    assert(c.pinnedPost == Seq("at://p/1", "at://p/2"))
    assert(c.privateFeed == Seq("did:a", "did:b"))
    assert(c.profileMatch.contains(ProfileMatch("vector", "spark")))
    assert(c.lang.isEmpty)
  }

  test("condition validation rejects bad record names and uncompilable regexes (P13)") {
    def raw(rn: String, re: String) = ConditionRaw("k", rn, "q", re, None,
      None, None, None, None, None, None, None, None, None, None, None)
    assert(Condition.validate(raw("ok-name", "spark")).isRight)
    assert(Condition.validate(raw("Bad Name!", "spark")).isLeft)
    assert(Condition.validate(raw("ok", "(unclosed")).isLeft)
    assert(Condition.validate(raw("ok", "")).isLeft)
  }
}

/** Builds a stored-post table by running the cascade over the shared
  * fixture posts for the given conditions. */
object FilterCascadeFixtureStore {
  def build(spark: org.apache.spark.sql.SparkSession,
      conditions: Seq[Condition]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    graft.streaming.Ingest.processBatch(
      spark,
      graft.streaming.Ingest.emptyStore(spark),
      Fixtures.posts.toDF(),
      conditions,
      Some(Fixtures.profiles.toDF()))
  }
}

/** Static fault flag for the supervision spec: lives in an object so the
  * serialized UDF and the driver share one JVM-wide switch (local mode). */
object IngestServeSpec {
  val faultArmed = new java.util.concurrent.atomic.AtomicBoolean(false)
}
