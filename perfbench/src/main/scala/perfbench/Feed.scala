package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.DurablePipeline
import graft.model.{Author, Condition, Embed, Image, PostRecord, PostView, Reply, StrongRef}
import graft.serving.{Auth, FeedServer, Secp256k1}

/** Pieces both feed workloads share: the standing feeds, the product
  * pipeline, HTTP clients, the tracer probe and the open-loop sender. */
object Feed {
  val Pub = "did:plc:perfbenchpub"
  val ServiceDid = "did:web:perfbench.local"

  /** `width` - 2 feeds shaped like ScaleSmoke.realisticConditions at the
    * reference default cap (2 000), every `privateEvery`-th one private to
    * `privateDids`; a firehose-wide feed (`all`, every post with a topic,
    * cap 20 000) deep enough for a walk past the head cache's chain; and
    * the tracer feed. */
  def conditions(width: Int, privateDids: Seq[String] = Nil, privateEvery: Int = 0): Seq[Condition] = {
    def plain(key: String, re: String, cap: Int) = Condition(key = key, recordName = key,
      query = key, inputRegex = re, invertRegex = "", refresh = 0, lang = None,
      labelDisable = false, replyDisable = false, imageOnly = "all", includeAltText = false,
      initPost = 100, limitCount = cap, pinnedPost = Nil, privateFeed = Nil, profileMatch = None)
    val realistic = graft.ScaleSmoke.realisticConditions(width - 2).zipWithIndex.map { case (c, j) =>
      c.copy(limitCount = 2000,
        privateFeed = if (privateEvery > 0 && j % privateEvery == 1) privateDids else Nil)
    }
    (realistic.take(5) :+ plain("all", "topic\\d+", 20000)) ++ realistic.drop(5) :+
      plain("tracer", "ptracer\\b", 2000)
  }

  def feedUri(recordName: String): String = s"at://$Pub/app.bsky.feed.generator/$recordName"

  /** The durable deployment: subscribe → spool → cascade/upsert → store →
    * FeedServer with its head cache. */
  final class Site(spark: SparkSession, dir: Path, conds: Seq[Condition], service: String,
      retentionEvery: Int, keys: Map[String, Array[Byte]] = Map.empty) {
    val pipeline = new DurablePipeline(spark, conds,
      FeedServer.Config(serviceDid = ServiceDid, hostname = "perfbench.local", publisherDid = Pub,
        keyResolver = Auth.StaticKeyResolver(keys)),
      service, dir.toString, retentionEvery = retentionEvery)
    @volatile var port: Int = -1
    def start(): Int = { port = pipeline.start(reconnectDelayMs = 200, idleTimeoutMs = 3600000L); port }
    def storeDir: String = dir.resolve("store").toString
    def stop(): Unit = pipeline.stop()
  }

  private val postRe = java.util.regex.Pattern.compile("\"post\"\\s*:\\s*\"([^\"]+)\"")
  private val cursorRe = java.util.regex.Pattern.compile("\"cursor\"\\s*:\\s*\"([^\"]+)\"")

  /** One HTTP connection's worth of getFeedSkeleton calls. */
  final class Client(port: Int) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    def page(feed: String, limit: Int, cursor: Option[String], token: Option[String] = None)
        : (Int, Seq[String], Option[String]) = {
      val u = s"http://127.0.0.1:$port/xrpc/app.bsky.feed.getFeedSkeleton?feed=" +
        java.net.URLEncoder.encode(feedUri(feed), "UTF-8") + s"&limit=$limit" +
        cursor.map(c => "&cursor=" + java.net.URLEncoder.encode(c, "UTF-8")).getOrElse("")
      val b = HttpRequest.newBuilder(URI.create(u)).GET()
      token.foreach(t => b.header("Authorization", s"Bearer $t"))
      val resp = http.send(b.build(), HttpResponse.BodyHandlers.ofString())
      val body = resp.body()
      val posts = ArrayBuffer.empty[String]
      val m = postRe.matcher(body)
      while (m.find()) posts += m.group(1)
      val c = cursorRe.matcher(body)
      (resp.statusCode(), posts.toSeq, if (c.find()) Some(c.group(1)) else None)
    }
  }

  /** Tracer bookkeeping: when each tracer was due to be sent, and when the
    * probe first saw it on the tracer feed's first page. */
  final class Tracers {
    val due = new ConcurrentHashMap[String, java.lang.Long]() // uri -> due nanoTime
    val seen = new ConcurrentHashMap[String, java.lang.Long]()
    def freshness(uris: Iterable[String]): Seq[Double] =
      uris.flatMap(u => Option(seen.get(u)).map(s => (s - due.get(u)) / 1e9)).toSeq
  }

  /** Polls the tracer feed in a closed loop (one connection): the first
    * page, and further pages while every post on a page is new, so a burst
    * of tracers landing in one batch is seen whole. */
  final class Probe(port: Int, tr: Tracers, tracer: Tracer) extends Thread("perfbench-probe") {
    setDaemon(true)
    @volatile var running = true
    val polls = new AtomicLong
    private val client = new Client(port)
    override def run(): Unit = while (running) {
      try {
        var cursor: Option[String] = None
        var more = true
        var pages = 0
        while (more && pages < 10) {
          val (status, posts, next) = tracer.span("probe.poll", polls.get) {
            client.page("tracer", 100, cursor)
          }
          val now = System.nanoTime()
          polls.incrementAndGet()
          pages += 1
          val fresh = if (status == 200) posts.count(u => tr.seen.putIfAbsent(u, now) == null) else 0
          more = fresh == posts.size && fresh > 0 && next.isDefined
          cursor = next
        }
      } catch { case _: Exception => () }
      // 20 polls a second: freshness is seconds, and a tighter loop only
      // takes CPU from the pipeline it measures
      Thread.sleep(50)
    }
    def finish(): Unit = { running = false; join(5000) }
  }

  def awaitSeen(tr: Tracers, uri: String, timeoutS: Double): Boolean = {
    val t0 = System.nanoTime()
    while (!tr.seen.containsKey(uri) && Stats.secs(t0) < timeoutS) Thread.sleep(5)
    tr.seen.containsKey(uri)
  }

  /** Appends frames to the stub at a fixed rate for `seconds`, whatever the
    * pipeline does; every `tracerEvery`-th frame is a tracer post, stamped
    * with the time it was due. */
  final class OpenLoop(gen: FeedGen, stub: WsStub, rate: Double, seconds: Double,
      tracerEvery: Int, tr: Tracers) extends Thread("perfbench-open-loop") {
    setDaemon(true)
    val liveTracers = ArrayBuffer.empty[String]
    @volatile var late = 0L // frames appended more than 50 ms behind schedule
    override def run(): Unit = {
      val t0 = System.nanoTime()
      val n = (rate * seconds).toLong
      var i = 0L
      while (i < n) {
        val due = t0 + (i * 1e9 / rate).toLong
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        else if (wait < -50000000L) late += 1
        val isTracer = i % tracerEvery == 0
        val (seq, bytes, p) = gen.next(isTracer)
        p.foreach { post => tr.due.put(post.uri, due); liveTracers += post.uri }
        stub.append(seq, bytes)
        i += 1
      }
    }
  }

  val ClosingFiller = 40

  /** Appends a closing tracer plus enough non-post filler for a cursor
    * write (the client flushes its spool at every 20th commit), so every
    * frame up to the closing tracer is ingested once the tracer shows. */
  def closeStream(gen: FeedGen, stub: WsStub, tr: Tracers): (String, Long) = {
    val (seq, bytes, p) = gen.next(tracer = true)
    tr.due.put(p.get.uri, System.nanoTime())
    stub.append(seq, bytes)
    (1 to ClosingFiller).foreach { _ => val (s, b, _) = gen.next(fillerOnly = true); stub.append(s, b) }
    (p.get.uri, seq)
  }

  /** Generated posts as PostView rows: the ground truth, built without the
    * decode path under test. */
  def postViews(spark: SparkSession, posts: Seq[GenPost]): DataFrame = {
    import spark.implicits._
    posts.map { p =>
      PostView(p.uri, p.cid, Author(p.did, None, None),
        PostRecord(Some(p.text), p.createdAt, Some(Seq(p.lang)),
          if (p.reply) Some(Reply(StrongRef("at://r/root", "cr"), StrongRef("at://r/parent", "cp"))) else None,
          p.alt.map(a => Embed(Some(Seq(Image(Some(a), None, None, None)))))),
        None)
    }.toDF()
  }

  /** Per feed, the posts the independent recomputation keeps: unscreened
    * FilterCascade.apply, then the newest `limitCount` by (indexedAt, cid). */
  def expected(spark: SparkSession, posts: DataFrame, conds: Seq[Condition]): DataFrame = {
    val matched = conds.map(c => graft.operators.FilterCascade.apply(posts, c, None)
      .withColumn("__limit", lit(c.limitCount))).reduce(_ unionByName _)
    val rn = row_number().over(org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
      .orderBy(col("indexedAt").desc, col("cid").desc))
    matched.withColumn("__rn", rn).filter(col("__rn") <= col("__limit")).select("key", "uri")
  }

  /** Streaming progress through the public listener API. */
  final class StreamStats extends StreamingQueryListener {
    final case class P(batchId: Long, rows: Long, durations: Map[String, Long])
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[P]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0 || p.batchId == 0)
        progress.add(P(p.batchId, p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
    def all: Seq[P] = progress.asScala.toSeq

    def report(r: Report, moves: String): Unit = {
      val ps = all.filter(_.rows > 0)
      def d(k: String): Seq[Double] = ps.flatMap(_.durations.get(k)).map(_.toDouble)
      def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
      r.put("stream.batches", ps.size, "count", moves)
      r.put("stream.batch_p50_ms", med(d("triggerExecution")), "ms", moves)
      r.put("stream.batch_p90_ms", if (ps.isEmpty) 0.0 else Stats.pct(d("triggerExecution"), 0.9), "ms", moves)
      r.put("stream.rows_per_batch", med(ps.map(_.rows.toDouble)), "rows", moves)
      r.put("stream.addBatch_ms", med(d("addBatch")), "ms", moves)
      r.put("stream.getBatch_latestOffset_ms", med(d("getBatch").zipAll(d("latestOffset"), 0.0, 0.0)
        .map { case (x, y) => x + y }), "ms", moves)
      r.put("stream.walCommit_ms", med(d("walCommit")), "ms", moves)
    }
  }

  /** ES256K service-JWT material: a fixed key per requester DID. */
  def keyPairs(n: Int): Seq[(String, BigInt, Array[Byte])] = (1 to n).map { i =>
    val priv = BigInt(1, java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"perfbench-key-$i".getBytes("UTF-8"))).mod(Secp256k1.N - 1) + 1
    (s"did:plc:reader$i", priv, Secp256k1.compress(Secp256k1.mul(Secp256k1.G, priv).get))
  }

  def storeStats(storeDir: String, rows: Long): (Long, Double) = {
    val files = Files.walk(java.nio.file.Paths.get(storeDir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
    val bytes = files.map(Files.size).sum
    (files.size.toLong, if (rows > 0) bytes.toDouble / rows else 0.0)
  }
}
