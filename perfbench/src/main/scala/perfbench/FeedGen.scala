package perfbench

import java.io.{BufferedOutputStream, BufferedReader, InputStreamReader, OutputStream}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Base64
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import graft.sources.Cbor
import graft.sources.Cbor._

/** One generated post, as the generator knows it (the ground truth the
  * output checks compare against). */
final case class GenPost(seq: Long, did: String, rkey: String, cid: String, text: String,
    createdAt: String, lang: String, reply: Boolean, alt: Option[String]) {
  def uri: String = s"at://$did/app.bsky.feed.post/$rkey"
}

/** Seeded synthetic firehose: real DAG-CBOR `#commit` frames whose `blocks`
  * field is a CARv1 archive (CIDv1, dag-cbor, sha2-256), one repo op per
  * commit. Most commits are likes, reposts and follows; posts follow
  * ScaleSmoke.postViews (filler words around one `topic<k>` token, replies,
  * Spanish, image ALT text) plus non-ASCII and emoji text; a share of
  * posts is redelivered under a later seq (same uri and cid), so the
  * dedup anti-join has rows to discard; tracer posts carry `ptracer` and
  * match only the tracer feed. */
final class FeedGen(seed: Long, zipfTopics: Boolean = false, startSeq: Long = 0L) {
  private val rnd = new java.util.Random(seed)
  private var seq = startSeq
  private var tracers = 0L
  private val epochMs = java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli
  val posts = ArrayBuffer.empty[GenPost] // distinct posts, first delivery order
  private val redeliverable = ArrayBuffer.empty[GenPost]
  val redelivered = new AtomicLong

  private val zipfCdf: Array[Double] = {
    val w = (1 to 1200).map(i => 1.0 / math.pow(i, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def topic(): Int =
    if (!zipfTopics) rnd.nextInt(1200)
    else {
      val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
      math.min(1199, if (i >= 0) i else -i - 1)
    }

  private def did(): String = s"did:plc:u${rnd.nextInt(5000)}"
  private def createdAt(s: Long): String =
    java.time.Instant.ofEpochMilli(epochMs + s * 10).toString

  private def cidOf(data: Array[Byte]): Array[Byte] =
    Array[Byte](0x01, 0x71.toByte, 0x12, 32) ++ MessageDigest.getInstance("SHA-256").digest(data)
  private def link(cid: Array[Byte]): Value = CTag(42, CBytes(0x00.toByte +: cid))

  private def car(block: Array[Byte]): Array[Byte] = {
    val header = Writer.encode(CMap(Vector("version" -> CInt(1), "roots" -> CArr(Vector.empty))))
    val out = new java.io.ByteArrayOutputStream()
    out.write(VarInt.write(header.length)); out.write(header)
    val cid = cidOf(block)
    out.write(VarInt.write(cid.length + block.length)); out.write(cid); out.write(block)
    out.toByteArray
  }

  private def frame(s: Long, repo: String, path: String, record: Array[Byte]): Array[Byte] = {
    val header = Writer.encode(CMap(Vector("op" -> CInt(1), "t" -> CText("#commit"))))
    val body = Writer.encode(CMap(Vector(
      "seq" -> CInt(s), "repo" -> CText(repo),
      "ops" -> CArr(Vector(CMap(Vector(
        "action" -> CText("create"), "path" -> CText(path), "cid" -> link(cidOf(record)))))),
      "blocks" -> CBytes(car(record)))))
    header ++ body
  }

  private def postRecord(p: GenPost): Array[Byte] = {
    val fields = Vector(
      "$type" -> CText("app.bsky.feed.post"), "text" -> CText(p.text),
      "createdAt" -> CText(p.createdAt), "langs" -> CArr(Vector(CText(p.lang)))) ++
      (if (p.reply) Vector("reply" -> CMap(Vector(
        "root" -> CMap(Vector("uri" -> CText("at://r/root"), "cid" -> CText("cr"))),
        "parent" -> CMap(Vector("uri" -> CText("at://r/parent"), "cid" -> CText("cp"))))))
      else Vector.empty) ++
      p.alt.map(a => "embed" -> CMap(Vector("$type" -> CText("app.bsky.embed.images"),
        "images" -> CArr(Vector(CMap(Vector("alt" -> CText(a)))))))).toVector
    Writer.encode(CMap(fields))
  }

  private def newPost(s: Long, tracer: Boolean): GenPost = {
    val d = did()
    val rkey = s"3k$s"
    if (tracer) {
      tracers += 1
      return GenPost(s, d, rkey, "", s"ptracer t$tracers probe", createdAt(s), "en",
        reply = false, alt = None)
    }
    val words = (0 until 8).map(_ => s"w${rnd.nextInt(20000)}").mkString(" ")
    val t = topic()
    val extra = rnd.nextInt(20) match {
      case 0 | 1 => " café naïve 日本語の投稿"
      case 2 => " 🧶 ✨"
      case _ => ""
    }
    GenPost(s, d, rkey, "", s"$words topic$t $words$extra", createdAt(s),
      if (rnd.nextInt(5) == 0) "es" else "en", reply = rnd.nextInt(10) == 0,
      alt = if (rnd.nextInt(20) == 0) Some(s"alt topic${topic()}") else None)
  }

  private def withCid(p: GenPost): GenPost = {
    val rec = postRecord(p)
    p.copy(cid = Cbor.cidToString(cidOf(rec)))
  }

  /** A post that is never framed (prebuilt stores). */
  def post(): GenPost = {
    seq += 1
    val p = withCid(newPost(seq, tracer = false))
    posts += p
    p
  }

  /** The next frame of the stream: (seq, bytes, the post if a tracer);
    * `fillerOnly` frames are likes, reposts or follows. */
  def next(tracer: Boolean = false, fillerOnly: Boolean = false): (Long, Array[Byte], Option[GenPost]) = {
    seq += 1
    val s = seq
    if (tracer) {
      val p = withCid(newPost(s, tracer = true))
      posts += p
      return (s, frame(s, p.did, s"app.bsky.feed.post/${p.rkey}", postRecord(p)), Some(p))
    }
    rnd.nextInt(100) match {
      case r if r < 25 && !fillerOnly =>
        val p = withCid(newPost(s, tracer = false))
        posts += p
        if (redeliverable.size < 4096) redeliverable += p
        else redeliverable(rnd.nextInt(4096)) = p
        (s, frame(s, p.did, s"app.bsky.feed.post/${p.rkey}", postRecord(p)), None)
      case r if r < 30 && redeliverable.nonEmpty && !fillerOnly =>
        // the same post (uri, cid, record) delivered again under a new seq
        val p = redeliverable(rnd.nextInt(redeliverable.size))
        redelivered.incrementAndGet()
        (s, frame(s, p.did, s"app.bsky.feed.post/${p.rkey}", postRecord(p)), None)
      case r =>
        val d = did()
        val (coll, rec) =
          if (r < 70) "app.bsky.feed.like" -> CMap(Vector("$type" -> CText("app.bsky.feed.like"),
            "subject" -> CMap(Vector("uri" -> CText(s"at://${did()}/app.bsky.feed.post/3k${rnd.nextInt(100000)}"),
              "cid" -> CText("bafy"))), "createdAt" -> CText(createdAt(s))))
          else if (r < 85) "app.bsky.feed.repost" -> CMap(Vector("$type" -> CText("app.bsky.feed.repost"),
            "subject" -> CMap(Vector("uri" -> CText(s"at://${did()}/app.bsky.feed.post/3k${rnd.nextInt(100000)}"),
              "cid" -> CText("bafy"))), "createdAt" -> CText(createdAt(s))))
          else "app.bsky.graph.follow" -> CMap(Vector("$type" -> CText("app.bsky.graph.follow"),
            "subject" -> CText(did()), "createdAt" -> CText(createdAt(s))))
        (s, frame(s, d, s"$coll/3k$s", Writer.encode(rec)), None)
    }
  }
}

/** A local `com.atproto.sync.subscribeRepos` server (RFC 6455): answers the
  * upgrade handshake, reads `?cursor=N`, and streams every logged frame
  * with seq > cursor, then keeps streaming frames as they are appended —
  * so a generator appending on a schedule makes an open-loop source that
  * never waits for the consumer. */
final class WsStub {
  private val server = new ServerSocket(0, 8, java.net.InetAddress.getLoopbackAddress)
  private val log = ArrayBuffer.empty[(Long, Array[Byte])]
  @volatile private var running = true
  val sent = new AtomicLong
  private val conns = java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()

  def port: Int = server.getLocalPort
  def url: String = s"ws://127.0.0.1:$port"

  def append(seq: Long, bytes: Array[Byte]): Unit = log.synchronized {
    log += (seq -> bytes)
    log.notifyAll()
  }
  /** Frames that all become visible at once, as a backlog behind the
    * cursor does when a client redials. */
  def appendAll(frames: Seq[(Long, Array[Byte])]): Unit = log.synchronized {
    log ++= frames
    log.notifyAll()
  }
  def lastSeq: Long = log.synchronized(log.lastOption.map(_._1).getOrElse(0L))

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val s = server.accept()
        conns.add(s)
        val t = new Thread(() => handle(s), "perfbench-ws-conn")
        t.setDaemon(true)
        t.start()
      } catch { case _: Exception => () }
    }
  }, "perfbench-ws-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  private def handle(s: Socket): Unit = try {
    val in = new BufferedReader(new InputStreamReader(s.getInputStream, StandardCharsets.US_ASCII))
    val requestLine = in.readLine()
    var key = ""
    var line = in.readLine()
    while (line != null && line.nonEmpty) {
      val i = line.indexOf(':')
      if (i > 0 && line.substring(0, i).equalsIgnoreCase("Sec-WebSocket-Key"))
        key = line.substring(i + 1).trim
      line = in.readLine()
    }
    val cursor = Option(requestLine).flatMap(_.split(' ')(1).split('?').drop(1).headOption)
      .flatMap(_.split('&').collectFirst { case kv if kv.startsWith("cursor=") => kv.drop(7).toLong })
      .getOrElse(0L)
    val accept = Base64.getEncoder.encodeToString(MessageDigest.getInstance("SHA-1")
      .digest((key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").getBytes(StandardCharsets.US_ASCII)))
    val out = new BufferedOutputStream(s.getOutputStream, 1 << 16)
    out.write(("HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n" +
      s"Connection: Upgrade\r\nSec-WebSocket-Accept: $accept\r\n\r\n").getBytes(StandardCharsets.US_ASCII))
    out.flush()
    // first log index past the cursor
    var i = log.synchronized(log.indexWhere(_._1 > cursor) match { case -1 => log.size; case n => n })
    while (running && !s.isClosed) {
      val batch = log.synchronized {
        while (running && i >= log.size) log.wait(50)
        val b = log.slice(i, log.size).toVector
        i += b.size
        b
      }
      batch.foreach { case (_, bytes) => writeBinary(out, bytes) }
      out.flush()
      sent.addAndGet(batch.size)
    }
  } catch { case _: Exception => () }
  finally { try s.close() catch { case _: Exception => () }; conns.remove(s) }

  private def writeBinary(out: OutputStream, payload: Array[Byte]): Unit = {
    out.write(0x82)
    val n = payload.length
    if (n < 126) out.write(n)
    else if (n <= 0xFFFF) { out.write(126); out.write(n >> 8); out.write(n & 0xFF) }
    else { out.write(127); (7 to 0 by -1).foreach(k => out.write(((n.toLong >> (8 * k)) & 0xFF).toInt)) }
    out.write(payload)
  }

  def stop(): Unit = {
    running = false
    try server.close() catch { case _: Exception => () }
    scala.jdk.CollectionConverters.SetHasAsScala(conns).asScala.foreach(c =>
      try c.close() catch { case _: Exception => () })
    log.synchronized(log.notifyAll())
  }
}

object FrameGen {
  /** Decoding the generated frames with Firehose.decodeCborFrames +
    * postViews recovers every generated post's uri and text, each once. */
  def check(spark: org.apache.spark.sql.SparkSession, r: Report, frames: Seq[Array[Byte]],
      posts: Seq[GenPost]): Unit = {
    import spark.implicits._
    val got = graft.sources.Firehose.postViews(graft.sources.Firehose.decodeCborFrames(
      frames.toDF("frame"))).select($"uri", $"record.text").distinct().as[(String, String)]
      .collect().toSet
    val want = posts.map(p => (p.uri, p.text)).toSet
    r.check(got == want, s"frame decode: ${(want -- got).size} posts not recovered, " +
      s"${(got -- want).size} unexpected")
  }
}
