package graft.sources

import java.io.{BufferedReader, InputStreamReader, OutputStream}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Base64

/** Minimal RFC 6455 WebSocket SERVER for driving [[SubscribeReposClient]]
  * in-process: performs the upgrade handshake (Sec-WebSocket-Accept =
  * base64(sha1(key + magic GUID))), parses the `?cursor=N` query like the
  * real subscribeRepos endpoint, then streams the configured binary
  * frames with seq > cursor. The first connection can be told to DROP the
  * TCP socket after `dropAfter` frames — no close frame, the way a flaky
  * upstream dies — so reconnect + cursor resume is testable end-to-end.
  * An abrupt close can discard frames still in flight, so with
  * `dropWhenReceived` the drop waits until the client counts that latch
  * down, once per frame it has received.
  * Server frames are unmasked binary (opcode 0x2) per the RFC; a clean
  * end sends close (0x8, status 1000).
  */
final class SubscribeReposStub(frames: Seq[(Long, Array[Byte])],
    dropFirstConnectionAfter: Option[Int] = None,
    dropWhenReceived: Option[java.util.concurrent.CountDownLatch] = None,
    stallFirstConnection: Boolean = false) {

  private val server = new ServerSocket(0, 8, java.net.InetAddress.getLoopbackAddress)
  @volatile private var running = true
  @volatile var connections: List[Option[Long]] = Nil // observed cursors, latest first

  def port: Int = server.getLocalPort

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val s = server.accept()
        new Thread(() => handle(s), "ws-stub-conn").start()
      } catch { case _: Exception => () } // server closed
    }
  }, "ws-stub-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  private def handle(s: Socket): Unit = {
    try {
      val in = new BufferedReader(new InputStreamReader(s.getInputStream, StandardCharsets.US_ASCII))
      val requestLine = in.readLine()
      var key: String = null
      var line = in.readLine()
      while (line != null && line.nonEmpty) {
        val idx = line.indexOf(':')
        if (idx > 0 && line.substring(0, idx).equalsIgnoreCase("Sec-WebSocket-Key"))
          key = line.substring(idx + 1).trim
        line = in.readLine()
      }
      val cursor = Option(requestLine).flatMap { rl =>
        val path = rl.split(' ')(1)
        path.split('?').drop(1).headOption.flatMap(_.split('&')
          .collectFirst { case kv if kv.startsWith("cursor=") => kv.drop(7).toLong })
      }
      val isFirst = synchronized {
        connections = cursor :: connections
        connections.size == 1
      }

      val accept = Base64.getEncoder.encodeToString(MessageDigest.getInstance("SHA-1")
        .digest((key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").getBytes(StandardCharsets.US_ASCII)))
      val out = s.getOutputStream
      out.write(("HTTP/1.1 101 Switching Protocols\r\n" +
        "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
        s"Sec-WebSocket-Accept: $accept\r\n\r\n").getBytes(StandardCharsets.US_ASCII))
      out.flush()

      if (isFirst && stallFirstConnection) {
        // a hung upstream: handshake completes, then silence — no frames,
        // no close frame, the socket just sits there until torn down
        while (running && !s.isClosed) Thread.sleep(50)
        return
      }

      val toServe = frames.filter { case (seq, _) => cursor.forall(seq > _) }
      val limit = if (isFirst) dropFirstConnectionAfter.getOrElse(toServe.size) else toServe.size
      toServe.take(limit).foreach { case (_, bytes) => writeBinary(out, bytes) }

      if (isFirst && dropFirstConnectionAfter.isDefined) {
        dropWhenReceived.foreach(_.await(60, java.util.concurrent.TimeUnit.SECONDS))
        s.close() // abrupt TCP drop, no close frame
      } else {
        out.write(Array[Byte](0x88.toByte, 0x02, 0x03, 0xE8.toByte)) // close, 1000
        out.flush()
        Thread.sleep(200) // let the client read before teardown
        s.close()
      }
    } catch { case _: Exception => try s.close() catch { case _: Exception => () } }
  }

  private def writeBinary(out: OutputStream, payload: Array[Byte]): Unit = {
    out.write(0x82) // FIN + binary
    val n = payload.length
    if (n < 126) out.write(n)
    else if (n <= 0xFFFF) {
      out.write(126); out.write(n >> 8); out.write(n & 0xFF)
    } else {
      out.write(127)
      (7 to 0 by -1).foreach(i => out.write(((n.toLong >> (8 * i)) & 0xFF).toInt))
    }
    out.write(payload)
    out.flush()
  }

  def stop(): Unit = {
    running = false
    try server.close() catch { case _: Exception => () }
  }
}
