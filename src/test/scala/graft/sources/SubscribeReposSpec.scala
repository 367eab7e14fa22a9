package graft.sources

import graft.SparkSpec

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicLong

/** End-to-end wire test: a real RFC 6455 handshake + binary frames from
  * an in-process server ([[SubscribeReposStub]]), the JDK WebSocket
  * client ([[SubscribeReposClient]]), real DAG-CBOR/CARv1 commit frames,
  * and [[Firehose.decodeCborFrames]] on the Spark side — including a
  * forced mid-stream TCP drop with cursor-resumed reconnect
  * (subscription.ts:39-56).
  */
class SubscribeReposSpec extends SparkSpec {

  import WireFixtures.commitFrame

  // generous: the suite runs in parallel with Spark jobs saturating all
  // cores, and a starved callback thread once pushed a 10-frame session
  // past 20s — the wait only binds on failure or a heavily-loaded box
  private def runClient(stub: SubscribeReposStub, cursorEvery: Int,
      maxWaitMs: Long = 120000, received: CountDownLatch = new CountDownLatch(0))
      : (Seq[Array[Byte]], AtomicLong, SubscribeReposClient) = {
    val frames = new ConcurrentLinkedQueue[Array[Byte]]()
    val cursor = new AtomicLong(-1L)
    val client = new SubscribeReposClient(
      service = s"ws://127.0.0.1:${stub.port}",
      getCursor = () => Option(cursor.get()).filter(_ >= 0),
      updateCursor = cursor.set,
      onFrame = { f => frames.add(f); received.countDown() },
      cursorEvery = cursorEvery)
    // short idle watchdog: the JDK WebSocket has been observed to swallow
    // an abrupt EOF entirely (no onError, no onClose) — the watchdog turns
    // that into a normal reconnect instead of a parked receive loop
    client.start(reconnectDelayMs = 100, maxRestarts = 3, idleTimeoutMs = 5000)
    assert(client.awaitStopped(maxWaitMs),
      s"client did not finish in time: restarts=${client.restarts} " +
        s"error=${client.error} frames=${frames.size} connections=${stub.connections}")
    (frames.toArray(Array.empty[Array[Byte]]).toSeq, cursor, client)
  }

  test("subscribes, receives real CBOR frames over a real websocket, stores the cursor") {
    val frames = (1L to 10L).map(i => i -> commitFrame(i))
    val stub = new SubscribeReposStub(frames)
    try {
      val (received, cursor, client) = runClient(stub, cursorEvery = 2)
      assert(client.restarts == 0 && client.error.isEmpty, client.error.toString)
      assert(received.size == 10)
      assert(cursor.get() == 10L) // every-2 cadence lands on the last seq
      assert(stub.connections == List(None)) // first dial has no cursor param

      // the received bytes decode through the SAME distributed path
      val s = spark
      import s.implicits._
      val decoded = Firehose.decodeCborFrames(received.toDF("frame"))
      val seqs = decoded.select("seq").collect().map(_.getLong(0)).sorted.toSeq
      assert(seqs == (1L to 10L))
    } finally stub.stop()
  }

  test("mid-stream TCP drop: reconnects with ?cursor=N and resumes; ingest stays exactly-once") {
    val frames = (1L to 10L).map(i => i -> commitFrame(i))
    // first connection dies abruptly after 4 frames (cursor stored at 4)
    val got4 = new CountDownLatch(4)
    val stub = new SubscribeReposStub(frames, dropFirstConnectionAfter = Some(4),
      dropWhenReceived = Some(got4))
    try {
      val (received, cursor, client) = runClient(stub, cursorEvery = 2, received = got4)
      assert(client.restarts == 1, s"expected exactly one reconnect, got ${client.restarts}")
      assert(cursor.get() == 10L)
      // second dial carried the resume cursor the first connection stored
      assert(stub.connections.reverse == List(None, Some(4L)), stub.connections.toString)
      // no frame lost: 4 before the drop + 6 replayed-from-cursor
      assert(received.size == 10)

      val s = spark
      import s.implicits._
      val decoded = Firehose.decodeCborFrames(received.toDF("frame"))
      val seqs = decoded.select("seq").collect().map(_.getLong(0)).sorted.toSeq
      assert(seqs == (1L to 10L), "at-least-once stream must cover every seq")
      // the idempotent upsert boundary: distinct uris == one post per commit
      assert(decoded.select("uri").distinct().count() == 10L)
    } finally stub.stop()
  }

  test("idle watchdog recovers a hung upstream that sends nothing at all") {
    // the failure the listener callbacks cannot see: handshake completes,
    // then total silence — no frames, no close, no error. The watchdog
    // must abort the dial and reconnect; the second connection serves.
    val frames = (1L to 6L).map(i => i -> commitFrame(i))
    val stub = new SubscribeReposStub(frames, stallFirstConnection = true)
    try {
      val received = new ConcurrentLinkedQueue[Array[Byte]]()
      val cursor = new AtomicLong(-1L)
      val client = new SubscribeReposClient(
        service = s"ws://127.0.0.1:${stub.port}",
        getCursor = () => Option(cursor.get()).filter(_ >= 0),
        updateCursor = cursor.set,
        onFrame = received.add(_),
        cursorEvery = 2)
      client.start(reconnectDelayMs = 100, maxRestarts = 3, idleTimeoutMs = 1000)
      assert(client.awaitStopped(120000),
        s"client stuck on the hung upstream: restarts=${client.restarts} error=${client.error}")
      assert(client.restarts == 1, s"expected one watchdog-driven redial, got ${client.restarts}")
      assert(client.error.exists(_.getMessage.contains("idle timeout")), client.error.toString)
      assert(received.size == 6 && cursor.get() == 6L)
    } finally stub.stop()
  }

  test("cursor cadence replays the uncommitted tail after a drop; dedup absorbs it") {
    val frames = (1L to 10L).map(i => i -> commitFrame(i))
    // drop after 5 frames with cursor cadence 2 → cursor stuck at 4, frame 5 replays
    // the drop fires once the client has all 5: an earlier drop can lose
    // frame 5 in flight, and then it arrives only once
    val got5 = new CountDownLatch(5)
    val stub = new SubscribeReposStub(frames, dropFirstConnectionAfter = Some(5),
      dropWhenReceived = Some(got5))
    try {
      val (received, _, client) = runClient(stub, cursorEvery = 2, received = got5)
      assert(client.restarts == 1)
      assert(stub.connections.reverse == List(None, Some(4L)))
      assert(received.size == 11) // 5 + replayed 5..10: frame 5 arrives twice

      val s = spark
      import s.implicits._
      val decoded = Firehose.decodeCborFrames(received.toDF("frame"))
      assert(decoded.count() == 11)
      // exactness is downstream: distinct on the upsert key collapses the replay
      assert(decoded.select("uri").distinct().count() == 10L)
    } finally stub.stop()
  }
}
