package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.Base64
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unbase64}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.Condition
import graft.serving.FeedServer
import graft.sources.{Firehose, SubscribeReposClient}
import graft.streaming.Ingest

/** The DURABLE deployment shape of [[LivePipeline]]: same composition
  * (subscribe → decode → cascade/upsert → serve,
  * /root/reference/src/index.ts + server.ts), but every piece of state
  * survives a process kill the way the reference's SQLite does
  * (/root/reference/src/db/index.ts:6-20):
  *
  *   - the resume CURSOR lives in files, a new one every `cursorEvery`
  *     commits (the reference's sub_state row, subscription.ts:48-51) — a
  *     restarted process redials `?cursor=<newest>` and the server
  *     replays everything after it;
  *   - raw frames land in a SPOOL of atomically-published text files
  *     (base64, one frame per line) — the single-socket edge writes
  *     plain files, and Spark's FileStreamSource turns them into
  *     micro-batches with exactly-once file tracking in the streaming
  *     CHECKPOINT (T4: strictly stronger than the reference's every-20
  *     stride). At cluster scale the spool seam is where Kafka slots in;
  *     the contract (append-only, atomically visible, replayable) is
  *     identical;
  *   - the POST STORE is the key-partitioned parquet dir of
  *     [[streaming.Ingest.start]] — `key = ?` serving reads prune to one
  *     partition, and replayed frames fall out of the anti-join dedup
  *     (at-least-once wire + idempotent upsert = effectively-once, T8).
  *
  * So a kill loses at most the un-flushed spool tail BEHIND the cursor,
  * which the server replays on redial: the cursor is only ever written
  * immediately after a spool flush (`flushThenWriteCursor`), so every
  * frame at or below the persisted cursor is durable, and replay from an
  * older cursor is harmless (idempotent upsert): nothing is lost, nothing
  * double-counted. Proven end-to-end by DurablePipelineSpec's
  * kill-and-restart, including the no-manual-flush crash window.
  *
  * CURSOR FILE FORMAT: `<dataDir>/cursor-<seq>`, holding `seq` in decimal.
  * A write creates `cursor-<seq>` and writes it in place, then keeps that
  * file and the newest one below it: it deletes the older ones, any higher
  * one (only a kill's partial write can be higher, as a complete one would
  * have been the redial point) and the single `cursor` file of the older
  * format. A read takes the highest seq whose file holds that same seq.
  * A partial write, empty or a prefix of the digits, never does, so it
  * falls back to the file before it (an older cursor only means more
  * replay); with no valid `cursor-<seq>` file the read takes the older
  * format's `cursor`.
  *
  * NO FILE ON THE INTAKE PATH IS OVERWRITTEN. On ext4 (default
  * `auto_da_alloc`), renaming over an existing name, or truncating a
  * non-empty file and writing it again, waits until the new data reaches
  * the disk; a rename to a new name does not. On a 4-core VM's ext4 disk
  * in its slow-flush periods the first two cost 15-40 ms each, the third
  * 0.02-0.3 ms (`tools/flush_probe.py` times the three). The cursor is
  * written on the WebSocket delivery thread, so while it was renamed over
  * one file, taking in a 1 000-frame backlog took 1.0-2.1 s there; with
  * new names it takes 13-27 ms, next to 5-16 ms for the bare JDK client.
  * For the same reason the spool publishes under unique names and the
  * store append writes no `_SUCCESS` marker
  * ([[streaming.Ingest.appendNew]]).
  *
  * DURABILITY CONTRACT: process-kill safe. A kill at any point leaves each
  * cursor file absent, partial (skipped by the read), or complete, and the persisted cursor never
  * runs ahead of the flushed spool. Nothing is fsync'd, so surviving a
  * power loss or an OS crash is not claimed.
  */
final class DurablePipeline(
    spark: SparkSession,
    conditions: Seq[Condition],
    cfg: FeedServer.Config,
    service: String,
    dataDir: String,
    profiles: Option[DataFrame] = None,
    cursorEvery: Int = 20,
    spoolFlushEvery: Int = 100,
    retentionEvery: Int = 0,
    adminPasskey: Option[String] = None) {

  private val root = Paths.get(dataDir)
  private val storeDir = root.resolve("store")
  private val checkpointDir = root.resolve("checkpoint")
  private val spoolDir = root.resolve("spool")
  private val legacyCursorPath = root.resolve("cursor")
  Files.createDirectories(spoolDir)

  // ---- cursor: a new file per write, never an overwrite (format and
  // reasons in the class doc)
  private val CursorName = """cursor-(\d+)""".r

  /** Every `cursor-<seq>` file: (seq, path). */
  private def cursorFiles(): List[(Long, Path)] = {
    val names = Files.list(root)
    try names.iterator().asScala.flatMap(p => p.getFileName.toString match {
      case CursorName(seq) => Some((seq.toLong, p))
      case _ => None
    }).toList
    finally names.close()
  }

  private def readLong(p: Path): Option[Long] =
    scala.util.Try(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong).toOption

  /** The highest seq whose file holds that same seq (a torn or foreign
    * file is skipped for the one before it); a data dir from before this
    * format resumes from its single `cursor` file. */
  private def readCursor(): Option[Long] =
    cursorFiles().sortBy(-_._1).collectFirst {
      case (seq, p) if readLong(p).contains(seq) => seq
    }.orElse(readLong(legacyCursorPath))

  private def writeCursor(seq: Long): Unit = {
    Files.write(root.resolve(s"cursor-$seq"), seq.toString.getBytes(StandardCharsets.UTF_8))
    val (higher, lower) = cursorFiles().filter(_._1 != seq).partition(_._1 > seq)
    ((higher ++ lower.sortBy(-_._1).drop(1)).map(_._2) :+ legacyCursorPath)
      .foreach(Files.deleteIfExists)
  }

  // ---- spool: frames buffer in memory and publish as one file per flush.
  // Files are written OUTSIDE spoolDir then moved in (FileStreamSource
  // must never list a partial file); names carry wall-millis + a counter
  // so a restarted process can never reuse a name the checkpoint already
  // recorded as processed.
  private val pendingFrames = new ArrayBuffer[Array[Byte]]()
  private val spoolSeq = new AtomicLong(0)

  /** Publish all buffered frames as one spool file; returns frames
    * flushed. Caller-driven (the drain loop / a spec), plus automatic
    * every `spoolFlushEvery` frames off the socket thread. */
  def flushSpool(): Int = pendingFrames.synchronized {
    if (pendingFrames.isEmpty) return 0
    val lines = pendingFrames.map(f => Base64.getEncoder.encodeToString(f)).mkString("\n")
    val n = pendingFrames.size
    pendingFrames.clear()
    val name = s"frames-${System.currentTimeMillis()}-${spoolSeq.getAndIncrement()}.txt"
    val tmp = root.resolve(name + ".tmp")
    Files.write(tmp, lines.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, spoolDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    n
  }

  private def offer(frame: Array[Byte]): Unit = {
    val flush = pendingFrames.synchronized {
      pendingFrames += frame
      pendingFrames.size >= spoolFlushEvery
    }
    if (flush) flushSpool()
  }

  /** Cursor writes must never outrun the spool: every frame at or below
    * `seq` has already been offered, so flushing the buffer first makes
    * them durable BEFORE the cursor advances past them. Without this a
    * hard kill after a cursor write but before the next size-triggered
    * flush would lose up to `spoolFlushEvery` frames permanently (the
    * restart redials `?cursor=seq`, and the server only replays > seq).
    * The reference has the same invariant the other way round: it
    * persists the event row before sub_state advances. */
  private def flushThenWriteCursor(seq: Long): Unit = {
    flushSpool()
    writeCursor(seq)
  }

  val client: SubscribeReposClient = new SubscribeReposClient(
    service = service,
    getCursor = () => readCursor(),
    updateCursor = flushThenWriteCursor,
    onFrame = offer,
    cursorEvery = cursorEvery)

  /** Per-feed cycle metrics (S12/F9): each micro-batch records its wall
    * time and captured counts — the reference's lastExecTime/recordCount
    * columns on the conditions row. */
  val metrics = new graft.model.ConditionMetrics
  // Publish the per-feed landed-batch counters to the store after every
  // recorded micro-batch ([[graft.streaming.CycleManifest]]): serving
  // replicas that don't run this drain read them back through
  // CycleManifest.replicaVersion, so their head caches invalidate
  // per-feed exactly like this process's in-process token does.
  // The write itself runs on the AsyncPublisher's worker, OFF the
  // record() lock — a slow store (object-store latency spike) delays
  // replica visibility by that latency, never the drain's next batch;
  // monotone publication is preserved (latest-wins subsequence).
  private val cycleWriter = new graft.streaming.CycleManifest.Writer(storeDir.toString)
  private val cyclePublisher =
    new graft.streaming.CycleManifest.AsyncPublisher(cycleWriter.persist)
  metrics.persistWith(cyclePublisher.submit)

  /** LIVE control plane: the serving tier's admin CRUD mutates it and the
    * NEXT micro-batch picks the change up, the reference's
    * reload-per-cycle semantics (subscription.ts:133-137, 409-412). */
  val control = new graft.model.ControlPlane(conditions)
  metrics.attach(control) // getQuery reports each cycle's metrics

  /** Serving head cache (see [[graft.serving.FeedHeadCache]]): in-head
    * pages take zero Spark actions. The per-feed version token is the
    * versioned store's pointer PLUS the feed's landed-batch counter —
    * appends land in the current version dir without flipping the
    * pointer, so the counter (bumped per recorded micro-batch, only for
    * the feeds it landed rows for, search backfills included) is what
    * invalidates a feed's head after a drain; compaction and admin
    * deletes flip the pointer itself. Feeds a drain did not touch keep
    * their heads. */
  val headCache = new graft.serving.FeedHeadCache(spark,
    // per-feed-scoped read: a head (re)build lists ONE key= directory,
    // not the whole store root (whose listing grows with feed count and
    // straggler append files — the replica sitting measured ~1.6 s per
    // whole-root build over 1000 feeds vs milliseconds scoped)
    key => Ingest.readStoreKey(spark, storeDir.toString, key),
    // "_root" = the never-swapped fresh store (appends land at the root
    // until the first compaction creates a version)
    key => Some(graft.streaming.VersionedStore
      .currentVersion(new org.apache.hadoop.fs.Path(storeDir.toString))
      .getOrElse("_root") + ":" + metrics.keyCycle(key)))

  val server: FeedServer =
    new FeedServer(spark, () => Ingest.readStore(spark, storeDir.toString),
      () => control.conditions, cfg,
      admin = Some(FeedServer.Admin(control,
        deletePosts = key => Ingest.deleteKey(spark, storeDir.toString, key),
        passkey = adminPasskey)),
      headCache = Some(headCache))

  @volatile private var queryOpt: Option[StreamingQuery] = None
  def query: StreamingQuery = queryOpt.getOrElse(
    throw new IllegalStateException("pipeline not started"))

  /** Start subscription + streaming ingest + HTTP serving; returns the
    * bound HTTP port. On a restart the streaming query resumes from the
    * checkpoint (skipping spool files it already ingested) and the client
    * redials from the newest cursor file. */
  def start(reconnectDelayMs: Long = 3000, maxRestarts: Int = Int.MaxValue,
      idleTimeoutMs: Long = 60000): Int = {
    val frames = spark.readStream
      // processed spool files are deleted once the checkpoint has
      // committed them, so the spool dir stays bounded over a long run
      .option("cleanSource", "delete")
      .text(spoolDir.toString)
      .select(unbase64(col("value")).as("frame"))
    val posts = Firehose.postViews(Firehose.decodeCborFrames(frames))
    queryOpt = Some(Ingest.startDynamic(spark, posts, () => control.conditions,
      profiles, storeDir.toString, checkpointDir.toString, retentionEvery,
      metrics = Some(metrics)))
    client.start(reconnectDelayMs, maxRestarts, idleTimeoutMs)
    server.start()
  }

  /** Initial backfill for feeds with no stored rows yet (T2): cascade a
    * searchPosts read, cap each new feed at its `initPost` newest matches,
    * dedup against the parquet store, append. Idempotent — a second call
    * appends nothing. */
  def backfillFromSearch(searchHits: DataFrame): Long = {
    val posts = Firehose.searchHitsAsPostViews(searchHits)
    // The store lock makes the snapshot-read → dedup → append sequence
    // atomic with respect to in-flight streaming micro-batches: without
    // it a post arriving via both the firehose and this backfill in the
    // same window would pass both point-in-time anti-joins and be
    // inserted twice, breaking the effectively-once invariant.
    val t0 = System.nanoTime()
    graft.streaming.VersionedStore.withStoreLock(storeDir.toString) {
      val conditions = control.conditions
      val fresh = Ingest.backfill(spark, Ingest.readStore(spark, storeDir.toString),
        posts, conditions, profiles)
      // the reference's initial run stamps the conditions row too
      // (subscription.ts:210,370-378): backfilled feeds get this run's
      // wall time and their captured counts, so getQuery reports them
      // without waiting for the next streaming cycle
      Ingest.appendNew(storeDir.toString, fresh, t0, Some(metrics),
        perKey => conditions.filter(c => perKey.contains(c.key)))()
    }
  }

  /** Barrier for replicas/specs that need the LAST recorded batch's
    * counters visible in the store: waits out the async publisher's
    * pending + in-flight snapshot (true), or times out (false). */
  def flushCycleManifest(timeoutMs: Long = 10000L): Boolean =
    cyclePublisher.flush(timeoutMs)

  def storedCursor: Long = readCursor().getOrElse(-1L)
  def storedRows: Long = Ingest.readStore(spark, storeDir.toString).count()

  def stop(): Unit = {
    client.stop()
    flushSpool()
    queryOpt.foreach(_.stop())
    cyclePublisher.close() // flush the last counters for replicas
    server.stop()
  }

  /** Test hook simulating a HARD KILL: stop everything and DISCARD any
    * frames still buffered in memory — exactly what a real kill loses.
    * The durability claim under test is that a restart over the same
    * dataDir still converges with zero loss, because the persisted
    * cursor never outruns the flushed spool. */
  def crash(): Unit = {
    client.stop()
    pendingFrames.synchronized(pendingFrames.clear())
    queryOpt.foreach(_.stop())
    // discard any pending manifest snapshot — the loss a real kill has
    // (benign: the restarted drain's next record re-persists counters)
    cyclePublisher.close(flushPending = false)
    server.stop()
  }
}
