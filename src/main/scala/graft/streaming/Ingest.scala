package graft.streaming

import graft.model.{Condition, Post}
import graft.operators.{FilterCascade, Upsert}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The ingest plane: micro-batched PostView stream → filter-cascade fan-out
  * over ALL standing conditions → anti-join dedup upsert → per-feed
  * retention (/root/reference/src/subscription.ts:114-412 re-expressed as
  * Structured Streaming foreachBatch — SURVEY.md §3.2/§7.1).
  *
  * Store layout: parquet partitioned by feed `key` — the serving path's
  * `key = ?` filter becomes partition pruning. Offset tracking is Spark's
  * checkpointLocation (strictly stronger than the reference's every-20-
  * events sub_state stride, SURVEY T4). Late/out-of-order events are
  * accepted unconditionally (no watermark BY DESIGN, SURVEY T7): retention
  * is count-based, not time-based.
  *
  * At 100 TB the parquet store swaps for a Delta/Iceberg table and the
  * rewrite in `retentionCompact` becomes a MERGE/DELETE; every dataflow
  * here is already shuffle-minimal (broadcast dims, anti-join on key).
  */
object Ingest {

  val postSchema = Encoders.product[Post].schema

  /** One lock per store directory (normalized), JVM-wide. Every
    * read-modify-write of a store — the streaming sink's dedup+append, the
    * rewrite-and-swap compactions/deletes, and the backfill's dedup+append
    * — takes this lock, because each one reads a point-in-time snapshot and
    * then mutates the same files: an unsynchronized append between a
    * `kept` read and a version GC would be silently destroyed, and
    * two concurrent dedups against the same snapshot would double-insert.
    * The reference gets this for free from SQLite's single writer; a
    * Delta/Iceberg store at scale gets it from optimistic commit — this is
    * the parquet-harness equivalent. Spark task threads never take the
    * lock, so holding it across a job is deadlock-free. */
  private[graft] def lockFor(storeDir: String): Object =
    VersionedStore.lockFor(storeDir)

  /** The cross-process form ([[VersionedStore.withStoreLock]]): JVM
    * monitor + OS advisory file lock, re-entrant per thread. */
  private def locked[T](storeDir: String)(body: => T): T =
    VersionedStore.withStoreLock(storeDir)(body)

  def emptyStore(spark: SparkSession): DataFrame =
    // an empty LOCAL relation, not an empty RDD: Catalyst can prove it
    // empty, so PropagateEmptyRelation deletes the dedup anti-join (and
    // its whole shuffle) from first-batch/bootstrap plans
    spark.createDataFrame(java.util.Collections.emptyList[Row](), postSchema)

  // ---- store versioning: the [[VersionedStore]] version-dir +
  // pointer-flip pattern. Legacy layout (parquet directly under the root,
  // the specs' seeding shape) reads as-is until the first rewrite
  // versions it.
  /** The directory holding the store's CURRENT version files; appends and
    * reads both resolve through here. */
  private[graft] def versionDir(storeDir: String): String =
    VersionedStore.versionDir(storeDir)

  /** Land `kept` as the store's next version via [[VersionedStore.swap]].
    * Caller holds the store lock. The legacy matcher names ONLY the
    * pre-versioning parquet layout this store itself wrote (key=*
    * partition dirs, _SUCCESS + its crc, bare part files). */
  private def swapStore(storeDir: String, kept: DataFrame): Unit =
    VersionedStore.swap(storeDir,
      tmp => kept.write.mode("overwrite").partitionBy("key").parquet(tmp.toString),
      isLegacy = n => n.startsWith("key=") || n == "_SUCCESS" ||
        n == "._SUCCESS.crc" || n.startsWith("part-") || n.startsWith(".part-"))

  def readStore(spark: SparkSession, storeDir: String): DataFrame = {
    val vd = versionDir(storeDir)
    // listNames is empty for a missing dir too — one namespace call
    if (StoreFs.listNames(StoreFs.path(vd)).nonEmpty)
      spark.read.schema(postSchema).parquet(vd)
    else emptyStore(spark)
  }

  /** ONE feed's slice of the store, resolved through the same pointer —
    * for the serving plane's per-feed work (head-block builds, page
    * fallbacks), where [[readStore]]'s whole-root file listing is the
    * dominant cost: a head rebuild only needs `key=<feed>`'s files, but
    * a fresh whole-store read lists EVERY feed's directory plus every
    * straggler append file first (measured on the two-JVM replica
    * sitting: ~1.6 s per build over 1000 feeds + 358 drain appends,
    * vs ~milliseconds for the one-directory listing — and the gap
    * widens linearly with feed count). `basePath` keeps the partition
    * column, so the frame is plan-compatible with the whole-store read;
    * a feed with no rows yet reads as the empty store. */
  def readStoreKey(spark: SparkSession, storeDir: String, key: String): DataFrame = {
    val vd = versionDir(storeDir)
    val part = new org.apache.hadoop.fs.Path(vd,
      "key=" + org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(key)).toString
    if (StoreFs.listNames(StoreFs.path(part)).nonEmpty)
      spark.read.option("basePath", vd).schema(postSchema).parquet(part)
    else {
      // distinguish "feed has no rows" (key-partitioned layout, empty
      // slice) from a LEGACY unpartitioned store, where key= dirs never
      // exist and the whole-store read is the only correct one — one
      // non-recursive namespace listing, paid only on this miss path
      val names = StoreFs.listNames(StoreFs.path(vd))
      if (names.isEmpty || names.exists(_.startsWith("key="))) emptyStore(spark)
      else readStore(spark, storeDir)
    }
  }

  /** One micro-batch: cascade fan-out then dedup against the store.
    * Effectively-once regardless of redelivery (T8): replayed rows fall out
    * of the anti-join. */
  def processBatch(spark: SparkSession, stored: DataFrame, batch: DataFrame,
      conditions: Seq[Condition], profiles: Option[DataFrame]): DataFrame = {
    val candidates = FilterCascade.fanOutScreened(spark, batch, conditions, profiles)
    Upsert.newRows(stored, candidates, Seq("uri", "key"))
  }

  /** The one store append, shared by the stream sink and the search
    * backfill: materialize `fresh` once, count it per feed, append it, run
    * `afterAppend`, then record the cycle's wall time (since `t0`) and
    * counts on `metrics` for the conditions `recordFor` picks from the
    * per-feed counts.
    * Caller holds the store lock. Returns the rows appended.
    *
    * The materialization is an eager `localCheckpoint`, never `persist()`:
    * a cached plan over the store path would make the append refresh it,
    * which lists the whole store a second time ([[graft.GraftSession]]).
    * The checkpoint reads nothing from the store, and its partitions are
    * the ones AQE coalesced, so a batch writes one file per feed it
    * touches. Its RDD is freed once the append has landed.
    *
    * The append writes no `_SUCCESS` marker. The committer would otherwise
    * rewrite `_SUCCESS` and its `._SUCCESS.crc` in the store root on every
    * batch, and truncating a non-empty file to write it again waits on the
    * disk's flush on ext4 ([[graft.DurablePipeline]]'s class doc). Nothing
    * reads the marker: Spark's listing skips `_`-prefixed names, and
    * [[swapStore]]'s legacy matcher still sweeps the markers older appends
    * left. */
  private[graft] def appendNew(storeDir: String, fresh: DataFrame, t0: Long,
      metrics: Option[graft.model.ConditionMetrics],
      recordFor: Map[String, Long] => Seq[Condition])(afterAppend: => Unit = ()): Long = {
    val rows = fresh.localCheckpoint()
    try {
      val perKey = rows.groupBy("key").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val n = perKey.values.sum
      if (n > 0) rows.write.mode("append")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .partitionBy("key").parquet(versionDir(storeDir))
      afterAppend
      metrics.foreach(_.record(recordFor(perKey), perKey,
        math.max(1L, (System.nanoTime() - t0) / 1000000L)))
      n
    } finally rows.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
    }
  }

  /** Start the streaming ingest: every micro-batch appends its surviving
    * new rows to the keyed store; with `retentionEvery` > 0 the count-based
    * cap (S11) runs after every Nth batch — the reference applies it every
    * cycle (subscription.ts:379-393). With `metrics` set, each cycle's
    * wall time and captured-row counts land on the per-feed
    * [[graft.model.ConditionMetrics]] row (S12/F9, subscription.ts:374). */
  def start(spark: SparkSession, stream: DataFrame, conditions: Seq[Condition],
      profiles: Option[DataFrame], storeDir: String, checkpointDir: String,
      retentionEvery: Int = 0,
      metrics: Option[graft.model.ConditionMetrics] = None): StreamingQuery =
    startDynamic(spark, stream, () => conditions, profiles, storeDir,
      checkpointDir, retentionEvery, metrics)

  /** [[start]] with a LIVE condition supplier, re-read at every
    * micro-batch — the reference's reload loop re-selects the whole
    * conditions table each cycle (subscription.ts:133-137), so an admin
    * CRUD takes effect on the NEXT cycle without a restart. */
  def startDynamic(spark: SparkSession, stream: DataFrame,
      conditionsFn: () => Seq[Condition],
      profiles: Option[DataFrame], storeDir: String, checkpointDir: String,
      retentionEvery: Int = 0,
      metrics: Option[graft.model.ConditionMetrics] = None): StreamingQuery = {
    val sink: (Dataset[Row], Long) => Unit = { (batch, batchId) =>
      val t0 = System.nanoTime()
      val conditions = conditionsFn()
      locked(storeDir) {
        val fresh = processBatch(spark, readStore(spark, storeDir), batch, conditions, profiles)
        appendNew(storeDir, fresh, t0, metrics, _ => conditions) {
          if (retentionEvery > 0 && batchId % retentionEvery == 0)
            retentionCompactLocked(spark, storeDir, conditions)
        }
      }
    }
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(sink)
      .start()
  }

  /** Count-based retention (S11): keep each feed's newest `limitCount`
    * rows. Parquet-harness compaction = rewrite-and-swap; on Delta this is
    * a DELETE over the same window rank. */
  def retentionCompact(spark: SparkSession, storeDir: String, conditions: Seq[Condition]): Unit =
    locked(storeDir) {
      retentionCompactLocked(spark, storeDir, conditions)
    }

  private def retentionCompactLocked(spark: SparkSession, storeDir: String,
      conditions: Seq[Condition]): Unit = {
    import spark.implicits._
    val store = readStore(spark, storeDir)
    if (store.isEmpty) return
    val limits = conditions.map(c => (c.key, c.limitCount)).toDF("key", "__limit")
    val rn = row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
        .orderBy(col("indexedAt").desc, col("cid").desc))
    val kept = store.join(broadcast(limits), Seq("key"), "left")
      .withColumn("__rn", rn)
      .filter(col("__limit").isNull || col("__rn") <= col("__limit"))
      .select(store.columns.map(col): _*)

    swapStore(storeDir, kept)
  }

  /** Initial-mode backfill (T2 — the reference's `recordCount == 0` run,
    * subscription.ts:200-239: page searchPosts newest-first until
    * `initPost` matches are captured): for feeds with NO stored rows yet,
    * keep the newest `initPost` cascade matches from a searchPosts read
    * and dedup them against the store. Feeds that already hold rows are
    * untouched — the stream's delta mode covers them, exactly like the
    * reference skipping the initial run once recordCount moves. Returns
    * the fresh rows to append (idempotent: a second call returns none).
    *
    * The per-key cap is a window over only the NEW feeds' candidates —
    * at scale that is one shuffle keyed by feed over one search page
    * budget of posts, not a store scan. */
  def backfill(spark: SparkSession, stored: DataFrame, searchPosts: DataFrame,
      conditions: Seq[Condition], profiles: Option[DataFrame]): DataFrame = {
    import spark.implicits._
    // which feeds already have rows: bounded by the number of feeds
    val have = stored.select("key").distinct().collect().map(_.getString(0)).toSet
    val fresh = conditions.filterNot(c => have.contains(c.key))
    if (fresh.isEmpty) return emptyStore(spark)
    val candidates = FilterCascade.fanOutScreened(spark, searchPosts, fresh, profiles)
    val limits = fresh.map(c => (c.key, c.initPost)).toDF("key", "__limit")
    val rn = row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
        .orderBy(col("indexedAt").desc, col("cid").desc))
    val capped = candidates.join(broadcast(limits), Seq("key"))
      .withColumn("__rn", rn)
      .filter(col("__rn") <= col("__limit"))
      .select(candidates.columns.map(col): _*)
    Upsert.newRows(stored, capped, Seq("uri", "key"))
  }

  /** Delete every stored post of one feed key — the engine side of the
    * admin deleteCondition (databaseUtil.ts:169-192 deletes from both
    * tables). Lands as a new store version ([[swapStore]]), so concurrent
    * serving reads keep streaming the snapshot they resolved. */
  def deleteKey(spark: SparkSession, storeDir: String, key: String): Unit =
    locked(storeDir) {
      val store = readStore(spark, storeDir)
      if (!store.isEmpty)
        swapStore(storeDir, store.filter(col("key") =!= key))
    }

  /** Refresh handling (S10): refresh == -1 deletes the feed's rows;
    * refresh > 0 deletes its N newest (subscription.ts:143-169). */
  def applyRefresh(spark: SparkSession, storeDir: String, c: Condition): Unit =
    locked(storeDir) { applyRefreshLocked(spark, storeDir, c) }

  private def applyRefreshLocked(spark: SparkSession, storeDir: String, c: Condition): Unit = {
    if (c.refresh == 0) return
    val store = readStore(spark, storeDir)
    val kept =
      if (c.refresh < 0) store.filter(col("key") =!= c.key)
      else {
        val mine = graft.operators.Retention.dropNewest(
          store.filter(col("key") === c.key),
          Seq(col("key")), unix_micros(col("indexedAt")), col("cid"), c.refresh)
        store.filter(col("key") =!= c.key).unionByName(mine)
      }
    swapStore(storeDir, kept)
  }

  /** Per-feed bookkeeping after a cycle (S12/A4): stored counts clamped to
    * the cap — the `recordCount` metric of the conditions table. */
  def recordCounts(spark: SparkSession, storeDir: String, conditions: Seq[Condition]): DataFrame = {
    import spark.implicits._
    val limits = conditions.map(c => (c.key, c.limitCount)).toDF("key", "__limit")
    readStore(spark, storeDir).groupBy(col("key")).agg(count(lit(1)).as("n"))
      .join(broadcast(limits), Seq("key"), "right")
      .select(col("key"),
        least(coalesce(col("n"), lit(0L)), col("__limit").cast("long")).as("recordCount"))
  }

}
