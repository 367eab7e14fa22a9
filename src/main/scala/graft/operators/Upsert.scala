package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dedup-upsert primitives — the reference's INSERT … ON CONFLICT DO
  * NOTHING and catch-up membership test
  * (/root/reference/src/subscription.ts:273-278,362-366) as anti-joins.
  *
  * Scale notes: the anti-join shuffles only on the key columns, and
  * broadcast-converts when the STORED side is small: a left anti join can
  * only build its right side, so the incoming delta is always the streamed
  * side and the stored keys are the broadcast (`BroadcastHashJoin LeftAnti
  * BuildRight`). The live ingest therefore reads only the stored feeds a
  * batch touches ([[graft.streaming.Ingest.appendNew]]), which keeps that
  * build side the size of those feeds, not of the store.
  * Order-insensitive superset of the reference's sequential early-exit.
  */
object Upsert {

  /** One row per key of `incoming`, the deterministic min-by-row pick —
    * the reference's row-at-a-time PK conflict-ignore keeps only the
    * first arrival; a set-oriented batch needs an explicit in-batch dedup
    * or replays would double-insert.
    *
    * The pick is `min(struct(all columns))` per key — the same row a
    * `row_number over (partition by key order by struct)` window picks
    * (struct MIN and struct ORDER BY share one ordering), but as a
    * partially-aggregated groupBy: the shuffle moves one candidate row per
    * key per map partition and nothing is sorted, where the window form
    * shuffles and sorts the entire batch. */
  def collapse(incoming: DataFrame, keys: Seq[String]): DataFrame = {
    val cols = incoming.columns
    incoming
      .groupBy(keys.map(col): _*)
      .agg(min(struct(cols.map(col): _*)).as("__r"))
      .select(cols.map(c => col(s"__r.$c")): _*)
  }

  /** Rows of `incoming` whose key is absent from `existing` (J2/P12).
    * Duplicates WITHIN the batch collapse too ([[collapse]]). */
  def newRows(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    absent(existing, collapse(incoming, keys), keys)

  /** The anti-join alone, for an `incoming` already one row per key. */
  def absent(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col): _*), keys, "left_anti")

  /** Idempotent append: existing ∪ (incoming ∖ existing-by-key) (S8/T8). */
  def upsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    existing.unionByName(newRows(existing, incoming, keys))

  /** MERGE: update matched keys with the incoming row, keep unmatched
    * existing rows, insert unmatched incoming rows — the reference's
    * UPDATE-SET-WHERE + insert (S12, /root/reference/src/subscription.ts:
    * 161-168,373-400) as one set operation. Incoming duplicates collapse
    * to the deterministic min-struct row first ([[collapse]]).
    *
    * One anti-join plus one union: existing rows whose key has an incoming
    * replacement simply drop out, so there is no wide full-outer COALESCE
    * row assembly. On Delta/Iceberg this maps 1:1 to MERGE WHEN MATCHED
    * THEN UPDATE WHEN NOT MATCHED THEN INSERT; on a parquet store it is
    * the rewrite-and-swap batch job. */
  def merge(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame = {
    val deduped = collapse(incoming, keys)
    existing.join(deduped.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(deduped)
  }

  /** Fixed-size batching of a distinct key set (A3 — the reference's
    * 25-DID profile-fetch flush, subscription.ts:253-268): assign each
    * distinct key a batch id, `floor(global_rank / batchSize)` in key
    * order — the sequential-flush semantics.
    *
    * The global rank is computed WITHOUT a single-partition window (which
    * would funnel every key through one task): range-partition the
    * distinct keys (partition i's keys all sort before partition i+1's),
    * rank locally via `monotonically_increasing_id` (= pid << 33 +
    * in-partition row count after the local sort), then rebase each
    * partition by the summed counts of the partitions before it. The
    * per-partition counts collapse to ONE broadcast row (the same
    * one-row-bound pattern as the SQ8 quantizer), so nothing but
    * dimension-sized shuffles touch the data. Batch ids are invariant to
    * where the range boundaries land — only the total order matters. */
  def batchIds(df: DataFrame, keyCol: String, batchSize: Int): DataFrame = {
    val k = col(keyCol)
    // materialized ONCE (localCheckpoint — the codebase's multi-consumer
    // convention, see JoinHints/simhashPairsBanded): both the offsets
    // aggregate and the crossJoin below consume this frame, and without a
    // shared materialization their correctness would hinge on Spark
    // reusing the canonical range exchange — two independent executions
    // re-sample range boundaries (RangePartitioner seeds off the RDD id)
    // and __pid/__rn could disagree between the consumers. LAZY: the
    // offsets aggregate is the action that lands the blocks, so the
    // materialization rides an existing pass instead of being its own
    // job (same truncation, same shared blocks — the r13 fixpoint trick).
    val ranked = df.select(k).distinct()
      .repartitionByRange(k)
      .sortWithinPartitions(k)
      .withColumn("__pid", spark_partition_id().cast("long"))
      .withColumn("__rn",
        monotonically_increasing_id() - shiftleft(col("__pid"), 33) + 1)
      .localCheckpoint(false)
    val offsets = ranked.groupBy(col("__pid")).agg(count(lit(1)).as("__n"))
      .agg(sort_array(collect_list(struct(col("__pid").as("p"), col("__n").as("n"))))
        .as("__cum"))
    ranked.crossJoin(broadcast(offsets))
      .withColumn("__off",
        expr("aggregate(filter(__cum, e -> e.p < __pid), 0L, (a, e) -> a + e.n)"))
      .withColumn("batch_id",
        floor((col("__off") + col("__rn") - lit(1)) / lit(batchSize)).cast("long"))
      .select(k, col("batch_id"))
  }
}
