package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.storage.TsdbTable

/** Structured-Streaming ingestion (reference appender path, SURVEY §3.3:
  * `MetricsCache` + goroutine loops + KV UpdateItem batching — all replaced
  * by micro-batches + checkpointing).
  *
  * Semantics mapping:
  *  - T1 out-of-order within window → event-time processing; the raw sink
  *    sorts within partitions on write.
  *  - T2 late-data bound → `withWatermark(59 minutes)` (the reference's
  *    `maxLateArrivalInterval`, `store.go:42`).
  *  - T3 duplicate policy → `dropDuplicatesWithinWatermark(series, time)`.
  *    DELIBERATE DEVIATION, not an equivalence: the reference drops ANY
  *    sample with `t <= _maxtime` for its series unless OverrideOld
  *    (`store.go:336-352`) — i.e. out-of-order samples with distinct
  *    timestamps are discarded there but ACCEPTED here (a superset of
  *    reference behavior; monotone-append ingest is unaffected). Accepting
  *    in-watermark out-of-order data is what the incremental-rollup
  *    disjointness argument below relies on: only exact (series, time)
  *    duplicates threaten the batch ∩ existing-raw = ∅ invariant.
  *  - T4 restart/exactly-once-ish → checkpointed offsets + idempotent-ish
  *    partition rewrite of the rollup (the reference replays from
  *    `_maxtime`; Delta/Iceberg would make the raw append transactional).
  *  - A1 ingest-time rollup → recomputed per touched partition each batch.
  */
object IngestJob {

  /** Start the ingest stream. `stream` must be a streaming DataFrame with
    * columns (name, labels, time-ms long, value[, valueStr]) and an
    * event-time timestamp column derivable from `time`. The duplicate
    * policy follows the TABLE's config (reference: OverrideOld is a store
    * config, config.go:146-147): overrideOld tables skip the in-watermark
    * dedup and rely on the table's last-write-wins merge-on-read. */
  def start(stream: DataFrame, table: TsdbTable, checkpointDir: String): StreamingQuery = {
    val overrideOld = table.config.overrideOld
    // ceil to whole seconds: integer division would TRUNCATE (a 30s config
    // becoming "0 seconds" collapses dedup state and breaks the
    // incremental-rollup disjointness guarantee)
    val lateSec = (table.config.lateArrivalMs + 999) / 1000
    val withEventTime = stream
      .withColumn("__event_time", timestamp_millis(col("time")))
      .withWatermark("__event_time", s"$lateSec seconds")
    val deduped =
      if (overrideOld) withEventTime // OverrideOld: accept rewrites (config.go:146-147)
      else withEventTime
        .withColumn("__series", graft.core.Labels.seriesId(col("name"), col("labels")))
        .dropDuplicatesWithinWatermark("__series", "time")
        .drop("__series")
    deduped
      .drop("__event_time")
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        appendBatch(table, batch, inWatermarkDeduped = true)
      }
      .start()
  }

  /** One micro-batch into the table — the foreachBatch body, shared with
    * the `format("graft")` streaming sink.
    *
    * @param inWatermarkDeduped the caller ran the cross-batch
    *        in-watermark dedup (the [[start]] pipeline), so non-MOR
    *        batches satisfy batch ∩ existing-raw = ∅ and the INCREMENTAL
    *        rollup merge is safe; a bare sink cannot guarantee that and
    *        must recompute touched partitions instead. */
  private[graft] def appendBatch(table: TsdbTable, batch: DataFrame,
                                 inWatermarkDeduped: Boolean,
                                 txn: Option[(String, Long)] = None): Unit = {
    val overrideOld = table.config.overrideOld
    // overrideOld resolves duplicates ACROSS batches by __seq, but
    // rows replayed into the SAME micro-batch (at-least-once sources,
    // unioned inputs) share one __seq and would tie nondeterministically
    // in the merge-on-read — collapse them here, keeping one arbitrary
    // row per (series, time) as the reference's per-sample UpdateItem
    // ordering would
    val b =
      if (!overrideOld) batch
      else batch
        .withColumn("__series", graft.core.Labels.seriesId(col("name"), col("labels")))
        .dropDuplicates("__series", "time")
        .drop("__series")
    // incremental merge requires batch ∩ existing-raw = ∅ — guaranteed
    // by the in-watermark dedup, which overrideOld DISABLES; rewrites
    // must recompute the touched partitions from raw instead. An empty
    // batch commits nothing (append's own summary pass sees it)
    table.append(b, incrementalRollup = !overrideOld && inWatermarkDeduped,
      txn = txn)
  }
}
