package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Source
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core.SchemaJson
import graft.storage.{TsdbConfig, TsdbTable}

/** The CDC feed as a first-class Structured Streaming source (r11):
  *
  * {{{
  *   spark.readStream.format("graft-cdc").option("path", tableDir).load()
  * }}}
  *
  * yields the [[graft.storage.TsdbTable.changes]] rows (raw schema +
  * `_change_type`) as micro-batches whose offsets ARE commit sequence
  * numbers — each batch is the seq window `(start, end]`, exactly the
  * unit [[ChangesStream.ChangesFeed]] hand-rolls, with the engine's own
  * WAL now carrying the offsets (restart resumes from the checkpoint
  * with no replays and no gaps; a replayed recovery batch re-serves the
  * SAME window because the plan is a pure function of the seq pair).
  *
  * API choice — V1 `Source`, deliberately, over DSv2 `MicroBatchStream`:
  * `getBatch` returns a DataFrame, so each batch IS the existing
  * `changes()` plan — seq-window file pruning, the partition-pruned
  * pre-image probe, the LWW collapse — executed by Catalyst on the
  * cluster. A `MicroBatchStream` hands out row-level
  * `PartitionReader`s, which for a table-backed source means
  * re-materializing every window to an intermediate format and
  * re-reading it row by row, forfeiting the pruned plan. This is the
  * same trade Delta Lake's CDF streaming source makes (DeltaSource is
  * a V1 `Source` for exactly this reason); the interface sits in
  * Spark's `execution.streaming` package but is the stable seam the
  * lakehouse ecosystem builds on.
  *
  * Options:
  *  - `path` (required): the TsdbTable directory. Table config loads
  *    from the persisted schema (`SchemaJson`) so MOR semantics follow
  *    the table, not the consumer's guess.
  *  - `preImages` (default true): emit `update_preimage` rows (the
  *    subtract-then-add half an incremental maintainer needs).
  *  - `maxCommitsPerBatch` (default unbounded): bound how many commit
  *    boundaries one batch's seq window spans — backfill over a
  *    long-idle consumer arrives as several bounded batches instead of
  *    one giant one (the V1 rate-limit shape; the unit is COMMITS, the
  *    only meaningful bound for wall-clock-ms seqs). History collapsed
  *    below the manifest's vacuum floor has no per-commit identity and
  *    arrives as one batch.
  *
  * Scale: `getOffset` is one manifest read (no data IO); each batch
  * scans only files whose `__seq` stats intersect its window. The
  * source object holds no row state — all state is the engine's
  * checkpoint plus the table's own manifest.
  *
  * `Trigger.AvailableNow` note: the engine serves V1 sources with its
  * single-batch fallback (one batch to the first offered offset, then
  * stop) — correct here because an unbounded `getOffset` IS the tip;
  * under `maxCommitsPerBatch` each AvailableNow run advances one
  * bounded window, so a backfill drain is a loop of runs (or a
  * ProcessingTime trigger). CdcSourceSpec pins both modes.
  */
final class CdcSource(sqlContext: SQLContext, metadataPath: String,
                      path: String, preImages: Boolean,
                      maxCommitsPerBatch: Option[Long])
    extends Source {

  private val table = new TsdbTable(sqlContext.sparkSession, path,
    SchemaJson.readCached(path,
      sqlContext.sparkSession.sparkContext.hadoopConfiguration)
      .getOrElse(TsdbConfig()))

  /** Highest seq already HANDED OUT as a batch end (not necessarily
    * committed) — the base the rate limit advances from. Durable under
    * `metadataPath` (the engine's source-private slot): a restarted
    * rate-limited source must never offer an offset BELOW the
    * checkpointed one — the engine would log the regressed offset and
    * the following window would replay already-delivered seqs. The
    * unbounded mode needs none of this (its end is always the manifest
    * tip, which is monotone).
    *
    * `metadataPath` arrives as a Hadoop URI string (`file:/...`,
    * `hdfs://...`, `s3a://...`) — it MUST be resolved through the
    * Hadoop `Path`/[[CheckpointFileManager]] machinery, never
    * `java.nio` (which treats `file:/tmp/x` as the literal relative
    * directory `./file:/tmp/x` and, on a real cluster, would land the
    * watermark on driver-local disk instead of the checkpoint FS —
    * losing it on any restart). The manager's `createAtomic` is the
    * same temp+rename discipline Spark's own offset log uses, on
    * whatever filesystem the checkpoint lives on. */
  private var lastOffered: Option[Long] = None
  private val watermarkPath =
    new org.apache.hadoop.fs.Path(metadataPath, "graft-cdc-offered")
  private lazy val checkpointFm =
    org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
      .create(new org.apache.hadoop.fs.Path(metadataPath),
        sqlContext.sparkSession.sessionState.newHadoopConf())

  private def offeredBase: Long = lastOffered.getOrElse {
    val v =
      if (checkpointFm.exists(watermarkPath)) {
        val in = checkpointFm.open(watermarkPath)
        try new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toLong
        finally in.close()
      } else 0L
    lastOffered = Some(v)
    v
  }

  private def recordOffered(seq: Long): Unit =
    if (seq > offeredBase) {
      lastOffered = Some(seq)
      if (maxCommitsPerBatch.isDefined) { // durable only where it matters
        // the engine creates the source-private slot lazily — it may
        // not exist yet at the first batch (mkdirs is idempotent)
        checkpointFm.mkdirs(new org.apache.hadoop.fs.Path(metadataPath))
        val out = checkpointFm.createAtomic(watermarkPath,
          overwriteIfPossible = true)
        try { out.write(seq.toString.getBytes("UTF-8")); out.close() }
        catch { case t: Throwable => out.cancel(); throw t }
      }
    }

  override def schema: StructType = CdcSource.ChangeSchema

  override def getOffset: Option[org.apache.spark.sql.execution.streaming.Offset] = {
    val tip = table.currentSeq()
    if (tip <= 0L) return None
    val base = offeredBase
    val end = maxCommitsPerBatch match {
      case None => tip
      case Some(m) =>
        // seqs are wall-clock ms — the batch bound is a COUNT of commit
        // boundaries, never a seq delta
        val bs = table.commitBoundaries(base,
          math.min(m, Int.MaxValue.toLong).toInt)
        if (bs.isEmpty) return None
        math.min(bs.last, tip)
    }
    if (end <= base) None else Some(new CdcSource.CdcOffset(end))
  }

  override def getBatch(start: Option[org.apache.spark.sql.execution.streaming.Offset],
                        end: org.apache.spark.sql.execution.streaming.Offset): DataFrame = {
    val since = start.map(CdcSource.seqOf).getOrElse(0L)
    val until = CdcSource.seqOf(end)
    recordOffered(until)
    // column order is plan-dependent (unions); pin to the declared
    // schema, then re-flag as a streaming frame (the engine asserts
    // isStreaming on V1 getBatch results — see GraftSqlBridge)
    org.apache.spark.sql.GraftSqlBridge.asStreamingBatch(
      table.changes(since, until, preImages)
        .select(CdcSource.ChangeSchema.fieldNames.map(
          org.apache.spark.sql.functions.col): _*))
  }

  override def commit(end: org.apache.spark.sql.execution.streaming.Offset): Unit = ()

  override def stop(): Unit = ()
}

object CdcSource {
  /** [[graft.storage.TsdbTable.RawSchema]] + `_change_type`. */
  val ChangeSchema: StructType =
    StructType(TsdbTable.RawSchema.fields :+ StructField("_change_type", StringType))

  /** NOT a case class: the connector `Offset` base defines equality on
    * `json()`, which is what lets a live offset compare equal to the
    * engine's checkpoint-deserialized `SerializedOffset`. A case class
    * would auto-generate class+field equality over it and every
    * restart comparison would be spuriously unequal. */
  final class CdcOffset(val seq: Long)
      extends org.apache.spark.sql.execution.streaming.Offset {
    override def json: String = seq.toString
  }

  /** Offsets arrive either as our own or engine-deserialized
    * ([[org.apache.spark.sql.execution.streaming.SerializedOffset]]);
    * `json` is the seq both ways. */
  private[streaming] def seqOf(o: org.apache.spark.sql.execution.streaming.Offset): Long =
    o.json.trim.toLong
}

/** `format("graft-cdc")` registration (service-loaded via
  * `META-INF/services/org.apache.spark.sql.sources.DataSourceRegister`). */
final class CdcSourceProvider extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "graft-cdc"

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    require(lower(parameters).contains("path"),
      "graft-cdc requires option 'path' (the TsdbTable directory)")
    ("graft-cdc", CdcSource.ChangeSchema)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    val p = lower(parameters)
    new CdcSource(sqlContext, metadataPath,
      p.getOrElse("path", throw new IllegalArgumentException(
        "graft-cdc requires option 'path'")),
      preImages = p.getOrElse("preimages", "true").toBoolean,
      maxCommitsPerBatch = p.get("maxcommitsperbatch").map(_.toLong))
  }

  /** The engine lowercases option keys on most paths but not all —
    * normalize so both spellings work. */
  private def lower(m: Map[String, String]): Map[String, String] =
    m.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
}
