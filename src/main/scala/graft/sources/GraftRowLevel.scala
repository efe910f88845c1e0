package graft.sources

import java.util

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.storage.{TsdbConfig, TsdbTable}

/** SQL `UPDATE` / `MERGE INTO` / arbitrary-predicate `DELETE` on `USING
  * graft` tables (r15) — `SupportsRowLevelOperations` mapped onto the
  * engine's MOR last-write-wins machinery (reference OverrideOld
  * semantics, `pkg/config/config.go:146-147`,
  * `pkg/appender/store.go:336-352`):
  *
  *  - an UPDATE whose LWW key (name, labels, time) is unchanged is
  *    exactly an LWW re-append — the new version out-seqs the old;
  *  - an UPDATE that moves the key (SET time/name/labels) becomes a
  *    tombstone for the old key plus a re-append of the new one;
  *  - MERGE's delete branch (and DELETE predicates the metadata path
  *    can't translate, e.g. `value > 3`) emit tombstones through the
  *    same path as [[TsdbTable.delete]]'s MOR branch;
  *  - MERGE's insert branch is a plain append.
  *
  * Everything lands under ONE batch seq in ONE atomic manifest commit
  * (the r7 cross-partition atomicity discipline): the whole mutation
  * becomes reader-visible at once or not at all. Derived identity
  * columns (`labels_str`, `series_id`, `part_start`) are ALWAYS
  * recomputed from (name, labels, time) — they are generated columns,
  * so assignments to them are ignored, never trusted (a stale ride-along
  * value after `SET name = ...` would otherwise corrupt series identity).
  *
  * Delta-based (`SupportsDelta`), not group-based: a group rewrite would
  * copy whole files per UPDATE, while the MOR table's native mutation
  * unit IS the delta row. The row ID is the non-nullable metadata-column
  * triple [[GraftMeta.KeyName]]/[[GraftMeta.KeyLabels]]/[[GraftMeta.KeyTime]]
  * (the Iceberg `_file`/`_pos` pattern): metadata columns keep the row
  * identity out of the DATA schema, so MERGE INSERT actions stay free to
  * assign only the natural sample columns, and the nullable data columns
  * never trip the non-nullable-row-ID rule.
  *
  * Scale shape: writer tasks spill their delta rows to a dot-dir staging
  * parquet beside the table (never through the driver), and the commit
  * re-reads the staged delta as ONE distributed append+tombstone batch —
  * the same bounded-memory discipline as the streaming sink's stage.
  * Isolation is snapshot-level: the delta is computed against the scan's
  * frozen manifest; the commit itself is a normal LWW append under the
  * single-writer lock.
  *
  * Non-MOR tables reject at execution (their only rewrite story is a
  * physical file rewrite, which the engine reserves for the maintenance
  * delete path) — translatable DELETEs still ride the metadata-only
  * `SupportsDelete` path Spark prefers when `canDeleteWhere` accepts.
  */
private[sources] object GraftMeta {
  val KeyName = "_key_name"
  val KeyLabels = "_key_labels"
  val KeyTime = "_key_time"

  /** Physical column a requested (possibly metadata) column reads from. */
  def physical(c: String): String = c match {
    case KeyName => "name"
    case KeyLabels => "labels_str"
    case KeyTime => "time"
    case other => other
  }

  private final class Col(n: String, dt: DataType, cmt: String) extends MetadataColumn {
    override def name(): String = n
    override def dataType(): DataType = dt
    override def isNullable: Boolean = false
    override def comment(): String = cmt
  }

  /** The row-identity metadata columns: aliases of the (non-null by
    * construction) key-stable data columns, exposed as metadata so
    * row-level operations can use them as a non-nullable row ID. */
  val columns: Array[MetadataColumn] = Array(
    new Col(KeyName, StringType, "row identity: metric name"),
    new Col(KeyLabels, StringType, "row identity: canonical label serialization"),
    new Col(KeyTime, LongType, "row identity: sample time (ms)"))
}

private[sources] final class GraftRowLevelOperation(
    tablePath: String, tableOptions: CaseInsensitiveStringMap,
    cmd: RowLevelOperation.Command, cfg: Option[TsdbConfig],
    tableSchema: StructType)
  extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"GraftRowLevelOperation[$cmd, $tablePath]"

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(GraftMeta.KeyName),
    Expressions.column(GraftMeta.KeyLabels),
    Expressions.column(GraftMeta.KeyTime))

  // updates stay single records; the writer splits a key-moving update
  // into tombstone+insert itself (a key-stable update then costs ONE
  // staged row, not two through the whole plan)
  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new util.HashMap[String, String](tableOptions)
    merged.putAll(options)
    new GraftScanBuilder(tablePath, new CaseInsensitiveStringMap(merged),
      tableSchema)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftDeltaWrite(tablePath, cfg, info)
    }
}

private[sources] final class GraftDeltaWrite(
    tablePath: String, cfg: Option[TsdbConfig], info: LogicalWriteInfo)
  extends DeltaWrite {

  override def description(): String = s"GraftDeltaWrite[$tablePath]"

  /** Gate HERE, at physical planning — after
    * `OptimizeMetadataOnlyDeleteFromTable` had its chance to serve
    * translatable DELETEs through the `SupportsDelete` path (which works
    * on every table shape), so only genuinely row-level mutations reach
    * the MOR requirement. */
  override def toBatch: DeltaBatchWrite = {
    val mor = cfg.exists(_.overrideOld)
    if (!mor) throw new UnsupportedOperationException(
      s"row-level UPDATE/MERGE/predicated DELETE need a merge-on-read " +
        s"table (overrideOld=true); $tablePath is " +
        (if (cfg.isEmpty) "undeclared (no .schema)" else "copy-on-write") +
        " — filter-shaped DELETEs still work via the metadata delete path")
    new GraftDeltaBatchWrite(tablePath, cfg.get, info)
  }
}

private[sources] final case class GraftDeltaCommitMessage(
    file: String, inserted: Long, deleted: Long) extends WriterCommitMessage

private[sources] final class GraftDeltaBatchWrite(
    tablePath: String, cfg: TsdbConfig, info: LogicalWriteInfo)
  extends DeltaBatchWrite {

  private val spark = SparkSession.active
  private val stageDir = s"$tablePath/.rlo_stage_${info.queryId()}"

  override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DeltaWriterFactory =
    new GraftDeltaWriterFactory(
      SerializableHadoopConf.broadcast(spark.sparkContext),
      stageDir, info.schema(),
      info.rowIdSchema().orElse(new StructType()))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val msgs = messages.collect { case m: GraftDeltaCommitMessage => m }
      val files = msgs.filter(m => m.inserted + m.deleted > 0).map(_.file)
      // an empty delta (no matched rows) must be a true no-op: no seq,
      // no rollup churn, no manifest write
      if (files.nonEmpty)
        new TsdbTable(spark, tablePath, cfg).applyDelta(files.toSeq)
    } finally fs.delete(new Path(stageDir), true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(stageDir), true)
  }
}

private[sources] final class GraftDeltaWriterFactory(
    conf: Broadcast[SerializableHadoopConf],
    stageDir: String, rowSchema: StructType, rowIdSchema: StructType)
  extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaWriter(conf.value.value, stageDir, partitionId, taskId,
      rowSchema, rowIdSchema)
}

/** Task-side delta spill: every insert/update/delete record lands in one
  * staged parquet file per task attempt (`delta-p<part>-t<task>.parquet`
  * — attempt-unique, so a retried task can never collide; only files
  * named in COMMITTED task messages are read back). Uses the public
  * parquet-mr Group writer, like the read side uses the public assembly
  * API. */
private[sources] final class GraftDeltaWriter(
    hconf: org.apache.hadoop.conf.Configuration,
    stageDir: String, partitionId: Int, taskId: Long,
    rowSchema: StructType, rowIdSchema: StructType)
  extends DeltaWriter[InternalRow] {

  import GraftDeltaWriter._

  private val file = s"$stageDir/delta-p$partitionId-t$taskId.parquet"
  private var writer: ParquetWriter[Group] = _
  private val factory = new SimpleGroupFactory(Schema)
  private var nIns = 0L
  private var nDel = 0L

  // row-schema slots (absent for delete-only commands)
  private def slot(s: StructType, c: String): Int = s.fieldNames.indexOf(c)
  private val rName = slot(rowSchema, "name")
  private val rLabels = slot(rowSchema, "labels")
  private val rTime = slot(rowSchema, "time")
  private val rValue = slot(rowSchema, "value")
  private val rValueStr = slot(rowSchema, "valueStr")
  private val iName = slot(rowIdSchema, GraftMeta.KeyName)
  private val iLabels = slot(rowIdSchema, GraftMeta.KeyLabels)
  private val iTime = slot(rowIdSchema, GraftMeta.KeyTime)

  private def open(): ParquetWriter[Group] = {
    if (writer == null)
      writer = ExampleParquetWriter
        .builder(HadoopOutputFile.fromPath(new Path(file), hconf))
        .withType(Schema)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .build()
    writer
  }

  /** Canonical label serialization of the row's map slot — MUST match
    * [[graft.core.Labels.canonical]] (sorted `k1=v1,k2=v2`) because the
    * key-change test compares it against the stored `labels_str`.
    * Null-VALUED entries are dropped, exactly like canonical's
    * array_join (which skips the null concat results) — emitting `k=`
    * here would misread a key-stable update as a key move (benignly —
    * an extra tombstone — but wrongly). */
  private def canonicalOf(row: InternalRow): String = {
    if (row.isNullAt(rLabels)) return null
    val m = row.getMap(rLabels)
    val n = m.numElements()
    val ks = m.keyArray()
    val vs = m.valueArray()
    val pairs = ArrayBuffer.empty[(String, String)]
    var i = 0
    while (i < n) {
      if (!vs.isNullAt(i))
        pairs += ((ks.getUTF8String(i).toString, vs.getUTF8String(i).toString))
      i += 1
    }
    pairs.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(",")
  }

  private def writeInsert(row: InternalRow): Unit = {
    val g = factory.newGroup()
    g.add("op", OpInsert)
    if (rName >= 0 && !row.isNullAt(rName))
      g.add("name", row.getUTF8String(rName).toString)
    if (rLabels >= 0 && !row.isNullAt(rLabels)) {
      val lg = g.addGroup("labels")
      val m = row.getMap(rLabels)
      val ks = m.keyArray(); val vs = m.valueArray()
      var i = 0
      while (i < m.numElements()) {
        val kv = lg.addGroup("key_value")
        kv.add("key", ks.getUTF8String(i).toString)
        if (!vs.isNullAt(i)) kv.add("value", vs.getUTF8String(i).toString)
        i += 1
      }
    }
    if (rTime >= 0 && !row.isNullAt(rTime)) g.add("time", row.getLong(rTime))
    if (rValue >= 0 && !row.isNullAt(rValue)) g.add("value", row.getDouble(rValue))
    if (rValueStr >= 0 && !row.isNullAt(rValueStr))
      g.add("valueStr", row.getUTF8String(rValueStr).toString)
    open().write(g)
    nIns += 1
  }

  private def writeDelete(id: InternalRow): Unit = {
    // the row ID is declared non-nullable; a null here means the scan
    // broke its own contract — fail the task, never stage a wild tombstone
    require(!id.isNullAt(iName) && !id.isNullAt(iLabels) && !id.isNullAt(iTime),
      "null row-identity value in a row-level delete")
    val g = factory.newGroup()
    g.add("op", OpDelete)
    g.add("name", id.getUTF8String(iName).toString)
    g.add("labels_str", id.getUTF8String(iLabels).toString)
    g.add("time", id.getLong(iTime))
    open().write(g)
    nDel += 1
  }

  override def insert(row: InternalRow): Unit = writeInsert(row)

  override def delete(meta: InternalRow, id: InternalRow): Unit = writeDelete(id)

  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    // LWW-key-stable update = pure re-append (the new version out-seqs
    // the old); a key-moving update tombstones the old key too
    val sameKey = !id.isNullAt(iName) && !id.isNullAt(iLabels) && !id.isNullAt(iTime) &&
      rName >= 0 && !row.isNullAt(rName) &&
      rTime >= 0 && !row.isNullAt(rTime) &&
      id.getUTF8String(iName).toString == row.getUTF8String(rName).toString &&
      id.getLong(iTime) == row.getLong(rTime) &&
      id.getUTF8String(iLabels).toString == canonicalOf(row)
    if (!sameKey) writeDelete(id)
    writeInsert(row)
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close()
    GraftDeltaCommitMessage(file, nIns, nDel)
  }

  override def abort(): Unit = {
    if (writer != null) {
      writer.close()
      try {
        val p = new Path(file)
        p.getFileSystem(hconf).delete(p, false)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  override def close(): Unit = ()
}

private[sources] object GraftDeltaWriter {
  val OpDelete = 1
  val OpInsert = 3

  /** Staging schema: the sample model plus the tombstone identity.
    * Inserts carry (name, labels, time, value, valueStr) — derived
    * identity columns are recomputed at apply time, never staged.
    * Deletes carry (name, labels_str, time): enough to rebuild the full
    * key-stable tombstone row (a tombstone with NULL key-stable columns
    * would be filtered out BELOW the MOR merge by a pushed name/labels
    * filter, silently resurrecting the version it shadows). */
  val Schema: MessageType = {
    val string = LogicalTypeAnnotation.stringType()
    Types.buildMessage()
      .required(PrimitiveTypeName.INT32).named("op")
      .optional(PrimitiveTypeName.BINARY).as(string).named("name")
      .optionalMap()
        .key(PrimitiveTypeName.BINARY).as(string)
        .optionalValue(PrimitiveTypeName.BINARY).as(string)
        .named("labels")
      .optional(PrimitiveTypeName.INT64).named("time")
      .optional(PrimitiveTypeName.DOUBLE).named("value")
      .optional(PrimitiveTypeName.BINARY).as(string).named("valueStr")
      .optional(PrimitiveTypeName.BINARY).as(string).named("labels_str")
      .named("graft_delta")
  }
}
