package graft.sources

import java.util

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.SchemaJson
import graft.storage.{TsdbConfig, TsdbTable}

/** DSv2 batch read for graft tsdb tables: `spark.read.format("graft")
  * .load(tableDir)` (and `CREATE TABLE ... USING graft OPTIONS (path ...)`)
  * serves the merged raw view of a table — the Spark-native complement of
  * the programmatic querier surface (reference read API
  * `pkg/pquerier/querier.go:80-140`) and the batch twin of the `graft-cdc`
  * streaming source. It is also the ONE merged read of the engine:
  * [[TsdbTable.readRaw]], `select`, the rollup and names rebuilds,
  * compaction and the MOR delete all read through [[GraftRawRead.frame]],
  * a relation over this same table whose config, snapshot handle and
  * label conjuncts the engine hands over as values instead of options
  * the source would re-read from `.schema`.
  *
  * Semantics:
  *  - committed-batch visibility: the commit manifest is read ONCE at
  *    scan planning, right after the file listing (lenient for the
  *    current view; strict with the history fence under `asOf`), and
  *    frozen into the reader factory, so one scan holds one consistent
  *    snapshot; uncommitted/crashed-mutation orphans drop at the row
  *    level before any merge;
  *  - non-MOR tables (overrideOld=false) are served file-parallel with
  *    byte-range splits (the standard parquet split protocol) — no merge;
  *  - MOR tables are served MERGED: every data file is written sorted by
  *    (series_id, time), so last-write-wins collapses to a streaming
  *    k-way merge over the files of one time partition — no shuffle, no
  *    per-key state beyond the current key. Parallelism inside a
  *    partition comes from series_id striping (`morStripes` option,
  *    default = shardingBuckets): each stripe classifies row groups by
  *    its series range against footer stats, which the sorted layout
  *    turns into near-exact row-group pruning. Tombstone winners drop;
  *    superseded versions lose by `__seq` (NULL — legacy rows — loses to
  *    any stamped version);
  *  - both are read by one columnar decoder ([[GraftColumnar]]) and
  *    served as ColumnarBatches; the aggregate pushdown's partial row is
  *    the only row-shaped reader.
  *
  * Pushdown (all EXACTLY enforced row-level in the readers, so accepted
  * filters are fully consumed, not re-applied):
  *  - `time`/`part_start`/`series_id` comparisons and `name`/`labels_str`
  *    equality/IN prune at three levels: partition directories (time
  *    bounds clamp `part_start` to the partition holding the lower bound),
  *    parquet row-group stats, then rows;
  *  - filters on LWW-key-stable columns only are accepted — a `value`
  *    predicate applied below the merge could resurrect a superseded
  *    version, so value/valueStr filters stay residual (Spark applies
  *    them post-scan = post-merge);
  *  - column pruning reaches the parquet page level (unrequested columns
  *    are never decoded).
  */
final class GraftTableProvider extends TableProvider with DataSourceRegister
  with org.apache.spark.sql.sources.StreamSinkProvider
  with org.apache.spark.sql.sources.StreamSourceProvider {
  override def shortName(): String = "graft"
  override def supportsExternalMetadata(): Boolean = true

  /** `spark.readStream.format("graft").load(tableDir)` — the CDC change
    * feed under the SAME format name as the batch read/write and the
    * streaming sink (r12 verdict: the one name carries the full
    * matrix). Delegates to the [[graft.streaming.CdcSourceProvider]]
    * V1 source verbatim; `format("graft-cdc")` stays registered for
    * back-compat. (DataStreamReader falls back to the V1
    * StreamSourceProvider because [[GraftBatchTable]] advertises no
    * MICRO_BATCH_READ capability — the batch scan's planning-frozen
    * snapshot is the wrong shape for an unbounded feed.) */
  private val cdc = new graft.streaming.CdcSourceProvider

  override def sourceSchema(sqlContext: org.apache.spark.sql.SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    cdc.sourceSchema(sqlContext, schema, providerName, parameters)

  override def createSource(sqlContext: org.apache.spark.sql.SQLContext,
                            metadataPath: String, schema: Option[StructType],
                            providerName: String, parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    cdc.createSource(sqlContext, metadataPath, schema, providerName, parameters)

  /** `df.writeStream.format("graft").option("path", tableDir)` — the
    * streaming INGEST sink under the same name (r12), completing the
    * surface matrix with the batch read/write and the `graft-cdc`
    * source. Each micro-batch runs the shared [[graft.streaming.IngestJob]]
    * batch body (per-batch key collapse; MOR tables rely on LWW) with
    * RECOMPUTE rollups — a bare sink cannot see the upstream watermark,
    * so the incremental-merge disjointness the full [[IngestJob.start]]
    * pipeline proves is not assumed here. EXACTLY-ONCE by a
    * writer-transaction tag INSIDE the table's atomic manifest commit
    * (the Delta txnAppId/version shape, keyed by the query's checkpoint
    * location): the batch's data and its replay marker publish in ONE
    * atomic filesystem operation, so a crash at any point either left
    * both or neither — a replayed batch is detected exactly, and a NEW
    * query (fresh checkpoint) gets its own tag instead of silently
    * losing its first batches to another query's counter. For
    * watermarked cross-batch dedup + incremental rollups, use
    * `IngestJob.start`. */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val params = parameters.map { case (k, v) => k.toLowerCase -> v }
    val path = params.getOrElse("path",
      throw new IllegalArgumentException(
        "graft streaming sink requires option(\"path\", tableDir)"))
    if (outputMode != org.apache.spark.sql.streaming.OutputMode.Append())
      throw new IllegalArgumentException(
        s"graft streaming sink is append-only, got $outputMode")
    new GraftStreamSink(sqlContext.sparkSession, path, params)
  }

  private def pathOf(options: util.Map[String, String]): String = {
    val p = options.get("path")
    if (p == null || p.isEmpty) {
      val many = options.get("paths")
      if (many != null)
        throw new IllegalArgumentException(
          "graft source reads exactly one table directory; got multiple paths")
      throw new IllegalArgumentException(
        "graft source requires a table directory: spark.read.format(\"graft\").load(dir) " +
          "or OPTION path")
    }
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TsdbTable.RawSchema

  override def inferPartitioning(options: CaseInsensitiveStringMap): Array[Transform] =
    Array(Expressions.identity("part_start"))

  /** An externally-declared schema (CTAS stores its query schema in the
    * catalog; `CREATE TABLE t (cols) USING graft` declares one) is
    * accepted when it is a RawSchema-typed subset carrying the sample
    * columns — the table then SERVES that projection (Spark's loadTable
    * verifies the returned schema against the catalog's, so echoing is
    * required, not a choice). Anything else rejects loudly here, at
    * analysis, instead of staging a table whose writes can never
    * succeed. A schema-less declaration serves the full raw view. */
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val effective =
      // catalogString ignores nullability — exact for the raw schema's
      // narrow type space (string/long/double/map<string,string>)
      if (schema == null || schema.isEmpty ||
          schema.catalogString == TsdbTable.RawSchema.catalogString)
        TsdbTable.RawSchema
      else {
        GraftWrites.sampleColumns(schema, "graft declared schema")
        schema.fields.foreach { f =>
          val ref = TsdbTable.RawSchema.fields.find(_.name == f.name)
          if (!ref.exists(_.dataType.catalogString == f.dataType.catalogString))
            throw new IllegalArgumentException(
              s"graft declared schema: column `${f.name}` " +
                (if (ref.isEmpty) "is not a graft table column"
                 else s"has type ${f.dataType.catalogString}, expected " +
                   ref.get.dataType.catalogString) +
                s" — declarable columns: ${TsdbTable.RawSchema.catalogString}")
        }
        schema
      }
    new GraftBatchTable(pathOf(properties),
      new CaseInsensitiveStringMap(properties), effective)
  }
}

/** What the engine hands its own merged reads as values: the
  * [[TsdbTable]] instance's config (authoritative — the scan never
  * re-reads `.schema`), the snapshot handle (None = current view; any
  * seq, 0 included, admits `__seq <= asOf` plus legacy rows — the CDC
  * at-since view of `changes(0)` reads exactly the legacy rows), and
  * the label-equality conjuncts the caller already resolved through
  * the series registry. */
private[graft] final case class GraftRawRead(
    config: TsdbConfig, asOf: Option[Long] = None,
    labelEq: Seq[(String, String)] = Nil) {

  /** The merged raw view of the table at `path`: one
    * `DataSourceV2Relation` over [[GraftBatchTable]] (RawSchema, no
    * job to build). Callers narrow it with ordinary filters — Spark
    * pushes `part_start`/`time`/`name` conjuncts into [[GraftScan]]. */
  def frame(spark: SparkSession, path: String): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.GraftSqlBridge.ofPlan(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
        new GraftBatchTable(path, CaseInsensitiveStringMap.empty(),
          TsdbTable.RawSchema, Some(this)),
        None, None, CaseInsensitiveStringMap.empty()))
}

private[sources] final class GraftBatchTable(
    tablePath: String, options: CaseInsensitiveStringMap,
    tableSchema: StructType = TsdbTable.RawSchema,
    pinned: Option[GraftRawRead] = None)
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  override def name(): String = s"graft.`$tablePath`"

  /** Row-identity metadata columns ([[GraftMeta]]) — the non-nullable
    * row ID surface for SQL UPDATE/MERGE (r15). */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    GraftMeta.columns

  /** SQL UPDATE / MERGE INTO / untranslatable DELETE (r15): delta-based
    * row-level operations on the MOR LWW machinery — see
    * [[GraftRowLevelOperation]]. Translatable DELETEs keep riding the
    * metadata-only [[deleteWhere]] path (Spark's
    * OptimizeMetadataOnlyDeleteFromTable prefers it when
    * [[canDeleteWhere]] accepts). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new GraftRowLevelOperation(tablePath, options, info.command,
      declaredCfg, tableSchema)

  /** SQL `DELETE FROM ... WHERE ...` (r14): filter-shaped deletes —
    * conjunctions over `time` / `part_start` bounds, `name` /
    * `labels_str` equality/IN, IsNotNull — translate EXACTLY onto the
    * engine delete surface ([[TsdbTable.delete]], the reference S11
    * delete semantics: whole in-range partitions drop metadata-only,
    * boundary/predicated partitions rewrite or tombstone, touched
    * rollups rebuild). Anything untranslatable rejects loudly via
    * [[canDeleteWhere]] — a DELETE must remove exactly the matching
    * rows or fail, never approximate. Requires the table's declared
    * `.schema`: an assumed default partition interval could drop a
    * partition that extends past the requested range (the same
    * undeclared-legacy-table guard the scan's partition clamp applies). */
  private def declaredCfg: Option[TsdbConfig] =
    SchemaJson.readCached(tablePath,
      SparkSession.active.sparkContext.hadoopConfiguration)

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    declaredCfg.exists(cfg =>
      GraftDeletes.translate(filters, cfg.partitionIntervalMs).isRight)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = SparkSession.active
    val cfg = declaredCfg.getOrElse(throw new UnsupportedOperationException(
      s"DELETE FROM needs the table's declared .schema; $tablePath has " +
        "none (pre-declaration legacy table) — delete through the " +
        "TsdbTable API with an explicit config instead"))
    GraftDeletes.translate(filters, cfg.partitionIntervalMs) match {
      case Left(why) => throw new UnsupportedOperationException(
        s"DELETE WHERE is not translatable to the graft delete surface: $why")
      case Right(None) => () // provably zero matching rows — a valid no-op
      case Right(Some(t)) =>
        new TsdbTable(spark, tablePath, cfg)
          .delete(t.fromMs, t.toMs, filter = t.filter)
    }
  }
  override def schema(): StructType = tableSchema
  override def partitioning(): Array[Transform] =
    Array(Expressions.identity("part_start"))
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      // writes go through the V1 InsertableRelation fallback: an append
      // is a driver-side ORCHESTRATION (partitioned raw write + rollup
      // fold + names merge + one atomic commit), not a per-task row
      // sink — exactly the seam V1_BATCH_WRITE exists for
      // (DataFrameWriter's capability gate checks BATCH_WRITE; the
      // planner then picks the V1 exec from the Write being a V1Write).
      // Input is the SAMPLE schema (name/labels/time/value[, valueStr]),
      // a subset of the read schema, hence ACCEPT_ANY_SCHEMA + our own
      // validation in newWriteBuilder.
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new util.HashMap[String, String](options)
    merged.putAll(o)
    new GraftScanBuilder(tablePath, new CaseInsensitiveStringMap(merged),
      tableSchema, pinned)
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val cols = GraftWrites.sampleColumns(info.schema(), "graft sink")
    val writeOpts = options.asCaseSensitiveMap().asScala
      .map { case (k, v) => k.toLowerCase -> v }.toMap
    // idempotent batch writes (the Delta txnAppId/txnVersion surface,
    // r12): a retried job re-running the same write is detected by the
    // manifest's writer-transaction tag — published in the same atomic
    // commit as the data, so the retry can never double-append
    val txn: Option[(String, Long)] =
      (writeOpts.get("txnappid"), writeOpts.get("txnversion")) match {
        case (Some(id), Some(v)) => Some(("app-" + id, v.toLong))
        case (None, None) => None
        case _ => throw new IllegalArgumentException(
          "txnAppId and txnVersion must be set together")
      }
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: InsertableRelation =
            (df: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
              if (overwrite)
                throw new UnsupportedOperationException(
                  "graft sink appends only — deletes/retention/compaction " +
                    "are table maintenance operations, not write modes")
              val spark = df.sparkSession
              val cfg = GraftWrites.configFor(spark, tablePath, writeOpts)
              val t = new TsdbTable(spark, tablePath, cfg)
              // fast-path replay skip only; the authoritative check runs
              // inside append, under the writer lock and again on the
              // commit's own CAS basis (r12 review: TOCTOU — a check
              // that ran only here could race a concurrent retry)
              val replayed = txn.exists { case (id, v) => v <= t.txnVersion(id) }
              if (!replayed)
                t.append(df.selectExpr(
                  GraftWrites.sampleProjection(df.schema, "graft sink"): _*),
                  txn = txn)
            }
        }
    }
  }
}

private[sources] final class GraftScanBuilder(
    tablePath: String, options: CaseInsensitiveStringMap,
    tableSchema: StructType = TsdbTable.RawSchema,
    pinned: Option[GraftRawRead] = None)
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
  with SupportsPushDownAggregates with SupportsPushDownLimit {

  /** Columns whose value is identical across every LWW version of a
    * (series, time) key — the only ones safe to filter below the MOR
    * merge. `value`/`valueStr` differ between versions and must stay
    * residual. */
  private val KeyStable = Set("name", "labels_str", "time", "series_id", "part_start")

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema
  private var aggPushed: Option[Seq[GraftAggSpec]] = None
  private var aggGroupByPart: Boolean = false
  private var limit: Option[Int] = None

  /** The table's DECLARED config (the engine's own, or `.schema`), kept
    * separate from the defaulted fallback: a pre-declaration legacy
    * table (created before self-describing tables, no append since) must
    * not be served with silently-assumed interval/MOR settings where that
    * could DROP data (see [[GraftScan.prunedPartitions]], r12 review). */
  private val declared: Option[TsdbConfig] = pinned.map(_.config).orElse(
    SchemaJson.readCached(tablePath, SparkSession.active.sparkContext.hadoopConfiguration))

  /** Snapshot handle (r12): `option("asOf", seq)` serves the table
    * exactly as it stood at that committed seq — Delta `versionAsOf`
    * shaped, same fence/handle rules as [[TsdbTable.readRawAsOf]]. */
  private val asOf: Option[Long] = pinned match {
    case Some(r) => r.asOf
    case None => Option(options.get("asof")).map { s =>
      val seq = s.toLong
      require(seq > 0,
        s"asOf=$seq is not a snapshot handle: take one with currentSeq() " +
          "(seqs are wall-clock ms — always positive)")
      seq
    }
  }

  /** Label-equality scan options (r15): `.option("label.<key>", "<value>")`
    * — the scan serves only rows whose labels map has that exact entry.
    * See [[GraftLabels]]. Gates aggregate pushdown off (footer partials
    * can't see label filters). */
  private val labelEq: Seq[(String, String)] =
    pinned.map(_.labelEq).getOrElse(GraftLabels.fromOptions(options))

  /** Aggregate pushdown (r13): global COUNT(*) / COUNT(col) / MIN /
    * MAX collapse to a parquet FOOTER walk — each file bundle
    * contributes one partial row, row groups the stats fully decide
    * contribute without page IO, and the rest decode, exact, through
    * the scan's own decoder into the same partials
    * ([[GraftAggReader]]). Spark re-merges the partials (count → SUM),
    * so correctness never depends on the stats.
    * GROUP BY part_start ALSO pushes — the one grouping the storage
    * layout answers for free (part_start is the split identity, so
    * per-partition partials need no extra IO). SUM (r14) and MIN/MAX
    * over value/valueStr (r14) push too, served from decoded pages —
    * their footer stats are never trusted (double stats are
    * NaN-hostile, binary stats truncate). Rejected
    * (Spark then aggregates the normal scan): any other group-by,
    * DISTINCT, expression arguments, and MOR tables (counts/extrema
    * are post-merge properties). */
  override def pushAggregation(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
        case _ => None
      }
    // the ONE group-by the storage layout answers for free: part_start
    // is the split identity, so per-partition partials group without
    // reading a single page. Any other grouping falls back to Spark.
    val byPart = agg.groupByExpressions.toSeq.map(colOf) match {
      case Nil => false
      case Seq(Some("part_start")) => true
      case _ => return false
    }
    if (declared.exists(_.overrideOld) || labelEq.nonEmpty) return false
    // value/valueStr extrema push since r14 — NOT from footer stats
    // (double stats are NaN-hostile and binary stats truncate; the
    // stats stager refuses both shapes), but from decoded pages, whose
    // fold applies Spark's exact double ordering (NaN greatest,
    // -0.0 == 0.0) per value
    val MinMaxable = Set("name", "labels_str", "time", "series_id", "part_start",
      "value", "valueStr")
    // COUNT(col) needs the column's parquet NULL counts, which exist
    // only for FLAT leaf columns — the `labels` map's physical leaves
    // are labels.key_value.*, so footer lookup by top-level name would
    // silently read it as "absent = all null" (review-caught r13).
    // Since value/valueStr extrema joined MinMaxable (r14) the two
    // surfaces coincide: every flat column counts and min/maxes.
    val Countable = MinMaxable
    // SUM (r14) has no footer form, but the agg reader decodes the
    // column and emits one partial per split — `SELECT sum(value)`
    // reads one column inside the scan and plans no wide exchange.
    // Spark rewrites a partial AVG to SUM+COUNT itself.
    // Long sums accumulate with addExact (ANSI: overflow must throw,
    // never wrap silently).
    val Summable = Set("time", "series_id", "part_start", "value")
    val specs: Array[Option[GraftAggSpec]] = agg.aggregateExpressions.map {
      case _: CountStar => Some(GraftAggSpec("count_star", ""))
      case c: Count if !c.isDistinct =>
        colOf(c.column).filter(Countable).map(GraftAggSpec("count", _))
      case m: Min => colOf(m.column).filter(MinMaxable).map(GraftAggSpec("min", _))
      case m: Max => colOf(m.column).filter(MinMaxable).map(GraftAggSpec("max", _))
      case s: Sum if !s.isDistinct =>
        colOf(s.column).filter(Summable).map(GraftAggSpec("sum", _))
      case _ => None
    }
    if (specs.exists(_.isEmpty)) false
    else {
      aggPushed = Some(specs.flatten.toSeq)
      aggGroupByPart = byPart
      true
    }
  }

  /** Partial limit (r13): each split stops after `n` rows that pass the
    * exact pushed filters (post-merge on MOR stripes); Spark applies
    * the global limit over the partials. */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  override def isPartiallyPushed: Boolean = true

  private def acceptable(f: Filter): Boolean = f match {
    case EqualTo(c, _: Long) => KeyStable(c)
    case EqualTo(c, _: String) => c == "name" || c == "labels_str"
    case In(c, vs) => vs.nonEmpty &&
      ((c == "name" || c == "labels_str") && vs.forall(_.isInstanceOf[String]) ||
        // long IN-lists (r15): time/series_id/part_start — the day-list
        // and series-list scan shapes; part_start IN prunes whole
        // partition dirs, the rest prune row groups via stats
        KeyStable(c) && c != "name" && c != "labels_str" &&
          vs.forall(_.isInstanceOf[Long]))
    case GreaterThan(c, _: Long) => KeyStable(c)
    case GreaterThanOrEqual(c, _: Long) => KeyStable(c)
    case LessThan(c, _: Long) => KeyStable(c)
    case LessThanOrEqual(c, _: Long) => KeyStable(c)
    case IsNotNull(c) => KeyStable(c)
    case And(l, r) => acceptable(l) && acceptable(r)
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (acc, rest) = filters.partition(acceptable)
    pushed = acc
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new GraftScan(tablePath, options, pushed, required, aggPushed, limit,
      aggGroupByPart, declared, asOf, labelEq)
}

/** Writer-side plumbing shared by the batch write and the streaming
  * sink. */
private[sources] object GraftWrites {

  /** The sample-schema projection, validated: name/labels/time/value
    * required, valueStr optional. ONE definition so the two writers can
    * never drift. */
  def sampleColumns(schema: StructType, who: String): Seq[String] = {
    val required = Seq("name", "labels", "time", "value")
    val missing = required.filterNot(schema.fieldNames.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"$who takes the sample schema (name, labels, time, value" +
          s"[, valueStr]); input is missing ${missing.mkString(", ")}")
    required ++
      (if (schema.fieldNames.contains("valueStr")) Seq("valueStr") else Nil)
  }

  private val SampleTypes = Map(
    "name" -> "string", "labels" -> "map<string,string>",
    "time" -> "bigint", "value" -> "double", "valueStr" -> "string")

  /** [[sampleColumns]] with the declared sample TYPES enforced by cast:
    * SQL `INSERT INTO ... VALUES` (and permissive callers) deliver
    * int/decimal literals where the table stores long/double — written
    * verbatim they would drift the parquet file schema under the table
    * (r13). The cast is gated by a type ALLOWLIST, not left to CAST's
    * own tolerance (review-caught r13): a TimestampType `time` would
    * cast to epoch SECONDS (silently 1000× off the table's millisecond
    * convention) and non-ANSI string→number casts null out bad rows —
    * both reject loudly here instead. */
  def sampleProjection(schema: StructType, who: String): Seq[String] = {
    import org.apache.spark.sql.types._
    // atomics cast to string losslessly (their text form is exact)
    def stringable(dt: DataType): Boolean = dt match {
      case StringType | BooleanType | ByteType | ShortType | IntegerType |
           LongType | _: DecimalType => true
      case _ => false
    }
    def ok(c: String, dt: DataType): Boolean = (c, dt) match {
      case (_, NullType) => true // a bare NULL literal casts losslessly
      case ("name" | "valueStr", StringType) => true
      case ("labels", MapType(k, v, _)) => stringable(k) && stringable(v)
      case ("time", ByteType | ShortType | IntegerType | LongType) => true
      // scale-0 decimals are integral; ANSI decimal→bigint overflows
      // LOUDLY (common shape of SQL sum()/literal arithmetic)
      case ("time", d: DecimalType) => d.scale == 0
      case ("value", _: NumericType) => true
      case _ => false
    }
    sampleColumns(schema, who).map { c =>
      val dt = schema(c).dataType
      if (!ok(c, dt))
        throw new IllegalArgumentException(
          s"$who: column `$c` has type ${dt.catalogString}, expected " +
            s"${SampleTypes(c)} (or a losslessly-castable narrower type) — " +
            "refusing a silent coercion")
      s"CAST(`$c` AS ${SampleTypes(c)}) AS `$c`"
    }
  }

  /** Resolve the table config for a write (review-caught r12: writer
    * options were silently dropped). An EXISTING declaration (.schema)
    * is authoritative — conflicting writer options reject loudly; a
    * FRESH table honors the recognized config options (they become the
    * table's .schema at first append). */
  def configFor(spark: SparkSession, tablePath: String,
                options: Map[String, String]): TsdbConfig = {
    val existing = SchemaJson
      .readCached(tablePath, spark.sparkContext.hadoopConfiguration)
    val base = existing.getOrElse(TsdbConfig())
    def long(k: String, cur: Long): Long = options.get(k).map(_.toLong).getOrElse(cur)
    val wanted = base.copy(
      overrideOld = options.get("overrideold").map(_.toBoolean)
        .getOrElse(base.overrideOld),
      partitionIntervalMs = long("partitionintervalms", base.partitionIntervalMs),
      rollupIntervalMs = long("rollupintervalms", base.rollupIntervalMs),
      lateArrivalMs = long("latearrivalms", base.lateArrivalMs),
      shardingBuckets = options.get("shardingbuckets").map(_.toInt)
        .getOrElse(base.shardingBuckets))
    existing.foreach { cfg =>
      if (wanted != cfg)
        throw new IllegalArgumentException(
          s"write options conflict with $tablePath/.schema — the table's " +
            "declared config is authoritative; change it with the schema " +
            "tooling, not a writer option")
    }
    wanted
  }
}

/** EXACT translation of a SQL `DELETE FROM ... WHERE` conjunction onto
  * the engine delete surface `TsdbTable.delete(fromMs, toMs, filter)`
  * (reference S11, `pkg/tsdb/v3iotsdb.go:272-477`). The accepted set is
  * the delete-shaped subset of the scan's pushdown surface: `time`
  * comparisons fold into the inclusive [fromMs, toMs] range;
  * `part_start` comparisons fold into the SAME range via the declared
  * partition interval (a partition covers [p, p+interval-1], so
  * `part_start >= v` ⟺ `time >= align_up(v)` — exact, never a
  * superset); `name`/`labels_str` equality/IN and IsNotNull become the
  * delete's SQL predicate string. Everything else is Left — the caller
  * must reject, because SupportsDelete's contract is delete-exactly-or-
  * fail. A provably-empty conjunction (impossible bounds, empty IN,
  * unaligned part_start equality) is Right(None): deleting zero rows
  * exactly. */
private[graft] object GraftDeletes {
  final case class Translated(fromMs: Long, toMs: Long, filter: String)

  /** Escape a string literal for the expr()-parsed delete predicate.
    * Backslashes must escape too (advisor-caught r14): with Spark's
    * default escapedStringLiterals=false the SQL parser processes
    * backslash escapes inside single-quoted literals — an unescaped
    * `\b` would silently become a backspace (deleting the wrong rows,
    * usually none) and a trailing `\` would swallow the closing quote. */
  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("'", "''")

  def translate(filters: Array[Filter], intervalMs: Long)
      : Either[String, Option[Translated]] = {
    var lo = Long.MinValue
    var hi = Long.MaxValue
    var impossible = false
    var err: String = null
    val preds = ArrayBuffer.empty[String]
    val I = intervalMs

    def timeLo(v: Long): Unit = lo = math.max(lo, v)
    def timeHi(v: Long): Unit = hi = math.min(hi, v)
    // alignment arithmetic in BigInt: near either Long extreme the
    // aligned neighbor is unrepresentable, and a wrapped q*I would
    // silently flip a match-nothing DELETE into delete-everything (or
    // vice versa) — review-caught r14; the MaxValue side alone was
    // guarded before
    val bigI = BigInt(I)
    /** Largest multiple of I that is <= w (floorDiv semantics). */
    def floorAlign(w: BigInt): BigInt = {
      val (q, r) = w /% bigI
      (if (r.signum < 0) q - 1 else q) * bigI
    }
    // part_start >= w  ⟺  time >= (smallest aligned multiple of I >= w)
    def partLo(w: Long): Unit = {
      val f = floorAlign(BigInt(w))
      val a = if (f == BigInt(w)) f else f + bigI // ceil-align
      if (a > BigInt(Long.MaxValue)) impossible = true // no aligned value left
      else if (a >= BigInt(Long.MinValue)) timeLo(a.toLong)
      // a below the long range: every representable time qualifies
    }
    // part_start <= w  ⟺  time <= (largest aligned <= w) + I - 1
    def partHi(w: Long): Unit = {
      val h = floorAlign(BigInt(w)) + bigI - 1
      if (h < BigInt(Long.MinValue)) impossible = true // below every time
      else if (h <= BigInt(Long.MaxValue)) timeHi(h.toLong)
      // h above the long range: no constraint
    }
    def strPred(c: String, vs: Seq[String]): Unit =
      if (vs.isEmpty) impossible = true
      else if (vs.length == 1) preds += s"`$c` = '${esc(vs.head)}'"
      else preds += s"`$c` IN (${vs.map(v => s"'${esc(v)}'").mkString(", ")})"

    def conjuncts(f: Filter): Seq[Filter] = f match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }

    filters.flatMap(conjuncts).foreach {
      case EqualTo("time", v: Long) => timeLo(v); timeHi(v)
      case GreaterThan("time", v: Long) =>
        if (v == Long.MaxValue) impossible = true else timeLo(v + 1)
      case GreaterThanOrEqual("time", v: Long) => timeLo(v)
      case LessThan("time", v: Long) =>
        if (v == Long.MinValue) impossible = true else timeHi(v - 1)
      case LessThanOrEqual("time", v: Long) => timeHi(v)
      case EqualTo("part_start", v: Long) =>
        if (math.floorMod(v, I) != 0L) impossible = true // unaligned = matches nothing
        else { timeLo(v); partHi(v) }
      case GreaterThan("part_start", v: Long) =>
        if (v == Long.MaxValue) impossible = true else partLo(v + 1)
      case GreaterThanOrEqual("part_start", v: Long) => partLo(v)
      case LessThan("part_start", v: Long) =>
        if (v == Long.MinValue) impossible = true else partHi(v - 1)
      case LessThanOrEqual("part_start", v: Long) => partHi(v)
      case In("time", vs) if vs.forall(_.isInstanceOf[Long]) =>
        if (vs.isEmpty) impossible = true
        else {
          val ls = vs.map(_.asInstanceOf[Long])
          timeLo(ls.min); timeHi(ls.max) // narrows the partition fast path
          preds += s"`time` IN (${ls.mkString(", ")})"
        }
      case EqualTo(c @ ("name" | "labels_str"), v: String) => strPred(c, Seq(v))
      case In(c @ ("name" | "labels_str"), vs) if vs.forall(_.isInstanceOf[String]) =>
        strPred(c, vs.map(_.asInstanceOf[String]).toSeq)
      // part_start is derived from time — never null for a stored row
      case IsNotNull("part_start") => ()
      case IsNotNull(c) if TsdbTable.RawSchema.fieldNames.contains(c) =>
        preds += s"`$c` IS NOT NULL"
      case _: AlwaysTrue => ()
      case _: AlwaysFalse => impossible = true
      case other =>
        err = s"unsupported predicate $other (accepted: conjunctions of " +
          "time/part_start comparisons, name/labels_str equality or IN, " +
          "IS NOT NULL)"
    }
    if (err != null) Left(err)
    else if (impossible || lo > hi) Right(None)
    else Right(Some(Translated(lo, hi, preds.mkString(" AND "))))
  }
}

/** Label-equality scan pruning (r15) — the engine-level answer to the
  * reference's filter-to-sharding-key scans (P1/P2,
  * `pkg/partmgr/partmgr.go:459-468`, `pkg/pquerier/select.go:598`).
  *
  * Spark itself cannot deliver a `labels['k'] = 'v'` predicate to a
  * DSv2 source: v1 `Filter`s have no map-access shape, and the v2
  * predicate translator (`V2ExpressionBuilder`, verified against the
  * shipped Spark 4.1.2 bytecode) handles `GetArrayItem` but not
  * `GetMapValue`/`ElementAt` — so `SupportsPushDownV2Filters` would
  * never see the predicate either; it stays a post-scan residual. The
  * scan therefore accepts the filter as OPTIONS:
  * `.option("label.<key>", "<value>")` (repeatable; conjunctive; key
  * case preserved via the case-sensitive option view).
  *
  * Semantics: the scan emits exactly the rows whose labels map contains
  * every given entry — enforced row-level (exact map lookup, never the
  * escape-ambiguous labels_str), so correctness NEVER depends on the
  * index. Performance comes from the series registry
  * ([[graft.storage.TsdbTable.resolveSeries]]): at planning the labels
  * resolve to a series_id set, which (a) drops MOR stripes whose series
  * range misses the set, (b) drops everything when no series matches,
  * (c) skips row groups whose footer series_id stats hold no member
  * (files are sorted by series_id, so groups are near-contiguous series
  * runs), and (d) cheapens the row filter to a hash-set membership
  * test. Beyond [[graft.storage.TsdbTable.MaxPruneSeries]] matches (or
  * on a registry-less legacy table) the columnar readers decode the
  * `labels` map and test each row exactly ([[GraftReaders.LabelTest]]). */
private[sources] object GraftLabels {
  def fromOptions(options: CaseInsensitiveStringMap): Seq[(String, String)] =
    options.asCaseSensitiveMap().asScala.toSeq.collect {
      case (k, v) if k.length > 6 && k.substring(0, 6).equalsIgnoreCase("label.") =>
        (k.substring(6), v)
    }.sortBy(_._1)
}

/** One file split of a non-MOR table (window-free read). Carries its
  * `part_start` as a partition key so a scan that reports
  * KeyGroupedPartitioning can be split-grouped by Spark (r14). */
private[sources] final case class GraftFileSplit(
    file: String, start: Long, length: Long, partStart: Long)
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](partStart))
}

/** One series-range stripe over ALL files of one MOR time partition —
  * the unit of the shuffle-free merge. */
private[sources] final case class GraftMorStripe(
    files: Seq[String], partStart: Long,
    seriesLo: Long, seriesHi: Long) extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](partStart))
}

private[sources] final class GraftScan(
    tablePath: String, options: CaseInsensitiveStringMap,
    pushed: Array[Filter], required: StructType,
    agg: Option[Seq[GraftAggSpec]] = None, limit: Option[Int] = None,
    aggGroupByPart: Boolean, declared: Option[TsdbConfig], asOf: Option[Long],
    labelEq: Seq[(String, String)])
  extends Scan with Batch with SupportsReportStatistics
  with SupportsRuntimeFiltering with SupportsReportPartitioning
  with SupportsReportOrdering {

  private val spark = SparkSession.active
  private val config: TsdbConfig = declared.getOrElse(TsdbConfig())

  /** The label filter resolved to a series_id set at planning by the
    * table's series resolver ([[TsdbTable.resolveSeries]]) — None when
    * no registry (legacy sidecar), no label filter, or more than
    * [[TsdbTable.MaxPruneSeries]] matches (then the exact row-level map
    * filter carries alone). */
  private lazy val labelSeries: Option[java.util.HashSet[Long]] =
    new TsdbTable(spark, tablePath, config).resolveSeries(labelEq).map { ids =>
      val set = new java.util.HashSet[Long](math.max(4, ids.length * 2))
      ids.foreach(set.add(_))
      set
    }

  /** Drop splits the resolved series set proves empty: MOR stripes whose
    * series range misses every matched series; ALL file splits when no
    * series matches at all (a no-match label scan reads zero bytes). */
  private def applyLabelPrune(parts: Array[InputPartition]): Array[InputPartition] =
    labelSeries match {
      case None => parts
      case Some(set) => parts.flatMap {
        case m: GraftMorStripe =>
          val it = set.iterator()
          var hit = false
          while (!hit && it.hasNext) {
            val l = it.next()
            hit = l >= m.seriesLo && l <= m.seriesHi
          }
          if (hit) Some(m) else None
        case s: GraftFileSplit => if (set.isEmpty) None else Some(s)
        case other => Some(other)
      }
    }

  /** The partial-aggregate output schema Spark's rewritten final
    * aggregate consumes positionally: counts are longs, extrema carry
    * the column's raw type. */
  private def aggSchema(specs: Seq[GraftAggSpec]): StructType = {
    import org.apache.spark.sql.types.{LongType, StructField}
    val group =
      if (aggGroupByPart) Seq(StructField("part_start", LongType, nullable = false))
      else Nil
    StructType(group ++ specs.map { s =>
      s.op match {
        case "count_star" => StructField("count(*)", LongType, nullable = false)
        case "count" => StructField(s"count(${s.col})", LongType, nullable = false)
        case op => StructField(s"$op(${s.col})",
          TsdbTable.RawSchema(TsdbTable.RawSchema.fieldIndex(s.col)).dataType)
      }
    })
  }

  override def readSchema(): StructType =
    agg.map(aggSchema).getOrElse(required)
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftScan path=$tablePath/raw, mor=${config.overrideOld}, " +
      asOf.map(s => s"asOf=$s, ").getOrElse("") +
      (if (labelEq.isEmpty) ""
       else s"LabelFilters: [${labelEq.map { case (k, v) => s"$k=$v" }.mkString(", ")}], " +
         labelSeries.map(set => s"LabelSeries: ${set.size()}, ").getOrElse("")) +
      // the pushed conjuncts on the partition column alone: they prune
      // whole partition directories at planning and never touch a row
      s"PartitionFilters: [${pushed.filter(_.references.forall(_ == "part_start"))
        .mkString(", ")}], " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      agg.map(a => s"PushedAggregates: [${a.map(s =>
        if (s.op == "count_star") "COUNT(*)"
        else s"${s.op.toUpperCase}(${s.col})").mkString(", ")}]" +
        (if (aggGroupByPart) ", PushedGroupBy: [part_start]" else "") + ", ")
        .getOrElse("") +
      limit.map(n => s"PushedLimit: $n, ").getOrElse("") +
      s"ReadSchema: ${readSchema().catalogString}"

  // ---- planning ----------------------------------------------------------

  /** (lo, hi) bounds a pushed comparison set implies for long column `c`
    * (inclusive), or the full range. An IN-list implies [min, max]. */
  private def boundsFor(c: String): (Long, Long) = {
    var lo = Long.MinValue
    var hi = Long.MaxValue
    def walk(f: Filter): Unit = f match {
      case EqualTo(`c`, v: Long) => lo = math.max(lo, v); hi = math.min(hi, v)
      case GreaterThan(`c`, v: Long) => if (v < Long.MaxValue) lo = math.max(lo, v + 1)
      case GreaterThanOrEqual(`c`, v: Long) => lo = math.max(lo, v)
      case LessThan(`c`, v: Long) => if (v > Long.MinValue) hi = math.min(hi, v - 1)
      case LessThanOrEqual(`c`, v: Long) => hi = math.min(hi, v)
      case In(`c`, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Long]) =>
        val ls = vs.map(_.asInstanceOf[Long])
        lo = math.max(lo, ls.min); hi = math.min(hi, ls.max)
      case And(l, r) => walk(l); walk(r)
      case _ => ()
    }
    pushed.foreach(walk)
    (lo, hi)
  }

  /** Partition dirs surviving pruning: every pushed conjunct through the
    * one split predicate ([[survives]], which runtime filtering also
    * uses) AND the production time→partition clamp (`readRawImpl`:
    * partitions with `part_start` in [floor(timeLo/interval)*interval,
    * timeHi]). */
  private def prunedPartitions(fs: FileSystem): Seq[(Long, Path)] = {
    val base = new Path(s"$tablePath/raw")
    if (!fs.exists(base)) return Nil
    val (tLo, tHi) = boundsFor("time")
    // the time→partition LOWER clamp floors timeLo to a partition
    // boundary — correct only under the table's TRUE interval. Without
    // a `.schema` declaration (legacy table, no append since), flooring
    // with the assumed default could land ABOVE the real partition
    // start and silently prune partitions that hold matching rows
    // (r12 review) — so an undeclared table skips the derived lower
    // clamp and prunes on explicit `part_start` conjuncts plus the upper
    // clamp only (`part_start <= timeHi` holds under ANY interval:
    // a partition starting after timeHi cannot contain time <= timeHi).
    val lo =
      if (tLo == Long.MinValue || declared.isEmpty) Long.MinValue
      else math.floorDiv(tLo, config.partitionIntervalMs) * config.partitionIntervalMs
    val inSets = hoistInSets(pushed)
    fs.listStatus(base).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("part_start="))
      .map(p => p.getName.stripPrefix("part_start=").toLong -> p)
      .filter { case (s, _) =>
        s >= lo && s <= tHi && pushed.forall(survives(_, s, None, inSets))
      }
      .sortBy(_._1)
  }

  private def dataFiles(fs: FileSystem, dir: Path): Seq[(String, Long)] =
    fs.listStatus(dir).toSeq
      .filter(st => st.isFile && {
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet")
      })
      .map(st => (st.getPath.toString, st.getLen))
      // sorted: listStatus order is fs-dependent, and the MOR merge
      // breaks equal-__seq ties by cursor order — reads must be stable
      // across scans, not at the mercy of directory enumeration
      .sortBy(_._1)

  /** Splits, total bytes, AND the committed-visibility snapshot — ONE
    * frozen planning product. The snapshot is read immediately AFTER the
    * file listing, back-to-back (the production `rawFiles` order: under
    * a compaction swap, listing-first means a mid-swap listing is
    * followed by a manifest that already admits the new generation —
    * never a silently-empty view). Freezing the manifest HERE rather
    * than per `createReaderFactory` call (r12 review) closes the torn
    * window that per-action reads reopened: `planned` is pinned once at
    * planning, so a re-executed/cached scan used to pair that old
    * listing with a NEWER manifest — a batch in flight during listing
    * that committed later was then served as its listed SUBSET. One
    * scan now holds one consistent (listing, manifest) pair. */
  private lazy val planned
      : (Array[InputPartition], Long, Option[(Long, Set[Long])]) = {
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = prunedPartitions(fs)
    var bytes = 0L
    val out = ArrayBuffer.empty[InputPartition]
    if (agg.isDefined) {
      // aggregate pushdown (builder guarantees non-MOR): a footer walk,
      // not a data scan — byte-splitting buys nothing and one task per
      // file pays hundreds of near-empty tasks, so files PACK into at
      // most ~2× the session parallelism. ALWAYS at least one split:
      // a zero-file table must still emit its count=0 partial (the
      // final SUM over an empty scan would be NULL where COUNT is 0).
      val files = ArrayBuffer.empty[(String, Long)]
      parts.foreach { case (start, dir) =>
        dataFiles(fs, dir).foreach { case (f, len) =>
          bytes += len
          files += ((f, start))
        }
      }
      val slots = math.max(1, 2 * spark.sparkContext.defaultParallelism)
      val per = math.max(1, (files.length + slots - 1) / slots)
      if (files.isEmpty) out += GraftAggSplit(Nil)
      else files.grouped(per).foreach(g => out += GraftAggSplit(g.toSeq))
    } else if (config.overrideOld) {
      val askedStripes = Option(options.get("morstripes")).map(_.toInt)
      parts.foreach { case (start, dir) =>
        val files = dataFiles(fs, dir)
        bytes += files.map(_._2).sum
        // stripe count is SIZE-AWARE (r15, profile-led): a stripe can
        // skip only whole ROW GROUPS (footer stats), so striping finer
        // than the partition's largest file has groups just re-decodes
        // the same groups per stripe — at 8 stripes over one-group
        // files that was an 8× decode amplification for zero pruning.
        // Default: one stripe per ~48 MB of the largest file (≈ one
        // compressed row group), capped at shardingBuckets; an explicit
        // `morstripes` option is honored verbatim (the knob for
        // higher-parallelism scans of few-partition tables).
        val stripes = math.max(1, askedStripes.getOrElse {
          val maxLen = if (files.isEmpty) 0L else files.map(_._2).max
          math.min(config.shardingBuckets.toLong,
            math.max(1L, maxLen / (48L << 20))).toInt
        })
        // series_id is xxhash64 → uniform over the full signed-long
        // range; equal-width stripes balance load without key statistics
        val width = java.math.BigInteger.valueOf(2).pow(64)
          .divide(java.math.BigInteger.valueOf(stripes.toLong))
        def bound(i: Int): Long =
          java.math.BigInteger.valueOf(Long.MinValue)
            .add(width.multiply(java.math.BigInteger.valueOf(i.toLong))).longValueExact()
        if (files.nonEmpty)
          (0 until stripes).foreach { i =>
            val lo = if (i == 0) Long.MinValue else bound(i)
            val hi = if (i == stripes - 1) Long.MaxValue else bound(i + 1) - 1
            out += GraftMorStripe(files.map(_._1), start, lo, hi)
          }
      }
    } else {
      val splitBytes = math.max(1L << 20,
        spark.sessionState.conf.filesMaxPartitionBytes)
      parts.foreach { case (start, dir) =>
        dataFiles(fs, dir).foreach { case (f, len) =>
          bytes += len
          var off = 0L
          while (off < len) {
            val l = math.min(splitBytes, len - off)
            out += GraftFileSplit(f, off, l, start)
            off += l
          }
        }
      }
    }
    // committed-visibility snapshot, immediately after the listing:
    // lenient read for the current view (availability, like rawFiles'
    // current-view reads); STRICT + horizon fence under asOf (a
    // transient manifest error or a fenced handle must fail the
    // snapshot loudly, never serve a torn/empty view)
    val t = new TsdbTable(spark, tablePath, config)
    val commits = asOf match {
      case Some(seq) => t.commitsSnapshotAsOf(seq)
      case None => t.commitsSnapshot()
    }
    (out.toArray, bytes, commits)
  }

  // ---- runtime (join-driven) pruning --------------------------------------
  // Dynamic partition pruning, Spark-native (r13): when the table joins
  // a dimension on `part_start` or `series_id`, Spark evaluates the
  // build side first and hands the scan the resulting IN-set — splits
  // whose partition (or series stripe) provably misses it drop before
  // any IO. Best-effort by contract (the join re-filters rows), so
  // unknown filter shapes conservatively KEEP; a 100 TB time-partition
  // join then scans only the matched days instead of the whole table.
  private var runtime: Array[Filter] = Array.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // only columns the SCAN OUTPUTS (Spark's PartitionPruning resolves
    // these against readSchema and throws on anything pruned away) AND
    // that this scan's splits can actually prune on: series_id prunes
    // MOR stripes only — advertising it on file splits would buy the
    // query DPP subquery machinery that can never drop anything. A
    // GROUP-BY-part_start aggregate scan still outputs part_start and
    // its per-file bundles do prune on it.
    Seq("part_start", "series_id")
      .filter(c => c != "series_id" || config.overrideOld)
      .filter(readSchema().fieldNames.contains)
      .map(Expressions.column)
      .toArray[org.apache.spark.sql.connector.expressions.NamedReference]

  override def filter(filters: Array[Filter]): Unit = { runtime = filters }

  private def longOf(a: Any): Option[Long] = a match {
    case l: Long => Some(l)
    case n: java.lang.Number => Some(n.longValue())
    case _ => None
  }

  /** IN-sets hoisted to hash sets ONCE per pruning pass (identity-keyed
    * per In node): a DPP build side can hand back tens of thousands of
    * matched keys, and a linear rescan per split would make PLANNING
    * quadratic at exactly the scale pruning matters (review-caught
    * r13). `None` = the set contains a non-long (can't prune on it —
    * the membership test must conservatively pass). */
  private def hoistInSets(fs: Array[Filter])
      : java.util.IdentityHashMap[In, Option[java.util.HashSet[Long]]] = {
    val m = new java.util.IdentityHashMap[In, Option[java.util.HashSet[Long]]]()
    def walk(f: Filter): Unit = f match {
      case i @ In("part_start" | "series_id", vs) =>
        val set = new java.util.HashSet[Long](vs.length * 2)
        val allLong = vs.forall(v => longOf(v) match {
          case Some(l) => set.add(l); true
          case None => false
        })
        m.put(i, if (allLong) Some(set) else None)
      case And(l, r) => walk(l); walk(r)
      case Or(l, r) => walk(l); walk(r)
      case _ => ()
    }
    fs.foreach(walk)
    m
  }

  /** Does a split with this `part_start` (and series range, for MOR
    * stripes) possibly satisfy `f`? Conservative: unknown shapes keep. */
  private def survives(f: Filter, partStart: Long,
                       series: Option[(Long, Long)],
                       inSets: java.util.IdentityHashMap[In, Option[java.util.HashSet[Long]]])
      : Boolean =
    f match {
      case EqualTo("part_start", v) => longOf(v).forall(_ == partStart)
      case i @ In("part_start", _) =>
        Option(inSets.get(i)).flatten.forall(_.contains(partStart))
      case GreaterThan("part_start", v) => longOf(v).forall(partStart > _)
      case GreaterThanOrEqual("part_start", v) => longOf(v).forall(partStart >= _)
      case LessThan("part_start", v) => longOf(v).forall(partStart < _)
      case LessThanOrEqual("part_start", v) => longOf(v).forall(partStart <= _)
      case EqualTo("series_id", v) => series.forall { case (lo, hi) =>
        longOf(v).forall(l => l >= lo && l <= hi)
      }
      case i @ In("series_id", _) => series.forall { case (lo, hi) =>
        Option(inSets.get(i)).flatten match {
          // a stripe is a RANGE — iterate the set against [lo, hi]
          case Some(set) =>
            val it = set.iterator()
            var hit = false
            while (!hit && it.hasNext) { val l = it.next(); hit = l >= lo && l <= hi }
            hit
          case None => true
        }
      }
      case And(l, r) =>
        survives(l, partStart, series, inSets) && survives(r, partStart, series, inSets)
      case Or(l, r) =>
        survives(l, partStart, series, inSets) || survives(r, partStart, series, inSets)
      case _ => true
    }

  private def applyRuntime(parts: Array[InputPartition]): Array[InputPartition] =
    if (runtime.isEmpty) parts
    else {
      val inSets = hoistInSets(runtime)
      val kept = parts.flatMap {
        case s: GraftFileSplit =>
          if (runtime.forall(survives(_, s.partStart, None, inSets))) Some(s)
          else None
        case m: GraftMorStripe =>
          if (runtime.forall(survives(_, m.partStart,
            Some((m.seriesLo, m.seriesHi)), inSets))) Some(m) else None
        case a: GraftAggSplit =>
          val files = a.files.filter { case (_, ps) =>
            runtime.forall(survives(_, ps, None, inSets))
          }
          if (files.nonEmpty) Some(GraftAggSplit(files)) else None
        case other => Some(other)
      }
      // an aggregate scan must still emit its zero partial when pruning
      // empties it (SUM over an empty scan is NULL where COUNT is 0)
      if (kept.isEmpty && agg.isDefined)
        Array[InputPartition](GraftAggSplit(Nil))
      else kept
    }

  override def planInputPartitions(): Array[InputPartition] =
    applyRuntime(applyLabelPrune(planned._1))

  /** Report the storage clustering (r14): splits are `part_start`-pure,
    * so a consumer that needs ClusteredDistribution(part_start) —
    * GROUP BY part_start aggregations beyond the pushed COUNT/MIN/MAX
    * set, storage-partitioned joins — can skip its exchange entirely.
    * Spark 4 honors a reported KeyGroupedPartitioning by GROUPING the
    * scan's splits per key (`spark.sql.sources.v2.bucketing.enabled`,
    * default on), for EVERY consumer: a plain SELECT over a table with
    * many splits per partition would collapse to one task per day. So
    * the scan reports only when honoring it provably cannot reduce
    * parallelism — one split per partition already (the shape
    * compaction leaves, and every one-append partition) — or when the
    * caller opts in with `.option("keyGroupedScan", true)` because the
    * query IS part_start-clustered (the 100 TB GROUP BY day over
    * byte-split files: one task per day is exactly the right trade
    * against shuffling the table). Aggregate-pushdown scans never
    * report: their bundles pack files across partitions. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val splits = planned._1
    val optIn = Option(options.get("keygroupedscan")).exists(_.toBoolean)
    lazy val groups = splits.collect {
      case f: GraftFileSplit => f.partStart
      case m: GraftMorStripe => m.partStart
    }.distinct.length
    val reportable = agg.isEmpty && splits.nonEmpty &&
      readSchema().fieldNames.contains("part_start") &&
      splits.forall(_.isInstanceOf[HasPartitionKey]) &&
      (optIn || groups == splits.length)
    if (reportable)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(Expressions.identity("part_start")), groups)
    else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
        splits.length)
  }

  /** Report the MOR merge's row order (r14): every stripe emits
    * (series_id ASC, time ASC) — the k-way merge's own output contract,
    * enforced LOUDLY per input file ([[GraftMorColumnarReader]] throws
    * on a sort-contract violation), so the report can never be a lie.
    * With it, `sortWithinPartitions(series_id, time)`, sort-merge-join
    * local sorts, and window locals over series keys elide their
    * SortExec. Non-MOR file splits are also written sorted, but nothing
    * ENFORCES it at read time (a hand-planted unsorted file would
    * silently corrupt a merge join), so only the enforced path reports.
    * Spark itself drops the ordering when split-grouping merges
    * multiple stripes into one task. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.SortDirection
    val ok = config.overrideOld && agg.isEmpty &&
      Seq("series_id", "time").forall(readSchema().fieldNames.contains)
    if (!ok) Array.empty
    else Array(
      Expressions.sort(Expressions.column("series_id"), SortDirection.ASCENDING),
      Expressions.sort(Expressions.column("time"), SortDirection.ASCENDING))
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): util.OptionalLong = util.OptionalLong.of(planned._2)
    override def numRows(): util.OptionalLong = util.OptionalLong.empty()
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // the Hadoop conf rides a BROADCAST, not the task closure (r14): a
    // factory serialized into the task binary java-deserializes PER
    // TASK — profiling showed the whole-Configuration readFields (plus
    // its ObjectInputStream/classloader churn) dominating short scan
    // tasks. A broadcast value deserializes once per executor JVM and
    // is shared read-only by every task (the readers never mutate it).
    // Scans share one broadcast per SparkContext while the conf is
    // unchanged (`SerializableHadoopConf.broadcast`): serializing the
    // whole conf for each scan would be a fixed plan-phase cost of every
    // query.
    new GraftReaderFactory(
      SerializableHadoopConf.broadcast(spark.sparkContext),
      required.fieldNames.toSeq, pushed, planned._3, asOf,
      agg, limit, aggGroupByPart,
      // pushed long SUMs must fail-or-wrap exactly as the session's Sum
      // would (ANSI throws on overflow; legacy wraps) — review-caught
      // r14: unconditional addExact threw where a non-ANSI session's
      // unpushed plan would have wrapped
      ansiSum = spark.conf.get("spark.sql.ansi.enabled", "true").toBoolean,
      labelEq = labelEq, labelSeries = labelSeries)
  }
}

/** Readers per split: file splits and MOR stripes are served columnar
  * ([[GraftColumnarReader]], [[GraftMorColumnarReader]]); the one row
  * reader is the aggregate pushdown's partials per bundle
  * ([[GraftAggReader]]). All three walk their files' row groups through
  * [[GraftRowGroups]]. */
private[sources] final class GraftReaderFactory(
    private[sources] val conf: org.apache.spark.broadcast.Broadcast[SerializableHadoopConf],
    requested: Seq[String],
    pushed: Array[Filter],
    commits: Option[(Long, Set[Long])],
    asOf: Option[Long],
    agg: Option[Seq[GraftAggSpec]] = None,
    limit: Option[Int] = None,
    aggGroupByPart: Boolean = false,
    ansiSum: Boolean = true,
    labelEq: Seq[(String, String)] = Nil,
    labelSeries: Option[java.util.HashSet[Long]] = None)
  extends PartitionReaderFactory {

  // read-only shared Configuration (broadcast-cached per executor JVM)
  private def hconf: Configuration = conf.value.value

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = p match {
    case a: GraftAggSplit =>
      new GraftAggReader(hconf, a, agg.get, pushed, commits, asOf,
        aggGroupByPart, ansiSum)
    case other => throw new IllegalStateException(s"no row reader for $other")
  }

  override def supportColumnarReads(p: InputPartition): Boolean = p match {
    case _: GraftFileSplit | _: GraftMorStripe => true
    case _ => false
  }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = p match {
    case s: GraftFileSplit =>
      new GraftColumnarReader(hconf, s, requested, pushed, commits, asOf,
        labelEq, labelSeries, limit)
    case m: GraftMorStripe =>
      new GraftMorColumnarReader(hconf, m, requested, pushed, commits, asOf,
        labelEq, labelSeries, limit)
    case other => throw new IllegalStateException(s"no columnar reader for $other")
  }
}

/** Shared reader mechanics: exact row-level filter evaluation over
  * decoded vectors, the label test, visibility. */
private[sources] object GraftReaders {

  /** Pre-bind string literals inside accepted filters to [[UTF8String]]
    * (Filter values are `Any`, so the rebuilt tree is still a legal
    * Filter): [[eval]] then compares UTF8String-to-UTF8String with ZERO
    * per-row allocation — the naive `s.toString == x` allocated one
    * String per row per string filter, millions of times per scan
    * (review-caught r13). Call once per reader, never per row. */
  def prepare(fs: Array[Filter]): Array[Filter] = {
    def prep(f: Filter): Filter = f match {
      case EqualTo(c, x: String) => EqualTo(c, UTF8String.fromString(x))
      case In(c, xs) =>
        In(c, xs.map {
          case s: String => UTF8String.fromString(s)
          case other => other
        })
      case And(l, r) => And(prep(l), prep(r))
      case other => other
    }
    fs.map(prep)
  }

  /** Row-level evaluation of an accepted PREPARED pushed filter over
    * one decoded row (`get` reads a column; [[prepare]] rebinds string
    * literals; raw String literals still evaluate correctly, one
    * allocation per row).
    * `part_start` is constant per input partition and pre-satisfied at
    * planning, so it always passes here. */
  def eval(f: Filter, get: String => Any, partStart: Long): Boolean = {
    def v(c: String): Any = if (c == "part_start") partStart else get(c)
    def cmpLong(c: String, op: Long => Boolean): Boolean = v(c) match {
      case l: Long => op(l)
      case null => false
      case other => op(other.asInstanceOf[Number].longValue())
    }
    f match {
      case EqualTo(c, x: Long) => cmpLong(c, _ == x)
      case EqualTo(c, x: UTF8String) => v(c) match {
        case s: UTF8String => s.equals(x)
        case _ => false
      }
      case EqualTo(c, x: String) => v(c) match {
        case s: UTF8String => s.toString == x
        case _ => false
      }
      case In(c, xs) => v(c) match {
        case s: UTF8String =>
          xs.exists(x => x.isInstanceOf[UTF8String] && s.equals(x) ||
            x.isInstanceOf[String] && s.toString == x)
        case l: Long => xs.exists(x => x.isInstanceOf[Long] && x.asInstanceOf[Long] == l)
        case _ => false
      }
      case GreaterThan(c, x: Long) => cmpLong(c, _ > x)
      case GreaterThanOrEqual(c, x: Long) => cmpLong(c, _ >= x)
      case LessThan(c, x: Long) => cmpLong(c, _ < x)
      case LessThanOrEqual(c, x: Long) => cmpLong(c, _ <= x)
      case IsNotNull(c) => v(c) != null
      case And(l, r) => eval(l, get, partStart) && eval(r, get, partStart)
      case _ => true // never accepted; defensive
    }
  }

  /** Prepared (UTF8String-bound) label-equality pairs — bind once per
    * reader, never per row. */
  def prepareLabelEq(eq: Seq[(String, String)]): Array[(UTF8String, UTF8String)] =
    eq.map { case (k, v) =>
      (UTF8String.fromString(k), UTF8String.fromString(v))
    }.toArray

  /** Exact label-map filter: every (k, v) pair must be present verbatim
    * in the row's labels map. Null / non-map labels match nothing. */
  def labelsMatch(labels: Any,
                  eq: Array[(UTF8String, UTF8String)]): Boolean = labels match {
    case m: org.apache.spark.sql.catalyst.util.MapData =>
      val ks = m.keyArray()
      val vs = m.valueArray()
      val n = m.numElements()
      var p = 0
      while (p < eq.length) {
        val (k, v) = eq(p)
        var i = 0
        var ok = false
        while (!ok && i < n) {
          if (ks.getUTF8String(i).equals(k))
            ok = !vs.isNullAt(i) && vs.getUTF8String(i).equals(v)
          i += 1
        }
        if (!ok) return false
        p += 1
      }
      true
    case _ => false
  }

  /** visibility of a stamped row: a committed seq passes —
    * `TsdbTable.visibleSeqCond` exactly; under a snapshot handle it must
    * also be `<= asOf` (`readRawAsOf` semantics). A NULL `__seq` (legacy
    * rows, older than every seq) always passes; callers test it first. */
  def visible(seq: Long, commits: Option[(Long, Set[Long])],
              asOf: Option[Long]): Boolean =
    commits.forall { case (floor, seqs) => seq <= floor || seqs(seq) } &&
      asOf.forall(seq <= _)

  /** A decoded vector's cell as the catalyst value [[eval]] compares:
    * boxed long/double/boolean, UTF8String, or null. */
  def valueAt(v: org.apache.spark.sql.vectorized.ColumnVector, i: Int): Any =
    if (v.isNullAt(i)) null
    else v.dataType match {
      case org.apache.spark.sql.types.LongType => v.getLong(i)
      case org.apache.spark.sql.types.DoubleType => v.getDouble(i)
      case org.apache.spark.sql.types.BooleanType => v.getBoolean(i)
      case _ => v.getUTF8String(i)
    }

  /** One reader's label-equality filter ([[GraftLabels]]). With the
    * resolved series set it reads `series_id`: a stats-classifiable
    * `series_id IN` skips row groups, and rows test by hash lookup.
    * Without one (legacy sidecar, more than
    * [[graft.storage.TsdbTable.MaxPruneSeries]] matches) it reads
    * `labels` and tests each row's map exactly. Series identity is
    * LWW-key-stable, so the test is safe below the MOR merge. */
  final class LabelTest(eq: Seq[(String, String)],
                        series: Option[java.util.HashSet[Long]]) {
    val active: Boolean = eq.nonEmpty
    private val byMap = active && series.isEmpty
    private val preparedEq = prepareLabelEq(eq)
    /** The column the row test reads. */
    val cols: Seq[String] =
      if (!active) Nil else if (byMap) Seq("labels") else Seq("series_id")
    /** Row-group classification filter: the resolved set as an IN. */
    val seriesIn: Option[Filter] =
      if (!active) None
      else series.map(set => In("series_id", set.toArray.map(id => id: Any)))

    /** The row test over one decoded window ([[cols]] included). */
    def forBatch(byName: java.util.HashMap[String, GraftDecode.Flat]): Int => Boolean =
      if (!active) _ => true
      else if (byMap) {
        val v = byName.get("labels").vec
        i => !v.isNullAt(i) && labelsMatch(v.getMap(i), preparedEq)
      } else {
        val v = byName.get("series_id").vec
        val set = series.get
        i => !v.isNullAt(i) && set.contains(v.getLong(i))
      }
  }
}

/** The streaming ingest sink behind `writeStream.format("graft")` — see
  * [[GraftTableProvider.createSink]]. Replay detection is a
  * writer-transaction tag in the commit manifest
  * ([[TsdbTable.txnVersion]]): `txn=sink-<md5(checkpoint)>:<batchId>`
  * publishes in the SAME atomic manifest write that commits the batch's
  * seq, so the data and its marker can never disagree (a tip file
  * written before or after the append would reopen a replay/loss window
  * on either side — review-caught r12); and keying by checkpoint means
  * a NEW query over an existing table starts its own counter instead of
  * silently dropping batches 0..tip. */
private[graft] final class GraftStreamSink(
    spark: SparkSession, tablePath: String,
    parameters: Map[String, String] = Map.empty)
  extends org.apache.spark.sql.execution.streaming.Sink {

  private def fs = new Path(tablePath)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Writer identity: the checkpoint location (every restart of the
    * same query shares it; a different query has a different one), or a
    * caller-chosen `txnAppId` option. NO silent default (r12 review):
    * Spark does not forward a checkpoint dir resolved from the
    * `spark.sql.streaming.checkpointLocation` conf into the sink's
    * options, so a fallback constant would silently SHARE one replay
    * counter across every such query on the table — a second pipeline
    * (or a fresh-checkpoint restart) would then drop all batches below
    * the other query's tip via the replay early-return, the exact loss
    * the tag exists to prevent. Absent identity fails at sink creation,
    * before any batch runs. */
  private[graft] val txnId: String = {
    val raw = parameters.getOrElse("txnappid",
      parameters.getOrElse("checkpointlocation",
        throw new IllegalArgumentException(
          "graft streaming sink needs a writer identity for exactly-once " +
            "replay detection: set .option(\"checkpointLocation\", dir) on " +
            "the writer (the session-conf checkpoint root is NOT visible " +
            "to the sink), or a stable .option(\"txnAppId\", id)")))
    "sink-" + java.security.MessageDigest.getInstance("MD5")
      .digest(raw.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** InternalRow → external Row for the sample-schema types the sink
    * accepts (atomics, strings, string→string maps; arrays/structs for
    * completeness). The engine's batch frame is streaming-flagged —
    * `.write`/`.rdd` re-analyze and refuse — but its EXISTING
    * `queryExecution.toRdd` executes the planned incremental batch
    * directly, and converting eagerly per row is safe against the
    * UnsafeRow-reuse iterator contract. */
  private def toRowRdd(data: org.apache.spark.sql.DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    val schema = data.schema
    def convert(v: Any, dt: org.apache.spark.sql.types.DataType): Any = dt match {
      case _ if v == null => null
      case _: org.apache.spark.sql.types.StringType => v.toString
      case m: org.apache.spark.sql.types.MapType =>
        val md = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
        val ks = md.keyArray().toArray[Any](m.keyType)
        val vs = md.valueArray().toArray[Any](m.valueType)
        ks.zip(vs).map { case (k, x) =>
          convert(k, m.keyType) -> convert(x, m.valueType)
        }.toMap
      case a: org.apache.spark.sql.types.ArrayType =>
        v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toArray[Any](a.elementType).map(convert(_, a.elementType)).toSeq
      case st: org.apache.spark.sql.types.StructType =>
        val ir = v.asInstanceOf[InternalRow]
        org.apache.spark.sql.Row.fromSeq(st.fields.zipWithIndex.map {
          case (f, i) =>
            if (ir.isNullAt(i)) null else convert(ir.get(i, f.dataType), f.dataType)
        }.toSeq)
      case _ => v // atomics pass through (long/double/int/boolean/binary)
    }
    data.queryExecution.toRdd.mapPartitions { it =>
      it.map { ir =>
        org.apache.spark.sql.Row.fromSeq(schema.fields.zipWithIndex.map {
          case (f, i) =>
            if (ir.isNullAt(i)) null else convert(ir.get(i, f.dataType), f.dataType)
        }.toSeq)
      }
    }
  }

  /** Fault-injection seam for the stage-collision spec ONLY: runs once
    * (self-clearing) between this sink's stage write and its re-read —
    * the spec interleaves a SECOND query's full addBatch here, the
    * concurrent-sink timing that cannot be produced deterministically
    * through the public API. */
  private[graft] var testHookAfterStage: Runnable = null

  override def addBatch(batchId: Long, data: org.apache.spark.sql.DataFrame): Unit = {
    val cols = GraftWrites.sampleProjection(data.schema, "graft streaming sink")
    val cfg = GraftWrites.configFor(spark, tablePath, parameters)
    val t = new TsdbTable(spark, tablePath, cfg)
    if (batchId <= t.txnVersion(txnId)) return // replay after a crash: already in
    // Append consumes its input several times (raw write + rollup +
    // names) while the engine's batch plan is one-shot — STAGE the batch
    // to parquet beside the table (dot-dir: invisible to its listings)
    // and re-read it as a plain frame: bounded memory at any batch size
    // (a driver collect would cap backfill batches); a crashed batch
    // leaves only an ignored stage.
    // stage path namespaced by WRITER + batch (r12 review): keyed by
    // batchId alone, two queries sinking into one table both at batch N
    // would share the stage — the overwrite could swap one query's rows
    // under the other's txn tag BEFORE the single-writer lease rejects
    // the loser. With the txnId in the path each query stages privately;
    // the lease/CAS still rejects the concurrent append loudly.
    val stage = new Path(tablePath, s".sink_stage_${txnId}_$batchId")
    spark.createDataFrame(toRowRdd(data), data.schema)
      .selectExpr(cols: _*)
      .write.mode("overwrite").parquet(stage.toString)
    val hook = testHookAfterStage
    if (hook != null) { testHookAfterStage = null; hook.run() }
    try {
      val batch = spark.read.parquet(stage.toString)
      graft.streaming.IngestJob.appendBatch(t, batch,
        inWatermarkDeduped = false, txn = Some((txnId, batchId)))
    } finally fs.delete(stage, true)
  }

  override def toString: String = s"GraftStreamSink[$tablePath]"
}
