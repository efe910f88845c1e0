package graft.sources

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.page.PageReadStore
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{MessageType, PrimitiveType}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** The columnar (vectorized) read path of the DSv2 batch source. One
  * row-group walk ([[GraftRowGroups]]) serves every TSDB file reader:
  * each non-MOR byte-range split ([[GraftColumnarReader]]), each file of
  * a MOR stripe ([[GraftMorColumnarReader]]) and each file of an
  * aggregate pushdown ([[GraftAggReader]]). It classifies, projects and
  * compacts row groups, and decodes them through the one page decoder,
  * [[GraftDecode]]; page cursors are built only there. Columns decode
  * straight into flat value arrays through whole-page bulk decode
  * ([[GraftPageCursor]] — dictionary, definition levels and page shapes
  * handled there), wrapped as Spark [[ColumnVector]]s: no per-row
  * object, no boxing, no `InternalRow` until Spark's own ColumnarToRow
  * (which whole-stage-codegens over the batch).
  *
  * Every RawSchema column vectorizes, including the `labels` MAP: its
  * two leaf cursors reassemble per-row entry runs from
  * repetition/definition levels into flat key/value vectors + row
  * offsets — the standard columnar map layout. `_key_*` metadata
  * columns read their physical column ([[GraftMeta.physical]]); an
  * EMPTY projection (a `count()` whose aggregate was not pushed) emits
  * batches with no columns and a row count, and a group that needs no
  * column at all reads no pages.
  *
  * PUSHED FILTERS: every accepted filter references a flat key-stable
  * column, so row groups first classify against footer stats
  * ([[GraftFooterStats.classify]] — no-match groups skip without IO,
  * all-match groups serve whole), and only the undecidable groups
  * evaluate rows — against the DECODED VECTORS, folded into the same
  * selection the visibility test uses. "Accepted = fully consumed"
  * holds exactly. A label filter rides the same pass: its resolved
  * series set skips row groups by stats and tests rows by hash lookup;
  * an unresolved one (legacy sidecar, too many matches) decodes
  * `labels` and tests each row's map ([[GraftReaders.labelsMatch]]).
  *
  * A pushed LIMIT counts emitted rows per split: a window whose rows
  * all pass decodes no more than the rows still owed, and a tested
  * window stops its selection once the limit is met.
  */
private[sources] object GraftColumnar {
  /** Rows per emitted [[ColumnarBatch]]: big enough to amortize the
    * per-batch crossing, small enough that a task's in-flight decoded
    * vectors stay a few MB even with wide string columns. */
  val BatchRows = 32768

  private[sources] val TsdbColumnarTypes: Map[String, DataType] = Map(
    "name" -> StringType, "time" -> LongType, "value" -> DoubleType,
    "valueStr" -> StringType, "labels_str" -> StringType,
    "series_id" -> LongType,
    "labels" -> MapType(StringType, StringType))
}

// ---------------------------------------------------------------- vectors

/** Base: everything unsupported except what the subclass serves; null
  * tracking over an optional boolean array (null array = no nulls). */
private[sources] sealed abstract class GraftVec(
    dt: DataType, nulls: Array[Boolean], n: Int) extends ColumnVector(dt) {
  override def close(): Unit = ()
  override def hasNull: Boolean = nulls != null && {
    var i = 0; while (i < n) { if (nulls(i)) return true; i += 1 }; false
  }
  override def numNulls(): Int = {
    if (nulls == null) return 0
    var c = 0; var i = 0
    while (i < n) { if (nulls(i)) c += 1; i += 1 }
    c
  }
  override def isNullAt(i: Int): Boolean = nulls != null && nulls(i)
  private def no = throw new UnsupportedOperationException(s"$dataType vector")
  override def getBoolean(i: Int): Boolean = no
  override def getByte(i: Int): Byte = no
  override def getShort(i: Int): Short = no
  override def getInt(i: Int): Int = no
  override def getLong(i: Int): Long = no
  override def getFloat(i: Int): Float = no
  override def getDouble(i: Int): Double = no
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray = no
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap = no
  override def getDecimal(i: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal = no
  override def getUTF8String(i: Int): UTF8String = no
  override def getBinary(i: Int): Array[Byte] = no
  override def getChild(i: Int): ColumnVector = no
}

private[sources] final class GraftLongVec(
    vals: Array[Long], nulls: Array[Boolean], n: Int)
  extends GraftVec(LongType, nulls, n) {
  override def getLong(i: Int): Long = vals(i)
}

private[sources] final class GraftDoubleVec(
    vals: Array[Double], nulls: Array[Boolean], n: Int)
  extends GraftVec(DoubleType, nulls, n) {
  override def getDouble(i: Int): Double = vals(i)
}

private[sources] final class GraftBoolVec(
    vals: Array[Boolean], nulls: Array[Boolean], n: Int)
  extends GraftVec(BooleanType, nulls, n) {
  override def getBoolean(i: Int): Boolean = vals(i)
}

private[sources] final class GraftStringVec(vals: Array[UTF8String], n: Int)
  extends GraftVec(StringType, null, n) {
  override def hasNull: Boolean = {
    var i = 0; while (i < n) { if (vals(i) == null) return true; i += 1 }; false
  }
  override def numNulls(): Int = {
    var c = 0; var i = 0
    while (i < n) { if (vals(i) == null) c += 1; i += 1 }
    c
  }
  override def isNullAt(i: Int): Boolean = vals(i) == null
  override def getUTF8String(i: Int): UTF8String = vals(i)
  override def getBinary(i: Int): Array[Byte] =
    if (vals(i) == null) null else vals(i).getBytes
}

/** `part_start` — constant over a split. */
private[sources] final class GraftConstLongVec(v: Long)
  extends GraftVec(LongType, null, 0) {
  override def hasNull: Boolean = false
  override def numNulls(): Int = 0
  override def isNullAt(i: Int): Boolean = false
  override def getLong(i: Int): Long = v
}

/** A column the file's footer does not carry (legacy files predating a
  * schema column) — all null, any type. */
private[sources] final class GraftNullVec(dt: DataType)
  extends GraftVec(dt, null, 0) {
  override def hasNull: Boolean = true
  override def numNulls(): Int = -1 // callers use isNullAt
  override def isNullAt(i: Int): Boolean = true
}

/** The `labels` map column: per-batch entry arrays + row offsets, the
  * standard columnar map layout ([[org.apache.spark.sql.vectorized.ColumnarMap]]
  * views a [offset, offset+len) slice of the flat key/value vectors).
  * `nulls` distinguishes a NULL map from an EMPTY one. */
private[sources] final class GraftMapVec(
    offsets: Array[Int], nulls: Array[Boolean],
    keys: ColumnVector, vals: ColumnVector, n: Int)
  extends GraftVec(MapType(StringType, StringType), nulls, n) {
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    new org.apache.spark.sql.vectorized.ColumnarMap(
      keys, vals, offsets(i), offsets(i + 1) - offsets(i))
}

/** Selection indirection for a compacted window: O(1) wrap, no value
  * copies — row i reads the base vector at sel(i). */
private[sources] final class GraftSelVec(base: ColumnVector, sel: Array[Int])
  extends ColumnVector(base.dataType) {
  override def close(): Unit = ()
  override def hasNull: Boolean = {
    var i = 0
    while (i < sel.length) { if (base.isNullAt(sel(i))) return true; i += 1 }
    false
  }
  override def numNulls(): Int = {
    var c = 0; var i = 0
    while (i < sel.length) { if (base.isNullAt(sel(i))) c += 1; i += 1 }
    c
  }
  override def isNullAt(i: Int): Boolean = base.isNullAt(sel(i))
  override def getBoolean(i: Int): Boolean = base.getBoolean(sel(i))
  override def getByte(i: Int): Byte = base.getByte(sel(i))
  override def getShort(i: Int): Short = base.getShort(sel(i))
  override def getInt(i: Int): Int = base.getInt(sel(i))
  override def getLong(i: Int): Long = base.getLong(sel(i))
  override def getFloat(i: Int): Float = base.getFloat(sel(i))
  override def getDouble(i: Int): Double = base.getDouble(sel(i))
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    base.getArray(sel(i))
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    base.getMap(sel(i))
  override def getDecimal(i: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal =
    base.getDecimal(sel(i), p, s)
  override def getUTF8String(i: Int): UTF8String = base.getUTF8String(sel(i))
  override def getBinary(i: Int): Array[Byte] = base.getBinary(sel(i))
  override def getChild(i: Int): ColumnVector = base.getChild(i)
}

// ------------------------------------------------------------ bulk decode

/** Shared page→vector decode (r15): one definition under the one
  * row-group walk ([[GraftRowGroups]]), so no reader can drift on
  * levels/dictionary/page-shape handling. */
private[sources] object GraftDecode {

  /** A decoded flat column: the wrapping vector plus raw primitive
    * arrays (set only for the matching type) for consumers that need
    * scalar access without per-row virtual calls — the MOR merge keys. */
  final case class Flat(vec: ColumnVector, longs: Array[Long],
                        bools: Array[Boolean], nulls: Array[Boolean])

  def flat(r: GraftPageCursor, kind: PrimitiveType.PrimitiveTypeName,
           n: Int, col: String, file: String): Flat = kind match {
    case PrimitiveType.PrimitiveTypeName.INT64 =>
      val vals = new Array[Long](n)
      val nulls = new Array[Boolean](n)
      r.readLongs(n, vals, nulls, 0)
      Flat(new GraftLongVec(vals, nulls, n), vals, null, nulls)
    case PrimitiveType.PrimitiveTypeName.DOUBLE =>
      val vals = new Array[Double](n)
      val nulls = new Array[Boolean](n)
      r.readDoubles(n, vals, nulls, 0)
      Flat(new GraftDoubleVec(vals, nulls, n), null, null, nulls)
    case PrimitiveType.PrimitiveTypeName.BOOLEAN =>
      val vals = new Array[Boolean](n)
      val nulls = new Array[Boolean](n)
      r.readBooleans(n, vals, nulls, 0)
      Flat(new GraftBoolVec(vals, nulls, n), null, vals, nulls)
    case PrimitiveType.PrimitiveTypeName.BINARY =>
      val vals = new Array[UTF8String](n)
      r.readStrings(n, vals, 0)
      Flat(new GraftStringVec(vals, n), null, null, null)
    case other =>
      throw new IllegalStateException(
        s"unexpected parquet type $other for column $col in $file")
  }

  /** Decode the next `n` rows of the labels map into a [[GraftMapVec]].
    * Definition levels: maxDef = an entry, maxDef-1 = present-but-EMPTY
    * map, below = NULL map (maxDef-relative, NOT absolute — a REQUIRED
    * map's key leaf has maxDef 1 where def 0 means EMPTY; the r14 fuzz
    * caught the absolute version reading empty maps as NULL). A
    * repetition level > 0 continues the current row's entry run. */
  def map(keyC: GraftPageCursor, valC: GraftPageCursor,
          keyMaxDef: Int, valMaxDef: Int, n: Int): ColumnVector = {
    val offsets = new Array[Int](n + 1)
    val nulls = new Array[Boolean](n)
    val keys = ArrayBuffer.empty[UTF8String]
    val vals = ArrayBuffer.empty[UTF8String]
    var i = 0
    while (i < n) {
      val d = keyC.peekDef()
      if (d < keyMaxDef) {
        if (d < keyMaxDef - 1) nulls(i) = true
        keyC.skipEntry(); valC.skipEntry()
      } else {
        var more = true
        while (more) {
          // consume the VALUE leaf first: its def level must be read
          // before the lockstep pair advances
          vals += (if (valC.peekDef() == valMaxDef) valC.readStringEntry()
            else { valC.skipEntry(); null })
          keys += keyC.readStringEntry()
          more = keyC.hasMore && keyC.peekRep() > 0
        }
      }
      offsets(i + 1) = keys.length
      i += 1
    }
    new GraftMapVec(offsets, nulls,
      new GraftStringVec(keys.toArray, keys.length),
      new GraftStringVec(vals.toArray, vals.length), n)
  }

  /** Narrow the reader's page IO to `cols` for its NEXT row group:
    * `readNextRowGroup` then reads chunks of these columns only. Columns
    * the file lacks are ignored. */
  def project(reader: ParquetFileReader, fileSchema: MessageType,
              cols: Seq[String]): Unit =
    reader.setRequestedSchema(fileSchema.getColumns.asScala
      .filter(d => cols.contains(d.getPath()(0))).asJava)

  /** The page cursors of one row group for `cols`: flat leaves decode
    * through [[flat]], the labels map through its key/value leaf pair
    * ([[map]]), and a column the file lacks reads as all NULL (legacy
    * files predating `__seq`/`__del`/`valueStr`). Descriptors come from
    * the FILE schema; `pages` holds the [[project]]ed columns, or is null
    * when the file carries none of them. */
  final class Group(fileSchema: MessageType, pages: PageReadStore,
                    cols: Seq[String], file: String) {
    private val descs =
      if (pages == null) Nil else fileSchema.getColumns.asScala.toSeq
    private val flats: Map[String, (GraftPageCursor, PrimitiveType.PrimitiveTypeName)] =
      descs.filter(d => d.getPath.length == 1 && cols.contains(d.getPath()(0)))
        .map(d => d.getPath()(0) ->
          ((new GraftPageCursor(d, pages.getPageReader(d)),
            d.getPrimitiveType.getPrimitiveTypeName))).toMap
    // labels-map cursor pair: key/value leaves advance in LOCKSTEP (the
    // MAP group guarantees identical slot structure; only the value's
    // definition ceiling differs by its optionality)
    private val mapLeaves: Map[String, (GraftPageCursor, Int)] =
      if (!cols.contains("labels")) Map.empty
      else descs.filter(d => d.getPath.length == 3 && d.getPath()(0) == "labels")
        .map(d => d.getPath()(2) ->
          ((new GraftPageCursor(d, pages.getPageReader(d)), d.getMaxDefinitionLevel)))
        .toMap

    def has(c: String): Boolean = flats.contains(c)

    /** Decode the next `n` rows of every column of `cols`. */
    def decode(n: Int): java.util.HashMap[String, Flat] = {
      val out = new java.util.HashMap[String, Flat]()
      cols.foreach { c =>
        out.put(c, flats.get(c) match {
          case Some((cur, kind)) => flat(cur, kind, n, c, file)
          case None if c == "labels" && mapLeaves.contains("key") =>
            val (kc, kd) = mapLeaves("key")
            val (vc, vd) = mapLeaves("value")
            Flat(map(kc, vc, kd, vd, n), null, null, null)
          case None =>
            Flat(new GraftNullVec(GraftColumnar.TsdbColumnarTypes.getOrElse(c, LongType)),
              null, null, null)
        })
      }
      out
    }
  }
}

// --------------------------------------------------------- row-group walk

/** The ONE walk over a TSDB file's row groups, under every reader: a
  * flat split ([[GraftColumnarReader]]), each file of a MOR stripe
  * ([[GraftMorColumnarReader]]) and each file of an aggregate pushdown
  * ([[GraftAggReader]]). It owns the file's one [[ParquetFileReader]],
  * limited to a split's byte `range` when given (the standard parquet
  * split protocol: the row groups whose midpoint falls in it). Per row
  * group it
  *  - classifies once from footer stats: committed-batch visibility
  *    ([[GraftFooterStats.seqVisibility]]) and every pushed filter, the
  *    label's `series_id IN` and the caller's `keyFilters`
  *    ([[GraftFooterStats.classify]]; key filters only skip groups);
  *  - skips a group no row of which can pass without IO;
  *  - opens a kept group with exactly the columns it decodes: the
  *    caller's, `__seq` only when its visibility is mixed, the columns of
  *    the filters its stats left undecided and the label test's column
  *    ([[GraftDecode.project]] per group, so `readNextRowGroup` reads
  *    those chunks only);
  *  - decodes [[GraftColumnar.BatchRows]] windows and compacts them into
  *    one selection: the caller's per-row predicate first, then
  *    visibility (over the decoded `__seq` longs), the label test and the
  *    undecided filters.
  *
  * A group whose stats decide visibility and every pushed filter, with
  * no label test, is CLEAN: all its rows pass, and its windows carry no
  * selection unless the caller passes a predicate.
  *
  * Committed-batch visibility stays exact: `__seq` is constant per file
  * (stamped per append batch, RLE'd), so a group classifies all-visible
  * or all-invisible from its stats; a mixed one (a mid-chunk seq change,
  * never produced by the writer, but the reader must not trust that)
  * tests each row, never serving an uncommitted one. */
private[sources] final class GraftRowGroups(
    conf: Configuration,
    file: String,
    range: Option[(Long, Long)],
    pushed: Array[Filter],
    keyFilters: Seq[Filter],
    commits: Option[(Long, Set[Long])],
    asOf: Option[Long],
    label: GraftReaders.LabelTest,
    partStart: Long) {
  import GraftFooterStats.{NoRows, SomeRows}

  private val reader: ParquetFileReader = {
    val hPath = new org.apache.hadoop.fs.Path(file)
    val b = HadoopReadOptions.builder(conf, hPath).useColumnIndexFilter(false)
    range.foreach { case (start, end) => b.withRange(start, end) }
    new ParquetFileReader(HadoopInputFile.fromPath(hPath, conf), b.build())
  }
  private val fileSchema: MessageType = reader.getFooter.getFileMetaData.getSchema
  private val needSeq = commits.nonEmpty || asOf.nonEmpty
  private val prepared = GraftReaders.prepare(pushed)
  // pushed filters FIRST: the residue takes the first `pushed.length` verdicts
  private val classified = pushed ++ label.seriesIn ++ keyFilters
  private val blocks = reader.getRowGroups.iterator()

  // ---- the open group --------------------------------------------------
  private var group: GraftDecode.Group = _
  private var left = 0L
  private var mixed = false
  /** prepared filters the group's stats could NOT decide: the only ones
    * rows evaluate (an AllRows filter holds for every row of the group) */
  private var residue: Array[Filter] = Array.empty
  private var tested = false

  /** Rows of the open group not yet decoded. */
  def remaining: Long = left

  /** Move to the next row group that may hold rows and open it for the
    * columns `cols(block, clean)` names; `None` skips the group. False
    * at the end of the file or range. */
  def nextGroup(cols: (BlockMetaData, Boolean) => Option[Seq[String]]): Boolean = {
    while (blocks.hasNext) {
      val block = blocks.next()
      val vis = GraftFooterStats.seqVisibility(block, commits, asOf, needSeq)
      val tris = classified.map(GraftFooterStats.classify(_, block))
      val open =
        if (block.getRowCount == 0 || vis == NoRows || tris.contains(NoRows)) None
        else {
          mixed = vis == SomeRows
          residue = prepared.zip(tris).collect { case (f, SomeRows) => f }
          tested = mixed || residue.nonEmpty || label.active
          cols(block, !tested).map(c => (c ++ (if (mixed) Seq("__seq") else Nil) ++
            residue.flatMap(_.references).filterNot(_ == "part_start") ++
            label.cols).distinct)
        }
      // a group that needs no column the file carries (a count-only read,
      // or a legacy file missing every requested column) reads no pages,
      // and every column reads as NULL
      if (open.exists(_.exists(fileSchema.containsField))) {
        GraftDecode.project(reader, fileSchema, open.get)
        val pages = reader.readNextRowGroup()
        if (pages == null)
          throw new IllegalStateException(s"$file: row group vanished mid-read")
        group = new GraftDecode.Group(fileSchema, pages, open.get, file)
      } else {
        reader.skipNextRowGroup()
        group = open.map(new GraftDecode.Group(fileSchema, null, _, file)).orNull
      }
      if (group != null) { left = block.getRowCount; return true }
    }
    false
  }

  /** Decode the open group's next window and compact it. At most `cap`
    * rows are kept (a pushed LIMIT): a window none of whose rows is
    * tested decodes no more than that, a tested one decodes a full
    * window and stops its selection there. `rowOk` is the caller's
    * per-row predicate over the window's columns, tested first on every
    * row. */
  def window(cap: Long,
             rowOk: java.util.HashMap[String, GraftDecode.Flat] => Int => Boolean = null)
      : GraftRowGroups.Window = {
    val compact = tested || rowOk != null
    val n = math.min(left,
      math.min(GraftColumnar.BatchRows.toLong, if (compact) Long.MaxValue else cap)).toInt
    left -= n
    val byName = group.decode(n)
    if (!compact) return new GraftRowGroups.Window(byName, null, n)
    val pred = if (rowOk == null) null else rowOk(byName)
    val seq = byName.get("__seq")
    val rowLabel = label.forBatch(byName)
    var curRow = 0
    val getter: String => Any = c => GraftReaders.valueAt(byName.get(c).vec, curRow)
    val sel = new Array[Int](n)
    var k = 0
    var i = 0
    while (i < n && k < cap) {
      curRow = i
      // legacy NULL `__seq` rows predate every seq: always visible
      if ((pred == null || pred(i)) &&
          (!mixed || seq.nulls(i) || GraftReaders.visible(seq.longs(i), commits, asOf)) &&
          rowLabel(i) && residue.forall(GraftReaders.eval(_, getter, partStart))) {
        sel(k) = i
        k += 1
      }
      i += 1
    }
    new GraftRowGroups.Window(byName, java.util.Arrays.copyOf(sel, k), k)
  }

  def close(): Unit = reader.close()
}

private[sources] object GraftRowGroups {
  /** One decoded window: its columns and the `k` rows that pass, at
    * `sel`'s offsets, or every row (`sel == null`). */
  final class Window(val cols: java.util.HashMap[String, GraftDecode.Flat],
                     val sel: Array[Int], val k: Int) {
    def vec(c: String): ColumnVector = cols.get(c).vec

    /** `vecs` (this window's columns, or constants) as a batch of the
      * passing rows: a selection wraps each vector, no value copies. */
    def batch(vecs: Array[ColumnVector]): ColumnarBatch = new ColumnarBatch(
      if (sel == null) vecs else vecs.map(v => new GraftSelVec(v, sel): ColumnVector), k)
  }
}

// ----------------------------------------------------------------- reader

/** One byte-range split of one non-MOR file, emitted as
  * [[ColumnarBatch]]es: the split's row groups through [[GraftRowGroups]]
  * (committed rows only, pushed and label filters exact), at most
  * `limit` rows. */
private[sources] final class GraftColumnarReader(
    conf: Configuration,
    split: GraftFileSplit,
    requested: Seq[String],
    pushed: Array[Filter],
    commits: Option[(Long, Set[Long])],
    asOf: Option[Long],
    labelEq: Seq[(String, String)],
    labelSeries: Option[java.util.HashSet[Long]],
    limit: Option[Int])
  extends org.apache.spark.sql.connector.read.PartitionReader[ColumnarBatch] {

  /** decode set = requested physical columns (metadata aliases share
    * their column) */
  private val phys = requested.map(GraftMeta.physical)
  private val cols: Option[Seq[String]] = Some(phys.filterNot(_ == "part_start").distinct)
  private val groups = new GraftRowGroups(conf, split.file,
    Some((split.start, split.start + split.length)), pushed, Nil, commits, asOf,
    new GraftReaders.LabelTest(labelEq, labelSeries), split.partStart)
  /** rows this split may still emit (the pushed limit's counter) */
  private var left: Long = limit.fold(Long.MaxValue)(_.toLong)
  private var current: ColumnarBatch = _

  override def next(): Boolean = {
    while (left > 0) {
      if (groups.remaining > 0) {
        val w = groups.window(left)
        // a fully-compacted window (0 survivors) is legal but pointless
        if (w.k > 0) {
          current = w.batch(phys.map {
            case "part_start" => new GraftConstLongVec(split.partStart)
            case c => w.vec(c)
          }.toArray)
          left -= w.k
          return true
        }
      } else if (!groups.nextGroup((_, _) => cols)) return false
    }
    false
  }

  override def get(): ColumnarBatch = current
  override def close(): Unit = groups.close()
}
