package graft.sources

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.page.PageReadStore
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{MessageType, PrimitiveType}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** The columnar (vectorized) read path — the ONE decoder of the DSv2
  * batch source: every non-MOR byte-range split and every MOR stripe
  * ([[GraftMorColumnarReader]]) reads here, and the aggregate pushdown
  * ([[GraftAggReader]]) decodes its stats-undecided row groups through
  * this reader (its clean groups' unserved columns through the same
  * [[GraftDecode.Group]]). Page cursors are built only there. Columns
  * decode straight into flat value arrays through whole-page
  * bulk decode ([[GraftPageCursor]] — dictionary, definition levels and
  * page shapes handled there), wrapped as Spark [[ColumnVector]]s: no
  * per-row object, no boxing, no `InternalRow` until Spark's own
  * ColumnarToRow (which whole-stage-codegens over the batch).
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
  * selection indirection the visibility path uses. "Accepted = fully
  * consumed" holds exactly. A label filter rides the same pass: its
  * resolved series set skips row groups by stats and tests rows by hash
  * lookup; an unresolved one (legacy sidecar, too many matches) decodes
  * `labels` and tests each row's map ([[GraftReaders.labelsMatch]]).
  *
  * Committed-batch visibility stays EXACT: `__seq` is constant per file
  * (stamped per append batch, RLE'd), so each row group classifies from
  * its footer stats as all-visible / all-invisible / mixed; mixed groups
  * (a mid-chunk seq change — never produced by the writer, but the
  * reader must not trust that) decode `__seq` too and compact through
  * the selection, never serving an uncommitted row.
  *
  * A pushed LIMIT counts emitted rows per split: a window whose rows
  * all pass decodes no more than the rows still owed, and a residue
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

/** Selection indirection for mixed-visibility groups: O(1) wrap, no
  * value copies — row i reads the base vector at sel(i). */
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

/** Shared page→vector decode (r15): one definition for the non-MOR
  * columnar reader and the MOR columnar merge, so the two paths can
  * never drift on levels/dictionary/page-shape handling. */
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

  /** Narrow the reader's page IO to `cols` (the union of everything any
    * row group of the read can decode): `readNextRowGroup` then reads
    * chunks of these columns only. Columns the file lacks are ignored. */
  def project(reader: ParquetFileReader, fileSchema: MessageType,
              cols: Set[String]): Unit = {
    val fields = (0 until fileSchema.getFieldCount)
      .map(fileSchema.getType).filter(t => cols(t.getName))
    if (fields.nonEmpty)
      reader.setRequestedSchema(new MessageType(fileSchema.getName, fields: _*))
  }

  /** Open the reader's NEXT row group for decoding `cols`. When the file
    * carries none of them (a count-only read, or a legacy file missing
    * every requested column) the group is skipped without page IO and
    * every column reads as NULL. */
  def openGroup(reader: ParquetFileReader, fileSchema: MessageType,
                cols: Seq[String], file: String): Group =
    if (cols.exists(fileSchema.containsField)) {
      val pages = reader.readNextRowGroup()
      if (pages == null)
        throw new IllegalStateException(s"$file: row group vanished mid-read")
      new Group(fileSchema, pages, cols, file)
    } else {
      reader.skipNextRowGroup()
      new Group(fileSchema, null, cols, file)
    }

  /** The page cursors of one row group for `cols`: flat leaves decode
    * through [[flat]], the labels map through its key/value leaf pair
    * ([[map]]), and a column the file lacks reads as all NULL (legacy
    * files predating `__seq`/`__del`/`valueStr`). Descriptors come from
    * the FILE schema; `pages` holds the [[project]]ed union. */
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

// ----------------------------------------------------------------- reader

/** One byte-range split of one non-MOR file, emitted as
  * [[ColumnarBatch]]es: the row groups whose midpoint falls in the range
  * (the standard parquet split protocol), committed rows only, pushed
  * and label filters exact, at most `limit` rows. See [[GraftColumnar]]
  * for the shape. */
private[sources] final class GraftColumnarReader(
    conf: Configuration,
    split: GraftFileSplit,
    requested: Seq[String],
    pushed: Array[Filter],
    commits: Option[(Long, Set[Long])],
    asOf: Option[Long],
    labelEq: Seq[(String, String)] = Nil,
    labelSeries: Option[java.util.HashSet[Long]] = None,
    limit: Option[Int] = None)
  extends org.apache.spark.sql.connector.read.PartitionReader[ColumnarBatch] {

  private val hPath = new org.apache.hadoop.fs.Path(split.file)
  private val reader: ParquetFileReader = {
    val b = HadoopReadOptions.builder(conf, hPath)
      .useColumnIndexFilter(false)
      .withRange(split.start, split.start + split.length)
    new ParquetFileReader(HadoopInputFile.fromPath(hPath, conf), b.build())
  }
  private val fileSchema: MessageType = reader.getFooter.getFileMetaData.getSchema
  private val needSeq = commits.nonEmpty || asOf.nonEmpty
  private val filterCols: Seq[String] =
    pushed.flatMap(_.references).distinct.filterNot(_ == "part_start").toSeq
  private val prepared = GraftReaders.prepare(pushed)
  private val label = new GraftReaders.LabelTest(labelEq, labelSeries)

  /** decode set = requested physical columns (metadata aliases share
    * their column); `__seq` and the filter columns join per-group only
    * when that group needs row-level evaluation (mixed visibility /
    * inconclusive filter stats). */
  private val phys = requested.map(GraftMeta.physical)
  private val physCols: Seq[String] = phys.filterNot(_ == "part_start").distinct

  // ONE requested-schema projection for the whole split — the UNION of
  // everything any group can need: readNextRowGroup then does chunk IO
  // for these columns ONLY
  GraftDecode.project(reader, fileSchema,
    (physCols ++ (if (needSeq) Seq("__seq") else Nil) ++ filterCols ++ label.cols).toSet)

  // ---- per-group state ---------------------------------------------------
  private val blocks = reader.getRowGroups
  private var blockIdx = 0
  private var groupRemaining = 0L
  private var group: GraftDecode.Group = _
  private var groupMixed = false
  private var groupFiltered = false
  /** prepared filters the group's stats could NOT decide — the only
    * ones the residue loop must evaluate (AllRows-classified filters
    * hold for every row of the group by construction). */
  private var groupResidue: Array[Filter] = Array.empty
  /** rows this split may still emit (the pushed limit's counter) */
  private var left: Long = limit.fold(Long.MaxValue)(_.toLong)

  private var current: ColumnarBatch = _

  /** Advance to the next row group that contributes rows and open its
    * page cursors. False when the split is exhausted. */
  private def advanceGroup(): Boolean = {
    while (blockIdx < blocks.size()) {
      val block = blocks.get(blockIdx)
      blockIdx += 1
      val vis = GraftFooterStats.seqVisibility(block, commits, asOf, needSeq)
      val tris = (pushed ++ label.seriesIn).map(GraftFooterStats.classify(_, block))
      if (vis == GraftFooterStats.NoRows ||
          tris.contains(GraftFooterStats.NoRows)) {
        reader.skipNextRowGroup()
      } else {
        groupMixed = vis == GraftFooterStats.SomeRows
        // only the filters the stats could not prove for the WHOLE
        // group need row evaluation (review-caught r13: re-evaluating
        // AllRows filters burned a redundant compare per row each)
        groupResidue = prepared.zip(tris).collect {
          case (f, GraftFooterStats.SomeRows) => f
        }
        groupFiltered = groupResidue.nonEmpty || label.active
        val residueCols = groupResidue.flatMap(_.references).distinct
          .filterNot(_ == "part_start").toSeq
        group = GraftDecode.openGroup(reader, fileSchema,
          (physCols ++ (if (groupMixed) Seq("__seq") else Nil) ++
            residueCols ++ label.cols).distinct, split.file)
        groupRemaining = block.getRowCount
        if (groupRemaining > 0) return true
      }
    }
    false
  }

  private def decodeBatch(): ColumnarBatch = {
    val residue = groupMixed || groupFiltered
    // a window whose rows all pass decodes no more than the limit still
    // owes; a residue window may keep few of its rows, so it decodes a
    // full window and its selection stops at the limit instead
    val n = math.min(groupRemaining,
      if (residue) GraftColumnar.BatchRows.toLong
      else math.min(GraftColumnar.BatchRows.toLong, left)).toInt
    groupRemaining -= n
    val byName = group.decode(n)
    val base: Array[ColumnVector] = phys.map {
      case "part_start" => new GraftConstLongVec(split.partStart)
      case c => byName.get(c).vec
    }.toArray
    if (!residue) {
      val b = new ColumnarBatch(base)
      b.setNumRows(n)
      b
    } else {
      // row-level residue: visibility (mixed __seq — legacy NULL rows
      // always pass), the label test and filters the group's stats
      // couldn't decide, evaluated against the decoded vectors and
      // folded into ONE selection indirection
      var curRow = 0
      val getter: String => Any = c => GraftReaders.valueAt(byName.get(c).vec, curRow)
      val seq = byName.get("__seq")
      val rowLabel = label.forBatch(byName)
      val sel = new Array[Int](n)
      var k = 0
      var i = 0
      while (i < n && k < left) {
        curRow = i
        val visOk = !groupMixed ||
          GraftReaders.visible(GraftReaders.valueAt(seq.vec, i), commits, asOf)
        val keep = visOk && rowLabel(i) &&
          groupResidue.forall(GraftReaders.eval(_, getter, split.partStart))
        if (keep) { sel(k) = i; k += 1 }
        i += 1
      }
      val trimmed = java.util.Arrays.copyOf(sel, k)
      val wrapped: Array[ColumnVector] =
        base.map(v => new GraftSelVec(v, trimmed): ColumnVector)
      val b = new ColumnarBatch(wrapped)
      b.setNumRows(k)
      b
    }
  }

  override def next(): Boolean = {
    while (left > 0) {
      if (groupRemaining > 0) {
        current = decodeBatch()
        // a fully-compacted mixed batch (0 survivors) is legal but
        // pointless — loop on to the next chunk/group
        if (current.numRows() > 0) { left -= current.numRows(); return true }
      } else if (!advanceGroup()) return false
    }
    false
  }

  override def get(): ColumnarBatch = current
  override def close(): Unit = reader.close()
}
