package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{MessageType, PrimitiveType}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** Columnar (vectorized) read path for NON-MOR scans of the DSv2 batch
  * source — the case the r12 Dsv2Scale receipt showed paying ~1.7× over
  * Spark's vectorized parquet reader for row-at-a-time assembly.
  * Columns decode straight into flat value arrays through the public
  * parquet-column cursor API (`ColumnReadStoreImpl` — page
  * decompression, dictionary decode and definition levels handled by the
  * library), wrapped as Spark [[ColumnVector]]s: no per-row object, no
  * boxing, no `InternalRow` until Spark's own ColumnarToRow (which
  * whole-stage-codegens over the batch).
  *
  * Scope is deliberate (the row reader keeps every other case):
  *  - non-MOR tables only — the k-way LWW merge is row-shaped;
  *  - every RawSchema column vectorizes, including the `labels` MAP
  *    (late r13): its two leaf cursors reassemble per-row entry runs
  *    from repetition/definition levels into flat key/value vectors +
  *    row offsets — the standard columnar map layout — so a plain
  *    `SELECT *` is columnar too.
  *
  * PUSHED FILTERS ride the columnar path too (r13 cont.): every
  * accepted filter references a flat key-stable column, so row groups
  * first classify against footer stats ([[GraftFooterStats.classify]] —
  * no-match groups skip without IO, all-match groups serve whole), and
  * only the undecidable groups evaluate rows — against the DECODED
  * VECTORS, folded into the same selection indirection the visibility
  * path uses. "Accepted = fully consumed" holds exactly.
  *
  * Committed-batch visibility stays EXACT: `__seq` is constant per file
  * (stamped per append batch, RLE'd), so each row group classifies from
  * its footer stats as all-visible / all-invisible / mixed; mixed groups
  * (a mid-chunk seq change — never produced by the writer, but the
  * reader must not trust that) decode `__seq` too and compact through
  * the selection, never serving an uncommitted row.
  */
private[sources] object GraftColumnar {
  /** Rows per emitted [[ColumnarBatch]]: big enough to amortize the
    * per-batch crossing, small enough that a task's in-flight decoded
    * vectors stay a few MB even with wide string columns. */
  val BatchRows = 32768

  /** Is one column vector-decodable? (`part_start` is virtual —
    * constant per split; `labels` is the map column.) ONE predicate
    * for both the projection gate and the pushed-filter-reference
    * gate, so the two can never diverge. */
  def columnarName(c: String): Boolean =
    TsdbColumnarTypes.contains(c) || c == "part_start"

  /** Can `requested` be served columnar? */
  def supports(requested: Seq[String]): Boolean =
    requested.nonEmpty && requested.forall(columnarName)

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
}

// ----------------------------------------------------------------- reader

/** One byte-range split of one non-MOR file, emitted as
  * [[ColumnarBatch]]es. Same split/visibility semantics as
  * [[GraftFileReader]]; see [[GraftColumnar]] for scope. */
private[sources] final class GraftColumnarReader(
    conf: Configuration,
    split: GraftFileSplit,
    requested: Seq[String],
    pushed: Array[Filter],
    commits: Option[(Long, Set[Long])],
    asOf: Option[Long],
    labelSeries: Option[java.util.HashSet[Long]] = None)
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
  /** The label filter's resolved series set (r15) as a stats-classifiable
    * IN — it skips row groups whose series range holds no member; the
    * rows of the others are tested against the hash set itself. */
  private val labelIn: Option[Filter] = labelSeries.map(set =>
    org.apache.spark.sql.sources.In("series_id", set.toArray.map(id => id: Any)))
  private val labelCols: Seq[String] = labelSeries.map(_ => "series_id").toSeq

  /** decode set = requested physical columns; `__seq` and the filter
    * columns join per-group only when that group needs row-level
    * evaluation (mixed visibility / inconclusive filter stats). */
  private val physCols: Seq[String] = requested.filterNot(_ == "part_start")

  // ONE requested-schema projection for the whole split — the UNION of
  // everything any group can need (projection + __seq + filter
  // columns): readNextRowGroup then does chunk IO for these columns
  // ONLY. (r14 — the cursor-era reader never projected the reader
  // itself, so a narrow scan still paid raw reads for every column.)
  private val unionCols: Set[String] =
    (physCols ++ (if (needSeq) Seq("__seq") else Nil) ++ filterCols ++ labelCols).toSet
  locally {
    val fields = (0 until fileSchema.getFieldCount)
      .map(fileSchema.getType).filter(t => unionCols(t.getName))
    if (fields.nonEmpty)
      reader.setRequestedSchema(new MessageType(fileSchema.getName, fields: _*))
  }

  // ---- per-group state ---------------------------------------------------
  private val blocks = reader.getRowGroups
  private var blockIdx = 0
  private var groupRemaining = 0L
  private var readers: Array[GraftPageCursor] = _
  private var kinds: Array[PrimitiveType.PrimitiveTypeName] = _
  /** slot in `decodeCols` per reader; -1 entries never happen (parallel
    * arrays are built together). */
  private var decodeCols: Seq[String] = _
  private var groupMixed = false
  private var groupFiltered = false
  /** prepared filters the group's stats could NOT decide — the only
    * ones the residue loop must evaluate (AllRows-classified filters
    * hold for every row of the group by construction). */
  private var groupResidue: Array[Filter] = Array.empty

  private var current: ColumnarBatch = _

  /** Advance to the next row group that contributes rows; prepares the
    * per-column page cursors ([[GraftPageCursor]] — whole-page bulk
    * decode, r14). False when the split is exhausted. */
  private def advanceGroup(): Boolean = {
    while (blockIdx < blocks.size()) {
      val block = blocks.get(blockIdx)
      val vis = GraftFooterStats.seqVisibility(block, commits, asOf, needSeq)
      val tris = (pushed ++ labelIn).map(GraftFooterStats.classify(_, block))
      if (vis == GraftFooterStats.NoRows ||
          tris.contains(GraftFooterStats.NoRows)) {
        reader.skipNextRowGroup()
        blockIdx += 1
      } else {
        val pages = reader.readNextRowGroup()
        blockIdx += 1
        if (pages == null) return false
        groupMixed = vis == GraftFooterStats.SomeRows
        // only the filters the stats could not prove for the WHOLE
        // group need row evaluation (review-caught r13: re-evaluating
        // AllRows filters burned a redundant compare per row each)
        groupResidue = prepared.zip(tris).collect {
          case (f, GraftFooterStats.SomeRows) => f
        }
        groupFiltered = groupResidue.nonEmpty || labelSeries.isDefined
        val residueCols = groupResidue.flatMap(_.references).distinct
          .filterNot(_ == "part_start").toSeq
        decodeCols = (physCols ++
          (if (groupMixed) Seq("__seq") else Nil) ++
          residueCols ++ labelCols).distinct
        val wanted = decodeCols.toSet
        // FLAT leaves decode directly; the labels MAP contributes two
        // nested leaves (key_value.key / .value) handled by their own
        // lockstep cursor pair below. Descriptors come from the FILE
        // schema; the page store holds the setRequestedSchema union.
        val descs = fileSchema.getColumns
        val flat = (0 until descs.size()).map(descs.get)
          .filter(d => d.getPath.length == 1 && wanted(d.getPath()(0)))
        readers = new Array(flat.size)
        kinds = new Array(flat.size)
        val colOfDesc = new Array[String](flat.size)
        flat.zipWithIndex.foreach { case (d, i) =>
          readers(i) = new GraftPageCursor(d, pages.getPageReader(d))
          kinds(i) = d.getPrimitiveType.getPrimitiveTypeName
          colOfDesc(i) = d.getPath()(0)
        }
        // map decode column name -> reader index (or -1 = absent in file)
        readerIdx = decodeCols.map(c => colOfDesc.indexOf(c)).toArray
        mapKeyC = null; mapValC = null
        if (wanted("labels"))
          (0 until descs.size()).map(descs.get)
            .filter(d => d.getPath.length == 3 && d.getPath()(0) == "labels")
            .foreach { d =>
              if (d.getPath()(2) == "key") {
                mapKeyC = new GraftPageCursor(d, pages.getPageReader(d))
                mapKeyDef = d.getMaxDefinitionLevel
              } else {
                mapValC = new GraftPageCursor(d, pages.getPageReader(d))
                mapValDef = d.getMaxDefinitionLevel
              }
            }
        groupRemaining = pages.getRowCount
        if (groupRemaining > 0) return true
      }
    }
    false
  }
  private var readerIdx: Array[Int] = _
  // labels-map cursor pair: key/value leaves advance in LOCKSTEP (the
  // MAP group guarantees identical slot structure; only the value's
  // definition ceiling differs by its optionality)
  private var mapKeyC: GraftPageCursor = _
  private var mapValC: GraftPageCursor = _
  private var mapKeyDef = 0
  private var mapValDef = 0

  private def decodeBatch(): ColumnarBatch = {
    val n = math.min(groupRemaining, GraftColumnar.BatchRows.toLong).toInt
    groupRemaining -= n
    // decode each requested column for these n rows
    val byName = new java.util.HashMap[String, ColumnVector]()
    var seqVals: Array[Long] = null
    var seqNulls: Array[Boolean] = null
    decodeCols.zipWithIndex.foreach { case (c, ci) =>
      val ri = readerIdx(ci)
      if (c == "labels" && mapKeyC != null) {
        byName.put(c, GraftDecode.map(mapKeyC, mapValC, mapKeyDef, mapValDef, n))
      } else if (ri < 0) {
        byName.put(c, new GraftNullVec(
          GraftColumnar.TsdbColumnarTypes.getOrElse(c, LongType)))
      } else {
        val f = GraftDecode.flat(readers(ri), kinds(ri), n, c, split.file)
        if (c == "__seq") { seqVals = f.longs; seqNulls = f.nulls }
        byName.put(c, f.vec)
      }
    }
    val base: Array[ColumnVector] = requested.map {
      case "part_start" => new GraftConstLongVec(split.partStart)
      case c => byName.get(c)
    }.toArray
    if (!groupMixed && !groupFiltered) {
      val b = new ColumnarBatch(base)
      b.setNumRows(n)
      b
    } else {
      // row-level residue: visibility (mixed __seq — legacy NULL rows
      // always pass) and/or filters the group's stats couldn't decide,
      // evaluated against the decoded vectors and folded into ONE
      // selection indirection
      var curRow = 0
      val getter: String => Any = { c =>
        if (c == "part_start") split.partStart
        else {
          val v = byName.get(c)
          if (v == null || v.isNullAt(curRow)) null
          else v.dataType match {
            case LongType => java.lang.Long.valueOf(v.getLong(curRow))
            case DoubleType => java.lang.Double.valueOf(v.getDouble(curRow))
            case BooleanType => java.lang.Boolean.valueOf(v.getBoolean(curRow))
            case _ => v.getUTF8String(curRow)
          }
        }
      }
      val sids = if (labelSeries.isDefined) byName.get("series_id") else null
      val sel = new Array[Int](n)
      var k = 0
      var i = 0
      while (i < n) {
        curRow = i
        val seq: Any =
          if (seqVals == null || seqNulls(i)) null else seqVals(i)
        val visOk = !groupMixed || GraftReaders.visible(seq, commits, asOf)
        val keep = visOk &&
          (sids == null || !sids.isNullAt(i) && labelSeries.get.contains(sids.getLong(i))) &&
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
    while (true) {
      if (groupRemaining > 0) {
        current = decodeBatch()
        // a fully-compacted mixed batch (0 survivors) is legal but
        // pointless — loop on to the next chunk/group
        if (current.numRows() > 0) return true
      } else if (!advanceGroup()) return false
    }
    false
  }

  override def get(): ColumnarBatch = current
  override def close(): Unit = reader.close()
}
