package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ColumnChunkMetaData}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.unsafe.types.UTF8String

/** Row-group classification from parquet FOOTER stats — the shared
  * brain of the aggregate pushdown ([[GraftAggReader]]) and the
  * columnar reader's visibility fast path ([[GraftColumnarReader]]).
  * Everything here is conservative: a chunk with missing/untyped stats
  * classifies as [[SomeRows]] (inconclusive) and the caller falls back
  * to reading rows — footer stats ACCELERATE, they never decide what
  * they cannot prove. */
private[sources] object GraftFooterStats {
  sealed trait Tri
  /** Every row of the group satisfies the condition. */
  case object AllRows extends Tri
  /** No row does — the group is skippable without IO. */
  case object NoRows extends Tri
  /** Undecidable from stats — read the rows. */
  case object SomeRows extends Tri

  def and(a: Tri, b: Tri): Tri =
    if (a == NoRows || b == NoRows) NoRows
    else if (a == AllRows && b == AllRows) AllRows
    else SomeRows

  def chunk(b: BlockMetaData, col: String): Option[ColumnChunkMetaData] =
    b.getColumns.asScala.find(c =>
      c.getPath.size == 1 && c.getPath.toDotString == col)

  /** (min, max, numNulls, valueCount) of a chunk's stats when fully
    * trustworthy for LONG comparisons. */
  private def longStats(c: ColumnChunkMetaData): Option[(Long, Long, Long)] = {
    val s = c.getStatistics
    if (s == null || !s.isNumNullsSet) None
    else if (s.getNumNulls == c.getValueCount) Some((Long.MaxValue, Long.MinValue, s.getNumNulls))
    else if (!s.hasNonNullValue) None
    else (s.genericGetMin, s.genericGetMax) match {
      case (mn: java.lang.Long, mx: java.lang.Long) =>
        Some((mn.longValue(), mx.longValue(), s.getNumNulls))
      case _ => None
    }
  }

  /** Does every/no row of the group satisfy committed-batch visibility?
    * `__seq` is constant per file in practice (one stamp per append
    * batch), so min==max decides exactly; anything else is
    * inconclusive, never assumed. */
  def seqVisibility(b: BlockMetaData, commits: Option[(Long, Set[Long])],
                    asOf: Option[Long], needSeq: Boolean): Tri = {
    if (!needSeq) return AllRows
    chunk(b, "__seq") match {
      case None => AllRows // legacy file: NULL __seq is always visible
      case Some(c) =>
        longStats(c) match {
          case Some((_, _, nulls)) if nulls == c.getValueCount => AllRows
          case Some((mn, mx, nulls)) if mn == mx =>
            val stampedVisible = GraftReaders.visible(mn, commits, asOf)
            if (stampedVisible) AllRows // nulls (if any) pass too
            else if (nulls == 0L) NoRows
            else SomeRows // visible legacy nulls mixed with an invisible stamp
          case _ => SomeRows
        }
    }
  }

  /** Classification of one pushed filter against one group's stats.
    * `part_start` is planning-satisfied (constant per split/partition)
    * and always [[AllRows]]. */
  def classify(f: Filter, b: BlockMetaData): Tri = f match {
    case And(l, r) => and(classify(l, b), classify(r, b))
    case IsNotNull("part_start") => AllRows
    case IsNotNull(c) => chunk(b, c) match {
      case None => NoRows // absent column = all null
      case Some(ch) =>
        val s = ch.getStatistics
        if (s == null || !s.isNumNullsSet) SomeRows
        else if (s.getNumNulls == 0L) AllRows
        else if (s.getNumNulls == ch.getValueCount) NoRows
        else SomeRows
    }
    // the two impossible strict bounds first: NOTHING is > MaxValue or
    // < MinValue — including part_start, whose planning clamp silently
    // ignores them (boundsFor can't represent lo = MaxValue + 1), so
    // classifying them AllRows would stats-count the whole table where
    // the row path correctly returns zero (review-caught r13)
    case GreaterThan(_, v: Long) if v == Long.MaxValue => NoRows
    case LessThan(_, v: Long) if v == Long.MinValue => NoRows
    case EqualTo("part_start", _) | GreaterThan("part_start", _) |
         GreaterThanOrEqual("part_start", _) | LessThan("part_start", _) |
         LessThanOrEqual("part_start", _) => AllRows
    case EqualTo(c, v: Long) => longRange(b, c, lo = v, hi = v)
    case GreaterThan(c, v: Long) => longRange(b, c, lo = v + 1, hi = Long.MaxValue)
    case GreaterThanOrEqual(c, v: Long) => longRange(b, c, lo = v, hi = Long.MaxValue)
    case LessThan(c, v: Long) => longRange(b, c, lo = Long.MinValue, hi = v - 1)
    case LessThanOrEqual(c, v: Long) => longRange(b, c, lo = Long.MinValue, hi = v)
    case EqualTo(c, v: String) => stringEq(b, c, Set(v))
    case In(c, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
      stringEq(b, c, vs.map(_.asInstanceOf[String]).toSet)
    // part_start IN was already satisfied by planning's dir pruning
    case In("part_start", vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Long]) =>
      AllRows
    // long IN (r15): skippable when NO listed value falls in the
    // chunk's [min, max]; a contained value proves nothing per-row
    case In(c, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Long]) =>
      val rs = vs.map(v =>
        longRange(b, c, v.asInstanceOf[Long], v.asInstanceOf[Long]))
      if (rs.forall(_ == NoRows)) NoRows else SomeRows
    case _ => SomeRows
  }

  /** Is every/no value of long column `c` within [lo, hi]? NULL rows
    * never satisfy a comparison, so a group with nulls can be NoRows
    * but not AllRows. */
  private def longRange(b: BlockMetaData, c: String, lo: Long, hi: Long): Tri =
    chunk(b, c) match {
      case None => NoRows // absent column: null never matches a comparison
      case Some(ch) => longStats(ch) match {
        case Some((_, _, nulls)) if nulls == ch.getValueCount => NoRows
        case Some((mn, mx, nulls)) =>
          if (mx < lo || mn > hi) NoRows
          else if (mn >= lo && mx <= hi && nulls == 0L) AllRows
          else SomeRows
        case None => SomeRows
      }
    }

  /** String equality/IN against binary stats. Parquet writers may
    * truncate or drop binary min/max, and byte order vs UTF-16 String
    * order differ beyond ASCII — so only the airtight cases decide:
    * a constant chunk (min == max), or values provably outside a
    * trusted range is NOT attempted. Everything else reads rows. */
  private def stringEq(b: BlockMetaData, c: String, vs: Set[String]): Tri =
    chunk(b, c) match {
      case None => NoRows
      case Some(ch) =>
        val s = ch.getStatistics
        if (s == null || !s.isNumNullsSet || !s.hasNonNullValue) SomeRows
        else (s.genericGetMin, s.genericGetMax) match {
          case (mn: Binary, mx: Binary) if mn == mx =>
            val v = new String(mn.getBytes, java.nio.charset.StandardCharsets.UTF_8)
            if (vs(v)) { if (s.getNumNulls == 0L) AllRows else SomeRows }
            else NoRows
          case _ => SomeRows
        }
    }
}

// ------------------------------------------------------------ aggregation

/** One pushed aggregate: `op` ∈ count_star | count | min | max | sum. */
private[sources] final case class GraftAggSpec(op: String, col: String)

/** One bundle of `(file, partStart)` pairs of an aggregate-pushdown
  * scan — a footer walk is ~ms per file, so files PACK into a bounded
  * number of splits instead of paying one task per file (hundreds of
  * near-empty tasks dominated a pushed COUNT(*) otherwise). An empty
  * bundle is the zero-files sentinel emitting the count=0 partial. */
private[sources] final case class GraftAggSplit(files: Seq[(String, Long)])
  extends org.apache.spark.sql.connector.read.InputPartition

/** Partial-aggregate reader: emits ONE row of partials for its file
  * bundle — `count(*)`/`count(col)` as longs, `min`/`max` as values —
  * or, when `groupByPart` (GROUP BY part_start, the one group-by the
  * storage layout answers for free), one row PER time partition in the
  * bundle. Spark's rewritten final aggregate merges the partials
  * (count → SUM, min → MIN, max → MAX), re-grouping when grouped. The
  * interesting property: a clean row group contributes from FOOTER
  * STATS alone (no page IO — `count(*)` over a table is a footer
  * walk), and only groups the stats cannot decide (mixed visibility,
  * inconclusive filter bounds, missing stats) are decoded, through the
  * normal scan's own columnar reader and its exact row filter. */
private[sources] final class GraftAggReader(
    conf: Configuration,
    split: GraftAggSplit,
    specs: Seq[GraftAggSpec],
    pushed: Array[Filter],
    commits: Option[(Long, Set[Long])],
    asOf: Option[Long],
    groupByPart: Boolean = false,
    ansiSum: Boolean = true)
  extends org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {

  /** Long-sum arithmetic matching the session's Sum semantics: ANSI
    * throws on overflow, legacy wraps — the pushed plan must never
    * succeed-or-fail differently from the unpushed one. */
  private def addLong(a: Long, b: Long): Long =
    if (ansiSum) Math.addExact(a, b) else a + b
  private def mulLong(a: Long, b: Long): Long =
    if (ansiSum) Math.multiplyExact(a, b) else a * b

  private var out: Iterator[InternalRow] = _
  private var row: InternalRow = _

  private val needSeq = commits.nonEmpty || asOf.nonEmpty
  private val prepared = GraftReaders.prepare(pushed)

  /** Partial state — one per output row (global: exactly one; grouped:
    * one per part_start, created on first touch so empty partitions
    * emit no group, matching GROUP BY semantics). */
  private final class Acc {
    val counts = new Array[Long](specs.length)
    val exts = new Array[Any](specs.length) // running min/max (catalyst values)
    val sums = new Array[Any](specs.length) // running sum (null until a value)
  }
  private val accs = new java.util.TreeMap[Long, Acc]()
  private def accFor(partStart: Long): Acc = {
    val key = if (groupByPart) partStart else 0L
    var a = accs.get(key)
    if (a == null) { a = new Acc; accs.put(key, a) }
    a
  }

  private def mergeExt(acc: Acc, i: Int, v: Any, isMin: Boolean): Unit = {
    if (v == null) return
    val cur = acc.exts(i)
    if (cur == null) { acc.exts(i) = v; return }
    val cmp = (cur, v) match {
      case (a: Long, b: Long) => java.lang.Long.compare(a, b)
      case (a: Double, b: Double) => cmpDouble(a, b)
      case (a: UTF8String, b: UTF8String) => a.compareTo(b)
      case _ => throw new IllegalStateException(s"mixed extremum types: $cur / $v")
    }
    if (if (isMin) cmp > 0 else cmp < 0) acc.exts(i) = v
  }

  /** Spark's SQL double ordering (SQLOrderingUtil.compareDoubles):
    * primitive comparisons — so -0.0 == 0.0, ties keep the incumbent —
    * with NaN greatest. NOT java.lang.Double.compare, which orders
    * -0.0 < 0.0 and would let the pushed plan return a differently-
    * signed zero than the unpushed one (review-caught r14). */
  private def cmpDouble(a: Double, b: Double): Int =
    if (a < b) -1
    else if (a > b) 1
    else if (a == b) 0
    else if (java.lang.Double.isNaN(a)) { if (java.lang.Double.isNaN(b)) 0 else 1 }
    else -1

  /** SUM accumulation: long sums follow the session's overflow
    * semantics ([[addLong]]); double sums add in split order (the same
    * order-nondeterminism class as Spark's partial aggregation). */
  private def mergeSum(acc: Acc, i: Int, v: Any): Unit = v match {
    case null => ()
    case l: Long => acc.sums(i) = acc.sums(i) match {
      case null => l
      case p: java.lang.Long => addLong(p.longValue(), l)
      case other => throw new IllegalStateException(s"mixed sum types: $other / $l")
    }
    case d: Double => acc.sums(i) = acc.sums(i) match {
      case null => d
      case p: java.lang.Double => p.doubleValue() + d
      case other => throw new IllegalStateException(s"mixed sum types: $other / $d")
    }
    case other => throw new IllegalStateException(s"unsummable value $other")
  }

  /** Footer-stats staging for ONE spec over one CLEAN (all-visible,
    * all-filter-matching) group: Some(contribution) when the stats
    * fully serve it — counts as Long, min/max/sum as values (null =
    * contributes nothing) — None when the spec needs the group's
    * pages/rows. */
  private def stageSpec(s: GraftAggSpec, b: BlockMetaData,
                        partStart: Long): Option[Any] = s.op match {
    case "count_star" => Some(b.getRowCount)
    case "count" =>
      if (s.col == "part_start") Some(b.getRowCount)
      else GraftFooterStats.chunk(b, s.col) match {
        case None => Some(0L) // absent = all null
        case Some(ch) =>
          val st = ch.getStatistics
          if (st == null || !st.isNumNullsSet) None
          else Some(b.getRowCount - st.getNumNulls)
      }
    case "min" | "max" =>
      if (s.col == "part_start") Some(partStart)
      else GraftFooterStats.chunk(b, s.col) match {
        case None => Some(null) // absent = all null: contributes nothing
        case Some(ch) =>
          val st = ch.getStatistics
          if (st == null || !st.isNumNullsSet) None
          else if (st.getNumNulls == ch.getValueCount) Some(null) // all null
          else if (!st.hasNonNullValue) None
          else {
            val v = if (s.op == "min") st.genericGetMin else st.genericGetMax
            v match {
              case l: java.lang.Long => Some(l.longValue())
              case bin: Binary =>
                // binary min/max may be TRUNCATED by the writer —
                // only trust a constant chunk, else read the pages
                if (st.genericGetMin == st.genericGetMax)
                  Some(UTF8String.fromBytes(bin.getBytes))
                else None
              case _ => None
            }
          }
      }
    case "sum" =>
      if (s.col == "part_start")
        Some(mulLong(partStart, b.getRowCount))
      else GraftFooterStats.chunk(b, s.col) match {
        case None => Some(null) // absent = all null: SUM contributes nothing
        case Some(ch) =>
          val st = ch.getStatistics
          if (st != null && st.isNumNullsSet && st.getNumNulls == ch.getValueCount)
            Some(null) // all-null chunk
          else None // sums have no footer form — decode the pages
      }
    case other => throw new IllegalStateException(s"bad agg op $other")
  }

  private def applyStaged(acc: Acc, i: Int, s: GraftAggSpec, v: Any): Unit =
    s.op match {
      case "count_star" | "count" => acc.counts(i) += v.asInstanceOf[Long]
      case "min" => mergeExt(acc, i, v, isMin = true)
      case "max" => mergeExt(acc, i, v, isMin = false)
      case "sum" => mergeSum(acc, i, v)
    }

  private def accumulateRow(get: String => Any, partStart: Long): Unit = {
    val acc = accFor(partStart)
    specs.zipWithIndex.foreach { case (s, i) =>
      s.op match {
        case "count_star" => acc.counts(i) += 1
        case "count" =>
          val v = if (s.col == "part_start") partStart else get(s.col)
          if (v != null) acc.counts(i) += 1
        case "min" | "max" =>
          val v = if (s.col == "part_start") partStart else get(s.col)
          mergeExt(acc, i, v, isMin = s.op == "min")
        case "sum" =>
          val v = if (s.col == "part_start") partStart else get(s.col)
          mergeSum(acc, i, v)
      }
    }
  }

  /** Columnar accumulate (r14): a clean group whose stats cannot serve
    * every spec (SUM always; truncated binary extrema; missing null
    * counts) decodes JUST the needed flat columns through
    * [[GraftPageCursor]] and folds them straight into the partials —
    * no ColumnarBatch, no row pipeline. Returns false when a needed
    * column's shape has no bulk path (the group then falls back to the
    * columnar reader). */
  private def tryColumnar(pages: org.apache.parquet.column.page.PageReadStore,
                          schema: org.apache.parquet.schema.MessageType,
                          needed: Seq[(GraftAggSpec, Int)],
                          staged: Array[Option[Any]],
                          partStart: Long): Boolean = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val cols = needed.map(_._1.col).distinct
    val descs = schema.getColumns
    val byCol = cols.map { c =>
      val d = (0 until descs.size()).map(descs.get)
        .find(d => d.getPath.length == 1 && d.getPath()(0) == c)
      c -> d
    }.toMap
    if (byCol.exists { case (_, d) =>
      d.isEmpty || !Seq(INT64, DOUBLE, BINARY).contains(
        d.get.getPrimitiveType.getPrimitiveTypeName)
    }) return false

    val acc = accFor(partStart)
    val cursors = byCol.map { case (c, d) =>
      c -> (new GraftPageCursor(d.get, pages.getPageReader(d.get)),
        d.get.getPrimitiveType.getPrimitiveTypeName)
    }
    var remaining = pages.getRowCount
    val batch = 32768
    // chunk-lifetime buffers, allocated once at the fixed batch size
    // (review-caught r14: per-iteration allocation churned the exact
    // hot path this reader exists to speed up); the per-batch loops
    // below only ever touch the first k entries, so value arrays need
    // no reset — nulls/strings do (a read leaves null slots untouched)
    val longBuf = cursors.collect { case (c, (_, INT64)) =>
      c -> ((new Array[Long](batch), new Array[Boolean](batch)))
    }
    val dblBuf = cursors.collect { case (c, (_, DOUBLE)) =>
      c -> ((new Array[Double](batch), new Array[Boolean](batch)))
    }
    val strBuf = cursors.collect { case (c, (_, BINARY)) =>
      c -> new Array[UTF8String](batch)
    }
    while (remaining > 0) {
      val k = math.min(remaining, batch.toLong).toInt
      cursors.foreach { case (c, (cur, t)) =>
        t match {
          case INT64 =>
            val (vals, nulls) = longBuf(c)
            java.util.Arrays.fill(nulls, 0, k, false)
            cur.readLongs(k, vals, nulls, 0)
          case DOUBLE =>
            val (vals, nulls) = dblBuf(c)
            java.util.Arrays.fill(nulls, 0, k, false)
            cur.readDoubles(k, vals, nulls, 0)
          case BINARY =>
            val vals = strBuf(c)
            java.util.Arrays.fill(vals.asInstanceOf[Array[AnyRef]], 0, k, null)
            cur.readStrings(k, vals, 0)
          case _ => throw new IllegalStateException("unreachable: gated above")
        }
      }
      needed.foreach { case (s, i) =>
        if (longBuf.contains(s.col)) {
          val (vals, nulls) = longBuf(s.col)
          s.op match {
            case "sum" =>
              var t = 0L; var any = false; var j = 0
              while (j < k) { if (!nulls(j)) { t = addLong(t, vals(j)); any = true }; j += 1 }
              if (any) mergeSum(acc, i, t)
            case "min" | "max" =>
              val isMin = s.op == "min"
              var ext = 0L; var any = false; var j = 0
              while (j < k) {
                if (!nulls(j) && (!any || (if (isMin) vals(j) < ext else vals(j) > ext))) {
                  ext = vals(j); any = true
                }
                j += 1
              }
              if (any) mergeExt(acc, i, ext, isMin)
            case "count" =>
              var c = 0L; var j = 0
              while (j < k) { if (!nulls(j)) c += 1; j += 1 }
              acc.counts(i) += c
            case _ => throw new IllegalStateException(s"bad long agg ${s.op}")
          }
        } else if (dblBuf.contains(s.col)) {
          val (vals, nulls) = dblBuf(s.col)
          s.op match {
            case "sum" =>
              var t = 0.0; var any = false; var j = 0
              while (j < k) { if (!nulls(j)) { t += vals(j); any = true }; j += 1 }
              if (any) mergeSum(acc, i, t)
            case "min" | "max" =>
              val isMin = s.op == "min"
              var ext = 0.0; var any = false; var j = 0
              while (j < k) {
                if (!nulls(j) && (!any ||
                    (if (isMin) cmpDouble(vals(j), ext) < 0
                     else cmpDouble(vals(j), ext) > 0))) {
                  ext = vals(j); any = true
                }
                j += 1
              }
              if (any) mergeExt(acc, i, ext, isMin)
            case "count" =>
              var c = 0L; var j = 0
              while (j < k) { if (!nulls(j)) c += 1; j += 1 }
              acc.counts(i) += c
            case other => throw new IllegalStateException(s"bad double agg $other")
          }
        } else {
          val vals = strBuf(s.col)
          s.op match {
            case "min" | "max" =>
              val isMin = s.op == "min"
              var ext: UTF8String = null; var j = 0
              while (j < k) {
                val v = vals(j)
                if (v != null && (ext == null ||
                    (if (isMin) v.compareTo(ext) < 0 else v.compareTo(ext) > 0)))
                  ext = v
                j += 1
              }
              if (ext != null) mergeExt(acc, i, ext, isMin)
            case "count" =>
              var c = 0L; var j = 0
              while (j < k) { if (vals(j) != null) c += 1; j += 1 }
              acc.counts(i) += c
            case other => throw new IllegalStateException(s"bad string agg $other")
          }
        }
      }
      remaining -= k
    }
    // the stats-served specs of this group fold in only after the
    // decode succeeded (a false return must leave the acc untouched)
    specs.zipWithIndex.foreach { case (s, i) =>
      staged(i).foreach(applyStaged(acc, i, s, _))
    }
    true
  }

  private def computeFile(f: String, partStart: Long): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(f)
    // byte ranges of the groups the stats cannot decide, adjacent
    // groups merged into one range
    val fallback = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def fallBack(b: BlockMetaData): Unit = {
      val (start, end) = (b.getStartingPos, b.getStartingPos + b.getCompressedSize)
      if (fallback.nonEmpty && fallback.last._2 == start)
        fallback(fallback.length - 1) = (fallback.last._1, end)
      else fallback += ((start, end))
    }
    val aggCols = specs.map(_.col).filter(c => c.nonEmpty && c != "part_start").distinct
    val reader = new ParquetFileReader(
      HadoopInputFile.fromPath(hPath, conf),
      HadoopReadOptions.builder(conf, hPath).build())
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      // page IO for the columnar-accumulate path covers exactly the agg
      // columns (stats-served and fallback groups never touch this
      // reader's pages)
      GraftDecode.project(reader, schema, aggCols.toSet)
      val blocks = reader.getRowGroups
      var bi = 0
      while (bi < blocks.size()) {
        val b = blocks.get(bi)
        val vis = GraftFooterStats.seqVisibility(b, commits, asOf, needSeq)
        val filt = pushed.map(GraftFooterStats.classify(_, b))
          .foldLeft(GraftFooterStats.AllRows: GraftFooterStats.Tri)(
            GraftFooterStats.and)
        if (vis == GraftFooterStats.NoRows || filt == GraftFooterStats.NoRows) {
          reader.skipNextRowGroup()
        } else if (vis == GraftFooterStats.AllRows &&
            filt == GraftFooterStats.AllRows) {
          val staged = specs.map(stageSpec(_, b, partStart)).toArray
          if (staged.forall(_.isDefined)) {
            // the whole group folds in from footer stats — zero page IO
            val acc = accFor(partStart)
            specs.zipWithIndex.foreach { case (s, i) =>
              applyStaged(acc, i, s, staged(i).get)
            }
            reader.skipNextRowGroup()
          } else {
            val needed = specs.zipWithIndex.filter { case (_, i) => staged(i).isEmpty }
            val pages = reader.readNextRowGroup()
            if (pages == null || !tryColumnar(pages, schema, needed.toSeq,
                staged, partStart))
              fallBack(b)
          }
        } else {
          reader.skipNextRowGroup()
          fallBack(b)
        }
        bi += 1
      }
    } finally reader.close()

    // the undecided groups decode through the scan's own columnar reader
    // over a split covering exactly their bytes (the row-group midpoint
    // rule selects them alone), with its exact visibility and filters;
    // the surviving rows fold into the partials one by one
    fallback.foreach { case (start, end) =>
      val r = new GraftColumnarReader(conf, GraftFileSplit(f, start, end - start, partStart),
        aggCols, pushed, commits, asOf)
      try {
        while (r.next()) {
          val batch = r.get()
          var row = 0
          val get: String => Any =
            c => GraftReaders.valueAt(batch.column(aggCols.indexOf(c)), row)
          while (row < batch.numRows()) { accumulateRow(get, partStart); row += 1 }
        }
      } finally r.close()
    }
  }

  override def next(): Boolean = {
    if (out == null) {
      split.files.foreach { case (f, partStart) => computeFile(f, partStart) }
      // a GLOBAL aggregate always emits its partial (count 0 / null
      // extrema on an empty bundle — SUM over an empty scan would be
      // NULL where COUNT must be 0); a GROUPED one emits only touched
      // partitions (GROUP BY over empty = no groups)
      if (!groupByPart && accs.isEmpty) accs.put(0L, new Acc)
      out = accs.entrySet().iterator().asScala.map { e =>
        val acc = e.getValue
        val lead = if (groupByPart) 1 else 0
        val cells = new Array[Any](lead + specs.length)
        if (groupByPart) cells(0) = e.getKey.longValue()
        specs.zipWithIndex.foreach { case (s, i) =>
          cells(lead + i) = s.op match {
            case "count_star" | "count" => acc.counts(i)
            case "sum" => acc.sums(i)
            case _ => acc.exts(i)
          }
        }
        new GenericInternalRow(cells): InternalRow
      }
    }
    if (out.hasNext) { row = out.next(); true } else false
  }

  override def get(): InternalRow = row
  override def close(): Unit = ()
}
