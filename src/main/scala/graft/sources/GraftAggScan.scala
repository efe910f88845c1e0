package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ColumnChunkMetaData}
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** Row-group classification from parquet FOOTER stats, done once per
  * group by the shared row-group walk ([[GraftRowGroups]]): skip a
  * group, serve it whole, or test its rows; the aggregate pushdown
  * ([[GraftAggReader]]) also folds a whole-served group in from its
  * stats. Everything here is conservative: a chunk
  * with missing/untyped stats classifies as [[SomeRows]] (inconclusive)
  * and the caller reads the rows — footer stats ACCELERATE, they never
  * decide what they cannot prove. */
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
    // < MinValue. Planning already prunes every partition dir for a
    // part_start bound of this shape; a `time` one reaches the groups,
    // and classifying it AllRows would stats-count the whole table where
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
  * bundle — `count(*)`/`count(col)` as longs, `min`/`max`/`sum` as
  * values — or, when `groupByPart` (GROUP BY part_start, the one
  * group-by the storage layout answers for free), one row PER time
  * partition in the bundle. Spark's rewritten final aggregate merges the
  * partials (count → SUM, min → MIN, max → MAX, sum → SUM), re-grouping
  * when grouped. Each file is one pass of the shared row-group walk
  * ([[GraftRowGroups]]) on one open reader. A row group that is
  * all-visible and all-matching contributes every spec its stats serve
  * with no page IO (`count(*)` over a table is a footer walk) and
  * decodes only the columns of its other specs; a group the stats
  * cannot decide decodes every spec column, compacted by its exact
  * visibility and row filter. Every decoded batch goes through the one
  * fold, [[foldBatch]]. */
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

  /** A spec's contribution from `rows` rows of one partition when it
    * reads no column: COUNT(*), and every aggregate over the constant
    * `part_start`. None when the spec needs its column. */
  private def constSpec(s: GraftAggSpec, rows: Long, partStart: Long): Option[Any] =
    if (s.op == "count_star") Some(rows)
    else if (s.col != "part_start") None
    else s.op match {
      case "count" => Some(rows)
      case "sum" => Some(mulLong(partStart, rows))
      case _ => Some(partStart)
    }

  /** Footer-stats staging for ONE spec over one CLEAN (all-visible,
    * all-filter-matching) group: Some(contribution) when the stats
    * fully serve it — counts as Long, min/max/sum as values (null =
    * contributes nothing) — None when the spec needs the group's
    * pages. */
  private def stageSpec(s: GraftAggSpec, b: BlockMetaData,
                        partStart: Long): Option[Any] =
    constSpec(s, b.getRowCount, partStart).orElse(s.op match {
      case "count" =>
        GraftFooterStats.chunk(b, s.col) match {
          case None => Some(0L) // absent = all null
          case Some(ch) =>
            val st = ch.getStatistics
            if (st == null || !st.isNumNullsSet) None
            else Some(b.getRowCount - st.getNumNulls)
        }
      case "min" | "max" =>
        GraftFooterStats.chunk(b, s.col) match {
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
        GraftFooterStats.chunk(b, s.col) match {
          case None => Some(null) // absent = all null: SUM contributes nothing
          case Some(ch) =>
            val st = ch.getStatistics
            if (st != null && st.isNumNullsSet && st.getNumNulls == ch.getValueCount)
              Some(null) // all-null chunk
            else None // sums have no footer form — decode the pages
        }
      case other => throw new IllegalStateException(s"bad agg op $other")
    })

  private def applyStaged(acc: Acc, i: Int, s: GraftAggSpec, v: Any): Unit =
    s.op match {
      case "count_star" | "count" => acc.counts(i) += v.asInstanceOf[Long]
      case "min" => mergeExt(acc, i, v, isMin = true)
      case "max" => mergeExt(acc, i, v, isMin = false)
      case "sum" => mergeSum(acc, i, v)
    }

  /** The one fold of decoded rows: the specs `fromRows` of a batch whose
    * columns are `cols` fold into its partition's partials — COUNT(*)
    * and `part_start` specs from the row count, column specs through one
    * typed loop over their vector. */
  private def foldBatch(batch: ColumnarBatch, partStart: Long,
                        fromRows: Seq[Int], cols: Seq[String]): Unit = {
    val n = batch.numRows()
    val acc = accFor(partStart)
    fromRows.foreach { i =>
      val s = specs(i)
      constSpec(s, n.toLong, partStart) match {
        case Some(v) => applyStaged(acc, i, s, v)
        case None => foldColumn(acc, i, s.op, batch.column(cols.indexOf(s.col)), n)
      }
    }
  }

  /** COUNT, SUM, MIN or MAX of a vector's first `n` rows into `acc(i)`:
    * long and double lanes sum and compare primitives (doubles in
    * Spark's ordering, [[cmpDouble]]); string lanes only compare. */
  private def foldColumn(acc: Acc, i: Int, op: String, v: ColumnVector, n: Int): Unit = {
    val isMin = op == "min"
    var j = 0
    if (op == "count") {
      var c = 0L
      while (j < n) { if (!v.isNullAt(j)) c += 1; j += 1 }
      acc.counts(i) += c
    } else v.dataType match {
      case LongType if op == "sum" =>
        var t = 0L; var any = false
        while (j < n) { if (!v.isNullAt(j)) { t = addLong(t, v.getLong(j)); any = true }; j += 1 }
        if (any) mergeSum(acc, i, t)
      case LongType =>
        var ext = 0L; var any = false
        while (j < n) {
          if (!v.isNullAt(j)) {
            val x = v.getLong(j)
            if (!any || (if (isMin) x < ext else x > ext)) { ext = x; any = true }
          }
          j += 1
        }
        if (any) mergeExt(acc, i, ext, isMin)
      case DoubleType if op == "sum" =>
        var t = 0.0; var any = false
        while (j < n) { if (!v.isNullAt(j)) { t += v.getDouble(j); any = true }; j += 1 }
        if (any) mergeSum(acc, i, t)
      case DoubleType =>
        var ext = 0.0; var any = false
        while (j < n) {
          if (!v.isNullAt(j)) {
            val x = v.getDouble(j)
            if (!any || (if (isMin) cmpDouble(x, ext) < 0 else cmpDouble(x, ext) > 0)) {
              ext = x; any = true
            }
          }
          j += 1
        }
        if (any) mergeExt(acc, i, ext, isMin)
      case StringType if op != "sum" =>
        var ext: UTF8String = null
        while (j < n) {
          if (!v.isNullAt(j)) {
            val x = v.getUTF8String(j)
            if (ext == null || (if (isMin) x.compareTo(ext) < 0 else x.compareTo(ext) > 0))
              ext = x
          }
          j += 1
        }
        if (ext != null) mergeExt(acc, i, ext, isMin)
      case other => throw new IllegalStateException(s"bad agg $op over $other")
    }
  }

  /** One file, one pass through [[GraftRowGroups]]. A clean group
    * (all-visible, all-matching) folds in every spec its stats serve
    * with no page IO and decodes only the columns of its other specs; a
    * group the stats cannot decide decodes every spec column, compacted
    * by its exact visibility and row filter. */
  private def computeFile(f: String, partStart: Long): Unit = {
    val groups = new GraftRowGroups(conf, f, None, pushed, Nil, commits, asOf,
      new GraftReaders.LabelTest(Nil, None), partStart)
    // the specs the open group folds from its decoded rows
    var fromRows: Seq[Int] = Nil
    try while (groups.nextGroup { (b, clean) =>
        fromRows = if (!clean) specs.indices else {
          val acc = accFor(partStart)
          specs.indices.filter(i => stageSpec(specs(i), b, partStart) match {
            case Some(v) => applyStaged(acc, i, specs(i), v); false
            case None => true
          })
        }
        if (fromRows.isEmpty) None else Some(columnsOf(fromRows))
      }) {
      val cols = columnsOf(fromRows)
      while (groups.remaining > 0) {
        val w = groups.window(Long.MaxValue)
        if (w.k > 0) foldBatch(w.batch(cols.map(w.vec).toArray), partStart, fromRows, cols)
      }
    } finally groups.close()
  }

  /** The columns the specs `fromRows` read (COUNT(*) and `part_start`
    * read none). */
  private def columnsOf(fromRows: Seq[Int]): Seq[String] =
    fromRows.map(specs(_).col).filter(c => c.nonEmpty && c != "part_start").distinct

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
