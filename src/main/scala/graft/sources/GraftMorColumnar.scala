package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThanOrEqual}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** COLUMNAR merged (last-write-wins) read of one MOR stripe: a
  * streaming k-way merge over the files of one time partition, all of
  * which are written sorted by (series_id, time) — append
  * (`TsdbTable.append` sortWithinPartitions), compaction and tombstone
  * deletes alike. Memory is O(files × window); no shuffle.
  *
  * Shape: each file walks its row groups through [[GraftRowGroups]]
  * (the same classify → project → compact loop the non-MOR columnar
  * path uses): visibility, pushed filters, the label test and this
  * reader's own per-row predicate (the sort contract and the stripe's
  * series range) compact each decoded window into a selection array,
  * and the merge then runs over PRIMITIVE key arrays
  * (series_id, time, __seq as raw longs — no boxing, no virtual calls),
  * emitting per-row (window, ordinal) references. The output batch
  * GATHERS winners through [[GraftGatherVec]] — zero value copies; a
  * string cell is the same page-backed UTF8String the decode produced.
  *
  * LWW semantics (the specs pin them against the window-merge oracle):
  * min (series_id, time) across file heads, every version of the key
  * consumed, winner = max `__seq` with NULL (legacy) losing to any
  * stamped version and equal seqs resolved to the LATER file in the
  * stable sorted file order; tombstone winners drop. The per-file sort
  * contract (series_id, time) is enforced across window and row-group
  * boundaries — a violating file fails loudly rather than merging
  * wrong. Filters and the label test apply BELOW the merge: they read
  * key-stable columns only, so superseded versions and tombstones
  * classify exactly like the winners they shadow. A pushed limit caps
  * the merged rows the stripe emits.
  *
  * Window lifetime: decoded windows are immutable, freshly-allocated
  * slabs; a merge key can straddle a window (or row-group) boundary, so
  * an output batch may reference a file's PREVIOUS window — references
  * keep it alive, nothing is pooled, and emitted batches drop their
  * window list on the next `next()` so memory stays
  * O(files × window), not O(stripe). */
private[sources] final class GraftMorColumnarReader(
    conf: Configuration,
    stripe: GraftMorStripe,
    requested: Seq[String],
    pushed: Array[Filter],
    commits: Option[(Long, Set[Long])],
    asOf: Option[Long],
    labelEq: Seq[(String, String)],
    labelSeries: Option[java.util.HashSet[Long]],
    limit: Option[Int])
  extends org.apache.spark.sql.connector.read.PartitionReader[ColumnarBatch] {

  private val label = new GraftReaders.LabelTest(labelEq, labelSeries)
  private val phys = requested.map(GraftMeta.physical)
  // the merge itself always needs the LWW key + version + tombstone
  private val cols: Option[Seq[String]] = Some(
    (phys.filterNot(_ == "part_start") ++ Seq("series_id", "time", "__seq", "__del")).distinct)

  /** Stripe series bounds as classifiable filters: footer stats skip row
    * groups entirely outside the stripe (files are sorted by series_id,
    * so most groups are). */
  private val keyFilters: Seq[Filter] =
    (if (stripe.seriesLo != Long.MinValue) Seq(GreaterThanOrEqual("series_id", stripe.seriesLo))
     else Nil) ++
    (if (stripe.seriesHi != Long.MaxValue) Seq(LessThanOrEqual("series_id", stripe.seriesHi))
     else Nil)

  /** One decoded, compacted window of one file, with its merge keys as
    * primitive arrays. */
  private final class Window(w: GraftRowGroups.Window) {
    val vecs: java.util.HashMap[String, GraftDecode.Flat] = w.cols
    val sel: Array[Int] = w.sel
    val selLen: Int = w.k
    val sids: Array[Long] = vecs.get("series_id").longs
    val times: Array[Long] = vecs.get("time").longs
    private val seq = vecs.get("__seq")
    private val del = vecs.get("__del")
    val seqs: Array[Long] = seq.longs
    val seqNulls: Array[Boolean] = seq.nulls
    val dels: Array[Boolean] = del.bools
    val delNulls: Array[Boolean] = del.nulls
  }

  private final class FileCursor(val file: String) {
    private val groups = new GraftRowGroups(conf, file, None, pushed, keyFilters,
      commits, asOf, label, stripe.partStart)
    // sort contract spans windows AND row groups
    private var lastS = Long.MinValue
    private var lastT = Long.MinValue

    var win: Window = _
    var pos: Int = 0

    refill()

    def exhausted: Boolean = win == null
    def headSid: Long = win.sids(win.sel(pos))
    def headTime: Long = win.times(win.sel(pos))
    /** LWW version of the head row; NULL (legacy) = MinValue. */
    def headSeq: Long = {
      val o = win.sel(pos)
      if (win.seqs == null || win.seqNulls(o)) Long.MinValue else win.seqs(o)
    }
    def headDel: Boolean = {
      val o = win.sel(pos)
      win.dels != null && !win.delNulls(o) && win.dels(o)
    }

    /** Consume the head row; refills (possibly across row groups) when
      * the window is spent. The old window object stays alive while any
      * pending output row references it. */
    def advanceRow(): Unit = {
      pos += 1
      if (pos >= win.selLen) refill()
    }

    /** The per-row predicate of the walk: the sort contract on every
      * decoded row, then the stripe's series range. */
    private def rowOk(byName: java.util.HashMap[String, GraftDecode.Flat]): Int => Boolean = {
      val sids = byName.get("series_id").longs
      val times = byName.get("time").longs
      if (sids == null || times == null)
        throw new IllegalStateException(s"$file lacks series_id/time — not a graft raw file")
      i => {
        val s = sids(i)
        val t = times(i)
        if (s < lastS || (s == lastS && t < lastT))
          throw new IllegalStateException(
            s"$file is not sorted by (series_id, time) — MOR merge would be wrong")
        lastS = s; lastT = t
        s >= stripe.seriesLo && s <= stripe.seriesHi
      }
    }

    /** Decode + compact the next window with at least one surviving
      * row; null out `win` at end of file. */
    private def refill(): Unit = {
      win = null
      pos = 0
      while (win == null) {
        if (groups.remaining <= 0 && !groups.nextGroup((_, _) => cols)) { close(); return }
        val w = groups.window(Long.MaxValue, rowOk)
        if (w.k > 0) win = new Window(w)
      }
    }

    private var closed = false
    def close(): Unit = if (!closed) { closed = true; groups.close() }
  }

  private val cursors: Array[FileCursor] = stripe.files.map(new FileCursor(_)).toArray

  private var current: ColumnarBatch = _
  /** merged rows this stripe may still emit (the pushed limit's counter) */
  private var left: Long = limit.fold(Long.MaxValue)(_.toLong)

  // ---- run fast-path state (valid across output batches) -------------------
  // The common layout gives each file DISJOINT series (pmod-sharded
  // writes): one cursor owns long key runs while every other cursor's
  // head stays put. Caching that single owner plus the SECOND-smallest
  // head key lets the merge consume a whole run at O(1)/row instead of
  // rescanning all k cursors per key — heads only advance, so the
  // cached second-min stays a correct bound until the owner reaches it.
  private var fastCi = -1
  private var hasSecond = false
  private var s2 = 0L
  private var t2 = 0L

  override def next(): Boolean = {
    if (left <= 0) return false
    val maxOut = math.min(GraftColumnar.BatchRows.toLong, left).toInt
    // per-batch window registry: winIdx/ord reference into it; dropped
    // after emit so retired windows become collectable
    val wins = ArrayBuffer.empty[Window]
    // memoized registry slot of each cursor's CURRENT window
    val curSlot = new Array[Int](cursors.length)
    java.util.Arrays.fill(curSlot, -1)
    val curWin = new Array[Window](cursors.length)
    def slotOf(ci: Int): Int = {
      val w = cursors(ci).win
      if (curWin(ci) ne w) {
        curWin(ci) = w
        wins += w
        curSlot(ci) = wins.length - 1
      }
      curSlot(ci)
    }
    val winIdx = new Array[Int](maxOut)
    val ord = new Array[Int](maxOut)
    var k = 0
    while (k < maxOut) {
      var ms = 0L
      var mt = 0L
      var soleCi = -1
      if (fastCi >= 0 && !cursors(fastCi).exhausted && {
        val c = cursors(fastCi)
        val s = c.headSid
        val t = c.headTime
        // strictly below the cached second-min = sole owner of the key
        !hasSecond || s < s2 || (s == s2 && t < t2)
      }) {
        val c = cursors(fastCi)
        ms = c.headSid; mt = c.headTime
        soleCi = fastCi
      } else {
        // full rescan: min key, the (single?) cursor holding it, and
        // the second-smallest distinct key for the fast path
        var any = false
        var minCi = -1
        var multi = false
        hasSecond = false
        var ci = 0
        while (ci < cursors.length) {
          val c = cursors(ci)
          if (!c.exhausted) {
            val s = c.headSid
            val t = c.headTime
            if (!any) { ms = s; mt = t; minCi = ci; any = true }
            else if (s < ms || (s == ms && t < mt)) {
              // previous min becomes the second-min candidate
              if (!hasSecond || ms < s2 || (ms == s2 && mt < t2)) {
                s2 = ms; t2 = mt; hasSecond = true
              }
              ms = s; mt = t; minCi = ci; multi = false
            } else if (s == ms && t == mt) multi = true
            else if (!hasSecond || s < s2 || (s == s2 && t < t2)) {
              s2 = s; t2 = t; hasSecond = true
            }
          }
          ci += 1
        }
        if (!any) {
          if (k == 0) return false
          current = emit(wins, winIdx, ord, k)
          left -= k
          return true
        }
        if (!multi) soleCi = minCi
        fastCi = if (multi) -1 else minCi
      }
      // collect every version; winner = max __seq, ties to the LATER
      // cursor (>= like the row merge)
      var winSlot = -1
      var winOrd = -1
      var winSeq = Long.MinValue
      var winDel = false
      if (soleCi >= 0) {
        // single-cursor key: versions (if any) all live in this cursor
        val c = cursors(soleCi)
        var first = true
        while (!c.exhausted && c.headSid == ms && c.headTime == mt) {
          val sq = c.headSeq
          if (first || sq >= winSeq) {
            winSeq = sq
            winDel = c.headDel
            winSlot = slotOf(soleCi)
            winOrd = c.win.sel(c.pos)
            first = false
          }
          c.advanceRow()
        }
      } else {
        var first = true
        var ci = 0
        while (ci < cursors.length) {
          val c = cursors(ci)
          while (!c.exhausted && c.headSid == ms && c.headTime == mt) {
            val sq = c.headSeq
            if (first || sq >= winSeq) {
              winSeq = sq
              winDel = c.headDel
              winSlot = slotOf(ci)
              winOrd = c.win.sel(c.pos)
              first = false
            }
            c.advanceRow()
          }
          ci += 1
        }
      }
      if (!winDel) {
        winIdx(k) = winSlot
        ord(k) = winOrd
        k += 1
      }
    }
    current = emit(wins, winIdx, ord, k)
    left -= k
    true
  }

  private def emit(wins: ArrayBuffer[Window], winIdx: Array[Int],
                   ord: Array[Int], k: Int): ColumnarBatch = {
    val winArr = wins.toArray
    val cols: Array[ColumnVector] = phys.map {
      case "part_start" => new GraftConstLongVec(stripe.partStart): ColumnVector
      case c =>
        val bases = winArr.map(_.vecs.get(c).vec)
        new GraftGatherVec(bases, winIdx, ord,
          GraftColumnar.TsdbColumnarTypes.getOrElse(c, LongType)): ColumnVector
    }.toArray
    val b = new ColumnarBatch(cols)
    b.setNumRows(k)
    b
  }

  override def get(): ColumnarBatch = current
  override def close(): Unit = cursors.foreach(_.close())
}

/** Gather indirection over per-window base vectors: row i reads
  * `bases(winIdx(i))` at `ord(i)`. O(1) wrap, zero value copies. */
private[sources] final class GraftGatherVec(
    bases: Array[ColumnVector], winIdx: Array[Int], ord: Array[Int],
    dt: DataType) extends ColumnVector(dt) {
  override def close(): Unit = ()
  override def hasNull: Boolean = true // unknown cheaply; callers use isNullAt
  override def numNulls(): Int = -1
  override def isNullAt(i: Int): Boolean = bases(winIdx(i)).isNullAt(ord(i))
  override def getBoolean(i: Int): Boolean = bases(winIdx(i)).getBoolean(ord(i))
  override def getByte(i: Int): Byte = bases(winIdx(i)).getByte(ord(i))
  override def getShort(i: Int): Short = bases(winIdx(i)).getShort(ord(i))
  override def getInt(i: Int): Int = bases(winIdx(i)).getInt(ord(i))
  override def getLong(i: Int): Long = bases(winIdx(i)).getLong(ord(i))
  override def getFloat(i: Int): Float = bases(winIdx(i)).getFloat(ord(i))
  override def getDouble(i: Int): Double = bases(winIdx(i)).getDouble(ord(i))
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    bases(winIdx(i)).getArray(ord(i))
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    bases(winIdx(i)).getMap(ord(i))
  override def getDecimal(i: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal =
    bases(winIdx(i)).getDecimal(ord(i), p, s)
  override def getUTF8String(i: Int): UTF8String =
    bases(winIdx(i)).getUTF8String(ord(i))
  override def getBinary(i: Int): Array[Byte] = bases(winIdx(i)).getBinary(ord(i))
  override def getChild(i: Int): ColumnVector =
    throw new UnsupportedOperationException("gather vector has no children")
}
