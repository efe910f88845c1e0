package graft.ingest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.sources.SerializableHadoopConf

/** Record-level splits for PLAIN (uncompressed) `.warc` segments — the
  * sidecar-free complement of [[WarcGzIndex]] (r12): a plain segment can
  * split by byte ranges that RESYNC on record boundaries, because WARC
  * records are self-framing (`WARC/1.x` version line, headers with
  * Content-Length, block, CRLF CRLF — ISO 28500 §4).
  *
  * Two phases, both Spark jobs over the same byte ranges:
  *
  *  1. **Scan**: each range seeks to its start, resyncs to the first
  *     line beginning `WARC/1.` and HEADER-HOPS forward — parse the
  *     header block, `seek()` past Content-Length bytes, repeat — until
  *     it crosses its end. Payload bytes are never read (a seek per
  *     record), so the scan costs headers + seeks, not IO over the
  *     data. Each range reports (first record start, record count,
  *     next record start past its end).
  *  2. **Parse**: with counts in hand, the driver prefix-sums exact
  *     per-range ordinal bases and each range re-opens at its first
  *     record and streams exactly `count` records through the ordinary
  *     [[WarcSource.parseFile]] — rows (ordinals included) are
  *     IDENTICAL to the sequential read by construction.
  *
  * The false-resync hazard (a payload that embeds `WARC/1.` text at a
  * line start) is closed by CHAIN VALIDATION, not trust: range i's
  * next-start must equal range i+1's first-start, range 0 must start at
  * byte 0, and the last range must hop exactly to EOF. A false resync
  * breaks the chain (the true hop from the previous range passes
  * THROUGH the impostor's position), and ANY anomaly — chain mismatch,
  * hop failure, trailing garbage, corruption — falls back to the
  * sequential [[WarcSource.readFiles]] path, whose quarantine semantics
  * are the contract. The fast path therefore never serves rows a
  * sequential read would not.
  *
  * Scale shape: a 100 GB crawl segment fans out to `splits` tasks with
  * one cheap header-hop prepass, instead of pinning one task for the
  * whole file; the prepass parallelizes identically. */
object WarcPlainSplit {

  private[ingest] final case class RangeScan(
      firstStart: Long, count: Long, endStart: Long, ok: Boolean)

  /** Buffered reader over an `FSDataInputStream` that tracks logical
    * file position and turns long skips into seeks. */
  private final class Hopper(in: org.apache.hadoop.fs.FSDataInputStream,
                             fileLen: Long, startAt: Long) {
    private val buf = new Array[Byte](1 << 16)
    private var base = startAt // file offset of buf(0)
    private var pos = 0
    private var len = 0
    in.seek(startAt)

    /** File offset of the next unread byte. */
    def position: Long = base + pos

    private def fill(): Boolean = {
      if (pos < len) return true
      base += len
      pos = 0
      len = 0
      if (base >= fileLen) return false
      var n = 0
      while (n == 0) n = in.read(buf, 0, buf.length)
      if (n < 0) return false
      len = n
      true
    }

    def readByte(): Int = if (!fill()) -1 else { val b = buf(pos) & 0xFF; pos += 1; b }

    /** One line (LF-terminated, CR stripped), ISO-8859-1; null at EOF.
      * Throws past 64 KiB — the parser's own bound. */
    def readLine(): String = {
      val sb = new java.lang.StringBuilder(64)
      var c = readByte()
      if (c < 0) return null
      while (c >= 0 && c != '\n') {
        sb.append(c.toChar)
        if (sb.length > 65536) throw new java.io.IOException("header line > 64KiB")
        c = readByte()
      }
      val s = sb.toString
      if (s.endsWith("\r")) s.substring(0, s.length - 1) else s
    }

    /** Consume `n` payload bytes — from the buffer while possible, by
      * ONE seek when the skip leaves it. */
    def skipBytes(n: Long): Unit = {
      val inBuf = math.min(n, (len - pos).toLong)
      pos += inBuf.toInt
      val rest = n - inBuf
      if (rest > 0) { // buffer exhausted (pos == len): seek past the rest
        val target = position + rest
        if (target > fileLen) throw new java.io.IOException("EOF inside WARC block")
        in.seek(target)
        base = target
        pos = 0
        len = 0
      }
    }
  }

  /** Header-hop one record whose version line was just consumed at
    * `start`; returns after skipping its block. Framing rules are
    * BYTE-EXACT with [[WarcSource.parseFile]] (bounded lines, cumulative
    * header cap, LWS continuation folding, colon rule, numeric
    * Content-Length): any leniency here would let a record hop cleanly
    * — the chain validates — yet quarantine in phase 2, silently
    * under-delivering that range's quota (review-caught r12). */
  private def hopHeadersAndBlock(r: Hopper): Unit = {
    var headerBytes = 0L
    var last: String = null
    var clRaw: String = null
    var h = r.readLine()
    while (h != null && h.nonEmpty) {
      headerBytes += h.length + 2
      if (headerBytes > WarcSource.MaxHeaderBytes)
        throw new java.io.IOException("WARC headers too large")
      if ((h.charAt(0) == ' ' || h.charAt(0) == '\t') && last != null) {
        // continuation folds into the previous header's VALUE — a folded
        // Content-Length must fail .toLong below exactly like parseFile
        if (last == "content-length") clRaw = clRaw + " " + h.trim
      } else {
        val i = h.indexOf(':')
        if (i <= 0) throw new java.io.IOException(s"bad WARC header: $h")
        last = h.substring(0, i).trim.toLowerCase(java.util.Locale.ROOT)
        if (last == "content-length") clRaw = h.substring(i + 1).trim
      }
      h = r.readLine()
    }
    if (h == null) throw new java.io.IOException("EOF inside WARC headers")
    if (clRaw == null) throw new java.io.IOException("missing Content-Length")
    val contentLength = clRaw.toLong // folded/garbled value throws, like parseFile
    if (contentLength < 0)
      throw new java.io.IOException(s"negative Content-Length: $contentLength")
    r.skipBytes(contentLength)
  }

  /** Scan one byte range: resync, hop, count. Never throws — a range
    * that cannot be cleanly hopped reports `ok = false` and the caller
    * falls back to the sequential read. A resync CANDIDATE whose first
    * hop fails (a payload embedding `WARC/1.` text at a line start,
    * without valid record framing behind it) is an impostor: scanning
    * resumes past it instead of abandoning the range — only a
    * successfully-hopped chain reaches the validator. */
  private[ingest] def scanRange(in: org.apache.hadoop.fs.FSDataInputStream,
                                fileLen: Long, start: Long,
                                end: Long): RangeScan = {
    def hopFrom(r: Hopper, firstStart: Long): RangeScan = {
      var cur = firstStart
      var count = 0L
      while (cur >= 0 && cur < end) {
        hopHeadersAndBlock(r)
        count += 1
        // skip the record's trailing blank lines to the next version
        // line (or EOF); anything else is framing damage
        var nxt = -1L
        var decided = false
        while (!decided) {
          val p = r.position
          val line = r.readLine()
          if (line == null) { nxt = -1L; decided = true }
          else if (line.isEmpty) ()
          else if (line.startsWith("WARC/1.")) { nxt = p; decided = true }
          else throw new java.io.IOException(s"garbage between records: $line")
        }
        cur = nxt
      }
      RangeScan(firstStart, count, if (cur < 0) fileLen else cur, ok = true)
    }
    try {
      if (start == 0L) {
        // byte 0 must BE a record start (leading garbage → sequential
        // path and its quarantine row); no impostor retry at 0
        val r = new Hopper(in, fileLen, 0L)
        val v = r.readLine()
        if (v == null || !v.startsWith("WARC/1."))
          return RangeScan(0L, 0L, 0L, ok = false)
        return hopFrom(r, 0L)
      }
      // resync from start-1, not start: the first (possibly partial)
      // line is consumed and discarded, so candidates are proven line
      // starts — and a record beginning EXACTLY at `start` is still
      // found (the byte before it is the previous line's '\n')
      var searchFrom = start - 1
      while (true) {
        val r = new Hopper(in, fileLen, searchFrom)
        var cur = -1L
        var found = false
        while (!found) {
          val p = r.position
          val line =
            try r.readLine()
            catch {
              // binary over-long "line" (the 64 KiB bound consumed bytes
              // before throwing): keep scanning. A genuine read error
              // leaves position unmoved — RETHROW it, or this loop would
              // spin forever at the same offset (review-caught r12); the
              // range then reports !ok and the sequential fallback
              // surfaces the IO failure properly.
              case e: java.io.IOException =>
                if (r.position > p) "" else throw e
            }
          // p > searchFrom (not >= start): a retry restarts AT the failed
          // candidate's own line start, which must be skipped or the
          // scan would re-elect it forever; on the first pass
          // searchFrom = start-1, so this is exactly p >= start
          if (line == null) { cur = fileLen; found = true } // no record in range
          else if (line.startsWith("WARC/1.") && p > searchFrom && p >= start) {
            cur = p; found = true
          }
        }
        if (cur >= fileLen) return RangeScan(fileLen, 0L, fileLen, ok = true)
        try return hopFrom(r, cur)
        catch {
          case _: Exception =>
            // impostor (or damage) at `cur`: resume the line scan just
            // past the candidate's version line
            searchFrom = cur
        }
      }
      throw new IllegalStateException("unreachable")
    } catch {
      case _: Exception => RangeScan(-1L, 0L, -1L, ok = false)
    }
  }

  /** Split-read one plain `.warc` segment across `splits` record-aligned
    * byte ranges — row-identical (ordinals included) to
    * [[WarcSource.read]]; falls back to the sequential parse whenever
    * the scan chain does not validate. */
  def readSplit(spark: SparkSession, file: String, splits: Int,
                maxPayloadBytes: Int = 8 << 20): DataFrame = {
    require(splits > 0, s"splits must be positive: $splits")
    val conf = SerializableHadoopConf.broadcast(spark.sparkContext)
    val path0 = new org.apache.hadoop.fs.Path(file)
    val fs = path0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fully-qualified name in rows, like every directory-listing read
    // path (binaryFiles/globStatus qualify) — row identity includes it
    val path = fs.makeQualified(path0)
    val qfile = path.toString
    val fileLen = fs.getFileStatus(path).getLen
    if (fileLen == 0L || splits == 1)
      return WarcSource.readFiles(spark, Seq(qfile), maxPayloadBytes)
    val step = math.max(1L, fileLen / splits)
    val bounds = (0L until fileLen by step).map(s =>
      (s, math.min(s + step, fileLen))).toSeq
    // phase 1: parallel header-hop scan
    val scans = spark.sparkContext.parallelize(bounds, bounds.length)
      .map { case (s, e) =>
        val lfs = new org.apache.hadoop.fs.Path(qfile).getFileSystem(conf.value.value)
        val in = lfs.open(new org.apache.hadoop.fs.Path(qfile))
        try (s, scanRange(in, fileLen, s, e)) finally in.close()
      }.collect().sortBy(_._1).map(_._2)
    // chain validation: the parallel hops must reproduce exactly one
    // sequential pass — anything else (corruption, trailing garbage,
    // a false resync) takes the sequential path and ITS semantics
    val chained = scans.forall(_.ok) && scans.head.firstStart == 0L &&
      scans.last.endStart == fileLen &&
      scans.sliding(2).forall {
        case Array(a, b) => b.firstStart == a.endStart
        case _ => true
      }
    if (!chained)
      return WarcSource.readFiles(spark, Seq(qfile), maxPayloadBytes)
    val bases = scans.map(_.count).scanLeft(0L)(_ + _)
    val work = scans.zip(bases).filter(_._1.count > 0)
      .map { case (sc, base) => (sc.firstStart, sc.count, base) }.toSeq
    if (work.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], WarcSource.Schema)
    // phase 2: exact-count parse per range through the ordinary parser
    val rows = spark.sparkContext.parallelize(work, work.length)
      .flatMap { case (at, quota, base) =>
        val lfs = new org.apache.hadoop.fs.Path(qfile).getFileSystem(conf.value.value)
        val in = lfs.open(new org.apache.hadoop.fs.Path(qfile))
        in.seek(at)
        val it = WarcSource.parseFile(qfile, in, maxPayloadBytes,
          ordinalBase = base)
        new Iterator[Row] { // take(quota) with a close when it drains
          private var left = quota
          def hasNext: Boolean = {
            val h = left > 0 && it.hasNext
            if (left > 0 && !h)
              // the validated scan counted `quota` records here; a parse
              // that ends early (or quarantines) after the chain
              // validated is an invariant violation — fail LOUDLY, never
              // silently under-deliver a range
              throw new IllegalStateException(
                s"$qfile: split range at $at delivered ${quota - left} of " +
                  s"$quota scanned records")
            if (!h) { try in.close() catch { case _: java.io.IOException => () } }
            h
          }
          def next(): Row = { left -= 1; it.next() }
        }
      }
    spark.createDataFrame(rows, WarcSource.Schema)
  }
}
