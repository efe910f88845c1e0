package graft.ingest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.sources.SerializableHadoopConf

/** Record-offset sidecar for `.warc.gz` segments — record-level splits
  * (r11, closing the carry-forward documented at [[WarcSource]]'s
  * "member-offset indexes" note).
  *
  * [[WarcSource.read]]'s parallelism is FILE-granular: perfect for the
  * many-segments Common Crawl layout, but a corpus delivered as a few
  * huge `.warc.gz` files pins each whole file to one task (the 4-file
  * SCALE.md row: 14.4× wall at 100× data). The per-record gzip-member
  * convention already makes records independently decodable — what is
  * missing is WHERE the members start. This sidecar stores exactly
  * that: one `(byteOffset, cumulativeRecordCount)` entry per gzip
  * member, built in ONE streaming pass and valid forever (segments are
  * immutable by convention; the sidecar still pins the file length and
  * refuses to serve a changed file).
  *
  * Build walks the raw gzip framing itself (RFC 1952: header with
  * FEXTRA/FNAME/FCOMMENT/FHCRC variants, raw-deflate body via
  * `Inflater(nowrap)`, CRC32 + ISIZE trailer — both VERIFIED, the
  * probe family's walk-and-verify discipline) because
  * `GZIPInputStream` deliberately hides member boundaries. Record
  * counts come from running the real WARC parser over each member's
  * decompressed stream (1-byte retention cap — counting never buffers
  * payloads), so multi-record members index correctly, not just the
  * 1:1 convention.
  *
  * Read splits the member table into `splits` byte-balanced ranges;
  * each task seeks to its range start and parses members through the
  * ordinary concatenated-member path with the range's cumulative
  * record count as the ordinal base — an indexed read returns
  * byte-identical rows to the streaming read, just partitioned. A
  * corrupt file fails at BUILD time (an index over corruption is not
  * useful); the un-indexed path keeps the quarantine behavior.
  *
  * Scale shape: building is embarrassingly parallel per file
  * ([[buildAll]] — one task per segment writes one sidecar), costs one
  * sequential decompression (the same work any read pays), and the
  * sidecar is ~16 bytes/record of text — negligible against the
  * segment. Reading a 1 GB segment then costs max(range) instead of
  * the whole file.
  */
object WarcGzIndex {

  /** `members(i) = (byte offset of member i, records before it)`. */
  final case class Index(fileLen: Long, totalRecords: Long,
                         members: Array[(Long, Long)])

  // ------------------------------------------------------------- build

  /** One-pass index build over a seekless stream. Throws on any framing
    * or WARC violation — the sidecar certifies the file parses clean. */
  def build(in: java.io.InputStream): Index = {
    val walker = new GzMemberWalker(in)
    val members = Array.newBuilder[(Long, Long)]
    var records = 0L
    var member = walker.nextMember()
    while (member != null) {
      members += ((walker.memberStart, records))
      // count records through the REAL parser (retention capped at one
      // byte — we need counts, not payloads); a corrupt row aborts
      val it = WarcSource.parseFile("indexed-member", member, 1)
      while (it.hasNext) {
        val r = it.next()
        if (r.getBoolean(12))
          throw new java.io.IOException(
            s"corrupt WARC record in member at ${walker.memberStart}")
        records += 1
      }
      member = walker.nextMember()
    }
    Index(walker.pos, records, members.result())
  }

  /** Sidecar text format: `graft-warc-gidx v1\n<fileLen> <totalRecords>`
    * then one `<offset> <cumRecords>` line per member. */
  def save(fs: org.apache.hadoop.fs.FileSystem, idxPath: org.apache.hadoop.fs.Path,
           idx: Index): Unit = {
    val out = fs.create(idxPath, true)
    try {
      val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(out, "UTF-8"))
      w.write(s"graft-warc-gidx v1\n${idx.fileLen} ${idx.totalRecords}\n")
      idx.members.foreach { case (off, cum) => w.write(s"$off $cum\n") }
      w.flush()
    } finally out.close()
  }

  def load(fs: org.apache.hadoop.fs.FileSystem,
           idxPath: org.apache.hadoop.fs.Path): Index = {
    val in = fs.open(idxPath)
    try {
      val r = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
      val magic = r.readLine()
      if (magic != "graft-warc-gidx v1")
        throw new java.io.IOException(s"bad sidecar magic: $magic")
      val Array(len, total) = r.readLine().split(" ").map(_.toLong)
      val members = Array.newBuilder[(Long, Long)]
      var line = r.readLine()
      while (line != null) {
        if (line.nonEmpty) {
          val sp = line.indexOf(' ')
          members += ((line.substring(0, sp).toLong, line.substring(sp + 1).toLong))
        }
        line = r.readLine()
      }
      Index(len, total, members.result())
    } finally in.close()
  }

  /** Default sidecar location for a segment. */
  def sidecarPath(file: String): String = file + ".gidx"

  /** Index every `.warc.gz` under the glob that lacks a current
    * sidecar — ONE TASK PER SEGMENT (indexing is embarrassingly
    * parallel by file; each task pays one sequential decompression and
    * writes one sidecar next to the segment). Returns segments
    * indexed. */
  def buildAll(spark: SparkSession, glob: String): Long = {
    val p = new org.apache.hadoop.fs.Path(glob)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.globStatus(p)
    val files =
      if (st == null) Seq.empty
      else st.toSeq.filter(s => s.isFile && s.getPath.getName.endsWith(".warc.gz"))
        .map(s => (s.getPath.toString, s.getLen))
    if (files.isEmpty) return 0L
    val conf = SerializableHadoopConf.broadcast(spark.sparkContext)
    spark.sparkContext.parallelize(files, files.length).map { case (f, len) =>
      val path = new org.apache.hadoop.fs.Path(f)
      val lfs = path.getFileSystem(conf.value.value)
      val side = new org.apache.hadoop.fs.Path(sidecarPath(f))
      val fresh =
        try load(lfs, side).fileLen == len
        catch { case _: Exception => false }
      if (fresh) 0L
      else {
        val in = lfs.open(path)
        val idx = try build(in) finally in.close()
        save(lfs, side, idx)
        1L
      }
    }.sum().toLong
  }

  // -------------------------------------------------------------- read

  /** Indexed read of ONE `.warc.gz` segment split across `splits`
    * byte-balanced ranges — row-identical to [[WarcSource.read]] on the
    * same file (ordinals included), partitioned at record granularity.
    * The sidecar must match the file's current length (immutability
    * pin). */
  def readIndexed(spark: SparkSession, file: String, splits: Int,
                  maxPayloadBytes: Int = 8 << 20,
                  idxPath: Option[String] = None): DataFrame = {
    require(splits > 0, s"splits must be positive: $splits")
    val path = new org.apache.hadoop.fs.Path(file)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idx = load(fs, new org.apache.hadoop.fs.Path(
      idxPath.getOrElse(sidecarPath(file))))
    val len = fs.getFileStatus(path).getLen
    if (len != idx.fileLen)
      throw new java.io.IOException(
        s"sidecar is stale: file is $len bytes, index built over ${idx.fileLen}")
    if (idx.members.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], WarcSource.Schema)
    // byte-balanced ranges over whole members: target compressed bytes
    // per split, never fewer than one member per range
    val n = idx.members.length
    val target = math.max(1L, idx.fileLen / splits)
    val ranges = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]() // (start, end, ordinalBase)
    var i = 0
    while (i < n) {
      val start = idx.members(i)._1
      val base = idx.members(i)._2
      var j = i + 1
      while (j < n && idx.members(j)._1 - start < target) j += 1
      val end = if (j < n) idx.members(j)._1 else idx.fileLen
      ranges += ((start, end, base))
      i = j
    }
    val conf = SerializableHadoopConf.broadcast(spark.sparkContext)
    val rows = spark.sparkContext
      .parallelize(ranges.toSeq, ranges.length)
      .flatMap { case (start, end, base) =>
        val lfs = new org.apache.hadoop.fs.Path(file).getFileSystem(conf.value.value)
        val in = lfs.open(new org.apache.hadoop.fs.Path(file))
        in.seek(start)
        // bound the stream to the range: members are whole, so the
        // concatenated-member gzip path sees a clean EOF at the cut
        WarcSource.parseFile(file, new BoundedInputStream(in, end - start),
          maxPayloadBytes, ordinalBase = base)
      }
    spark.createDataFrame(rows, WarcSource.Schema)
  }

  /** Reads at most `limit` bytes of `in`, then reports EOF; close
    * closes the underlying stream. */
  private[graft] final class BoundedInputStream(in: java.io.InputStream,
                                                private var limit: Long)
      extends java.io.InputStream {
    override def read(): Int =
      if (limit <= 0) -1
      else { val b = in.read(); if (b >= 0) limit -= 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (limit <= 0) return -1
      val n = in.read(b, off, math.min(len.toLong, limit).toInt)
      if (n > 0) limit -= n
      n
    }
    /** MUST be overridden (the default returns 0): `GZIPInputStream`
      * advances to the next concatenated member only while
      * `in.available() > 0` or the inflater holds > 26 leftover bytes.
      * With a constant 0 here, a member boundary landing within 26
      * bytes of an input-chunk refill would read as end-of-stream and
      * silently drop the rest of the range (ADVICE r11). Report at
      * least 1 while bytes remain within the bound. */
    override def available(): Int =
      if (limit <= 0) 0
      else math.min(limit, math.max(in.available().toLong, 1L)).toInt
    override def close(): Unit = in.close()
  }

  // ----------------------------------------------------- member walker

  /** Sequential gzip MEMBER walker (RFC 1952): exposes each member's
    * byte offset and decompressed stream, verifying the CRC32 + ISIZE
    * trailer per member. `GZIPInputStream` cannot serve here — it
    * deliberately erases member boundaries. Single-use, forward-only;
    * each member's stream must be drained (or closed — close drains)
    * before the next `nextMember` call. */
  private[ingest] final class GzMemberWalker(raw: java.io.InputStream) {
    private val buf = new Array[Byte](1 << 16)
    private var bufPos = 0
    private var bufLen = 0
    private var baseOff = 0L // file offset of buf(0)
    private var lastStart = 0L

    /** File offset of the next unconsumed byte. */
    def pos: Long = baseOff + bufPos

    /** Offset where the most recent member began. */
    def memberStart: Long = lastStart

    private def fill(): Boolean = {
      if (bufPos < bufLen) return true
      baseOff += bufLen
      bufPos = 0
      bufLen = 0
      var n = 0
      while (n == 0) n = raw.read(buf, 0, buf.length)
      if (n < 0) return false
      bufLen = n
      true
    }

    private def byteOrThrow(): Int = {
      if (!fill()) throw new java.io.EOFException("EOF inside gzip member")
      val b = buf(bufPos) & 0xFF
      bufPos += 1
      b
    }

    private def skipN(n: Int): Unit = (0 until n).foreach(_ => byteOrThrow())

    /** Next member's decompressed stream, or null at clean EOF (exactly
      * at a member boundary). */
    def nextMember(): java.io.InputStream = {
      if (!fill()) return null
      lastStart = pos
      // RFC 1952 header
      if (byteOrThrow() != 0x1F || byteOrThrow() != 0x8B)
        throw new java.io.IOException(s"bad gzip magic at $lastStart")
      if (byteOrThrow() != 8)
        throw new java.io.IOException("unsupported gzip method (not deflate)")
      val flg = byteOrThrow()
      skipN(6) // MTIME + XFL + OS
      if ((flg & 4) != 0) { // FEXTRA
        val xlen = byteOrThrow() | (byteOrThrow() << 8)
        skipN(xlen)
      }
      if ((flg & 8) != 0) while (byteOrThrow() != 0) () // FNAME
      if ((flg & 16) != 0) while (byteOrThrow() != 0) () // FCOMMENT
      if ((flg & 2) != 0) skipN(2) // FHCRC (crc16 of header — not verified)
      val inf = new java.util.zip.Inflater(true)
      val crc = new java.util.zip.CRC32()

      new java.io.InputStream {
        private var outBytes = 0L
        private var done = false

        override def read(): Int = {
          val one = new Array[Byte](1)
          val n = read(one, 0, 1)
          if (n < 0) -1 else one(0) & 0xFF
        }

        override def read(b: Array[Byte], off: Int, len: Int): Int = {
          if (done || len == 0) return if (done) -1 else 0
          var n = 0
          while (n == 0 && !inf.finished()) {
            if (inf.needsInput()) {
              if (!fill())
                throw new java.io.EOFException("EOF inside deflate stream")
              inf.setInput(buf, bufPos, bufLen - bufPos)
              bufPos = bufLen // tentatively consumed; corrected at finish
            }
            n = try inf.inflate(b, off, len)
            catch { case e: java.util.zip.DataFormatException =>
              throw new java.io.IOException(s"bad deflate data: ${e.getMessage}") }
          }
          if (inf.finished() && !done) {
            bufPos -= inf.getRemaining // return over-fed bytes
            if (n > 0) { crc.update(b, off, n); outBytes += n }
            finishTrailer()
            return if (n > 0) n else -1
          }
          if (n > 0) { crc.update(b, off, n); outBytes += n }
          n
        }

        private def finishTrailer(): Unit = {
          inf.end()
          var tCrc = 0L
          var i = 0
          while (i < 4) { tCrc |= byteOrThrow().toLong << (8 * i); i += 1 }
          var tLen = 0L
          i = 0
          while (i < 4) { tLen |= byteOrThrow().toLong << (8 * i); i += 1 }
          if (tCrc != crc.getValue)
            throw new java.io.IOException(
              f"gzip CRC mismatch in member at $lastStart (got ${crc.getValue}%08x, trailer $tCrc%08x)")
          if (tLen != (outBytes & 0xFFFFFFFFL))
            throw new java.io.IOException(
              s"gzip ISIZE mismatch in member at $lastStart")
          done = true
        }

        /** Drain so the walker lands on the next member boundary. */
        override def close(): Unit = {
          val sink = new Array[Byte](8192)
          while (!done && read(sink, 0, sink.length) >= 0) ()
        }
      }
    }
  }
}
