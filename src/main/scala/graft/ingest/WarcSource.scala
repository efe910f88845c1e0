package graft.ingest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.SerializableHadoopConf

/** WARC corpus source — the web-crawl archive format (ISO 28500 /
  * the public WARC 1.1 spec; Common Crawl's interchange layout). A
  * 100 TB training-data pipeline STARTS here: crawls arrive as
  * `.warc` / `.warc.gz` segments, and the first engine-side step is a
  * distributed scan that turns records into typed rows without
  * materializing a file in memory.
  *
  * Scale design:
  *  - **file-granular parallelism**: Common Crawl ships ~100 k × ~1 GB
  *    segments per crawl — one task per file saturates any cluster
  *    without record-level splitting. `binaryFiles` hands each task a
  *    STREAM ([[org.apache.spark.input.PortableDataStream]]), and the
  *    record iterator below is single-pass, constant-memory: no whole
  *    file, no whole record list, ever held at once.
  *  - **per-record gzip members**: the Common Crawl `.warc.gz`
  *    convention concatenates one gzip member per record;
  *    `GZIPInputStream` reads concatenated members natively, so the
  *    same sequential iterator serves both layouts. (Member-offset
  *    indexes would enable record-level splits — the documented next
  *    step if single files ever exceed task granularity.)
  *  - **bomb cap**: `maxPayloadBytes` bounds the bytes RETAINED per
  *    record (the remainder is skipped, not read into memory);
  *    `truncated` marks capped records explicitly — it cannot be
  *    derived from `content_length > length(payload)` because an HTTP
  *    response's payload excludes its HTTP head (review-caught). The
  *    cap is the same discipline as the codec decompression caps.
  *  - **quarantine, not crash**: a malformed record emits ONE row with
  *    `corrupt = true` (carrying the file and record ordinal for
  *    receipts) and parsing of that file stops — resyncing inside a
  *    broken gzip member or a torn length-prefixed stream is guesswork,
  *    and a silent skip would hide corruption from the ingest receipts
  *    (the [[JsonlSource]] quarantine stance).
  *
  * HTTP payloads: `response` records whose WARC Content-Type is
  * `application/http` carry a full HTTP response in the block; the
  * status code and Content-Type header are parsed out and the BODY
  * becomes the payload. A `Transfer-Encoding: chunked` body is
  * DE-CHUNKED (RFC 9112 §7.1: hex-length lines, per-chunk CRLFs,
  * terminal 0-chunk, trailers dropped) — the chunk framing is
  * transport plumbing, not content; a body whose framing does not
  * parse (including one the bomb cap truncated mid-chunk) keeps the
  * capture verbatim rather than guessing.
  */
object WarcSource {

  val Schema: StructType = StructType(Seq(
    StructField("warc_file", StringType),
    StructField("record_ordinal", LongType),
    StructField("warc_type", StringType),
    StructField("record_id", StringType),
    StructField("target_uri", StringType),
    StructField("warc_date", StringType),
    StructField("content_type", StringType),
    StructField("content_length", LongType),
    StructField("http_status", IntegerType),
    StructField("http_content_type", StringType),
    StructField("payload", BinaryType),
    StructField("truncated", BooleanType),
    StructField("corrupt", BooleanType)))

  /** Read every WARC record under `pathGlob` (`.warc` plain or
    * `.warc.gz` with concatenated per-record members). One row per
    * record; `corrupt = true` rows are the quarantine stream.
    *
    * The glob's matches expand ONE level: a matched file reads as
    * itself, a matched directory as the files directly inside it
    * (subdirectories are not descended into). When that leaves no file
    * — a glob matching nothing, or a directory holding only
    * subdirectories — the read fails with "no WARC files match" rather
    * than return an empty frame: bad input fails loudly.
    *
    * FILE-granular partitioning (r15, guide §2.5 input skew / §6 split
    * size): this used to go through `sc.binaryFiles`, whose
    * CombineFileInputFormat packs small files into
    * `max(openCostInBytes, bytes/cores)`-sized splits — a small segment
    * set (16 staged lanes here) collapsed to 2-3 partitions and the
    * whole record parse + HTTP decode ran on 2-3 cores while the rest
    * idled; even an explicit `minPartitions` floor is defeated by the
    * 4 MB open-cost clamp. A WARC file is never split anyway (the
    * record iterator is sequential by design), so the natural unit IS
    * the file: expand the glob driver-side and read one task per file
    * via [[readFiles]] — at crawl scale (~1 GB segments) that is
    * exactly what binaryFiles produced, and below it every file parses
    * in parallel. */
  def read(spark: SparkSession, pathGlob: String,
           maxPayloadBytes: Int = 8 << 20): DataFrame = {
    require(maxPayloadBytes > 0, s"maxPayloadBytes must be positive: $maxPayloadBytes")
    val p = new org.apache.hadoop.fs.Path(pathGlob)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // binaryFiles-parity contract (ADVICE r15): a DIRECTORY argument (or
    // a glob matching directories) expands to the files inside it, and a
    // glob matching NOTHING fails loudly — binaryFiles threw
    // InvalidInputException there, and silently returning an empty frame
    // would turn a typo'd path into empty output downstream
    val files = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
      .flatMap { st =>
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq else Seq(st)
      }
      .filter(_.isFile).map(_.getPath.toString).sorted
    require(files.nonEmpty, s"WarcSource.read: no WARC files match '$pathGlob'")
    readFiles(spark, files, maxPayloadBytes)
  }

  /** Read an EXPLICIT list of segment files — names taken verbatim, so
    * paths containing commas, spaces, or glob metacharacters (all legal
    * on POSIX/HDFS) read correctly. `read`'s glob string can't carry
    * such names (Hadoop's comma-separated input-path parse and glob
    * expansion both re-interpret them), so the ingest loop — which
    * already holds exact listed paths — comes through here: one task
    * per file opened directly via its FileSystem, same streaming
    * parser. */
  def readFiles(spark: SparkSession, files: Seq[String],
                maxPayloadBytes: Int = 8 << 20): DataFrame = {
    require(maxPayloadBytes > 0, s"maxPayloadBytes must be positive: $maxPayloadBytes")
    if (files.isEmpty) return spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], Schema)
    val sc = spark.sparkContext
    val conf = SerializableHadoopConf.broadcast(sc)
    val rows = sc.parallelize(files, files.length)
      .flatMap { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        val fs = p.getFileSystem(conf.value.value)
        parseFile(f, fs.open(p), maxPayloadBytes)
      }
    spark.createDataFrame(rows, Schema)
  }

  /** The `response`-record view most pipelines want: URI, HTTP status,
    * HTTP Content-Type, body. Corrupt and non-response records drop. */
  def responses(warc: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    warc.filter(!col("corrupt") && col("warc_type") === "response" &&
        col("http_status").isNotNull)
      .select(col("target_uri"), col("warc_date"), col("http_status"),
        col("http_content_type"), col("payload"))
  }

  /** Charset-aware payload text over a [[responses]] frame, WHATWG
    * encoding-sniff order (the HTML5 "determining the character
    * encoding" steps C4/CCNet implement):
    *
    *  1. BOM (EF BB BF → UTF-8 with the BOM stripped; FE FF / FF FE →
    *     UTF-16, the JDK charset consumes the mark) — the byte-level
    *     truth outranks every label;
    *  2. the HTTP Content-Type `charset=` parameter;
    *  3. an HTML5 meta PRESCAN of the first 1024 bytes (r12): a
    *     `<meta charset=...>` or `<meta http-equiv=... content="...;
    *     charset=...">` inside the window — applied to html/text (or
    *     untyped) bodies only, so binary payloads can't false-match;
    *  4. `defaultCharset` (UTF-8 — the crawl-modal reality; HTTP/1.1's
    *     ISO-8859-1 default predates it).
    *
    * Unknown labels fall back to `defaultCharset`; malformed byte
    * sequences decode to U+FFFD (REPLACE — deterministic, and a crawl
    * pipeline must not crash on a mislabeled body).
    *
    * Registry discipline: `Charset.forName` is a JDK registry lookup —
    * the measured per-row-JDK-call hazard class — so charsets resolve
    * through a per-partition cache keyed by the (few) distinct labels,
    * never per row. The prescan is one bounded regex over ≤1 KiB. */
  def payloadText(responses: DataFrame,
                  defaultCharset: String = "UTF-8"): DataFrame = {
    val spark = responses.sparkSession
    val inSchema = responses.schema
    val outSchema = StructType(inSchema.fields :+
      StructField("text", StringType) :+ StructField("charset", StringType))
    val ctIdx = inSchema.fieldIndex("http_content_type")
    val payIdx = inSchema.fieldIndex("payload")
    val rows = responses.rdd.mapPartitions { it =>
      val cache = new java.util.HashMap[String, java.nio.charset.Charset]()
      def resolve(label: String): java.nio.charset.Charset = {
        var cs = cache.get(label)
        if (cs == null) {
          cs = try java.nio.charset.Charset.forName(label)
          catch { case _: Exception => java.nio.charset.Charset.forName(defaultCharset) }
          cache.put(label, cs)
        }
        cs
      }
      it.map { r =>
        val ct = if (r.isNullAt(ctIdx)) null else r.getString(ctIdx)
        val payload =
          if (r.isNullAt(payIdx)) Array.emptyByteArray
          else r.getAs[Array[Byte]](payIdx)
        val (skip, label) = sniffCharset(ct, payload, defaultCharset)
        val cs = resolve(label)
        val dec = cs.newDecoder()
          .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
          .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
        val text = dec.decode(
          java.nio.ByteBuffer.wrap(payload, skip, payload.length - skip)).toString
        Row.fromSeq(r.toSeq :+ text :+ cs.name())
      }
    }
    spark.createDataFrame(rows, outSchema)
  }

  private val CharsetRe = java.util.regex.Pattern.compile(
    "charset=\"?([A-Za-z0-9_\\-:.]+)\"?",
    java.util.regex.Pattern.CASE_INSENSITIVE)
  // both HTML5 meta forms in one pattern: charset= must sit INSIDE a
  // <meta ...> tag (bounded via the tag prefix), so body prose
  // mentioning "charset" never matches
  private val MetaRe = java.util.regex.Pattern.compile(
    "<meta[^>]{0,500}?charset\\s*=\\s*[\"']?([A-Za-z0-9_\\-:.]+)",
    java.util.regex.Pattern.CASE_INSENSITIVE)

  /** The WHATWG sniff decision for one response: `(bytes to skip,
    * charset label)`. Order: BOM > HTTP header charset > HTML5 meta
    * prescan of the first 1024 bytes (html or UNTYPED bodies only — the
    * WHATWG prescan is specified for HTML; a text/plain document whose
    * prose quotes a `<meta charset=…>` tag must NOT be re-labeled by
    * it, r12 review) > `defaultCharset`. Pure and total over arbitrary
    * bytes — the fuzz matrix drives it directly. */
  private[graft] def sniffCharset(ct: String, payload: Array[Byte],
                                  defaultCharset: String): (Int, String) = {
    val headerLabel: String =
      if (ct == null) null
      else {
        val m = CharsetRe.matcher(ct)
        if (m.find()) m.group(1) else null
      }
    if (payload.length >= 3 && payload(0) == 0xEF.toByte &&
        payload(1) == 0xBB.toByte && payload(2) == 0xBF.toByte)
      (3, "UTF-8") // the UTF-8 decoder does NOT consume a BOM — strip it
    else if (payload.length >= 2 &&
        ((payload(0) == 0xFE.toByte && payload(1) == 0xFF.toByte) ||
         (payload(0) == 0xFF.toByte && payload(1) == 0xFE.toByte)))
      (0, "UTF-16") // the JDK UTF-16 charset reads and consumes the BOM
    else if (headerLabel != null) (0, headerLabel)
    else if (ct == null || ct.toLowerCase.contains("html")) {
      // HTML5 prescan: first 1024 bytes, byte-transparent window
      val n = math.min(1024, payload.length)
      val window = new String(payload, 0, n,
        java.nio.charset.StandardCharsets.ISO_8859_1)
      val m = MetaRe.matcher(window)
      (0, if (m.find()) m.group(1) else defaultCharset)
    } else (0, defaultCharset)
  }

  // ----------------------------------------------------------- parsing

  /** Cap on CUMULATIVE header bytes per record (1 MiB): real WARC headers
    * are a few hundred bytes; past this is a header flood (quarantine). */
  private[graft] val MaxHeaderBytes: Long = 1L << 20

  /** Streaming record iterator over one (possibly gzip'd) WARC file.
    * Materialized as a Seq? NO — returns an Iterator so flatMap keeps
    * the single-pass constant-memory property; the stream closes when
    * the iterator drains (or aborts on corruption). private[graft] so
    * the fuzz spec can drive the parser without a Spark job per
    * mutation. */
  private[graft] def parseFile(file: String, raw: java.io.InputStream,
                               maxPayloadBytes: Int,
                               ordinalBase: Long = 0L): Iterator[Row] = {
    // GZIPInputStream's CONSTRUCTOR eagerly reads the member header —
    // an empty or header-torn .gz throws here, before any record, so
    // the quarantine must wrap construction too (fuzz-caught)
    val in = try new java.io.BufferedInputStream(
      if (file.endsWith(".gz"))
        new java.util.zip.GZIPInputStream(raw, 1 << 16)
      else raw, 1 << 16)
    catch {
      case _: Exception =>
        try raw.close() catch { case _: java.io.IOException => () }
        return Iterator.single(Row(file, 0L, null, null, null, null, null,
          null, null, null, null, null, true))
    }

    new Iterator[Row] {
      private var ordinal = ordinalBase
      private var nextRow: Row = null
      private var done = false

      private def close(): Unit = {
        done = true
        try in.close() catch { case _: java.io.IOException => () }
      }

      /** One header/status line, ISO-8859-1, CRLF or LF terminated;
        * null at EOF. Bounded: a "line" past 64 KiB is corruption
        * (header smuggling / a binary stream misidentified). */
      private def readLine(): String = {
        val buf = new java.lang.StringBuilder(64)
        var c = in.read()
        if (c < 0) return null
        while (c >= 0 && c != '\n') {
          buf.append(c.toChar)
          if (buf.length > 65536) throw new java.io.IOException("header line > 64KiB")
          c = in.read()
        }
        val s = buf.toString
        if (s.endsWith("\r")) s.substring(0, s.length - 1) else s
      }

      private def corruptRow(): Row =
        Row(file, ordinal, null, null, null, null, null, null, null, null,
          null, null, true)

      /** Parse the next record into [[nextRow]]; false at clean EOF.
        * Throws on corruption (caught by advance). */
      private def parseNext(): Boolean = {
        // skip blank separator lines between records
        var line = readLine()
        while (line != null && line.isEmpty) line = readLine()
        if (line == null) return false // clean EOF
        if (!line.startsWith("WARC/"))
          throw new java.io.IOException(s"bad WARC version line: $line")
        // headers until the blank line; LWS continuations fold. Cumulative
        // header bytes are capped (mirroring maxPayloadBytes): each LINE is
        // bounded at 64 KiB, but a record flooding millions of SHORT header
        // lines would otherwise accumulate them all in the map before EOF
        // throws — a gzip-expanded header flood must quarantine, not OOM.
        val headers = scala.collection.mutable.LinkedHashMap[String, String]()
        var headerBytes = 0L
        var last: String = null
        var h = readLine()
        while (h != null && h.nonEmpty) {
          headerBytes += h.length + 2
          if (headerBytes > MaxHeaderBytes)
            throw new java.io.IOException(s"WARC headers > $MaxHeaderBytes bytes")
          if ((h.charAt(0) == ' ' || h.charAt(0) == '\t') && last != null)
            headers(last) = headers(last) + " " + h.trim
          else {
            val i = h.indexOf(':')
            if (i <= 0) throw new java.io.IOException(s"bad WARC header: $h")
            last = h.substring(0, i).trim.toLowerCase(java.util.Locale.ROOT)
            headers(last) = h.substring(i + 1).trim
          }
          h = readLine()
        }
        if (h == null) throw new java.io.IOException("EOF inside WARC headers")
        val len = headers.getOrElse("content-length",
          throw new java.io.IOException("missing Content-Length")).toLong
        if (len < 0) throw new java.io.IOException(s"negative Content-Length: $len")
        val keep = math.min(len, maxPayloadBytes.toLong).toInt
        val block = in.readNBytes(keep)
        if (block.length != keep)
          throw new java.io.IOException("EOF inside WARC block")
        var toSkip = len - keep
        while (toSkip > 0) { // skipNBytes semantics without the JDK-17+ quirk
          val s = in.skip(toSkip)
          if (s <= 0) {
            if (in.read() < 0) throw new java.io.IOException("EOF inside WARC block")
            toSkip -= 1
          } else toSkip -= s
        }
        val wtype = headers.getOrElse("warc-type", "")
        val ctype = headers.getOrElse("content-type", null)
        // HTTP response payload: status line + headers + CRLFCRLF + body
        var status: Integer = null
        var httpCt: String = null
        var payload = block
        if (wtype == "response" && ctype != null &&
            ctype.toLowerCase(java.util.Locale.ROOT).startsWith("application/http")) {
          val sep = indexOfDoubleCrlf(block)
          val headEnd = if (sep >= 0) sep else block.length
          val head = new String(block, 0, headEnd, "ISO-8859-1")
          val lines = head.split("\r?\n")
          if (lines.nonEmpty && lines(0).startsWith("HTTP/")) {
            // split on RUNS of spaces: "HTTP/1.1  200" (double space) must
            // not yield an empty token whose toInt quarantines the record
            val parts = lines(0).trim.split(" +")
            if (parts.length >= 2 && parts(1).nonEmpty &&
                parts(1).forall(_.isDigit) && parts(1).length <= 3)
              status = Integer.valueOf(parts(1).toInt)
            var chunked = false
            lines.drop(1).foreach { l =>
              val i = l.indexOf(':')
              if (i > 0) {
                val k = l.substring(0, i).trim
                if (k.equalsIgnoreCase("content-type") && httpCt == null)
                  httpCt = l.substring(i + 1).trim
                else if (k.equalsIgnoreCase("transfer-encoding") &&
                    l.substring(i + 1).toLowerCase(java.util.Locale.ROOT)
                      .contains("chunked"))
                  chunked = true
              }
            }
            if (sep >= 0 && status != null) {
              payload = java.util.Arrays.copyOfRange(block, sep + 4, block.length)
              if (chunked) dechunk(payload).foreach(payload = _)
            }
          }
        }
        nextRow = Row(file, ordinal, wtype,
          headers.getOrElse("warc-record-id", null),
          headers.getOrElse("warc-target-uri", null),
          headers.getOrElse("warc-date", null),
          ctype, len, status, httpCt, payload, len > keep, false)
        ordinal += 1
        true
      }

      private def advance(): Unit =
        if (!done && nextRow == null) {
          try {
            if (!parseNext()) close()
          } catch {
            case _: Exception => // quarantine + stop this file
              nextRow = corruptRow()
              close() // done=true; the pending corrupt row still serves
          }
        }

      def hasNext: Boolean = { advance(); nextRow != null }
      def next(): Row = {
        advance()
        if (nextRow == null) throw new NoSuchElementException
        val r = nextRow; nextRow = null; r
      }
    }
  }

  /** RFC 9112 §7.1 chunked-body decode: hex-size line (extensions after
    * `;` ignored), chunk data, per-chunk CRLF, terminal 0-chunk
    * (trailer fields dropped). None on any framing violation — the
    * caller then keeps the capture verbatim. A size line claiming more
    * than 8 hex digits (> 4 GiB in one chunk) is corruption, and total
    * output is inherently input-bounded (every emitted byte exists in
    * the input). */
  private[graft] def dechunk(b: Array[Byte]): Option[Array[Byte]] = try {
    val out = new java.io.ByteArrayOutputStream(math.min(b.length, 1 << 16))
    var p = 0
    while (true) {
      val lineEnd = indexOfCrlf(b, p)
      if (lineEnd < 0) return None
      val line = new String(b, p, lineEnd - p, "ISO-8859-1")
      val hex = line.takeWhile(c => Character.digit(c, 16) >= 0)
      if (hex.isEmpty || hex.length > 8) return None
      if (line.length > hex.length && line.charAt(hex.length) != ';')
        return None // garbage after the size that is not an extension
      val n = java.lang.Long.parseLong(hex, 16)
      p = lineEnd + 2
      if (n == 0) return Some(out.toByteArray) // trailers (if any) dropped
      if (n > b.length - p) return None
      out.write(b, p, n.toInt)
      p += n.toInt
      if (p + 2 > b.length || b(p) != '\r' || b(p + 1) != '\n') return None
      p += 2
    }
    None
  } catch { case _: Exception => None }

  private def indexOfCrlf(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 1 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n') return i
      i += 1
    }
    -1
  }

  private def indexOfDoubleCrlf(b: Array[Byte]): Int = {
    var i = 0
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n')
        return i
      i += 1
    }
    -1
  }

  // ----------------------------------------------------- fixture writer

  /** Write one WARC record to `out` (spec-shaped: version line, headers,
    * Content-Length'd block, double-CRLF trailer). Fixture/test side —
    * the parser never depends on it. */
  def writeRecord(out: java.io.OutputStream, warcType: String,
                  headers: Seq[(String, String)], block: Array[Byte]): Unit = {
    val sb = new StringBuilder
    sb.append("WARC/1.0\r\n")
    sb.append(s"WARC-Type: $warcType\r\n")
    headers.foreach { case (k, v) => sb.append(s"$k: $v\r\n") }
    sb.append(s"Content-Length: ${block.length}\r\n\r\n")
    out.write(sb.toString.getBytes("ISO-8859-1"))
    out.write(block)
    out.write("\r\n\r\n".getBytes("ISO-8859-1"))
  }

  /** An HTTP-response block for [[writeRecord]]. */
  def httpResponseBlock(status: Int, contentType: String,
                        body: Array[Byte]): Array[Byte] = {
    val head = s"HTTP/1.1 $status OK\r\nContent-Type: $contentType\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n"
    head.getBytes("ISO-8859-1") ++ body
  }

  /** One record per gzip MEMBER (the Common Crawl `.warc.gz` layout):
    * each call wraps `writeRecord` output in its own member. */
  def writeGzMember(out: java.io.OutputStream)(body: java.io.OutputStream => Unit): Unit = {
    val gz = new java.util.zip.GZIPOutputStream(out, 1 << 16)
    body(gz)
    gz.finish()
  }
}
