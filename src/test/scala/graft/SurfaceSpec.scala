package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.SchemaJson
import graft.ingest.CsvSource
import graft.io.Formatters
import graft.query.SelectParams
import graft.storage.{TsdbConfig, TsdbTable}

class CsvSourceSpec extends SparkSuite {
  import spark.implicits._

  test("csv line parsing: labels, value arrays, time dialect, variant values (add.go:200-328)") {
    val now = 1704067200000L
    val df = CsvSource.fromColumns(
      Seq(
        ("cpu", "os=win,host=a", "1.5", "1704067201000"),
        ("cpu", "os=win,host=a", "1:2:3", "1000:2000:3000"), // value arrays via ':'
        ("cpu", "", "7.0", "now-2h"),
        ("note", "host=b", "hello", "now")) // non-numeric → variant
        .toDF("name", "labels", "value", "time"), now)
    val rows = df.collect()
    assert(rows.length == 6) // 1 + 3 + 1 + 1
    val arr = rows.filter(r => !r.isNullAt(2) && r.getLong(2) <= 3000)
    assert(arr.map(r => (r.getLong(2), r.getDouble(3))).sorted.toSeq ==
      Seq((1000L, 1.0), (2000L, 2.0), (3000L, 3.0)))
    val rel = rows.find(r => !r.isNullAt(3) && r.getDouble(3) == 7.0).get
    assert(rel.getLong(2) == now - 2 * 3600000L)
    val variant = rows.find(_.getString(0) == "note").get
    assert(variant.isNullAt(3) && variant.getString(4) == "hello")
    assert(variant.getAs[Map[String, String]](1) == Map("host" -> "b"))
  }
}

class JsonlSourceSpec extends SparkSuite {
  import org.apache.spark.sql.types._

  test("jsonl split: good rows unwrap, corrupt lines quarantine verbatim, missing fields are NULL") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl_spec")
    java.nio.file.Files.writeString(dir.resolve("part.jsonl"),
      Seq(
        """{"doc_id": 1, "text": "hello"}""",
        """{"doc_id": 2}""",                       // missing field: NULL, not corrupt
        """{broken""",                             // corrupt
        """"just a string"""",                     // valid JSON, not an object: corrupt
        """{"doc_id": 3, "text": "line\nbreak"}""" // escaped newline round-trips
      ).mkString("\n"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val (good, bad) = graft.ingest.JsonlSource.readSplit(spark, dir.toString, schema)
    val g = good.collect().map(r =>
      (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).sortBy(_._1)
    assert(g.toSeq == Seq((1L, "hello"), (2L, null), (3L, "line\nbreak")))
    val b = bad.collect().map(_.getString(0)).sorted
    assert(b.toSeq == Seq("\"just a string\"", "{broken"))
  }
}

class CsvEdgeSpec extends SparkSuite {
  import spark.implicits._

  test("csv ISO-8601 times parse; mismatched value/time arrays degrade per-sample") {
    val now = 1704067200000L
    val df = CsvSource.fromColumns(Seq(
      ("cpu", "h=a", "1.5", "2024-01-01T00:00:10Z"),
      ("cpu", "h=a", "1:2:3", "1000:2000")) // 3 values, 2 times
      .toDF("name", "labels", "value", "time"), now)
    val rows = df.collect()
    assert(rows.exists(r => !r.isNullAt(2) && r.getLong(2) == now + 10000L))
    // the third sample of the short-time line has NULL time, others survive
    assert(rows.count(_.isNullAt(2)) == 1)
    assert(rows.length == 4)
  }
}

class FormattersSpec extends SparkSuite {
  import spark.implicits._

  private val long = Seq(
    ("cpu", "host=a", "sum", 1000L, 5.0),
    ("cpu", "host=a", "sum", 2000L, 6.0),
    ("cpu", "host=b", "sum", 1000L, 7.0))
    .toDF("name", "labels_str", "aggregate", "t", "v")

  test("csv formatter emits one line per point") {
    val out = Formatters.csv(long)
    assert(out.linesIterator.size == 3)
    assert(out.contains("\"{cpu,host=a,sum}\",1000,5.0"))
  }

  test("json formatter is valid Grafana simpleJSON") {
    val out = Formatters.json(long)
    assert(out.startsWith("[{\"target\":"))
    assert(out.contains("\"datapoints\":[[5.0,1000],[6.0,2000]]"))
  }

  test("text formatter groups by series") {
    val out = Formatters.text(long)
    assert(out.contains("Name: {cpu,host=a,sum}"))
    assert(out.split("Name:").length == 3)
  }

  test("formatter rejects frames with no value column with a clear error") {
    val noDouble = Seq(("cpu", 1000L)).toDF("name", "t")
    val e = intercept[IllegalArgumentException](Formatters.csv(noDouble))
    assert(e.getMessage.contains("long-format series frame"))
  }
}

class SchemaJsonSpec extends SparkSuite {
  test("schema json round-trip (config.go:209-244 analog)") {
    val dir = Files.createTempDirectory("schema").toString
    val cfg = TsdbConfig(partitionIntervalMs = 3600000L, rollupIntervalMs = 60000L,
      aggregates = Seq("count", "sum", "max"), useServerAggregateCoefficient = 5,
      lateArrivalMs = 120000L, preAggregates = Seq(Seq("host"), Seq("host", "disk")))
    SchemaJson.write(dir, cfg)
    assert(SchemaJson.read(dir).contains(cfg))
    assert(SchemaJson.read(dir + "/missing").isEmpty)
  }

  test("readCached hot-reloads on mtime change (ReadAndUpdateSchema, partmgr.go:228-264)") {
    val dir = Files.createTempDirectory("schema_hot").toString
    SchemaJson.write(dir, TsdbConfig(rollupIntervalMs = 3600000L))
    val c1 = SchemaJson.readCached(dir).get
    assert(c1.rollupIntervalMs == 3600000L)
    // unchanged mtime → the cached instance, no re-parse
    assert(SchemaJson.readCached(dir).get eq c1)
    SchemaJson.write(dir, TsdbConfig(rollupIntervalMs = 1800000L))
    // force a distinct mtime even on coarse-granularity filesystems
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(dir, SchemaJson.FileName),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
    assert(SchemaJson.readCached(dir).get.rollupIntervalMs == 1800000L)
    assert(SchemaJson.readCached(dir + "/missing").isEmpty)
  }
}

class PreAggSpec extends SparkSuite {
  import spark.implicits._

  private val Base = 1704067200000L

  test("pre-aggregate label table: planner matches exact GroupBy and results equal raw (select.go:261-283)") {
    val dir = Files.createTempDirectory("preagg").toString
    val t = new TsdbTable(spark, dir,
      TsdbConfig(rollupIntervalMs = 60000L, preAggregates = Seq(Seq("host"))))
    t.append(Seq(
      ("cpu", "a", "1", Base + 60000L, 1.0), ("cpu", "a", "2", Base + 120000L, 2.0),
      ("cpu", "b", "1", Base + 180000L, 4.0), ("cpu", "b", "2", Base + 240000L, 8.0))
      .toDF("name", "host", "disk", "time", "value")
      .select(col("name"), map(lit("host"), col("host"), lit("disk"), col("disk")).as("labels"),
        col("time"), col("value")))
    val p = SelectParams(name = "cpu", functions = "count,sum,max", groupBy = "host",
      from = Base, to = Base + 3600000L, step = 600000L)
    assert(t.canServerAggregate(p))
    val out = t.select(p) // must route through the host pre-agg table
    assert(out.queryExecution.analyzed.toString.contains("rollup_agg") ||
      out.inputFiles.exists(_.contains("rollup_agg")))
    val viaRaw = graft.query.QueryEngine.select(t.readRaw(p.from, p.to), p)
    assert(out.collect().map(_.toSeq).toSet == viaRaw.collect().map(_.toSeq).toSet)
    // non-matching GroupBy set falls back to raw
    val p2 = p.copy(groupBy = "disk")
    assert(t.select(p2).inputFiles.forall(!_.contains("rollup_agg")))
  }
}

class CliSpec extends SparkSuite {
  test("create → add → info → query round-trip (tsdbctl analog)") {
    val dir = Files.createTempDirectory("cli").toString + "/tbl"
    graft.cli.Main.run("create", spark, dir,
      Map("rollup" -> "1m", "aggregates" -> "count,sum,min,max,last"), Nil)
    assert(SchemaJson.read(dir).exists(_.rollupIntervalMs == 60000L))
    graft.cli.Main.run("add", spark, dir,
      Map("d" -> "73.2", "m" -> "1704067200000"), Seq("cpu", "os=win"))
    graft.cli.Main.run("add", spark, dir,
      Map("d" -> "80.0", "m" -> "1704067260000"), Seq("cpu", "os=win"))
    val t = new TsdbTable(spark, dir, SchemaJson.read(dir).get)
    assert(t.countMetrics() == 2)
    val out = t.select(SelectParams(name = "cpu", functions = "sum",
      from = 1704067200000L, to = 1704067400000L, step = 300000L))
    assert(out.collect().head.getDouble(3) == 153.2)
  }

  test("query history: the commit manifest prints through the CLI (the ASOF/CHANGES handle source)") {
    val dir = Files.createTempDirectory("clihist").toString + "/tbl"
    graft.cli.Main.run("create", spark, dir, Map("rollup" -> "1m"), Nil)
    graft.cli.Main.run("add", spark, dir,
      Map("d" -> "1.0", "m" -> "1704067200000"), Seq("cpu", "os=win"))
    graft.cli.Main.run("add", spark, dir,
      Map("d" -> "2.0", "m" -> "1704067260000"), Seq("cpu", "os=win"))
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) {
      graft.cli.Main.run("query", spark, dir, Map("o" -> "csv"), Seq("history"))
    }
    val lines = buf.toString("UTF-8").split("\n").filter(_.nonEmpty)
    assert(lines.head == "kind,seq", buf.toString) // csv convention: header row
    assert(lines.count(_.startsWith("commit,")) == 2, buf.toString)
    assert(lines.exists(_.startsWith("floor,")))
  }

  test("flag parser: long forms normalize; boolean flags keep positionals; -l rejects -b/-e") {
    val (f1, pos1) = graft.cli.Main.flags(Seq(
      "--use-precise-aggregations", "select avg(cpu) from tsdb", "--last", "1d"))
    assert(f1 == Map("use-precise-aggregations" -> "", "l" -> "1d"))
    assert(pos1 == Seq("select avg(cpu) from tsdb")) // NOT swallowed as a value
    val (f2, _) = graft.cli.Main.flags(Seq("--begin", "0", "--end", "5", "--aggregates", "sum"))
    assert(f2 == Map("b" -> "0", "e" -> "5", "a" -> "sum"))
    // -l with -b/-e is rejected like the reference (query.go:131-168)
    val dir = Files.createTempDirectory("clil").toString + "/tbl"
    graft.cli.Main.run("create", spark, dir, Map.empty, Nil)
    val e = intercept[RuntimeException](graft.cli.Main.run("query", spark, dir,
      Map("l" -> "1h", "e" -> "1704067200000", "n" -> "cpu", "a" -> "sum"), Nil))
    assert(e.getMessage.contains("cannot be set together"))
  }

  test("--v1-avg: aggregate-less query with step >= rollup implicitly averages (querier.go:199-206)") {
    val dir = Files.createTempDirectory("cliv1").toString + "/tbl"
    graft.cli.Main.run("create", spark, dir, Map("rollup" -> "1m"), Nil)
    graft.cli.Main.run("add", spark, dir,
      Map("d" -> "73.2", "m" -> "1704067200000"), Seq("cpu", "os=win"))
    graft.cli.Main.run("add", spark, dir,
      Map("d" -> "80.0", "m" -> "1704067260000"), Seq("cpu", "os=win"))
    def q(extra: Map[String, String]): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) {
        graft.cli.Main.run("query", spark, dir,
          Map("b" -> "1704067200000", "e" -> "1704067400000",
            "i" -> "5m", "n" -> "cpu", "o" -> "csv") ++ extra, Nil)
      }
      buf.toString
    }
    // one 5m bucket holding both samples → avg = 76.6
    val v1 = q(Map("v1-avg" -> ""))
    assert(v1.contains("avg") && v1.contains("76.6"), s"v1 output:\n$v1")
    // default v2 path keeps downsample semantics — no implicit aggregate
    val v2 = q(Map.empty)
    assert(!v2.contains("avg"), s"v2 output:\n$v2")
    // sugar gates: step < rollup, missing partials, explicit functions
    val p = SelectParams(name = "cpu", from = 0L, to = 1L, step = 30000L)
    assert(SelectParams.v1ImplicitAvg(p, 60000L, Seq("count", "sum")) == p)
    assert(SelectParams.v1ImplicitAvg(p.copy(step = 60000L), 60000L, Seq("count"))
      .functions.isEmpty)
    assert(SelectParams.v1ImplicitAvg(p.copy(step = 60000L, functions = "sum"),
      60000L, Seq("count", "sum")).functions == "sum")
    assert(SelectParams.v1ImplicitAvg(p.copy(step = 60000L), 60000L,
      Seq("count", "sum")).functions == "avg")
  }

  test("time/version commands run table-less (tsdbctl time.go/version.go)") {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) {
      graft.cli.Main.main(Array("time", "2024-01-01T00:00:00Z"))
      graft.cli.Main.main(Array("version"))
    }
    val out = buf.toString
    assert(out.contains("unix-ms: 1704067200000"))
    assert(out.contains("rfc3339: 2024-01-01T00:00:00Z"))
    assert(out.contains("v3iotsdbspark"))
  }
}

/** WARC ingestion (r10 cont.): the Common Crawl interchange format
  * through the constant-memory streaming record iterator — plain and
  * per-record-gzip-member layouts, HTTP response extraction, the
  * quarantine contract, and the bomb cap. */
class WarcSourceSpec extends SparkSuite {
  import graft.ingest.WarcSource
  import java.nio.file.Files

  private def writePlain(path: String)(recs: (java.io.OutputStream => Unit)*): Unit = {
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(path))
    try recs.foreach(_(out)) finally out.close()
  }
  private def writeGz(path: String)(recs: (java.io.OutputStream => Unit)*): Unit = {
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(path))
    try recs.foreach(r => WarcSource.writeGzMember(out)(r)) finally out.close()
  }
  private def response(uri: String, body: String): java.io.OutputStream => Unit =
    WarcSource.writeRecord(_, "response",
      Seq("WARC-Target-URI" -> uri, "WARC-Date" -> "2024-01-01T00:00:00Z",
        "Content-Type" -> "application/http; msgtype=response"),
      WarcSource.httpResponseBlock(200, "text/html", body.getBytes("UTF-8")))
  private def request(uri: String): java.io.OutputStream => Unit =
    WarcSource.writeRecord(_, "request",
      Seq("WARC-Target-URI" -> uri,
        "Content-Type" -> "application/http; msgtype=request"),
      s"GET $uri HTTP/1.1\r\n\r\n".getBytes("ISO-8859-1"))
  private def warcinfo: java.io.OutputStream => Unit =
    WarcSource.writeRecord(_, "warcinfo",
      Seq("Content-Type" -> "application/warc-fields"),
      "software: graft\r\n".getBytes("UTF-8"))

  test("plain and gzip-member layouts round-trip; types filter; HTTP status/type/body extracted") {
    val dir = Files.createTempDirectory("warc").toString
    writePlain(s"$dir/a.warc")(warcinfo, request("https://x/1"),
      response("https://x/1", "hello <b>one</b>"),
      response("https://x/2", "two"))
    writeGz(s"$dir/b.warc.gz")(warcinfo, request("https://x/3"),
      response("https://x/3", "three ü"))
    val all = WarcSource.read(spark, s"$dir/*.warc*")
    assert(all.filter(col("corrupt")).count() == 0)
    assert(all.filter(col("warc_type") === "warcinfo").count() == 2)
    assert(all.filter(col("warc_type") === "request").count() == 2)
    // request records carry no HTTP status (they are not responses)
    assert(all.filter(col("warc_type") === "request" &&
      col("http_status").isNotNull).count() == 0)
    val resp = WarcSource.responses(all)
      .select(col("target_uri"), col("http_status"),
        col("http_content_type"), col("payload").cast("string"))
      .collect().map(r => r.getString(0) ->
        ((r.getInt(1), r.getString(2), r.getString(3)))).toMap
    assert(resp.keySet == Set("https://x/1", "https://x/2", "https://x/3"))
    assert(resp("https://x/1") == ((200, "text/html", "hello <b>one</b>")))
    assert(resp("https://x/3") == ((200, "text/html", "three ü"))) // UTF-8 exact
    // a double-space HTTP status line still parses (review-caught:
    // split(" ") yielded an empty token whose toInt quarantined it)
    val ds = Files.createTempDirectory("warc_ds").toString
    writePlain(s"$ds/d.warc")(WarcSource.writeRecord(_, "response",
      Seq("WARC-Target-URI" -> "https://x/ds",
        "Content-Type" -> "application/http; msgtype=response"),
      ("HTTP/1.1  204  No Content\r\n\r\n").getBytes("ISO-8859-1")))
    val dsRows = WarcSource.read(spark, s"$ds/d.warc").collect()
    assert(dsRows.length == 1 && !dsRows(0).getBoolean(12) &&
      dsRows(0).getInt(8) == 204)
    graft.core.Fs.rmTree(new java.io.File(ds))
    graft.core.Fs.rmTree(new java.io.File(dir))
  }

  test("read fails loudly when no WARC file matches: an empty glob, a directory of subdirectories") {
    val dir = Files.createTempDirectory("warc_none").toString
    val noMatch = intercept[IllegalArgumentException](
      WarcSource.read(spark, s"$dir/*.warc.gz"))
    assert(noMatch.getMessage.contains("no WARC files match"), noMatch.getMessage)
    // a directory expands to its files only: a nested directory is not
    // descended into, so a directory holding one subdirectory matches none
    val outer = s"$dir/outer"
    new java.io.File(s"$outer/inner").mkdirs()
    writePlain(s"$outer/inner/a.warc")(warcinfo)
    val onlyDirs = intercept[IllegalArgumentException](WarcSource.read(spark, outer))
    assert(onlyDirs.getMessage.contains("no WARC files match"), onlyDirs.getMessage)
  }

  test("quarantine: a torn record flags ONE corrupt row and stops the file; other files unaffected") {
    val dir = Files.createTempDirectory("warc_bad").toString
    // file A: one good record, then a record whose block is TRUNCATED
    val buf = new java.io.ByteArrayOutputStream()
    response("https://x/1", "good")(buf)
    val full = buf.toByteArray
    val out = new java.io.FileOutputStream(s"$dir/a.warc")
    out.write(full); out.write(full, 0, full.length - 20); out.close()
    // file B: clean
    writePlain(s"$dir/b.warc")(response("https://x/2", "fine"))
    val all = WarcSource.read(spark, s"$dir/*.warc")
    val aRows = all.filter(col("warc_file").endsWith("a.warc")).collect()
    assert(aRows.count(_.getBoolean(12)) == 1, "exactly one quarantine row")
    assert(aRows.count(!_.getBoolean(12)) == 1, "the good record before the tear survives")
    assert(WarcSource.responses(all).count() == 2) // x/1 (file A) + x/2 (file B)
    // corruption variants: bad version line, negative length, garbage header
    for (body <- Seq("NOTWARC/1.0\r\nContent-Length: 0\r\n\r\n\r\n\r\n",
        "WARC/1.0\r\nWARC-Type: response\r\nContent-Length: -5\r\n\r\n",
        "WARC/1.0\r\nno colon here\r\n\r\n")) {
      val f = s"$dir/c.warc"
      java.nio.file.Files.write(java.nio.file.Paths.get(f), body.getBytes("ISO-8859-1"))
      val rows = WarcSource.read(spark, f).collect()
      assert(rows.length == 1 && rows(0).getBoolean(12), s"must quarantine: $body")
    }
    graft.core.Fs.rmTree(new java.io.File(dir))
  }

  test("bomb cap: payload retained up to maxPayloadBytes, content_length keeps the claim, the stream resyncs past the skip") {
    val dir = Files.createTempDirectory("warc_cap").toString
    val big = "x" * 10000
    writePlain(s"$dir/a.warc")(
      WarcSource.writeRecord(_, "resource",
        Seq("WARC-Target-URI" -> "https://x/big"), big.getBytes("UTF-8")),
      response("https://x/after", "small"))
    val rows = WarcSource.read(spark, s"$dir/a.warc", maxPayloadBytes = 1000)
      .orderBy("record_ordinal").collect()
    assert(rows.length == 2 && rows.forall(!_.getBoolean(12)))
    assert(rows(0).getLong(7) == 10000 && rows(0).getAs[Array[Byte]](10).length == 1000)
    // the cap is flagged EXPLICITLY: an HTTP response's payload excludes
    // its head, so content_length > length(payload) cannot derive it
    assert(rows(0).getBoolean(11) && !rows(1).getBoolean(11))
    // the capped record's remainder was SKIPPED, not misparsed: the
    // next record still parses whole
    assert(rows(1).getString(2) == "response" &&
      new String(rows(1).getAs[Array[Byte]](10), "UTF-8") == "small")
    graft.core.Fs.rmTree(new java.io.File(dir))
  }

  test("header flood quarantines: millions of short header lines hit the cumulative cap, not the heap") {
    // each LINE is under the 64 KiB line bound, so only the cumulative
    // cap stops the accumulation (advice-caught OOM vector); the cap
    // must fire well before the flood is fully buffered
    val dir = Files.createTempDirectory("warc_flood").toString
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(s"$dir/f.warc.gz"))
    WarcSource.writeGzMember(out) { gz =>
      gz.write("WARC/1.0\r\nWARC-Type: metadata\r\n".getBytes("ISO-8859-1"))
      val line = ("X-Flood: " + "y" * 100 + "\r\n").getBytes("ISO-8859-1")
      var written = 0L
      while (written < WarcSource.MaxHeaderBytes * 4) {
        gz.write(line); written += line.length
      }
      gz.write("Content-Length: 0\r\n\r\n\r\n\r\n".getBytes("ISO-8859-1"))
    }
    out.close()
    val rows = WarcSource.read(spark, s"$dir/f.warc.gz").collect()
    assert(rows.length == 1 && rows(0).getBoolean(12), "flood must quarantine")
    // a normal record with MANY-but-bounded headers still parses
    val ok = new java.io.ByteArrayOutputStream()
    WarcSource.writeRecord(ok, "metadata",
      (1 to 200).map(i => s"X-Meta-$i" -> ("v" * 50)), Array.emptyByteArray)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/ok.warc"),
      ok.toByteArray)
    val okRows = WarcSource.read(spark, s"$dir/ok.warc").collect()
    assert(okRows.length == 1 && !okRows(0).getBoolean(12))
    graft.core.Fs.rmTree(new java.io.File(dir))
  }

  test("gz record-offset sidecar: indexed split read == streaming read row-for-row; stale index refused") {
    import graft.ingest.WarcGzIndex
    val dir = Files.createTempDirectory("warc_gidx").toString
    val f = s"$dir/big.warc.gz"
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(f))
    // 40 members; every 5th member carries TWO records (the index must
    // count records, not assume the 1:1 convention)
    var expect = 0
    for (m <- 0 until 40) {
      WarcSource.writeGzMember(out) { gz =>
        response(s"https://x/$expect", s"body $expect word " * (1 + m % 7))(gz)
        expect += 1
        if (m % 5 == 0) {
          response(s"https://x/$expect", s"extra $expect")(gz)
          expect += 1
        }
      }
    }
    out.close()
    assert(WarcGzIndex.buildAll(spark, s"$dir/*.warc.gz") == 1L)
    // idempotent: a current sidecar is not rebuilt
    assert(WarcGzIndex.buildAll(spark, s"$dir/*.warc.gz") == 0L)
    val streamed = WarcSource.read(spark, f)
      .collect().map(r => (r.getLong(1), r.getString(4),
        new String(r.getAs[Array[Byte]](10), "UTF-8"))).sortBy(_._1)
    assert(streamed.length == expect)
    for (splits <- Seq(1, 4, 16, 64)) {
      val idxRead = WarcGzIndex.readIndexed(spark, f, splits)
      val got = idxRead.collect().map(r => (r.getLong(1), r.getString(4),
        new String(r.getAs[Array[Byte]](10), "UTF-8"))).sortBy(_._1)
      assert(got.toSeq == streamed.toSeq,
        s"splits=$splits must be row-identical (ordinals included)")
      // the split count actually took effect (capped by member count)
      assert(idxRead.rdd.getNumPartitions == math.min(splits, 40) ||
        idxRead.rdd.getNumPartitions <= splits)
    }
    // stale sidecar: appending a member invalidates by length pin
    val out2 = new java.io.BufferedOutputStream(new java.io.FileOutputStream(f, true))
    WarcSource.writeGzMember(out2)(response("https://x/late", "late")(_))
    out2.close()
    val e = intercept[java.io.IOException] { WarcGzIndex.readIndexed(spark, f, 4) }
    assert(e.getMessage.contains("stale"))
    // rebuild picks it up
    assert(WarcGzIndex.buildAll(spark, s"$dir/*.warc.gz") == 1L)
    assert(WarcGzIndex.readIndexed(spark, f, 8).count() == expect + 1)
    graft.core.Fs.rmTree(new java.io.File(dir))
  }

  test("gz member walker verifies trailers: a corrupted member fails the BUILD, not the read") {
    import graft.ingest.WarcGzIndex
    val buf = new java.io.ByteArrayOutputStream()
    for (i <- 0 until 3) WarcSource.writeGzMember(buf) { gz =>
      response(s"https://x/$i", s"data $i")(gz)
    }
    val clean = buf.toByteArray
    assert(WarcGzIndex.build(new java.io.ByteArrayInputStream(clean))
      .totalRecords == 3)
    // flip one byte inside the middle member's deflate body: the CRC
    // trailer must catch it even when the bytes still inflate
    var caught = 0
    for (o <- clean.length / 3 until clean.length / 3 + 40) {
      val bad = clean.clone
      bad(o) = (bad(o) ^ 0x41).toByte
      try { WarcGzIndex.build(new java.io.ByteArrayInputStream(bad)); () }
      catch { case _: java.io.IOException => caught += 1 }
    }
    assert(caught > 30, s"corruption must fail the build (caught $caught/40)")
  }

  test("BoundedInputStream.available: a member boundary within 26 bytes of a refill is not EOF (ADVICE r11)") {
    // GZIPInputStream advances to the next concatenated member only if
    // in.available() > 0 or the inflater holds > 26 leftover bytes. An
    // underlying stream that reports available()==0 (DFS reads often
    // do) with a refill boundary 1 byte past a member trailer used to
    // end the range read early, silently dropping the remaining
    // records of the split.
    def gzMember(payload: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(payload); gz.close(); bos.toByteArray
    }
    val m1 = gzMember("first".getBytes("UTF-8"))
    val m2 = gzMember("second-payload".getBytes("UTF-8"))
    val all = m1 ++ m2
    // doles out bytes up to `cut` first, then the rest; available()==0
    final class Chunked(data: Array[Byte], cut: Int) extends java.io.InputStream {
      private var pos = 0
      override def read(): Int =
        if (pos >= data.length) -1 else { val v = data(pos) & 0xff; pos += 1; v }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        if (pos >= data.length) return -1
        val lim = if (pos < cut) cut else data.length
        val n = math.min(len, lim - pos)
        System.arraycopy(data, pos, b, off, n); pos += n; n
      }
      override def available(): Int = 0
    }
    // refill boundary exactly 1 byte into member 2: at member 1's
    // trailer the inflater holds 1 leftover byte (<= 26) and the old
    // available()==0 default read as end-of-stream
    val bounded = new graft.ingest.WarcGzIndex.BoundedInputStream(
      new Chunked(all, m1.length + 1), all.length)
    val gz = new java.util.zip.GZIPInputStream(bounded)
    val outB = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](256)
    var n = gz.read(tmp)
    while (n >= 0) { outB.write(tmp, 0, n); n = gz.read(tmp) }
    assert(new String(outB.toByteArray, "UTF-8") == "firstsecond-payload",
      "both members must decode across the refill boundary")
  }

  test("readFiles takes paths verbatim: commas, spaces, and glob metacharacters in names read correctly") {
    val dir = Files.createTempDirectory("warc_names").toString
    val names = Seq("seg,part-1.warc", "seg [2].warc", "seg {a,b}.warc",
      "seg space.warc")
    names.zipWithIndex.foreach { case (n, i) =>
      writePlain(s"$dir/$n")(response(s"https://x/$i", s"body$i"))
    }
    val df = WarcSource.readFiles(spark, names.map(n => s"$dir/$n"))
    assert(df.filter(col("corrupt")).count() == 0)
    val uris = WarcSource.responses(df).select("target_uri")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(uris == names.indices.map(i => s"https://x/$i"))
    // every input file produced its row (no silent glob-expansion loss)
    assert(df.select("warc_file").distinct().count() == names.length)
    graft.core.Fs.rmTree(new java.io.File(dir))
  }
}

/** Incremental segment-level WARC ingestion (r10 cont.): new-files-only
  * polls, crash-replay by segment, restart resumption. */
class WarcIngestSpec extends SparkSuite {
  import graft.ingest.{WarcIngest, WarcSource}
  import java.nio.file.Files

  private def seg(path: String, uris: String*): Unit = {
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(path))
    try uris.foreach { u =>
      WarcSource.writeRecord(out, "response",
        Seq("WARC-Target-URI" -> u,
          "Content-Type" -> "application/http; msgtype=response"),
        WarcSource.httpResponseBlock(200, "text/plain", u.getBytes("UTF-8")))
    } finally out.close()
  }

  test("poll sees only NEW segments; crash between apply and commit replays exactly the window; restart resumes") {
    val dir = Files.createTempDirectory("warc_inc").toString
    val data = s"$dir/data"; new java.io.File(data).mkdirs()
    val ingest = new WarcIngest(spark, s"$data/*.warc", s"$dir/ckpt")
    seg(s"$data/day1-a.warc", "https://x/1", "https://x/2")
    seg(s"$data/day1-b.warc", "https://x/3")
    val got = scala.collection.mutable.ArrayBuffer[String]()
    assert(WarcIngest.drain(ingest) { df =>
      got ++= WarcSource.responses(df).select("target_uri")
        .collect().map(_.getString(0))
    } == 1)
    assert(got.sorted == Seq("https://x/1", "https://x/2", "https://x/3"))
    // nothing new -> no window
    assert(WarcIngest.drain(ingest)(_ => fail("no new segments")) == 0)
    // a new crawl day: ONLY its records arrive (ingest work tracks new
    // data, never the archive)
    seg(s"$data/day2-a.warc", "https://x/4")
    got.clear()
    assert(WarcIngest.drain(ingest) { df =>
      got ++= WarcSource.responses(df).select("target_uri")
        .collect().map(_.getString(0))
    } == 1)
    assert(got.toSeq == Seq("https://x/4"))
    // crash-replay: poll + apply but NO commit -> a fresh loop (same
    // checkpoint) replays exactly that window
    seg(s"$data/day3-a.warc", "https://x/5")
    val Some((files, _)) = ingest.poll(): @unchecked
    assert(files.map(f => f.substring(f.lastIndexOf('/') + 1)) == Seq("day3-a.warc"))
    val ingest2 = new WarcIngest(spark, s"$data/*.warc", s"$dir/ckpt")
    val Some((files2, df2)) = ingest2.poll(): @unchecked
    assert(files2 == files, "the uncommitted window must replay as-is")
    assert(WarcSource.responses(df2).count() == 1)
    ingest2.commit(files2)
    assert(ingest2.poll().isEmpty)
    // the checkpoint carries every committed segment
    assert(new WarcIngest(spark, s"$data/*.warc", s"$dir/ckpt")
      .processed.size == 4)
    graft.core.Fs.rmTree(new java.io.File(dir))
  }

  test("splitThresholdBytes: large .warc.gz segments auto-index and read record-granular, rows identical") {
    val dir = Files.createTempDirectory("warc_inc_split").toString
    val data = s"$dir/data"; new java.io.File(data).mkdirs()
    // one big gz segment (40 member-records), one small gz, one plain
    val big = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(s"$data/big.warc.gz"))
    for (i <- 0 until 40) WarcSource.writeGzMember(big) { gz =>
      WarcSource.writeRecord(gz, "response",
        Seq("WARC-Target-URI" -> s"https://x/big/$i",
          "Content-Type" -> "application/http; msgtype=response"),
        WarcSource.httpResponseBlock(200, "text/plain",
          (s"payload $i " * 40).getBytes("UTF-8")))
    }
    big.close()
    val small = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(s"$data/small.warc.gz"))
    WarcSource.writeGzMember(small)(seg2 => WarcSource.writeRecord(seg2,
      "response", Seq("WARC-Target-URI" -> "https://x/small",
        "Content-Type" -> "application/http; msgtype=response"),
      WarcSource.httpResponseBlock(200, "text/plain", "s".getBytes("UTF-8"))))
    small.close()
    seg(s"$data/plain.warc", "https://x/plain")
    def collectAll(ingest: WarcIngest): (Seq[(String, Long, Int)], Int) = {
      val Some((files, df)) = ingest.poll(): @unchecked
      assert(files.length == 3)
      val rows = WarcSource.responses(df)
        .select("target_uri", "payload")
        .collect().map(r => (r.getString(0), 0L, r.getAs[Array[Byte]](1).length))
        .sortBy(_._1).toSeq
      (rows, df.rdd.getNumPartitions)
    }
    val (plainRows, _) =
      collectAll(new WarcIngest(spark, s"$data/*.warc*", s"$dir/ckptA"))
    val (splitRows, parts) = collectAll(new WarcIngest(spark,
      s"$data/*.warc*", s"$dir/ckptB",
      splitThresholdBytes = 4096L, splitsPerSegment = 8))
    assert(splitRows == plainRows, "auto-split read must be row-identical")
    assert(parts > 4, s"the big segment must fan out past file granularity: $parts")
    assert(new java.io.File(s"$data/big.warc.gz.gidx").exists,
      "sidecar built on first encounter")
    assert(!new java.io.File(s"$data/small.warc.gz.gidx").exists,
      "below-threshold segments stay on the plain path")
    graft.core.Fs.rmTree(new java.io.File(dir))
  }

  test("plain .warc record-level splits (r12): sidecar-free, row-identical at several split counts, chain falls back on damage") {
    import graft.ingest.WarcPlainSplit
    val dir = Files.createTempDirectory("warc_plain_split").toString
    val data = s"$dir/data"; new java.io.File(data).mkdirs()
    val f = s"$data/seg.warc"
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(f))
    WarcSource.writeRecord(out, "warcinfo",
      Seq("Content-Type" -> "application/warc-fields"),
      "software: graft\r\n".getBytes("UTF-8"))
    for (i <- 0 until 37) {
      WarcSource.writeRecord(out, "request",
        Seq("WARC-Target-URI" -> s"https://x/$i",
          "Content-Type" -> "application/http; msgtype=request"),
        s"GET /$i HTTP/1.1\r\n\r\n".getBytes("ISO-8859-1"))
      // payloads vary in size AND one embeds a line-start "WARC/1.0"
      // impostor — the chain validation must keep rows identical anyway
      val body =
        if (i == 17) "before\r\n\r\nWARC/1.0\r\nWARC-Type: fake\r\n\r\nafter"
        else s"payload $i " * (1 + 13 * i % 97)
      WarcSource.writeRecord(out, "response",
        Seq("WARC-Target-URI" -> s"https://x/$i",
          "Content-Type" -> "application/http; msgtype=response"),
        WarcSource.httpResponseBlock(200, "text/plain", body.getBytes("UTF-8")))
    }
    out.close()
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.map {
        case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
        case x => String.valueOf(x)
      }.mkString("|")).sorted.toSeq
    val sequential = rows(WarcSource.read(spark, f))
    assert(sequential.length == 75)
    for (splits <- Seq(2, 3, 7, 16)) {
      val split = WarcPlainSplit.readSplit(spark, f, splits)
      assert(rows(split) == sequential,
        s"splits=$splits must be row-identical (ordinals included)")
    }
    assert(WarcPlainSplit.readSplit(spark, f, 7).rdd.getNumPartitions > 1,
      "a clean segment must fan out past file granularity")
    // corruption falls back to the sequential path's quarantine row
    val all = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
    val torn = s"$data/torn.warc"
    java.nio.file.Files.write(java.nio.file.Paths.get(torn),
      java.util.Arrays.copyOf(all, all.length - 37))
    assert(rows(WarcPlainSplit.readSplit(spark, torn, 5)) ==
      rows(WarcSource.read(spark, torn)))
    // a record whose Content-Length header carries an LWS CONTINUATION:
    // parseFile folds it into the value and quarantines; the hop's
    // framing is byte-exact with parseFile (review-caught r12), so the
    // chain refuses and the split read equals the sequential one —
    // corrupt row, early stop and all
    val folded = s"$data/folded.warc"
    val fo = new java.io.FileOutputStream(folded)
    WarcSource.writeRecord(fo, "resource",
      Seq("WARC-Target-URI" -> "https://x/good"), "ok".getBytes("UTF-8"))
    fo.write(("WARC/1.0\r\nWARC-Type: resource\r\n" +
      "Content-Length: 2\r\n 9\r\n\r\nxx\r\n\r\n").getBytes("ISO-8859-1"))
    WarcSource.writeRecord(fo, "resource",
      Seq("WARC-Target-URI" -> "https://x/after"), "zz".getBytes("UTF-8"))
    fo.close()
    assert(rows(WarcPlainSplit.readSplit(spark, folded, 3)) ==
      rows(WarcSource.read(spark, folded)),
      "folded Content-Length must fall back to sequential semantics")

    // the ingest loop auto-splits big plain segments with no sidecar
    val ing = new graft.ingest.WarcIngest(spark, s"$data/seg.warc",
      s"$dir/ckpt", splitThresholdBytes = 1024L, splitsPerSegment = 6)
    val Some((files, df)) = ing.poll(): @unchecked
    assert(files.map(x => x.substring(x.lastIndexOf('/') + 1)) == Seq("seg.warc"))
    assert(rows(df) == sequential)
    assert(df.rdd.getNumPartitions > 1)
    assert(!new java.io.File(s"$data/seg.warc.gidx").exists,
      "plain splits need no sidecar")
    graft.core.Fs.rmTree(new java.io.File(dir))
  }
}

/** Charset-aware payload decode (r10 cont.). */
class WarcPayloadTextSpec extends SparkSuite {
  import graft.ingest.WarcSource
  import java.nio.file.Files

  test("charset labels drive the decode: quoted/mixed-case/unknown/missing labels, malformed bytes replace") {
    val dir = Files.createTempDirectory("warc_cs").toString
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(s"$dir/seg.warc"))
    def rec(uri: String, ct: String, body: Array[Byte]): Unit =
      WarcSource.writeRecord(out, "response",
        Seq("WARC-Target-URI" -> uri,
          "Content-Type" -> "application/http; msgtype=response"),
        WarcSource.httpResponseBlock(200, ct, body))
    val t = "döc æøå ñ ü é"
    rec("https://x/u8", "text/plain; charset=utf-8", t.getBytes("UTF-8"))
    rec("https://x/l1", "text/plain; CHARSET=\"iso-8859-1\"", t.getBytes("ISO-8859-1"))
    rec("https://x/cp", "text/plain; charset=windows-1252", t.getBytes("windows-1252"))
    rec("https://x/none", "text/plain", t.getBytes("UTF-8"))
    // unknown label falls back to the default (UTF-8)
    rec("https://x/unk", "text/plain; charset=klingon-8", t.getBytes("UTF-8"))
    // a latin-1 body MISLABELED utf-8: malformed sequences become U+FFFD,
    // deterministically, never an exception
    rec("https://x/bad", "text/plain; charset=utf-8", t.getBytes("ISO-8859-1"))
    out.close()
    val got = WarcSource.payloadText(
        WarcSource.responses(WarcSource.read(spark, s"$dir/seg.warc")))
      .select("target_uri", "text", "charset")
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(got("https://x/u8") == ((t, "UTF-8")))
    assert(got("https://x/l1") == ((t, "ISO-8859-1")))
    assert(got("https://x/cp") == ((t, "windows-1252")))
    assert(got("https://x/none") == ((t, "UTF-8")))
    assert(got("https://x/unk") == ((t, "UTF-8")))
    val (badText, badCs) = got("https://x/bad")
    assert(badCs == "UTF-8" && badText.contains('�') &&
      badText.startsWith("d") && badText.contains("c "),
      s"mislabeled body must decode with replacement: $badText")
    graft.core.Fs.rmTree(new java.io.File(dir))
  }

  test("WHATWG sniff order (r12): BOM > header > HTML5 meta prescan > default") {
    val dir = Files.createTempDirectory("warc_sniff").toString
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(s"$dir/seg.warc"))
    def rec(uri: String, ct: String, body: Array[Byte]): Unit =
      WarcSource.writeRecord(out, "response",
        Seq("WARC-Target-URI" -> uri,
          "Content-Type" -> "application/http; msgtype=response"),
        WarcSource.httpResponseBlock(200, ct, body))
    val t = "döc æøå ñ ü é"
    val metaWin = s"""<html><head><meta charset="windows-1252"></head><body>$t</body></html>"""
    val metaEquiv = "<html><head><meta http-equiv=\"Content-Type\" " +
      s"""content="text/html; charset=ISO-8859-1"></head><body>$t</body></html>"""
    // meta decides when the header is silent — both HTML5 forms
    rec("https://x/meta", "text/html", metaWin.getBytes("windows-1252"))
    rec("https://x/equiv", "text/html", metaEquiv.getBytes("ISO-8859-1"))
    // header OUTRANKS meta when both are present
    rec("https://x/both", "text/html; charset=utf-8", metaWin.getBytes("UTF-8"))
    // BOM outranks everything and is stripped from the text
    rec("https://x/bom", "text/html",
      Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ t.getBytes("UTF-8"))
    rec("https://x/bom16", "text/plain",
      Array(0xFE.toByte, 0xFF.toByte) ++ t.getBytes("UTF-16BE"))
    // binary content types are NOT prescanned (a fake meta inside an
    // opaque payload must not hijack the decode)
    rec("https://x/bin", "application/octet-stream",
      metaWin.getBytes("windows-1252"))
    // prescan window is 1024 bytes: a meta past it is invisible
    rec("https://x/far", "text/html",
      (" " * 1100 + metaWin).getBytes("windows-1252"))
    // the WHATWG prescan is HTML-only (r13): a text/plain document whose
    // PROSE quotes a meta tag (an HTML tutorial served as text/plain)
    // keeps the default, matching browsers
    rec("https://x/plainprose", "text/plain",
      s"""To set the encoding write <meta charset="windows-1252"> in head"""
        .getBytes("UTF-8"))
    out.close()
    val got = WarcSource.payloadText(
        WarcSource.responses(WarcSource.read(spark, s"$dir/seg.warc")))
      .select("target_uri", "text", "charset")
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(got("https://x/meta") == ((metaWin, "windows-1252")))
    assert(got("https://x/equiv") == ((metaEquiv, "ISO-8859-1")))
    assert(got("https://x/both") == ((metaWin, "UTF-8")))
    assert(got("https://x/bom") == ((t, "UTF-8")), s"${got("https://x/bom")}")
    assert(got("https://x/bom16") == ((t, "UTF-16")))
    assert(got("https://x/bin")._2 == "UTF-8")
    assert(got("https://x/far")._2 == "UTF-8")
    assert(got("https://x/plainprose")._2 == "UTF-8",
      "text/* prose mentioning a meta tag must not be re-labeled")
    graft.core.Fs.rmTree(new java.io.File(dir))
  }
}

/** Chunked transfer-encoding decode at the WARC ingest boundary. */
class WarcChunkedSpec extends SparkSuite {
  import graft.ingest.WarcSource
  import java.nio.file.Files

  private def chunkedBlock(status: Int, chunks: Seq[String],
                           sizeLineSuffix: String = "",
                           trailer: String = ""): Array[Byte] = {
    val body = new StringBuilder
    chunks.foreach { c =>
      body.append(Integer.toHexString(c.getBytes("UTF-8").length))
      body.append(sizeLineSuffix).append("\r\n").append(c).append("\r\n")
    }
    body.append("0\r\n").append(trailer).append("\r\n")
    (s"HTTP/1.1 $status OK\r\nContent-Type: text/plain\r\n" +
      s"Transfer-Encoding: chunked\r\n\r\n" + body.toString)
      .getBytes("ISO-8859-1")
  }

  private def readOne(dir: String, block: Array[Byte]): org.apache.spark.sql.Row = {
    val f = s"$dir/one.warc"
    val out = new java.io.FileOutputStream(f)
    try WarcSource.writeRecord(out, "response",
      Seq("WARC-Target-URI" -> "https://x/c",
        "Content-Type" -> "application/http; msgtype=response"), block)
    finally out.close()
    val rows = WarcSource.read(spark, f).collect()
    assert(rows.length == 1 && !rows(0).getBoolean(12))
    rows(0)
  }

  test("chunked bodies de-chunk (multi-chunk, extensions, trailers); broken framing keeps the capture verbatim") {
    val dir = Files.createTempDirectory("warc_chunk").toString
    // multi-chunk with a size-line extension and a trailer field
    val r = readOne(dir, chunkedBlock(200, Seq("hello ", "chunked ", "world"),
      sizeLineSuffix = ";ext=1", trailer = "X-Sum: 3\r\n"))
    assert(new String(r.getAs[Array[Byte]](10), "UTF-8") == "hello chunked world")
    assert(r.getInt(8) == 200)
    // a single empty-content response: just the terminal chunk
    val r0 = readOne(dir, chunkedBlock(204, Seq.empty))
    assert(r0.getAs[Array[Byte]](10).length == 0)
    // BROKEN framing (size lies past the buffer): the capture stays
    // verbatim — never a guess, never a crash
    val broken = ("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" +
      "ffff\r\nshort").getBytes("ISO-8859-1")
    val rb = readOne(dir, broken)
    assert(new String(rb.getAs[Array[Byte]](10), "ISO-8859-1") == "ffff\r\nshort")
    // dechunk unit edges: > 8 hex digits, garbage after size, missing CRLF
    assert(WarcSource.dechunk("fffffffff\r\nx\r\n0\r\n\r\n".getBytes("ISO-8859-1")).isEmpty)
    assert(WarcSource.dechunk("3x\r\nabc\r\n0\r\n\r\n".getBytes("ISO-8859-1")).isEmpty)
    assert(WarcSource.dechunk("3\r\nabcXY0\r\n\r\n".getBytes("ISO-8859-1")).isEmpty)
    graft.core.Fs.rmTree(new java.io.File(dir))
  }
}
