package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.storage.{TsdbConfig, TsdbTable}

/** `spark.read.format("graft")` — the DSv2 batch source (r12) and the
  * engine's one merged read: the read view must be row-identical to the
  * [[LwwOracle]] reference on append-only, legacy, and MOR (rewrites +
  * tombstones) tables; the
  * plan must show the pushed filters and prune both partitions and
  * columns. */
class GraftSourceSpec extends SparkSuite {
  import java.nio.file.Files

  private val Base = 1704067200000L // 2024-01-01
  private val Day = 86400000L

  private def samples(rows: (String, String, Long, Double)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("name", "host", "time", "value")
      .select(col("name"), map(lit("host"), col("host")).as("labels"),
        col("time"), col("value"))
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.select("name", "labels_str", "time", "value", "valueStr",
        "series_id", "part_start")
      .collect().map(_.toString).sorted.toSeq

  private def scanOf(df: DataFrame): BatchScanExec = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // aggregate/limit plans come back AQE-wrapped (they carry an
    // exchange) — descend through the adaptive wrapper to the scan
    def find(p: SparkPlan): Option[BatchScanExec] =
      p.collectFirst { case b: BatchScanExec => b }.orElse(
        p.collectFirst { case a: AdaptiveSparkPlanExec => a }
          .flatMap(a => find(a.executedPlan)))
    find(df.queryExecution.executedPlan)
      .getOrElse(fail("no BatchScanExec in plan — not served by the DSv2 source"))
  }

  /** Rewrite a table's series sidecar in the pre-registry shape
    * (`series_id`, `variant` only): label filters then cannot resolve to
    * a series set. */
  private def stripRegistry(tableDir: String): Unit = {
    import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
    val enc = spark.read.parquet(s"$tableDir/series_enc")
      .select("series_id", "variant").collect()
    spark.createDataFrame(java.util.Arrays.asList(enc: _*),
        StructType(Seq(StructField("series_id", LongType),
          StructField("variant", BooleanType))))
      .write.mode("overwrite").parquet(s"$tableDir/series_enc")
  }

  test("append-only table: DSv2 read == readRaw, and USING graft SQL works") {
    val dir = Files.createTempDirectory("graft_dsv2").toString
    val t = new TsdbTable(spark, s"$dir/tbl")
    t.append(samples(
      ("cpu", "a", Base, 1.0), ("cpu", "b", Base + 1000, 2.0),
      ("mem", "a", Base + Day, 3.0), ("cpu", "a", Base + 2 * Day, 4.0)))
    t.append(samples(("cpu", "c", Base + 2 * Day + 5, 5.0)))

    val ds = spark.read.format("graft").load(s"$dir/tbl")
    assert(sortedRows(ds) == sortedRows(LwwOracle.readRaw(t)))

    // SQL surface: CREATE TABLE ... USING graft
    spark.sql(s"CREATE TABLE graft_dsv2_t USING graft OPTIONS (path '$dir/tbl')")
    try {
      val viaSql = spark.sql(
        "SELECT name, labels_str, time, value, valueStr, series_id, part_start " +
          "FROM graft_dsv2_t")
      assert(sortedRows(viaSql) == sortedRows(LwwOracle.readRaw(t)))
    } finally spark.sql("DROP TABLE graft_dsv2_t")
  }

  test("filters push down, prune partitions, and stay exact") {
    val dir = Files.createTempDirectory("graft_dsv2_push").toString
    val t = new TsdbTable(spark, s"$dir/tbl")
    t.append(samples((0 until 40).map(i =>
      (if (i % 2 == 0) "cpu" else "mem", s"h${i % 4}",
        Base + i * (Day / 4), i.toDouble)): _*))

    val ds = spark.read.format("graft").load(s"$dir/tbl")
      .filter(col("name") === "cpu" &&
        col("time").between(Base + 2 * Day, Base + 6 * Day))
    val scan = scanOf(ds)
    val desc = scan.scan.description()
    assert(desc.contains("PushedFilters") && desc.contains("name") &&
      desc.contains("time"), s"pushed filters missing from scan: $desc")
    // partition pruning: only the part_start dirs intersecting the time
    // range are planned
    val planned = scan.scan.toBatch.planInputPartitions().length
    val unpruned = scanOf(spark.read.format("graft").load(s"$dir/tbl"))
      .scan.toBatch.planInputPartitions().length
    assert(planned < unpruned, s"expected pruning: planned=$planned all=$unpruned")

    // readRaw prunes PARTITIONS only; the DSv2 filter is exact row-level
    val expected = t.readRaw(Base + 2 * Day, Base + 6 * Day)
      .filter(col("name") === "cpu" &&
        col("time").between(Base + 2 * Day, Base + 6 * Day))
    assert(sortedRows(ds) == sortedRows(expected))

    // column pruning reaches the scan schema
    val narrow = spark.read.format("graft").load(s"$dir/tbl").select("name", "time")
    assert(scanOf(narrow).scan.readSchema().fieldNames.toSet == Set("name", "time"))
    assert(narrow.distinct().count() > 0)
  }

  test("MOR table: rewrites + tombstones served MERGED, identical to readRaw") {
    val dir = Files.createTempDirectory("graft_dsv2_mor").toString
    val cfg = TsdbConfig(overrideOld = true)
    // NO explicit SchemaJson.write: the first append self-describes the
    // table (r12) — the source must still see MOR-ness and merge
    val t = new TsdbTable(spark, s"$dir/tbl", cfg)
    t.append(samples(
      ("cpu", "a", Base, 1.0), ("cpu", "a", Base + 1000, 2.0),
      ("cpu", "b", Base, 3.0), ("mem", "a", Base + Day, 4.0),
      ("mem", "b", Base + Day + 500, 5.0)))
    // rewrite two keys (LWW must serve the NEW values)
    t.append(samples(("cpu", "a", Base, 10.0), ("mem", "a", Base + Day, 40.0)))
    // tombstone-delete one key (MOR delete path)
    t.delete(Base, Base, metrics = Seq("cpu"), filter = "labels['host'] = 'b'")

    val expect = sortedRows(LwwOracle.readRaw(t))
    val ds = spark.read.format("graft").load(s"$dir/tbl")
    assert(sortedRows(ds) == expect)
    // values prove the merge: cpu/a@Base must be 10.0, cpu/b@Base gone
    val vals = ds.filter(col("time") === Base).select("labels_str", "value")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(vals == Map("host=a" -> 10.0))

    // stripes compose: more stripes, same rows
    val striped = spark.read.format("graft").option("morStripes", "7")
      .load(s"$dir/tbl")
    assert(sortedRows(striped) == expect)

    // a value filter must NOT be pushed below the merge (it would
    // resurrect the superseded cpu/a version) — Spark applies it residual
    val low = spark.read.format("graft").load(s"$dir/tbl")
      .filter(col("value") < 5.0)
    val pushedPart = scanOf(low).scan.description()
      .split("PushedFilters: ")(1).split("], ")(0)
    assert(!pushedPart.contains("value"),
      s"value filter must stay residual on a MOR table, got $pushedPart")
    assert(low.filter(col("labels_str") === "host=a" && col("time") === Base).count() == 0)
  }

  test("uncommitted (crashed-mutation) files stay invisible") {
    val dir = Files.createTempDirectory("graft_dsv2_vis").toString
    val t = new TsdbTable(spark, s"$dir/tbl")
    t.append(samples(("cpu", "a", Base, 1.0)))
    // plant an orphan: a raw file stamped with a seq the manifest never
    // committed (what a crash mid-append leaves behind)
    val orphan = t.readRaw(0L, Long.MaxValue)
      .withColumn("time", col("time") + 1)
      .withColumn("value", lit(99.0))
      .withColumn("__seq", lit(Long.MaxValue / 2))
      .drop("part_start")
    orphan.write.mode("append").parquet(s"$dir/tbl/raw/part_start=$Base")
    val ds = spark.read.format("graft").load(s"$dir/tbl")
    assert(ds.count() == 1 && ds.select("value").head().getDouble(0) == 1.0)
    assert(sortedRows(ds) == sortedRows(t.readRaw(0L, Long.MaxValue)))
  }

  test("count(*) and narrow projections survive a legacy file missing every internal column") {
    val dir = Files.createTempDirectory("graft_dsv2_count").toString
    val t = new TsdbTable(spark, s"$dir/tbl")
    t.append(samples(("cpu", "a", Base, 1.0)))
    // a legacy import: rows without __seq dropped into the partition dir
    // (manifest exists, so the reader's internal set is {__seq} — which
    // this file lacks entirely: the count-only path must emit sized
    // all-null rows, not zero-length ones)
    t.readRaw(0L, Long.MaxValue)
      .withColumn("time", col("time") + 5)
      .drop("part_start")
      .write.mode("append").parquet(s"$dir/tbl/raw/part_start=$Base")
    val ds = spark.read.format("graft").load(s"$dir/tbl")
    assert(ds.count() == 2)
    assert(ds.select("part_start").collect().map(_.getLong(0)).toSeq ==
      Seq(Base, Base))
    assert(ds.select("name", "time").count() == 2)
  }

  test("legacy manifest-less parquet-only table reads fully visible") {
    val dir = Files.createTempDirectory("graft_dsv2_legacy").toString
    // raw files without __seq/__del and no commit manifest at all
    val t = new TsdbTable(spark, s"$dir/stage")
    t.append(samples(("cpu", "a", Base, 1.0), ("mem", "b", Base + Day, 2.0)))
    val legacy = s"$dir/tbl"
    t.readRaw(0L, Long.MaxValue).withColumn("part_start",
        (floor(col("time") / Day) * Day).cast("long"))
      .write.partitionBy("part_start").parquet(s"$legacy/raw")
    val ds = spark.read.format("graft").load(legacy)
    assert(ds.count() == 2)
    assert(ds.select("name").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("cpu", "mem"))
  }

  test("option(asOf): DSv2 snapshot reads == readRawAsOf, fences and bad handles throw (r12)") {
    val dir = Files.createTempDirectory("graft_dsv2_asof").toString
    val cfg = TsdbConfig(overrideOld = true)
    val t = new TsdbTable(spark, s"$dir/tbl", cfg)
    t.append(samples(("cpu", "a", Base, 1.0), ("mem", "b", Base + Day, 2.0)))
    val snap = t.currentSeq()
    // a rewrite AND a tombstone after the handle: the snapshot must show
    // the old value and the later-deleted row
    t.append(samples(("cpu", "a", Base, 10.0)))
    t.delete(Base + Day, Base + Day, metrics = Seq("mem"))
    def asOfDf = spark.read.format("graft").option("asOf", snap.toString)
      .load(s"$dir/tbl")
    assert(sortedRows(asOfDf) == sortedRows(LwwOracle.readRaw(t, Some(snap))))
    assert(asOfDf.filter(col("name") === "cpu").select("value")
      .head().getDouble(0) == 1.0, "pre-rewrite value at the snapshot")
    assert(asOfDf.filter(col("name") === "mem").count() == 1,
      "the later-deleted row is live at the snapshot")
    // current view unaffected
    val cur = spark.read.format("graft").load(s"$dir/tbl")
    assert(cur.filter(col("name") === "cpu").select("value")
      .head().getDouble(0) == 10.0)
    assert(cur.filter(col("name") === "mem").count() == 0)
    // compaction fences history: the old handle now throws loudly
    t.compact()
    val e = intercept[Exception](asOfDf.count())
    assert(e.getMessage != null && e.getMessage.contains("horizon"),
      s"fenced snapshot must fail loudly: ${e.getMessage}")
    // and a non-handle (asOf=0) is rejected
    val e2 = intercept[Exception](
      spark.read.format("graft").option("asOf", "0").load(s"$dir/tbl").count())
    assert(e2.getMessage.contains("snapshot handle"), e2.getMessage)
  }

  test("write path (r12): df.write.format(\"graft\").mode(append) runs the full table machinery; overwrite and bad schemas reject") {
    val dir = Files.createTempDirectory("graft_dsv2_write").toString
    val df1 = samples(("cpu", "a", Base, 1.0), ("mem", "b", Base + Day, 2.0))
    df1.write.format("graft").mode("append").save(s"$dir/tbl")
    // the sink ran the real append orchestration: manifest committed,
    // .schema self-described, rollup + names materialized
    assert(new java.io.File(s"$dir/tbl/.schema").exists)
    assert(new java.io.File(s"$dir/tbl/rollup").exists)
    val t = new TsdbTable(spark, s"$dir/tbl")
    assert(t.currentSeq() > 0, "the write must commit a batch seq")
    assert(sortedRows(spark.read.format("graft").load(s"$dir/tbl")) ==
      sortedRows(t.readRaw(0L, Long.MaxValue)))
    // a second append accumulates
    samples(("cpu", "c", Base + 2 * Day, 3.0))
      .write.format("graft").mode("append").save(s"$dir/tbl")
    assert(spark.read.format("graft").load(s"$dir/tbl").count() == 3)
    // overwrite is NOT a write mode here
    val e = intercept[Exception](df1.write.format("graft")
      .mode("overwrite").save(s"$dir/tbl"))
    assert(e.getMessage != null, e.toString)
    // a frame missing the sample schema rejects loudly
    import spark.implicits._
    val bad = Seq((1L, 2.0)).toDF("time", "value")
    val e2 = intercept[Exception](bad.write.format("graft")
      .mode("append").save(s"$dir/tbl"))
    assert(e2.getMessage.contains("sample schema") ||
      e2.getCause != null, e2.getMessage)
    // a frame missing `time` entirely rejects at ANALYSIS (getTable's
    // declared-schema validation, r15)
    val noTime = Seq(("cpu", "a", 3.0)).toDF("name", "host", "value")
      .select(col("name"), map(lit("host"), col("host")).as("labels"),
        col("value"))
    val e3 = intercept[Exception](noTime.write.format("graft")
      .mode("append").save(s"$dir/tbl"))
    assert(e3.getMessage.contains("missing time"), e3.getMessage.take(200))
    // ...while a null-filled time VALUE (INSERT INTO with a column
    // list) is caught at runtime by the append's assert_true lane —
    // the range clamp would otherwise silently drop the row
    spark.sql(s"CREATE TABLE graft_ins_nt USING graft OPTIONS (path '$dir/tbl')")
    try {
      val e4 = intercept[Exception](
        spark.sql("INSERT INTO graft_ins_nt (name, labels, value) " +
          "VALUES ('cpu', map('host', 'x'), 4.0)"))
      def msgs(t: Throwable): String =
        if (t == null) "" else t.getMessage + "|" + msgs(t.getCause)
      assert(msgs(e4).contains("NULL time"), msgs(e4).take(300))
    } finally spark.sql("DROP TABLE graft_ins_nt")
  }

  test("streaming sink (r12): writeStream.format(\"graft\") ingests micro-batches exactly once") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("graft_dsv2_sink").toString
    val staged = s"$dir/staged"
    val in1 = samples(("cpu", "a", Base, 1.0), ("mem", "b", Base + Day, 2.0))
    in1.coalesce(1).write.parquet(staged)
    def runOnce(): Unit = {
      val st = spark.readStream.schema(in1.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged)
      val q = st.writeStream.format("graft")
        .option("path", s"$dir/tbl")
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    samples(("cpu", "c", Base + 2 * Day, 3.0))
      .coalesce(1).write.mode("append").parquet(staged)
    runOnce()
    val t = new TsdbTable(spark, s"$dir/tbl")
    assert(t.readRaw(0L, Long.MaxValue).count() == 3)
    assert(sortedRows(spark.read.format("graft").load(s"$dir/tbl")) ==
      sortedRows(t.readRaw(0L, Long.MaxValue)))
    // replay guard rides the manifest txn tag (same checkpoint identity
    // as the engine's runs): re-delivering a committed batchId is a no-op
    val sink = new graft.sources.GraftStreamSink(spark, s"$dir/tbl",
      Map("checkpointlocation" -> s"$dir/ckpt"))
    sink.addBatch(0L, samples(("cpu", "a", Base, 99.0)))
    assert(t.readRaw(0L, Long.MaxValue).count() == 3,
      "a replayed batch must not re-append")
    // a DIFFERENT query (fresh checkpoint) has its own counter — its
    // batch 0 is new data, never silently dropped (review-caught r12)
    val sink2 = new graft.sources.GraftStreamSink(spark, s"$dir/tbl",
      Map("checkpointlocation" -> s"$dir/ckpt2"))
    sink2.addBatch(0L, samples(("probe", "x", Base + 3 * Day, 7.0)))
    assert(t.readRaw(0L, Long.MaxValue).count() == 4,
      "a new query's first batch is data, not a replay")
    // and the table is fully formed (rollup + manifest + .schema)
    assert(new java.io.File(s"$dir/tbl/.schema").exists)
    assert(t.currentSeq() > 0)
    // writer options: an option conflicting with the table's declared
    // .schema rejects loudly instead of being silently dropped
    val e = intercept[IllegalArgumentException] {
      new graft.sources.GraftStreamSink(spark, s"$dir/tbl",
        Map("checkpointlocation" -> s"$dir/ckpt3", "overrideold" -> "true"))
        .addBatch(0L, samples(("cpu", "z", Base, 1.0)))
    }
    assert(e.getMessage.contains(".schema"), e.getMessage)
  }

  test("idempotent batch writes (r12): txnAppId/txnVersion dedupe a retried job") {
    val dir = Files.createTempDirectory("graft_dsv2_txn").toString
    def write(v: Long, value: Double): Unit =
      samples(("cpu", "a", Base + v, value))
        .write.format("graft")
        .option("txnAppId", "loader").option("txnVersion", v.toString)
        .mode("append").save(s"$dir/tbl")
    write(1L, 1.0)
    write(1L, 99.0) // the retry: same version, must be a no-op
    write(2L, 2.0)
    val ds = spark.read.format("graft").load(s"$dir/tbl")
    assert(ds.count() == 2, "a retried txnVersion must not double-append")
    assert(ds.select("value").collect().map(_.getDouble(0)).sorted.toSeq ==
      Seq(1.0, 2.0))
    // half-set options reject
    val e = intercept[Exception](samples(("cpu", "b", Base, 1.0))
      .write.format("graft").option("txnAppId", "loader")
      .mode("append").save(s"$dir/tbl"))
    assert(e.getMessage != null)
  }

  test("writer config options (r12): a fresh table honors overrideOld; batch write too") {
    val dir = Files.createTempDirectory("graft_dsv2_wopts").toString
    samples(("cpu", "a", Base, 1.0))
      .write.format("graft").option("overrideOld", "true")
      .mode("append").save(s"$dir/tbl")
    // the declared table IS MOR: a rewrite LWW-merges on read
    samples(("cpu", "a", Base, 10.0))
      .write.format("graft").mode("append").save(s"$dir/tbl")
    val ds = spark.read.format("graft").load(s"$dir/tbl")
    assert(ds.count() == 1 && ds.select("value").head().getDouble(0) == 10.0,
      "option(overrideOld) must shape the created table")
    assert(graft.core.SchemaJson.read(s"$dir/tbl").exists(_.overrideOld))
  }

  test("empty and missing tables serve an empty frame with the raw schema") {
    val dir = Files.createTempDirectory("graft_dsv2_empty").toString
    val ds = spark.read.format("graft").load(s"$dir/nope")
    assert(ds.schema == TsdbTable.RawSchema)
    assert(ds.count() == 0)
  }

  test("aggregate pushdown (r13): COUNT/MIN/MAX serve from footer stats, exactly") {
    val dir = Files.createTempDirectory("graft_dsv2_agg").toString
    val t = new TsdbTable(spark, s"$dir/tbl")
    t.append(samples((0 until 40).map(i =>
      (if (i % 2 == 0) "cpu" else "mem", s"h${i % 4}",
        Base + i * (Day / 4), i.toDouble)): _*))
    t.append(samples(("cpu", "z", Base + 11 * Day, 99.0)))
    val ds = spark.read.format("graft").load(s"$dir/tbl")

    // plan pin: the scan itself carries the aggregates
    val counted = ds.agg(count(lit(1)).as("n"), min("time").as("lo"),
      max("time").as("hi"))
    val desc = scanOf(counted).scan.description()
    assert(desc.contains("PushedAggregates") && desc.contains("COUNT(*)") &&
      desc.contains("MIN(time)") && desc.contains("MAX(time)"), desc)
    val row = counted.collect()(0)
    // every reference below is computed from COLLECTED rows: an aggregate
    // over readRaw (a DSv2 relation over the same scan) can push into the
    // same aggregate reader and would check it against itself
    val raw = t.readRaw(0L, Long.MaxValue)
    val rawRows = raw.collect().toSeq
    val times = rawRows.map(_.getAs[Long]("time"))
    assert(row.getLong(0) == rawRows.length)
    assert(row.getLong(1) == times.min)
    assert(row.getLong(2) == times.max)

    // count(col) uses footer null counts; count over a filtered scan
    // stays exact through the row fallback on undecidable groups: the
    // time bound cuts day 3's row group (times 3d..3d+18h), so its stats
    // decide nothing and its rows decode.
    assert(ds.agg(count(col("valueStr"))).head().getLong(0) == 0L)
    val cut = col("name") === "cpu" && col("time") >= Base + 3 * Day + Day / 2
    val filtered = ds.filter(cut)
    val fdesc = scanOf(filtered.agg(count(lit(1)))).scan.description()
    assert(fdesc.contains("PushedAggregates") && fdesc.contains("COUNT(*)"), fdesc)
    val want = raw.filter(cut).collect().length
    assert(want == 14) // even i in 14..38, plus the day-11 sample
    assert(filtered.agg(count(lit(1))).head().getLong(0) == want)

    // min/max over value (double) pushes since r14 — but through the
    // page-decode path, never the NaN-hostile footer stats
    val vdesc = scanOf(ds.agg(min("value"))).scan.description()
    assert(vdesc.contains("PushedAggregates") && vdesc.contains("MIN(value)"), vdesc)
    val values = rawRows.map(_.getAs[Double]("value"))
    assert(ds.agg(min("value"), max("value")).head() ==
      Row(values.reduce(_ min _), values.reduce(_ max _)))
    // signed zeros: Spark's SQL double ordering treats -0.0 == 0.0 and
    // keeps the incumbent on ties — the pushed plan must agree (the
    // naive Double.compare orders -0.0 < 0.0 and returned the OTHER
    // zero; review-caught r14)
    locally {
      val zdir = Files.createTempDirectory("graft_dsv2_zeros").toString
      val zt = new TsdbTable(spark, s"$zdir/tbl")
      zt.append(samples(("cpu", "a", Base, 0.0), ("cpu", "b", Base + 1, -0.0)))
      val zds = spark.read.format("graft").load(s"$zdir/tbl")
      val zq = zds.agg(min("value"), max("value"))
      assert(scanOf(zq).scan.description().contains("MIN(value)"))
      // the first of equal values wins: `<` and `>` order -0.0 == 0.0
      val zvs = zt.readRaw(0L, Long.MaxValue).collect().map(_.getAs[Double]("value"))
      val zraw = Row(zvs.reduce((a, b) => if (b < a) b else a),
        zvs.reduce((a, b) => if (b > a) b else a))
      assert(zq.head().toString == zraw.toString,
        s"signed-zero extrema diverged: ${zq.head()} vs $zraw")
    }

    // count over the labels MAP must not push (its parquet leaves are
    // labels.key_value.* — footer lookup by top-level name would read
    // "absent = all null" and answer 0; review-caught r13)
    val ldesc = scanOf(ds.agg(count(col("labels")))).scan.description()
    assert(!ldesc.contains("PushedAggregates"), ldesc)
    assert(ds.agg(count(col("labels"))).head().getLong(0) ==
      rawRows.count(r => !r.isNullAt(r.fieldIndex("labels"))))

    // impossible strict bounds: the planning clamp can't represent
    // lo = MaxValue + 1, so the pushed path must classify NoRows
    // (review-caught r13: it stats-counted the whole table)
    assert(ds.filter(col("part_start") > Long.MaxValue)
      .agg(count(lit(1))).head().getLong(0) == 0L)
    assert(ds.filter(col("time") < Long.MinValue)
      .agg(count(lit(1))).head().getLong(0) == 0L)

    // group-bys on anything but part_start do not push, and stay correct
    val grouped = ds.groupBy("name").agg(count(lit(1)).as("n"))
    assert(!scanOf(grouped).scan.description().contains("PushedAggregates"))
    assert(grouped.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      rawRows.groupBy(_.getAs[String]("name")).map { case (k, rs) => k -> rs.size.toLong })

    // GROUP BY part_start pushes (r13): per-partition partials straight
    // from footers, one output row per touched partition
    val byPart = ds.groupBy("part_start")
      .agg(count(lit(1)).as("n"), min("time").as("lo"))
    val bdesc = scanOf(byPart).scan.description()
    assert(bdesc.contains("PushedGroupBy: [part_start]"), bdesc)
    assert(byPart.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap ==
      rawRows.groupBy(_.getAs[Long]("part_start")).map { case (k, rs) =>
        k -> ((rs.size.toLong, rs.map(_.getAs[Long]("time")).min)) })
    // grouped + filter stays exact through the row fallback
    val byPartF = ds.filter(col("name") === "cpu").groupBy("part_start")
      .agg(count(lit(1)).as("n"))
    assert(byPartF.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      rawRows.filter(_.getAs[String]("name") == "cpu")
        .groupBy(_.getAs[Long]("part_start")).map { case (k, rs) => k -> rs.size.toLong })

    // a MOR table never pushes aggregates (post-merge properties)
    val mdir = Files.createTempDirectory("graft_dsv2_agg_mor").toString
    val mt = new TsdbTable(spark, s"$mdir/tbl", TsdbConfig(overrideOld = true))
    mt.append(samples(("cpu", "a", Base, 1.0), ("cpu", "b", Base, 2.0)))
    mt.append(samples(("cpu", "a", Base, 10.0))) // rewrite
    val mds = spark.read.format("graft").load(s"$mdir/tbl")
    assert(!scanOf(mds.agg(count(lit(1)))).scan.description()
      .contains("PushedAggregates"))
    assert(mds.agg(count(lit(1))).head().getLong(0) == 2L,
      "MOR count is the MERGED count")

    // an empty table's pushed COUNT(*) is 0, not null
    val edir = Files.createTempDirectory("graft_dsv2_agg_empty").toString
    new TsdbTable(spark, s"$edir/tbl").append(samples(("cpu", "a", Base, 1.0)))
    val eds = spark.read.format("graft").load(s"$edir/tbl")
      .filter(col("part_start") > Base + 400 * Day)
    assert(eds.agg(count(lit(1))).head().getLong(0) == 0L)
  }

  test("SUM/AVG aggregate pushdown (r14): page-walk partials, ANSI-exact") {
    val dir = Files.createTempDirectory("graft_dsv2_sum").toString
    val t = new TsdbTable(spark, s"$dir/tbl")
    t.append(samples((0 until 40).map(i =>
      (if (i % 2 == 0) "cpu" else "mem", s"h${i % 4}",
        Base + i * (Day / 4), i.toDouble * 1.5)): _*))
    val ds = spark.read.format("graft").load(s"$dir/tbl")
    // references from collected rows, never from an aggregate that can
    // push into the reader under test
    val rawRows = t.readRaw(0L, Long.MaxValue).collect().toSeq
    def sumTime(rs: Seq[Row]): Long = rs.map(_.getAs[Long]("time")).sum

    // plan pin: SUM pushes; a partial AVG arrives as Spark's own
    // SUM+COUNT rewrite and divides above the partials
    val q = ds.agg(sum("time").as("st"), sum("value").as("sv"),
      avg("time").as("at"))
    val d = scanOf(q).scan.description()
    assert(d.contains("PushedAggregates") && d.contains("SUM(time)") &&
      d.contains("SUM(value)"), d)
    val got = q.head()
    val wantSv = rawRows.map(_.getAs[Double]("value")).sum
    assert(got.getLong(0) == sumTime(rawRows), "sum(long) must be exact")
    assert(math.abs(got.getDouble(1) - wantSv) <= 1e-12 * math.abs(wantSv),
      "sum(double) within partial-order tolerance")
    // the time sum is far below 2^53, so its double is exact
    assert(got.getDouble(2) == sumTime(rawRows).toDouble / rawRows.length,
      "avg over exact integer partials must be bit-equal")

    // grouped: one partial per partition
    val g = ds.groupBy("part_start").agg(sum("time").as("st"),
      count(lit(1)).as("n"))
    assert(scanOf(g).scan.description().contains("PushedGroupBy: [part_start]"))
    assert(g.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap ==
      rawRows.groupBy(_.getAs[Long]("part_start")).map { case (k, rs) =>
        k -> ((sumTime(rs), rs.size.toLong)) })

    // filtered: stats-decided groups fold from footers, the boundary
    // group row-reads — the sum must stay exact either way
    val pred = col("name") === "cpu" && col("time") >= Base + 3 * Day
    val f = ds.filter(pred).agg(sum("time").as("st"), count(lit(1)).as("n"))
    assert(scanOf(f).scan.description().contains("PushedAggregates"))
    val kept = rawRows.filter(r =>
      r.getAs[String]("name") == "cpu" && r.getAs[Long]("time") >= Base + 3 * Day)
    assert(kept.nonEmpty)
    assert(f.head() == Row(sumTime(kept), kept.size.toLong))

    // sum over an EXPRESSION is not a bare column — must not push
    assert(!scanOf(ds.agg(sum(col("value") * 2))).scan.description()
      .contains("PushedAggregates"))

    // mixed with footer-served specs: counts/extrema still come from
    // stats while the sum page-walks (one query, both paths)
    val mixed = ds.agg(count(lit(1)).as("n"), min("time").as("lo"),
      max("name").as("hi"), sum("value").as("sv"))
    val mrow = mixed.head()
    assert(mrow.getLong(0) == rawRows.length)
    assert(mrow.getLong(1) == rawRows.map(_.getAs[Long]("time")).min)
    assert(mrow.getString(2) == rawRows.map(_.getAs[String]("name")).max)

    // ANSI: a pushed long SUM that overflows must THROW, never wrap.
    // append clamps times to the sane window (TimeUtil.MaxTimeMs), so
    // the overflow rows are PLANTED into the committed file directly —
    // same __seq, same schema, adversarial times
    val odir = Files.createTempDirectory("graft_dsv2_sum_ovf").toString
    val ot = new TsdbTable(spark, s"$odir/tbl")
    ot.append(samples(("cpu", "a", Base, 1.0), ("cpu", "b", Base + 1000, 2.0)))
    val pdir = new java.io.File(s"$odir/tbl/raw").listFiles()
      .filter(_.getName.startsWith("part_start=")).head
    val planted = spark.read.parquet(pdir.toString)
      .withColumn("time", when(col("value") === 1.0, lit(Long.MaxValue / 2 + 1))
        .otherwise(lit(Long.MaxValue / 2 + 2)))
      .collect()
    val pschema = spark.read.parquet(pdir.toString).schema
    pdir.listFiles().filter(f => f.getName.endsWith(".parquet") ||
      f.getName.endsWith(".crc")).foreach(_.delete())
    spark.createDataFrame(java.util.Arrays.asList(planted: _*), pschema)
      .coalesce(1).write.mode("append").parquet(pdir.toString)
    val ods = spark.read.format("graft").load(s"$odir/tbl")
    val oq = ods.agg(sum("time"))
    assert(scanOf(oq).scan.description().contains("SUM(time)"))
    val ex = intercept[Exception](oq.head())
    def causes(e: Throwable): Seq[Throwable] =
      if (e == null) Nil else e +: causes(e.getCause)
    assert(causes(ex).exists(c => c.isInstanceOf[ArithmeticException] ||
      String.valueOf(c.getMessage).toLowerCase.contains("overflow")),
      s"expected overflow failure, got $ex")
    // ...and a NON-ANSI session wraps, exactly like Spark's own Sum —
    // the pushed plan must never succeed-or-fail differently from the
    // unpushed one (review-caught r14)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val wrapped = spark.read.format("graft").load(s"$odir/tbl")
        .agg(sum("time")).head().getLong(0)
      assert(wrapped == Long.MinValue + 1, s"expected legacy wrap, got $wrapped")
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("limit pushdown (r13): splits stop early, results stay a correct prefix") {
    val dir = Files.createTempDirectory("graft_dsv2_limit").toString
    val t = new TsdbTable(spark, s"$dir/tbl")
    t.append(samples((0 until 30).map(i =>
      ("cpu", s"h$i", Base + i * 1000L, i.toDouble)): _*))
    val ds = spark.read.format("graft").load(s"$dir/tbl")
    val lim = ds.limit(5)
    assert(scanOf(lim).scan.description().contains("PushedLimit: 5"),
      scanOf(lim).scan.description())
    assert(lim.collect().length == 5)
    // limited rows are real table rows
    val all = sortedRows(ds).toSet
    assert(sortedRows(lim).forall(all.contains))
  }

  test("columnar read path (r13): unfiltered narrow projections vectorize, rows identical") {
    val dir = Files.createTempDirectory("graft_dsv2_columnar").toString
    val t = new TsdbTable(spark, s"$dir/tbl")
    t.append(samples((0 until 50).map(i =>
      (if (i % 3 == 0) "cpu" else "mem", s"h${i % 5}",
        Base + i * (Day / 8), i.toDouble)): _*))
    t.append(samples(("cpu", "x", Base + 9 * Day, -1.0)))

    def narrow = spark.read.format("graft").load(s"$dir/tbl")
      .select("name", "time", "value", "valueStr", "series_id", "part_start")
    assert(scanOf(narrow).supportsColumnar,
      "no-filter narrow projection must take the columnar path")
    val viaColumnar = narrow.collect()
      .map(_.toString).sorted.toSeq
    val viaRaw = t.readRaw(0L, Long.MaxValue)
      .select("name", "time", "value", "valueStr", "series_id", "part_start")
      .collect().map(_.toString).sorted.toSeq
    assert(viaColumnar == viaRaw)

    // the labels MAP vectorizes too (late r13): SELECT * is columnar,
    // and entries survive the rep/def reassembly exactly
    val withMap = spark.read.format("graft").load(s"$dir/tbl")
    assert(scanOf(withMap).supportsColumnar,
      "full-schema (SELECT *) reads must be columnar")
    val viaMap = withMap
      .select(col("name"), col("time"), col("labels")("host").as("h"),
        size(col("labels")).as("sz"))
      .collect().map(_.toString).sorted.toSeq
    assert(viaMap == t.readRaw(0L, Long.MaxValue)
      .select(col("name"), col("time"), col("labels")("host").as("h"),
        size(col("labels")).as("sz"))
      .collect().map(_.toString).sorted.toSeq)
    // pushed FILTERS ride the columnar path (r13 cont.) and stay exact:
    // stats-decided groups skip/serve whole, residue evaluates against
    // the decoded vectors through the selection indirection
    val filtered = narrow.filter(col("name") === "cpu" &&
      col("time") >= Base + 2 * Day)
    assert(scanOf(filtered).supportsColumnar,
      "filtered non-MOR narrow projections must stay columnar")
    assert(filtered.collect().map(_.toString).sorted.toSeq ==
      t.readRaw(0L, Long.MaxValue)
        .filter(col("name") === "cpu" && col("time") >= Base + 2 * Day)
        .select("name", "time", "value", "valueStr", "series_id", "part_start")
        .collect().map(_.toString).sorted.toSeq)

    // uncommitted (crashed-mutation) files stay invisible in columnar
    // mode too: footer __seq stats classify the whole group out
    val fs = new java.io.File(s"$dir/tbl/raw")
    val partDir = fs.listFiles().filter(_.getName.startsWith("part_start=")).head
    val victim = spark.read.parquet(partDir.toString)
    val orphan = victim.withColumn("__seq", lit(victim.head().getAs[Long]("__seq") + 999999L))
    orphan.write.mode("append").parquet(partDir.toString)
    assert(narrow.count() == viaRaw.length,
      "an uncommitted orphan file must not leak into the columnar read")

    // the COMBINED residue branch (r13 review): ONE row group holding a
    // committed-seq row AND an uncommitted-seq row (the writer never
    // produces this; a hand-crafted/crashed file can), read under a
    // pushed filter — visibility and filter must fold into one
    // selection, keeping exactly the visible matching row
    val committedSeq = victim.select("__seq").head().getLong(0)
    val one = victim.limit(1)
    val mixed = one.withColumn("__seq", lit(committedSeq))
      .withColumn("name", lit("mixkeep"))
      .union(one.withColumn("__seq", lit(committedSeq + 777777L))
        .withColumn("name", lit("mixdrop")))
      .union(one.withColumn("__seq", lit(committedSeq))
        .withColumn("name", lit("mixother")))
    mixed.coalesce(1).write.mode("append").parquet(partDir.toString)
    val probe = spark.read.format("graft").load(s"$dir/tbl")
      .select("name", "time", "value")
      .filter(col("name").isin("mixkeep", "mixdrop", "mixother"))
    assert(scanOf(probe).supportsColumnar)
    assert(probe.select("name").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("mixkeep", "mixother"),
      "mixed-visibility group under a filter must keep exactly the " +
        "visible matching rows")
    val probe2 = spark.read.format("graft").load(s"$dir/tbl")
      .select("name").filter(col("name") === "mixdrop")
    assert(probe2.count() == 0, "the uncommitted row must never surface")
  }

  test("runtime filtering (r13): join-driven IN-sets drop splits before IO, conservatively") {
    import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    import org.apache.spark.sql.sources.{EqualTo => SEq, In => SIn}
    val dir = Files.createTempDirectory("graft_dsv2_dpp").toString
    val t = new TsdbTable(spark, s"$dir/tbl")
    t.append(samples((0 until 10).flatMap(d =>
      Seq(("cpu", "a", Base + d * Day, d.toDouble),
        ("mem", "b", Base + d * Day + 1, d + 0.5))): _*))
    val partOf = new TsdbTable(spark, s"$dir/tbl")
      .readRaw(0L, Long.MaxValue).select("part_start")
      .distinct().collect().map(_.getLong(0)).sorted

    val scan = scanOf(spark.read.format("graft").load(s"$dir/tbl")).scan
    val batch = scan.toBatch
    val all = batch.planInputPartitions().length
    val rf = scan.asInstanceOf[SupportsRuntimeFiltering]
    // non-MOR: file splits carry no series range — only part_start is
    // advertised (advertising series_id would buy DPP machinery that
    // can never prune; review-caught r13)
    assert(rf.filterAttributes().map(_.fieldNames()(0)).toSet ==
      Set("part_start"))
    rf.filter(Array[org.apache.spark.sql.sources.Filter](
      SIn("part_start", Array(partOf(0), partOf(1)))))
    val pruned = batch.planInputPartitions().length
    assert(pruned < all && pruned > 0, s"pruned=$pruned all=$all")
    // unknown shapes keep everything (pruning is best-effort; the join
    // re-filters rows, so dropping on a guess would be a wrong result)
    rf.filter(Array[org.apache.spark.sql.sources.Filter](SEq("name", "cpu")))
    assert(batch.planInputPartitions().length == all)

    // MOR stripes prune on the series range too
    val mdir = Files.createTempDirectory("graft_dsv2_dpp_mor").toString
    val mt = new TsdbTable(spark, s"$mdir/tbl", TsdbConfig(overrideOld = true))
    mt.append(samples(("cpu", "a", Base, 1.0), ("mem", "b", Base + 1000, 2.0)))
    val sid = mt.readRaw(0L, Long.MaxValue).select("series_id")
      .head().getLong(0)
    // pin multi-stripe partitions: the r15 size heuristic gives tiny
    // test files one stripe, and this test observes STRIPE pruning
    val mscan = scanOf(spark.read.format("graft").option("morStripes", "4")
      .load(s"$mdir/tbl")).scan
    assert(mscan.asInstanceOf[SupportsRuntimeFiltering]
      .filterAttributes().map(_.fieldNames()(0)).toSet ==
      Set("part_start", "series_id"), "MOR stripes prune on series too")
    val mbatch = mscan.toBatch
    val mAll = mbatch.planInputPartitions().length
    mscan.asInstanceOf[SupportsRuntimeFiltering]
      .filter(Array[org.apache.spark.sql.sources.Filter](SIn("series_id", Array(sid))))
    val mPruned = mbatch.planInputPartitions().length
    assert(mPruned < mAll && mPruned > 0, s"mor pruned=$mPruned all=$mAll")

    // e2e: a real join on part_start stays correct under the pruning
    import spark.implicits._
    val dim = Seq(partOf(2), partOf(3)).toDF("ps")
    val joined = spark.read.format("graft").load(s"$dir/tbl")
      .join(dim, col("part_start") === col("ps"))
    assert(joined.count() ==
      t.readRaw(0L, Long.MaxValue)
        .filter(col("part_start").isin(partOf(2), partOf(3))).count())
  }

  test("FUZZ agg/columnar equivalence (r13): seeded random tables + filters — pushed plans match readRaw exactly") {
    val rnd = new scala.util.Random(1313L)
    val dir = Files.createTempDirectory("graft_dsv2_fuzz").toString
    val t = new TsdbTable(spark, s"$dir/tbl")
    import spark.implicits._
    def frame(rows: Seq[(String, String, Long, Double, Option[String])]): DataFrame =
      rows.toDF("name", "host", "time", "value", "valueStr")
        .select(col("name"), map(lit("host"), col("host")).as("labels"),
          col("time"), col("value"), col("valueStr"))
    def batch(n: Int): DataFrame =
      frame((0 until n).map { _ =>
        val name = s"m${rnd.nextInt(4)}"
        val host = s"h${rnd.nextInt(3)}"
        val time = Base + rnd.nextInt(20) * (Day / 2)
        // variant-ness is a SERIES property (m3 = the string metric):
        // the type-enforcement sidecar rejects a series that mixes
        val (v, vs) =
          if (name == "m3") (Double.NaN, Some(s"s${rnd.nextInt(9)}"))
          else (rnd.nextDouble() * 100 - 50, None)
        (name, host, time, v, vs)
      })
    (1 to 3).foreach(_ => t.append(batch(150)))
    // one more input in small row groups: a file holding groups of one
    // metric's series (clean under the `name === "m1"` filter below) next
    // to groups that span two metrics (undecided), so the pushed
    // aggregate folds stats, clean and compacted groups of one open file
    val hc = spark.sparkContext.hadoopConfiguration
    val groupKeys = Seq("parquet.block.size", "parquet.page.row.count.limit")
    val savedGroupConf = groupKeys.map(k => k -> Option(hc.get(k)))
    try {
      hc.set("parquet.block.size", "4096")
      hc.set("parquet.page.row.count.limit", "64")
      t.append(frame(for (m <- 0 until 3; h <- 0 until 3; i <- 0 until 300)
        yield (s"m$m", s"h$h", Base + 30 * Day + i * 1000L, rnd.nextDouble() * 100, None)))
    } finally savedGroupConf.foreach { case (k, v) => v.fold(hc.unset(k))(hc.set(k, _)) }
    locally {
      import scala.jdk.CollectionConverters._
      import org.apache.parquet.io.api.Binary
      val files = new java.io.File(s"$dir/tbl/raw").listFiles()
        .filter(_.getName.startsWith("part_start=")).flatMap(_.listFiles())
        .filter(_.getName.endsWith(".parquet"))
      // per file, each row group's (min, max) name
      val nameRanges = files.toSeq.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toString), hc))
        try r.getFooter.getBlocks.asScala.toSeq.map { b =>
          val st = b.getColumns.asScala.find(_.getPath.toDotString == "name").get.getStatistics
          (st.genericGetMin.asInstanceOf[Binary].toStringUsingUTF8,
            st.genericGetMax.asInstanceOf[Binary].toStringUsingUTF8)
        } finally r.close()
      }
      assert(nameRanges.exists(gs => gs.contains(("m1", "m1")) &&
        gs.exists { case (lo, hi) => lo != hi && lo <= "m1" && "m1" <= hi }),
        s"no file holds a clean and an undecided group for name = m1: $nameRanges")
    }
    // an uncommitted orphan: stats-level visibility must hold under fuzz
    val partDir = new java.io.File(s"$dir/tbl/raw").listFiles()
      .filter(_.getName.startsWith("part_start=")).head
    spark.read.parquet(partDir.toString)
      .withColumn("__seq", lit(System.currentTimeMillis() + 999999L))
      .write.mode("append").parquet(partDir.toString)

    val raw = LwwOracle.readRaw(t).cache()
    val rawCount = raw.count()
    def ds = spark.read.format("graft").load(s"$dir/tbl")
    // a time bound inside a day partition: its row groups hold times on
    // both sides, so the stats cannot decide them and the pushed
    // aggregate decodes them through the columnar reader (fallback groups)
    val cutGroup = col("time") >= Base + 5 * Day + Day / 2
    // aggregate equivalence: count(*), count(valueStr), min/max(time),
    // sum(time) (r14 — exact long partials through stats+page paths)
    def aggs(df: DataFrame) = df.agg(count(lit(1)), count(col("valueStr")),
      min("time"), max("time"), sum("time"),
      min("value"), max("value"), min("valueStr"))
    assert(scanOf(aggs(ds.filter(cutGroup))).scan.description().contains(
      "PushedAggregates: [COUNT(*), COUNT(valueStr), MIN(time), MAX(time), SUM(time), " +
        "MIN(value), MAX(value), MIN(valueStr)]"))
    assert(scanOf(ds.filter(cutGroup).agg(sum("value"))).scan.description()
      .contains("PushedAggregates: [SUM(value)]"))
    val filters: Seq[Option[org.apache.spark.sql.Column]] = Seq(
      None,
      Some(col("name") === "m1"),
      Some(col("time") >= Base + 5 * Day),
      Some(col("name").isin("m0", "m2") && col("time") < Base + 8 * Day),
      Some(col("valueStr").isNotNull),
      Some(col("series_id") > 0L),
      Some(cutGroup))
    for (f <- filters) {
      def app(df: DataFrame) = f.map(df.filter).getOrElse(df)
      val got = aggs(app(ds)).collect()(0)
      val want = aggs(app(raw)).collect()(0)
      // min/max(value) meet REAL NaNs here (m3 is the variant metric):
      // the pushed double ordering must match Spark's exactly
      assert(got.toString == want.toString,
        s"agg mismatch under filter $f: $got vs $want")
      // double sums agree within partial-order tolerance (r14)
      val gs = app(ds).agg(sum("value")).head()
      val ws = app(raw).agg(sum("value")).head()
      assert((gs.isNullAt(0) && ws.isNullAt(0)) || (!gs.isNullAt(0) &&
        !ws.isNullAt(0) && {
          val (a, b) = (gs.getDouble(0), ws.getDouble(0))
          // NaN must propagate identically through both paths
          java.lang.Double.compare(a, b) == 0 ||
            math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
        }),
        s"sum(value) diverged under filter $f: $gs vs $ws")
      // row/columnar equivalence on a narrow projection
      val a = app(ds).select("name", "time", "value", "valueStr")
        .collect().map(_.toString).sorted.toSeq
      val b = app(raw).select("name", "time", "value", "valueStr")
        .collect().map(_.toString).sorted.toSeq
      assert(a == b, s"row set mismatch under filter $f")
    }
    assert(ds.count() == rawCount)
    raw.unpersist()
  }

  test("FUZZ page-decoder shapes (r14): tiny pages, multi-group, no-dict, dict-overflow, v2 pages, wide maps") {
    // the r14 bulk decoder dispatches per PAGE on (encoding, type) — this
    // forces every lane: many small pages (batch boundaries never align
    // with page boundaries, map rows split across pages), several row
    // groups per file, PLAIN-only chunks, dictionary chunks that
    // OVERFLOW mid-chunk (dict pages then PLAIN pages in one chunk), and
    // the V2 page format (bare-RLE levels + DELTA_* value encodings
    // through the generic ValuesReader fallback)
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = Seq("parquet.page.size", "parquet.block.size",
      "parquet.page.row.count.limit", "parquet.enable.dictionary",
      "parquet.dictionary.page.size", "parquet.writer.version")
    val saved = keys.map(k => k -> Option(hc.get(k)))
    def set(kvs: Seq[(String, String)]): Unit = {
      keys.foreach(hc.unset)
      kvs.foreach { case (k, v) => hc.set(k, v) }
    }
    try {
      val rnd = new scala.util.Random(1414L)
      val shapes = Seq(
        "tiny-pages-multigroup" -> Seq(
          "parquet.page.row.count.limit" -> "64", "parquet.block.size" -> "4096"),
        "no-dict" -> Seq("parquet.enable.dictionary" -> "false",
          "parquet.page.row.count.limit" -> "100"),
        "dict-overflow" -> Seq("parquet.dictionary.page.size" -> "512",
          "parquet.page.row.count.limit" -> "128"),
        "v2-pages" -> Seq("parquet.writer.version" -> "v2"),
        "v2-tiny" -> Seq("parquet.writer.version" -> "v2",
          "parquet.page.row.count.limit" -> "64", "parquet.block.size" -> "4096"))
      for ((label, conf) <- shapes) {
        set(conf)
        val dir = Files.createTempDirectory(s"graft_pgfuzz_$label").toString
        val t = new TsdbTable(spark, s"$dir/tbl")
        import spark.implicits._
        val df = (0 until 1200).map { i =>
          val name = s"m${i % 3}"
          val time = Base + (i % 3) * Day + i
          val v = rnd.nextDouble() * 100 - 50
          // valueStr mixes nulls, repeats, and high-cardinality strings
          val vs = if (i % 3 == 0) Some(s"u${rnd.nextInt(1000)}_${"x" * (i % 17)}")
            else None
          (name, time, v, vs, i % 7) // 0..6 label entries (0 = EMPTY map)
        }.toDF("name", "time", "value", "valueStr", "nk")
          // slice(.., 1, 0) is genuinely empty — sequence(1, 0) is NOT
          // (Spark infers step -1 and yields [1, 0]; review-caught r14:
          // the empty-map decode lane was vacuous, which hid a map
          // value-cursor page-boundary skip bug)
          .withColumn("labels", expr(
            "map_from_arrays(" +
              "slice(transform(sequence(1, 6), x -> concat('k', x)), 1, nk), " +
              "slice(transform(sequence(1, 6), x -> concat('v', x, '_', time % 97)), 1, nk))"))
          .drop("nk")
          .select(col("name"), col("labels"), col("time"), col("value"),
            col("valueStr"))
        t.append(df)
        t.append(df.withColumn("time", col("time") + 7 * Day)) // second file set
        val cut = Base + Day + 600 // inside m1's first day
        // prove the shape knobs actually produced the shape under test
        // (a silently-ignored writer option would make this lane vacuous)
        locally {
          import scala.jdk.CollectionConverters._
          val files = new java.io.File(s"$dir/tbl/raw").listFiles()
            .filter(_.getName.startsWith("part_start=")).flatMap(_.listFiles())
            .filter(_.getName.endsWith(".parquet"))
          val footers = files.toSeq.map { f =>
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                new org.apache.hadoop.fs.Path(f.toString), hc))
            try r.getFooter finally r.close()
          }
          val encs = footers.flatMap(_.getBlocks.asScala)
            .flatMap(_.getColumns.asScala).flatMap(_.getEncodings.asScala)
            .map(_.name).toSet
          // the time cut below falls inside a row group's range
          assert(footers.flatMap(_.getBlocks.asScala).exists { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == "time").exists { c =>
              val st = c.getStatistics
              st.genericGetMin.asInstanceOf[java.lang.Long] < cut &&
                st.genericGetMax.asInstanceOf[java.lang.Long] >= cut
            }
          }, s"[$label] no row group straddles the time cut")
          label match {
            case "tiny-pages-multigroup" =>
              assert(footers.exists(_.getBlocks.size() >= 2),
                s"[$label] expected multi-row-group files")
            case "no-dict" =>
              assert(!encs.exists(_.contains("DICTIONARY")),
                s"[$label] expected no dictionary encoding, got $encs")
            case "dict-overflow" =>
              assert(encs.exists(_.contains("DICTIONARY")) && encs.contains("PLAIN"),
                s"[$label] expected dict + plain fallback in one table, got $encs")
            case _ =>
              assert(encs.exists(_.startsWith("DELTA")),
                s"[$label] expected v2 DELTA encodings, got $encs")
          }
        }
        val raw = t.readRaw(0L, Long.MaxValue)
        val ds = spark.read.format("graft").load(s"$dir/tbl")
        def rows(d: DataFrame) = d.collect().map(_.toString).sorted.toSeq
        // full SELECT * including the map column
        assert(rows(ds) == rows(raw), s"[$label] full row set diverged")
        // filtered columnar path (stats classify per group, residue rows)
        val f = col("name") === "m1" && col("time") < Base + 8 * Day
        assert(rows(ds.filter(f)) == rows(raw.filter(f)),
          s"[$label] filtered row set diverged")
        // pushed aggregates across the same page shapes: the decoded
        // groups fold their long (sum/min/max time), string (name) and
        // double (value) lanes over every encoding
        def aggs(d: DataFrame) = d.agg(count(lit(1)), count(col("valueStr")),
          min("time"), max("time"), min("name"), max("name"), sum("time"),
          min("value"), max("value"))
        // the reference folds collected rows: an aggregate over `raw`
        // could push into the reader under test
        def fold(rs: Seq[Row]) = {
          val times = rs.map(_.getAs[Long]("time"))
          val names = rs.map(_.getAs[String]("name"))
          val values = rs.map(_.getAs[Double]("value"))
          Row(rs.length.toLong, rs.count(r => !r.isNullAt(r.fieldIndex("valueStr"))).toLong,
            times.min, times.max, names.min, names.max, times.sum,
            values.reduce(_ min _), values.reduce(_ max _))
        }
        // double sums agree within partial-order tolerance (as the r13 fuzz)
        def sumValue(d: DataFrame, rs: Seq[Row]): Unit = {
          val got = d.agg(sum("value")).head().getDouble(0)
          val want = rs.map(_.getAs[Double]("value")).sum
          assert(math.abs(got - want) <= 1e-9 * math.max(1.0, math.abs(want)),
            s"[$label] sum(value) diverged: $got vs $want")
        }
        val rawRows = raw.collect().toSeq
        val got = aggs(ds).head()
        val want = fold(rawRows)
        assert(got == want, s"[$label] aggregates diverged: $got vs $want")
        sumValue(ds, rawRows)
        // the same aggregates under a time cut inside a row group: the
        // stats cannot decide that group, so the aggregate reader folds
        // its rows through this shape's decode lanes
        val cutDf = aggs(ds.filter(col("time") < cut))
        val gotCut = cutDf.head()
        assert(cutDf.queryExecution.executedPlan.toString.contains("PushedAggregates"),
          s"[$label] the filtered aggregate did not push into the scan")
        val cutRows = rawRows.filter(_.getAs[Long]("time") < cut)
        assert(cutRows.nonEmpty && cutRows.length < rawRows.length)
        val wantCut = fold(cutRows)
        assert(gotCut == wantCut, s"[$label] filtered aggregates diverged: $gotCut vs $wantCut")
        sumValue(ds.filter(col("time") < cut), cutRows)
        graft.core.Fs.rmTree(new java.io.File(dir))
      }
    } finally {
      keys.foreach(hc.unset)
      saved.foreach { case (k, vo) => vo.foreach(hc.set(k, _)) }
    }
  }

  test("per-group page IO: a row group whose stats decide visibility and every filter reads only the selected columns") {
    // an uncompressed, dictionary-free `name` chunk of ~4 MB: the `name`
    // filter is decided by the group's constant-chunk stats, so the scan
    // needs only the small `time` and `value` chunks. A split-wide
    // projection also read every filter column's and `__seq`'s chunk
    val hc = spark.sparkContext.hadoopConfiguration
    val codecKey = "spark.sql.parquet.compression.codec"
    val (savedDict, savedCodec) = (Option(hc.get("parquet.enable.dictionary")),
      spark.conf.getOption(codecKey))
    val dir = Files.createTempDirectory("graft_group_io").toString
    val name = "cpu_" + "x" * 1000
    try {
      hc.set("parquet.enable.dictionary", "false")
      spark.conf.set(codecKey, "uncompressed")
      new TsdbTable(spark, s"$dir/tbl")
        .append(samples((0 until 4000).map(i => (name, "a", Base + i, i.toDouble)): _*))
    } finally {
      savedDict.fold(hc.unset("parquet.enable.dictionary"))(hc.set("parquet.enable.dictionary", _))
      savedCodec.fold(spark.conf.unset(codecKey))(spark.conf.set(codecKey, _))
    }
    val rawBytes = new java.io.File(s"$dir/tbl/raw").listFiles()
      .filter(_.getName.startsWith("part_start=")).flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    assert(rawBytes > 4000L * 1000, s"the name chunk is not large: $rawBytes bytes")
    def localBytesRead(): Long = {
      import scala.jdk.CollectionConverters._
      org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
        .filter(_.getScheme == "file").map(_.getBytesRead).sum
    }
    val q = spark.read.format("graft").load(s"$dir/tbl")
      .filter(col("name") === name).select("time", "value")
    // vectored reads bypass the local file system's byte counters
    hc.set("parquet.hadoop.vectored.io.enabled", "false")
    val (rows, read) =
      try {
        val before = localBytesRead()
        val rows = q.collect()
        (rows, localBytesRead() - before)
      } finally hc.unset("parquet.hadoop.vectored.io.enabled")
    assert(rows.length == 4000 && rows.map(_.getDouble(1)).sum == (0 until 4000).sum.toDouble)
    assert(read < rawBytes / 4, s"the scan read $read of the raw files' $rawBytes bytes")
    graft.core.Fs.rmTree(new java.io.File(dir))
  }

  test("sink identity (r13): missing txnAppId/checkpointLocation fails at creation, never a shared counter") {
    val dir = Files.createTempDirectory("graft_dsv2_noid").toString
    // direct construction: no identity option at all
    val e = intercept[IllegalArgumentException](
      new graft.sources.GraftStreamSink(spark, s"$dir/tbl"))
    assert(e.getMessage.contains("txnAppId"), e.getMessage)
    // the real regression: the SESSION-CONF checkpoint root resolves a
    // per-query dir but Spark does NOT forward it into createSink's
    // options — before r13 every such query silently shared one "default"
    // replay counter. Must fail at query start, loudly.
    import org.apache.spark.sql.streaming.Trigger
    val staged = s"$dir/staged"
    val in = samples(("cpu", "a", Base, 1.0))
    in.coalesce(1).write.parquet(staged)
    spark.conf.set("spark.sql.streaming.checkpointLocation", s"$dir/ckroot")
    try {
      val q = spark.readStream.schema(in.schema).parquet(staged)
        .writeStream.format("graft").option("path", s"$dir/tbl")
        .trigger(Trigger.AvailableNow())
      val thrown = intercept[Exception](q.start().awaitTermination())
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(thrown).exists(c =>
          c.getMessage != null && c.getMessage.contains("txnAppId")),
        s"conf-resolved checkpoint must not silently share a txn counter: $thrown")
      // an explicit txnAppId makes the same shape work
      val ok = spark.readStream.schema(in.schema).parquet(staged)
        .writeStream.format("graft").option("path", s"$dir/tbl")
        .option("txnAppId", "pipeline-a")
        .trigger(Trigger.AvailableNow()).start()
      ok.awaitTermination()
      assert(spark.read.format("graft").load(s"$dir/tbl").count() == 1)
    } finally spark.conf.unset("spark.sql.streaming.checkpointLocation")
  }

  test("two sinks, one table (r13): staged batches are writer-private — no cross-query row swap") {
    val dir = Files.createTempDirectory("graft_dsv2_twosinks").toString
    val tbl = s"$dir/tbl"
    val rowsA = samples(("qa", "a", Base, 1.0), ("qa", "b", Base + 1000, 2.0))
    val rowsB = samples(("qb", "x", Base + Day, 10.0))
    val sinkA = new graft.sources.GraftStreamSink(spark, tbl,
      Map("checkpointlocation" -> s"$dir/ckptA"))
    val sinkB = new graft.sources.GraftStreamSink(spark, tbl,
      Map("checkpointlocation" -> s"$dir/ckptB"))
    // interleave B's ENTIRE batch-0 between A's stage write and A's
    // re-read — the exact timing where the r12 batchId-keyed stage let B
    // overwrite A's staged rows, committing B's data under A's txn tag
    // (and A's own batch silently lost). Writer-private stages make both
    // commits land with each query's OWN rows.
    sinkA.testHookAfterStage = () => sinkB.addBatch(0L, rowsB)
    sinkA.addBatch(0L, rowsA)
    val t = new TsdbTable(spark, tbl)
    val got = t.readRaw(0L, Long.MaxValue)
    assert(got.count() == 3)
    assert(got.filter(col("name") === "qa").count() == 2,
      "query A's committed rows must be A's own input — not swapped for B's")
    assert(got.filter(col("name") === "qb").count() == 1)
    // both replay counters advanced independently: each query's batch 0
    // is now a no-op replay for ITSELF, while the other's tag is untouched
    sinkA.addBatch(0L, rowsA)
    sinkB.addBatch(0L, rowsB)
    assert(t.readRaw(0L, Long.MaxValue).count() == 3,
      "replays after the interleave must be no-ops for both queries")
  }

  test("unified streaming read (r13): readStream.format(\"graft\") serves the CDC feed") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("graft_unified_read").toString
    val t = new TsdbTable(spark, s"$dir/tbl")
    t.append(samples(("cpu", "a", Base, 1.0), ("mem", "b", Base + Day, 2.0)))
    // schema parity with the graft-cdc name
    assert(spark.readStream.format("graft").option("path", s"$dir/tbl")
      .load().schema == graft.streaming.CdcSource.ChangeSchema)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = spark.readStream.format("graft").option("path", s"$dir/tbl").load()
      .writeStream.option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select("name", "_change_type").collect()
          .foreach(r => out.add(s"${r.getString(0)}:${r.getString(1)}"))
        ()
      }.start()
    q.awaitTermination(120000L)
    assert(!q.isActive)
    q.stop()
    import scala.jdk.CollectionConverters._
    assert(out.asScala.toSeq.sorted == Seq("cpu:insert", "mem:insert"))
  }

  test("SQL INSERT INTO a USING graft table (r13) runs the V1Write append") {
    val dir = Files.createTempDirectory("graft_sql_insert").toString
    val t = new TsdbTable(spark, s"$dir/tbl")
    t.append(samples(("cpu", "a", Base, 1.0)))
    spark.sql(s"CREATE TABLE graft_ins_t USING graft OPTIONS (path '$dir/tbl')")
    try {
      spark.sql("INSERT INTO graft_ins_t (name, labels, time, value) " +
        s"VALUES ('mem', map('host','b'), ${Base + Day}L, 2.0)")
      spark.sql("INSERT INTO graft_ins_t (name, labels, time, value) " +
        s"SELECT 'disk', map('host','c'), ${Base + 2 * Day}L, 3.0")
      val got = t.readRaw(0L, Long.MaxValue)
      assert(got.count() == 3)
      assert(sortedRows(spark.read.format("graft").load(s"$dir/tbl")) ==
        sortedRows(got))
      // the inserted rows went through the FULL append machinery, not a
      // bare file drop: rollups and names reflect them
      assert(t.names().collect().map(_.getString(0)).sorted.toSeq ==
        Seq("cpu", "disk", "mem"))
    } finally spark.sql("DROP TABLE graft_ins_t")
  }

  test("SupportsReportPartitioning (r14): GROUP BY part_start skips the exchange") {
    val dir = Files.createTempDirectory("graft_kgp").toString
    val t = new TsdbTable(spark, s"$dir/tbl")
    // 6 day-partitions, one append = one file = one split each
    t.append(samples((0 until 48).map(i =>
      ("cpu", s"h${i % 6}", Base + i * (Day / 8), i.toDouble)): _*))
    val ds = spark.read.format("graft").load(s"$dir/tbl")

    // the scan reports the storage clustering (one split per partition)
    import org.apache.spark.sql.connector.read.SupportsReportPartitioning
    import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, UnknownPartitioning}
    val rep = scanOf(ds.select("part_start", "value")).scan
      .asInstanceOf[SupportsReportPartitioning].outputPartitioning()
    assert(rep.isInstanceOf[KeyGroupedPartitioning],
      s"one-split-per-partition scan must report its clustering, got $rep")

    // sum(value * 2) is not a bare-column aggregate, so it can never
    // ride the aggregate pushdown — this pins the REPORTED partitioning
    def plan(): org.apache.spark.sql.DataFrame =
      ds.groupBy("part_start")
        .agg(round(sum(col("value") * 2), 6).as("s2"), count(lit(1)).as("n"))
    def ranPlanString(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    val grouped = plan()
    val got = grouped.collect().map(_.toString).sorted.toSeq
    val s = ranPlanString(plan())
    assert(!s.contains("Exchange"),
      s"GROUP BY part_start must not shuffle a key-grouped scan:\n$s")

    // identical results through the exchange plan (reporting ignored)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    try {
      val shuffled = plan()
      assert(ranPlanString(shuffled).contains("Exchange"),
        "control plan must shuffle with v2 bucketing disabled")
      assert(shuffled.collect().map(_.toString).sorted.toSeq == got)
    } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")

    // a MOR table stripes each partition (morStripes > 1): reporting
    // would let Spark SERIALIZE the stripes into one task per day, so
    // by default it must NOT report...
    val mdir = Files.createTempDirectory("graft_kgp_mor").toString
    val mt = new TsdbTable(spark, s"$mdir/tbl", TsdbConfig(overrideOld = true))
    mt.append(samples(
      ("cpu", "a", Base, 1.0), ("cpu", "b", Base + 5, 2.0),
      ("mem", "a", Base + Day, 3.0)))
    // explicit multi-stripe (the r15 size heuristic would give these
    // tiny files one stripe per partition, which DOES report)
    val mds = spark.read.format("graft").option("morStripes", "3")
      .load(s"$mdir/tbl")
    val mrep = scanOf(mds.select("part_start", "value")).scan
      .asInstanceOf[SupportsReportPartitioning].outputPartitioning()
    assert(mrep.isInstanceOf[UnknownPartitioning],
      s"multi-stripe MOR scan must not report by default, got $mrep")
    // ...but the part_start-clustered consumer can OPT IN, and the
    // grouped merge stays exact
    val optIn = spark.read.format("graft").option("keyGroupedScan", "true")
      .load(s"$mdir/tbl")
    val orep = scanOf(optIn.select("part_start", "value")).scan
      .asInstanceOf[SupportsReportPartitioning].outputPartitioning()
    assert(orep.isInstanceOf[KeyGroupedPartitioning])
    val og = optIn.groupBy("part_start").agg(round(sum(col("value") * 2), 6).as("s2"))
    assert(!ranPlanString(og).contains("Exchange"))
    assert(og.collect().map(_.toString).sorted.toSeq ==
      mds.groupBy("part_start").agg(round(sum(col("value") * 2), 6).as("s2"))
        .collect().map(_.toString).sorted.toSeq)
  }

  test("SupportsReportOrdering (r14): the MOR merge order elides local sorts") {
    val dir = Files.createTempDirectory("graft_order").toString
    val t = new TsdbTable(spark, s"$dir/tbl", TsdbConfig(overrideOld = true))
    t.append(samples((0 until 40).map(i =>
      (if (i % 2 == 0) "cpu" else "mem", s"h${i % 5}",
        Base + (i / 5) * (Day / 2), i.toDouble)): _*))
    t.append(samples(("cpu", "h0", Base, 100.0))) // a rewrite: real merge work
    val mds = spark.read.format("graft").load(s"$dir/tbl")

    def hasSort(df: DataFrame): Boolean = {
      df.collect()
      df.queryExecution.executedPlan.toString.contains("Sort ")
    }
    // the merge's own (series_id, time) output order is reported: a
    // local sort on it (or its prefix) plans away entirely
    val q = mds.select("series_id", "time", "value")
      .sortWithinPartitions("series_id", "time")
    assert(!hasSort(q), q.queryExecution.executedPlan.toString)
    val pre = mds.select("series_id", "time", "value")
      .sortWithinPartitions("series_id")
    assert(!hasSort(pre), "a prefix of the reported order must also elide")
    // and each emitted partition really IS ordered (the claim, verified
    // against the data, not the plan)
    val violations = q.rdd.mapPartitions { it =>
      var last = (Long.MinValue, Long.MinValue)
      var bad = 0
      it.foreach { r =>
        val k = (r.getLong(0), r.getLong(1))
        if (k._1 < last._1 || (k._1 == last._1 && k._2 < last._2)) bad += 1
        last = k
      }
      Iterator.single(bad)
    }.collect().sum
    assert(violations == 0, s"$violations out-of-order rows in 'sorted' partitions")
    assert(sortedRows(mds) == sortedRows(t.readRaw(0L, Long.MaxValue)))

    // non-MOR scans do NOT report (file order is unenforced at read
    // time): the same local sort stays in the plan
    val ndir = Files.createTempDirectory("graft_order_n").toString
    val nt = new TsdbTable(spark, s"$ndir/tbl")
    nt.append(samples(("cpu", "a", Base, 1.0), ("cpu", "b", Base + 5, 2.0)))
    val nds = spark.read.format("graft").load(s"$ndir/tbl")
      .select("series_id", "time", "value")
      .sortWithinPartitions("series_id", "time")
    assert(hasSort(nds), "non-MOR scans must not claim an unenforced order")
  }

  test("SQL DELETE FROM (r14): filter-shaped deletes run the engine delete path exactly") {
    val dir = Files.createTempDirectory("graft_sql_del").toString
    val rows = (0 until 40).map(i =>
      (if (i % 2 == 0) "cpu" else "mem", s"h${i % 4}",
        Base + i * (Day / 4), i.toDouble))
    // twin tables over the same corpus: one deleted through SQL, one
    // through the engine API — every step must stay row-identical
    val sqlT = new TsdbTable(spark, s"$dir/sql")
    sqlT.append(samples(rows: _*))
    val engT = new TsdbTable(spark, s"$dir/eng")
    engT.append(samples(rows: _*))
    def sqlView = spark.read.format("graft").load(s"$dir/sql")
    def engView = engT.readRaw(0L, Long.MaxValue)

    spark.sql(s"CREATE TABLE graft_del_t USING graft OPTIONS (path '$dir/sql')")
    try {
      // 1) pure time range spanning whole partitions + a boundary
      //    (metadata-only drops inside, rewrite at the edge)
      spark.sql(s"DELETE FROM graft_del_t WHERE time >= ${Base + 2 * Day} " +
        s"AND time < ${Base + 4 * Day + Day / 2}")
      engT.delete(Base + 2 * Day, Base + 4 * Day + Day / 2 - 1)
      assert(sortedRows(sqlView) == sortedRows(engView), "time-range delete parity")

      // 2) predicated delete: name + labels_str + upper time bound
      spark.sql("DELETE FROM graft_del_t WHERE name = 'cpu' " +
        s"AND labels_str = 'host=h2' AND time <= ${Base + 8 * Day}")
      engT.delete(Long.MinValue, Base + 8 * Day,
        filter = "name = 'cpu' AND labels_str = 'host=h2'")
      assert(sortedRows(sqlView) == sortedRows(engView), "predicated delete parity")

      // 3) part_start equality (aligned) = exactly one whole partition
      spark.sql(s"DELETE FROM graft_del_t WHERE part_start = ${Base + 7 * Day}")
      engT.delete(Base + 7 * Day, Base + 8 * Day - 1)
      assert(sortedRows(sqlView) == sortedRows(engView), "part_start delete parity")
      assert(!sqlView.select("part_start").distinct().collect()
        .map(_.getLong(0)).contains(Base + 7 * Day))

      // 4) provably-empty conjunctions are exact no-ops, not errors
      val before = sqlView.count()
      spark.sql(s"DELETE FROM graft_del_t WHERE part_start = ${Base + 6 * Day + 123}")
      spark.sql("DELETE FROM graft_del_t WHERE time > 100 AND time < 50")
      spark.sql("DELETE FROM graft_del_t WHERE name = 'cpu' AND name = 'nope' " +
        "AND name IN ('cpu')")
      assert(sqlView.count() == before, "no-op deletes must delete nothing")

      // 4b) TRUNCATE TABLE rides SupportsDelete's deleteWhere(true) —
      //     but prove it on a THROWAWAY twin, not this staged table
      locally {
        val tdir = Files.createTempDirectory("graft_sql_trunc").toString
        val tt = new TsdbTable(spark, s"$tdir/tbl")
        tt.append(samples(("cpu", "a", Base, 1.0), ("mem", "b", Base + Day, 2.0)))
        spark.sql(s"CREATE TABLE graft_trunc_t USING graft OPTIONS (path '$tdir/tbl')")
        try {
          spark.sql("TRUNCATE TABLE graft_trunc_t")
          assert(spark.read.format("graft").load(s"$tdir/tbl").count() == 0L,
            "TRUNCATE must empty the table")
        } finally spark.sql("DROP TABLE graft_trunc_t")
      }

      // 5) untranslatable predicates reject LOUDLY and leave the table whole
      //    (value is below-the-merge unstable; LIKE has no delete shape)
      intercept[Exception] {
        spark.sql("DELETE FROM graft_del_t WHERE value > 3.0") }
      intercept[Exception] {
        spark.sql("DELETE FROM graft_del_t WHERE name LIKE 'c%'") }
      assert(sqlView.count() == before, "rejected deletes must not run")

      // 6) the delete ran the FULL maintenance path: rollups rebuilt
      //    (no rollup row for the dropped partition, sums match raw)
      val sqlT2 = new TsdbTable(spark, s"$dir/sql")
      val roll = spark.read.parquet(s"$dir/sql/rollup")
      assert(!roll.select("part_start").distinct().collect()
        .map(_.getLong(0)).contains(Base + 7 * Day),
        "rollup must not outlive its deleted raw partition")
      assert(math.abs(roll.agg(sum("__p_sum")).head().getDouble(0) -
        sqlT2.readRaw(0L, Long.MaxValue).agg(sum("value")).head().getDouble(0)) < 1e-9,
        "rebuilt rollup must match the surviving raw rows")
    } finally spark.sql("DROP TABLE IF EXISTS graft_del_t")
  }

  test("SQL DELETE FROM a MOR table tombstones; translate() edge shapes") {
    val dir = Files.createTempDirectory("graft_sql_del_mor").toString
    val cfg = TsdbConfig(overrideOld = true)
    val t = new TsdbTable(spark, s"$dir/tbl", cfg)
    t.append(samples(
      ("cpu", "a", Base, 1.0), ("cpu", "b", Base + 1000, 2.0),
      ("mem", "a", Base + Day, 3.0), ("cpu", "a", Base + 2 * Day, 4.0)))
    val physBefore = spark.read.parquet(s"$dir/tbl/raw").count()
    spark.sql(s"CREATE TABLE graft_del_mor_t USING graft OPTIONS (path '$dir/tbl')")
    try {
      spark.sql(s"DELETE FROM graft_del_mor_t WHERE name = 'cpu' AND time <= ${Base + 1000}")
      assert(spark.read.parquet(s"$dir/tbl/raw").count() > physBefore,
        "predicated MOR delete must be tombstone-additive")
      assert(sortedRows(spark.read.format("graft").load(s"$dir/tbl")) ==
        sortedRows(t.readRaw(0L, Long.MaxValue)))
      assert(t.readRaw(0L, Long.MaxValue).count() == 2)
    } finally spark.sql("DROP TABLE graft_del_mor_t")

    // translate(): part_start alignment math at the edges
    import org.apache.spark.sql.sources._
    import graft.sources.GraftDeletes
    val I = 86400000L
    def tr(fs: Filter*) = GraftDeletes.translate(fs.toArray, I)
    // GT on part_start rounds UP to the next aligned boundary
    assert(tr(GreaterThan("part_start", Base)) ==
      Right(Some(GraftDeletes.Translated(Base + I, Long.MaxValue, ""))))
    assert(tr(GreaterThanOrEqual("part_start", Base - 1)) ==
      Right(Some(GraftDeletes.Translated(Base, Long.MaxValue, ""))))
    // LTE covers the whole last partition
    assert(tr(LessThanOrEqual("part_start", Base)) ==
      Right(Some(GraftDeletes.Translated(Long.MinValue, Base + I - 1, ""))))
    // unaligned equality provably matches nothing
    assert(tr(EqualTo("part_start", Base + 5L)) == Right(None))
    // saturating edges never overflow
    assert(tr(GreaterThan("part_start", Long.MaxValue)) == Right(None))
    assert(tr(GreaterThanOrEqual("part_start", Long.MaxValue - 3)) == Right(None))
    assert(tr(LessThanOrEqual("part_start", Long.MaxValue)).isRight)
    assert(tr(GreaterThan("time", Long.MaxValue)) == Right(None))
    // strings escape
    assert(tr(EqualTo("name", "o'brien")) ==
      Right(Some(GraftDeletes.Translated(Long.MinValue, Long.MaxValue,
        "`name` = 'o''brien'"))))
    // backslashes escape too (advisor-caught r14): expr() parses
    // backslash escapes inside single-quoted literals, so an unescaped
    // value would silently predicate on the WRONG string (or throw on a
    // trailing backslash)
    assert(tr(EqualTo("labels_str", "host=c:\\tmp")) ==
      Right(Some(GraftDeletes.Translated(Long.MinValue, Long.MaxValue,
        "`labels_str` = 'host=c:\\\\tmp'"))))
    assert(tr(In("labels_str", Array.empty[Any])) == Right(None))
    assert(tr(EqualTo("value", 3.0)).isLeft)
  }

  test("CTAS (r15): CREATE TABLE ... USING graft AS SELECT runs the full append") {
    val dir = Files.createTempDirectory("graft_ctas").toString
    samples(("cpu", "a", Base, 1.0), ("mem", "b", Base + Day, 2.0))
      .createOrReplaceTempView("graft_ctas_src")
    spark.sql(s"CREATE TABLE graft_ctas_t USING graft OPTIONS (path '$dir/tbl') " +
      "AS SELECT * FROM graft_ctas_src")
    try {
      // the write ran the real append orchestration: self-described
      // .schema, committed manifest, rollup + names materialized
      assert(new java.io.File(s"$dir/tbl/.schema").exists)
      assert(new java.io.File(s"$dir/tbl/rollup").exists)
      val t = new TsdbTable(spark, s"$dir/tbl")
      assert(t.currentSeq() > 0, "CTAS must commit a batch seq")
      assert(t.names().collect().map(_.getString(0)).sorted.toSeq == Seq("cpu", "mem"))
      // read-back through BOTH surfaces is row-identical
      assert(sortedRows(spark.read.format("graft").load(s"$dir/tbl")) ==
        sortedRows(t.readRaw(0L, Long.MaxValue)))
      assert(spark.sql("SELECT count(*) FROM graft_ctas_t").head().getLong(0) == 2L)
    } finally spark.sql("DROP TABLE IF EXISTS graft_ctas_t")

    // writer options flow through CTAS: a fresh MOR table honors
    // overrideOld and merges a later rewrite
    spark.sql(s"CREATE TABLE graft_ctas_m USING graft " +
      s"OPTIONS (path '$dir/mor', overrideOld 'true') " +
      "AS SELECT * FROM graft_ctas_src")
    try {
      spark.sql("INSERT INTO graft_ctas_m (name, labels, time, value) " +
        s"VALUES ('cpu', map('host', 'a'), $Base, 9.0)")
      val got = spark.sql(s"SELECT value FROM graft_ctas_m WHERE time = $Base")
        .collect().map(_.getDouble(0)).toSeq
      assert(got == Seq(9.0), s"CTAS MOR table must LWW-merge, got $got")
    } finally spark.sql("DROP TABLE IF EXISTS graft_ctas_m")

    // conflicting options against an EXISTING declaration reject like
    // the write path (the declared config is authoritative)
    intercept[Exception] {
      spark.sql(s"CREATE TABLE graft_ctas_c USING graft " +
        s"OPTIONS (path '$dir/tbl', overrideOld 'true') " +
        "AS SELECT * FROM graft_ctas_src")
    }
    spark.sql("DROP TABLE IF EXISTS graft_ctas_c")
  }

  test("columnar MOR merge (r15): batch-shaped LWW == row-shaped LWW == readRaw") {
    val dir = Files.createTempDirectory("graft_mor_col").toString
    val cfg = TsdbConfig(overrideOld = true, shardingBuckets = 4)
    val t = new TsdbTable(spark, s"$dir/tbl", cfg)
    // three generations: base, rewrite burst (LWW supersede), late keys
    val base = (0 until 500).map(i =>
      (if (i % 3 == 0) "cpu" else "mem", s"h${i % 7}",
        Base + (i / 7) * 60000L, i.toDouble))
    t.append(samples(base: _*))
    t.append(samples(base.filter(_._1 == "cpu")
      .map { case (n, h, tt, v) => (n, h, tt, v + 1000) }: _*))
    t.append(samples(("disk", "z", Base + 3 * Day, 7.0)))
    // a tombstone delete so the merge sees __del winners
    t.delete(Base, Base + 30 * 60000L, metrics = Seq("mem"))

    // the scan IS columnar (plan-pinned), wide + map projections
    val ds = spark.read.format("graft").load(s"$dir/tbl")
    assert(scanOf(ds).supportsColumnar,
      "MOR scans must serve ColumnarBatches since r15")
    assert(sortedRows(ds) == sortedRows(LwwOracle.readRaw(t)))
    val mapAgg = ds.agg(count(lit(1)), sum(size(col("labels")))).head()
    val rawAgg = LwwOracle.readRaw(t)
      .agg(count(lit(1)), sum(size(col("labels")))).head()
    assert(mapAgg == rawAgg, "map projection through the gather must match")

    // pushed filters stay exact below the batch merge
    val f = ds.filter(col("name") === "cpu" && col("time") >= Base + 60000L)
    val g = LwwOracle.readRaw(t)
      .filter(col("name") === "cpu" && col("time") >= Base + 60000L)
    assert(sortedRows(f) == sortedRows(g))

    // snapshot reads ride the same columnar merge
    val seq1 = t.currentSeq()
    t.append(samples(("cpu", "h1", Base + 9 * Day, 1.0)))
    val snap = spark.read.format("graft").option("asOf", seq1.toString)
      .load(s"$dir/tbl")
    assert(scanOf(snap).supportsColumnar)
    assert(sortedRows(snap) == sortedRows(LwwOracle.readRaw(t, Some(seq1))))

    // a pushed limit caps the merged rows each stripe emits
    val lim = spark.read.format("graft").load(s"$dir/tbl").limit(5)
    assert(lim.count() == 5)
  }

  test("FUZZ columnar MOR merge (r15): seeded random LWW tables match readRaw exactly") {
    val rnd = new scala.util.Random(20250816L)
    (0 until 6).foreach { round =>
      val dir = Files.createTempDirectory(s"graft_mor_fuzz$round").toString
      val cfg = TsdbConfig(overrideOld = true,
        shardingBuckets = 1 + rnd.nextInt(5))
      val t = new TsdbTable(spark, s"$dir/tbl", cfg)
      val names = Seq("cpu", "mem", "disk")
      def batch(n: Int) = {
        import spark.implicits._
        val rows = (0 until n).map { _ =>
          val nm = names(rnd.nextInt(names.length))
          val hosts = rnd.nextInt(3) // 0 = EMPTY labels (the r14 bug's lane)
          val labels = (0 until hosts).map(j => s"k$j" -> s"v${rnd.nextInt(4)}").toMap
          val time = Base + rnd.nextInt(4) * Day + rnd.nextInt(50) * 60000L
          val vStr = if (nm == "disk") Some(s"s${rnd.nextInt(9)}") else None
          (nm, labels, time, if (vStr.isDefined) None else Some(rnd.nextDouble()),
            vStr)
        }
        // IN-batch key ties are the caller's bug (same __seq — even the
        // engine window merge resolves them arbitrarily); keep last per
        // key so only CROSS-batch LWW is exercised
        rows.groupBy(r => (r._1, r._2.toSeq.sorted, r._3)).map(_._2.last).toSeq
          .toDF("name", "labels", "time", "value", "valueStr")
      }
      val appends = 2 + rnd.nextInt(3)
      (0 until appends).foreach(_ => t.append(batch(30 + rnd.nextInt(120))))
      if (rnd.nextBoolean())
        t.delete(Base, Base + rnd.nextInt(2) * Day + 3600000L,
          metrics = Seq(names(rnd.nextInt(names.length))))

      val ds = spark.read.format("graft").load(s"$dir/tbl")
      assert(scanOf(ds).supportsColumnar, s"round $round must go columnar")
      assert(sortedRows(ds) == sortedRows(LwwOracle.readRaw(t)),
        s"fuzz round $round diverged")
      // one random pushed-filter shape per round
      val flt = rnd.nextInt(3) match {
        case 0 => col("name") === names(rnd.nextInt(names.length))
        case 1 => col("time").between(Base + Day, Base + 3 * Day)
        case _ => col("series_id") > 0L
      }
      assert(sortedRows(ds.filter(flt)) ==
        sortedRows(LwwOracle.readRaw(t).filter(flt)),
        s"fuzz round $round filtered diverged")
    }
  }

  test("label scan options (r15): exact filtering + series-registry pruning") {
    import org.apache.spark.sql.functions.element_at
    val dir = Files.createTempDirectory("graft_label").toString
    // MOR table: stripes prune by the resolved series set
    val t = new TsdbTable(spark, s"$dir/tbl",
      TsdbConfig(overrideOld = true, shardingBuckets = 8))
    val rows = (0 until 64).map(i =>
      ("cpu", s"h${i % 16}", Base + i * 1000L, i.toDouble))
    t.append(samples(rows: _*))

    // morStripes pinned: the r15 size heuristic gives tiny files one
    // stripe, and this test observes SERIES-SET stripe pruning
    def labeled(host: String) = spark.read.format("graft")
      .option("morStripes", "8")
      .option(s"label.host", host).load(s"$dir/tbl")
    val expected = sortedRows(t.readRaw(0L, Long.MaxValue)
      .filter(element_at(col("labels"), "host") === "h3"))
    assert(sortedRows(labeled("h3")) == expected, "label filter must be exact")

    // plan is pinned: the label filter shows in the scan description and
    // the resolved series set prunes stripes (1 series can span at most
    // a couple of the 8 stripes; unfiltered = all 8)
    val scan = scanOf(labeled("h3"))
    assert(scan.scan.description().contains("LabelFilters: [host=h3]"))
    val all = scanOf(spark.read.format("graft").option("morStripes", "8")
      .load(s"$dir/tbl")).inputRDD.getNumPartitions
    val pruned = scanOf(labeled("h3")).inputRDD.getNumPartitions
    assert(pruned < all, s"series-set stripe pruning must drop stripes ($pruned vs $all)")

    // no-match label: zero splits planned, zero rows
    assert(scanOf(labeled("nope")).inputRDD.getNumPartitions == 0)
    assert(labeled("nope").count() == 0)

    // conjunctive options; key case is preserved
    val two = spark.read.format("graft")
      .option("label.host", "h3").option("label.dc", "x").load(s"$dir/tbl")
    assert(two.count() == 0, "host=h3 AND dc=x matches nothing")

    // non-MOR table + escape-hostile label value (',' and '=' inside):
    // exact map semantics, where a labels_str parse would mis-split
    val nt = new TsdbTable(spark, s"$dir/plain")
    val weird = spark.range(1).select(
      lit("disk").as("name"),
      map(lit("host"), lit("a,b=c")).as("labels"),
      lit(Base).as("time"), lit(1.0).as("value"))
    nt.append(weird.unionByName(samples(("disk", "a", Base + 1000, 2.0))
      .select("name", "labels", "time", "value")))
    val got = spark.read.format("graft").option("label.host", "a,b=c")
      .load(s"$dir/plain")
    assert(got.count() == 1 && got.select("value").head().getDouble(0) == 1.0,
      "escape-hostile label values must match exactly")

    // legacy sidecar (pre-registry): pruning unavailable, results still
    // exact — on a non-MOR table and, below the merge, on a MOR table
    // whose rewrite of host=a must win
    for ((legacyDir, cfg) <- Seq(s"$dir/legacy" -> TsdbConfig(),
        s"$dir/legacy_mor" -> TsdbConfig(overrideOld = true))) {
      val lt = new TsdbTable(spark, legacyDir, cfg)
      lt.append(samples(("cpu", "a", Base, 1.0), ("cpu", "b", Base + 1, 2.0)))
      if (cfg.overrideOld) lt.append(samples(("cpu", "a", Base, 1.0)))
      stripRegistry(legacyDir)
      assert(new TsdbTable(spark, legacyDir, cfg).resolveSeries(Seq("host" -> "a")).isEmpty,
        "a pre-registry sidecar must not serve as a pruning index")
      val lres = spark.read.format("graft").option("label.host", "a")
        .load(legacyDir)
      assert(scanOf(lres).supportsColumnar, s"$legacyDir: unresolved labels read columnar")
      assert(sortedRows(lres) == sortedRows(LwwOracle.readRaw(lt)
        .filter(element_at(col("labels"), "host") === "a")))
      assert(lres.count() == 1 && lres.select("value").head().getDouble(0) == 1.0)
    }
  }

  test("long IN-list pushdown (r15): part_start IN prunes dirs, rows stay exact") {
    val dir = Files.createTempDirectory("graft_inlist").toString
    val t = new TsdbTable(spark, s"$dir/tbl")
    val rows = (0 until 8).map(i => ("cpu", s"h$i", Base + i * Day, i.toDouble))
    t.append(samples(rows: _*))
    val ds = spark.read.format("graft").load(s"$dir/tbl")
      .filter(col("part_start").isin(Base, Base + 2 * Day, Base + 5 * Day))
    // pushed (shows in PushedFilters), dirs pruned, and exact
    val scan = scanOf(ds)
    assert(scan.scan.description().contains("In(part_start"),
      scan.scan.description())
    assert(scan.inputRDD.getNumPartitions == 3,
      "part_start IN must prune partition dirs at planning")
    assert(ds.select("value").collect().map(_.getDouble(0)).sorted.toSeq ==
      Seq(0.0, 2.0, 5.0))
    // time IN: pushed + partition-clamped by [min, max] of the list
    val dt = spark.read.format("graft").load(s"$dir/tbl")
      .filter(col("time").isin(Base + 2 * Day, Base + 3 * Day))
    assert(scanOf(dt).inputRDD.getNumPartitions == 2,
      "time IN must clamp the partition range")
    assert(dt.select("value").collect().map(_.getDouble(0)).sorted.toSeq ==
      Seq(2.0, 3.0))
    // series_id IN: pushed, exact
    val sid = t.readRaw(0L, Long.MaxValue)
      .filter(col("name") === "cpu" && col("value") === 4.0)
      .select("series_id").head().getLong(0)
    val dsid = spark.read.format("graft").load(s"$dir/tbl")
      .filter(col("series_id").isin(sid, sid + 12345))
    assert(scanOf(dsid).scan.description().contains("In(series_id"))
    assert(dsid.select("value").collect().map(_.getDouble(0)).toSeq == Seq(4.0))
  }

  test("SQL DELETE with backslash-bearing values deletes exactly (advisor r14)") {
    val dir = Files.createTempDirectory("graft_sql_del_bs").toString
    val t = new TsdbTable(spark, s"$dir/tbl")
    // labels_str 'host=c:\tmp' — one row matches, one shares the prefix,
    // one ends with a lone backslash (the parse-exception shape)
    t.append(samples(
      ("disk", "c:\\tmp", Base, 1.0),
      ("disk", "c:\\tmp2", Base + 1000, 2.0),
      ("disk", "c:\\", Base + 2000, 3.0)))
    spark.sql(s"CREATE TABLE graft_del_bs_t USING graft OPTIONS (path '$dir/tbl')")
    try {
      spark.sql("DELETE FROM graft_del_bs_t WHERE labels_str = 'host=c:\\\\tmp'")
      val left = spark.read.format("graft").load(s"$dir/tbl")
        .select("labels_str").collect().map(_.getString(0)).sorted.toSeq
      assert(left == Seq("host=c:\\", "host=c:\\tmp2"),
        s"exactly the matching row must go, got survivors $left")
      // trailing backslash: must also delete exactly (not throw, not miss)
      spark.sql("DELETE FROM graft_del_bs_t WHERE labels_str = 'host=c:\\\\'")
      assert(spark.read.format("graft").load(s"$dir/tbl")
        .select("labels_str").collect().map(_.getString(0)).toSeq == Seq("host=c:\\tmp2"))
    } finally spark.sql("DROP TABLE graft_del_bs_t")
  }

  test("one merged read: a raw MOR select plans the GraftScan merge and no window") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val dir = Files.createTempDirectory("graft_one_read").toString
    val t = new TsdbTable(spark, s"$dir/tbl", TsdbConfig(overrideOld = true))
    t.append(samples(("cpu", "a", Base, 1.0), ("cpu", "a", Base + 1000, 2.0),
      ("cpu", "b", Base, 3.0), ("mem", "a", Base, 4.0)))
    t.append(samples(("cpu", "a", Base, 10.0)))
    val got = t.select(graft.query.SelectParams(name = "cpu", from = Base,
      to = Base + Day))
    val scan = scanOf(got)
    assert(scan.scan.getClass.getSimpleName == "GraftScan", scan.toString)
    def windows(p: SparkPlan): Seq[WindowExec] =
      p.collect { case w: WindowExec => w } ++
        p.collect { case a: AdaptiveSparkPlanExec => a }.flatMap(a => windows(a.executedPlan))
    assert(windows(got.queryExecution.executedPlan).isEmpty,
      got.queryExecution.executedPlan.toString)
    // the merge really ran: the rewrite wins
    assert(got.select("labels_str", "t", "v").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2))).toSet ==
      Set(("host=a", Base, 10.0), ("host=a", Base + 1000, 2.0), ("host=b", Base, 3.0)))
  }

  test("non-MOR label scan whose series set resolves plans columnar; rows equal the row reader's") {
    import org.apache.spark.sql.execution.ColumnarToRowExec
    val dir = Files.createTempDirectory("graft_label_col").toString
    val t = new TsdbTable(spark, s"$dir/tbl")
    t.append(samples((0 until 64).map(i =>
      ("cpu", s"h${i % 16}", Base + i * 1000L, i.toDouble)): _*))
    assert(t.resolveSeries(Seq("host" -> "h3")).exists(_.length == 1))
    def labeled = spark.read.format("graft").option("label.host", "h3")
      .load(s"$dir/tbl")
    val plan = labeled.queryExecution.executedPlan
    assert(scanOf(labeled).supportsColumnar &&
      plan.collect { case c: ColumnarToRowExec => c }
        .exists(_.collectFirst { case b: BatchScanExec => b }.isDefined),
      plan.toString)
    // a pushed limit reads columnar too: the same rows either way
    val limited = labeled.limit(1000)
    assert(scanOf(limited).supportsColumnar)
    assert(sortedRows(labeled) == sortedRows(limited))
    assert(labeled.count() == 4)
  }

  test("every shape the scan serves reads columnar: limits, unresolved labels, _key_* projections, counts, column-less files") {
    import org.apache.spark.sql.functions.element_at
    val dir = Files.createTempDirectory("graft_one_reader").toString
    val rows = (0 until 120).map(i =>
      (if (i % 2 == 0) "cpu" else "mem", s"h${i % 6}", Base + (i % 3) * Day + i * 1000L,
        i.toDouble))
    val plain = new TsdbTable(spark, s"$dir/plain")
    val mor = new TsdbTable(spark, s"$dir/mor", TsdbConfig(overrideOld = true))
    for (t <- Seq(plain, mor)) {
      t.append(samples(rows: _*))
      t.append(samples(rows.filter(_._2 == "h1")
        .map { case (n, h, tt, v) => (n, h, tt, v + 1000) }: _*))
    }
    mor.delete(Base, Base + 20000L, metrics = Seq("mem"))
    // a raw file written without __seq and __del, sorted like the writer
    // sorts: new keys plus one key the stamped rows already hold (the
    // legacy NULL __seq loses the MOR merge to the stamped version)
    for (t <- Seq(plain, mor)) {
      val stamped = spark.read.format("graft").load(t.path)
        .filter(col("part_start") === Base && col("name") === "cpu")
      val legacy = stamped.limit(1).withColumn("value", lit(-5.0))
        .union(stamped.limit(3).withColumn("time", col("time") + 500L)
          .withColumn("value", lit(-7.0)))
      legacy.drop("part_start").coalesce(1).sortWithinPartitions("series_id", "time")
        .write.mode("append").parquet(s"${t.path}/raw/part_start=$Base")
    }

    for (t <- Seq(plain, mor)) {
      val kind = if (t.config.overrideOld) "MOR" else "non-MOR"
      def ds = spark.read.format("graft").load(t.path)
      val oracle = LwwOracle.readRaw(t).cache()
      val total = oracle.count()
      assert(scanOf(ds).supportsColumnar, s"$kind SELECT *")
      assert(sortedRows(ds) == sortedRows(oracle), s"$kind rows")

      // pushed limits, with and without a pushed filter: exactly
      // min(n, total) rows, every one a row of the merged view
      val cpu = col("name") === "cpu" && col("time") >= Base + Day
      for (filter <- Seq(None, Some(cpu)); n <- Seq(1, 7, 100000)) {
        val scoped = filter.fold(ds)(ds.filter)
        val want = filter.fold(oracle)(oracle.filter)
        val lim = scoped.limit(n)
        assert(scanOf(lim).scan.description().contains(s"PushedLimit: $n"))
        assert(scanOf(lim).supportsColumnar, s"$kind limit $n under $filter")
        val got = sortedRows(lim)
        val allowed = sortedRows(want).toSet
        assert(got.length == math.min(n.toLong, want.count()),
          s"$kind limit $n under $filter: ${got.length} rows")
        assert(got.forall(allowed.contains), s"$kind limit $n under $filter")
      }

      // row-identity metadata columns read their physical column
      val keys = ds.select(col("_key_time"), col("_key_name"), col("value"))
      assert(scanOf(keys).supportsColumnar, s"$kind _key_* projection")
      assert(keys.collect().map(_.toString).sorted.toSeq ==
        oracle.select(col("time"), col("name"), col("value"))
          .collect().map(_.toString).sorted.toSeq, s"$kind _key_* rows")

      // count() whose aggregate is not pushed: MOR tables, label options
      val n = ds.agg(count(lit(1)))
      assert(scanOf(n).supportsColumnar == t.config.overrideOld,
        s"$kind count(): MOR reads columnar, non-MOR pushes the aggregate")
      assert(n.head().getLong(0) == total && ds.count() == total)
      def h1 = spark.read.format("graft").option("label.host", "h1").load(t.path)
      val h1Oracle = oracle.filter(element_at(col("labels"), "host") === "h1")
      val h1n = h1.agg(count(lit(1)))
      assert(scanOf(h1n).supportsColumnar, s"$kind count() with a label option")
      assert(h1n.head().getLong(0) == h1Oracle.count() && h1.count() > 0)
      assert(sortedRows(h1.limit(3)).forall(sortedRows(h1Oracle).toSet.contains))
      oracle.unpersist()
    }

    // label options on a legacy sidecar (non-MOR): no series set, the
    // map test reads `labels` — rows, count() and a limit stay exact
    stripRegistry(plain.path)
    assert(new TsdbTable(spark, plain.path).resolveSeries(Seq("host" -> "h1")).isEmpty)
    val legacyH1 = spark.read.format("graft").option("label.host", "h1").load(plain.path)
    val legacyWant = LwwOracle.readRaw(plain).filter(element_at(col("labels"), "host") === "h1")
    assert(scanOf(legacyH1).supportsColumnar)
    assert(!scanOf(legacyH1).scan.description().contains("LabelSeries"))
    assert(sortedRows(legacyH1) == sortedRows(legacyWant))
    val legacyCount = legacyH1.agg(count(lit(1)))
    assert(scanOf(legacyCount).supportsColumnar)
    assert(legacyCount.head().getLong(0) == legacyWant.count())
    assert(sortedRows(legacyH1.limit(2)).length == 2)
  }
}
